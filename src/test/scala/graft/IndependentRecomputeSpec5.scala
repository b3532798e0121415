package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Wave 5 of the round-10 oracle-independence pins — the text/graph/
  * similarity algorithmic entries: entropy, TF-IDF, BM25, HITS, local
  * clustering, χ²/MI, k-NN classification, rolling beta, HHI, and the
  * full Lloyd-fit → silhouette pipeline — each rebuilt imperatively in
  * driver Scala (a complete second implementation for the iterative
  * kernels) and compared on the entry's documented lattice. */
class IndependentRecomputeSpec5 extends SparkSpec {

  import BaseRows._
  import HalfUp._
  import SimilaritySpec.{dist, lloydFit}

  /** The returnflag × linestatus contingency table, recounted in driver. */
  private lazy val contingency: (Map[(String, String), Long], Map[String, Long], Map[String, Long], Long) = {
    val xs = lineitem.map(l => (l.returnflag, l.linestatus))
    val joint = xs.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val mx = xs.groupBy(_._1).map { case (k, g) => k -> g.length.toLong }
    val my = xs.groupBy(_._2).map { case (k, g) => k -> g.length.toLong }
    (joint, mx, my, xs.length.toLong)
  }

  test("token entropy equals a driver per-doc recompute on the round-6 lattice") {
    val docs = docTexts
    val got = TextAnalysis.queries("text_entropy")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1).filter(_.nonEmpty)
      val freq = toks.groupBy(identity).map { case (_, g) => g.length.toLong }
      val n = toks.length.toLong
      val h = freq.map { c =>
        val p = c.toDouble / n
        round6(-p * math.log(p))
      }.sum
      val r = got(id)
      assert(r.getAs[Long]("n_tokens") == n && r.getAs[Long]("n_types") == freq.size.toLong)
      assert(math.abs(r.getAs[Double]("ttr") - freq.size.toDouble / n) < 1e-12)
      assert(math.abs(r.getAs[Double]("entropy") - h.toDouble) < 1e-9, s"doc $id entropy")
      assert(math.abs(r.getAs[Double]("perplexity") -
        round6(math.exp(h.toDouble)).toDouble) < 1e-5, s"doc $id perplexity")
      assert(r.getAs[Boolean]("low_diversity") == (h.toDouble < 2.0))
    }
  }

  test("tf-idf top-20 equals a driver recount and rescore") {
    val docs = docTexts
    val nDocs = docs.length.toDouble
    val tf = scala.collection.mutable.HashMap.empty[String, Long]
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach { case (_, text) =>
      // the entry's tokens() is split(" ") with NO empty filter — mirror it
      val toks = text.split(" ", -1)
      toks.groupBy(identity).foreach { case (w, g) =>
        tf(w) = tf.getOrElse(w, 0L) + g.length
        df(w) = df.getOrElse(w, 0L) + 1L
      }
    }
    val expected = tf.keys.toSeq.map { w =>
      (w, tf(w), df(w), round6(tf(w) * math.log(nDocs / df(w))).toDouble)
    }.sortBy { case (w, _, _, s) => (-s, w) }.take(20)
    val got = TextAnalysis.queries("text_tfidf")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("tf"),
        r.getAs[Long]("df"), r.getAs[Double]("tfidf"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(3)}\nindependent: ${expected.take(3)}")
  }

  test("BM25 top-25 equals a driver Okapi recompute, exactly") {
    val docs = docTexts
    val n = docs.length.toDouble
    val dl = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val totalDl = dl.values.sum.toDouble
    val terms = Set("spark", "table", "join")
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ", -1).filter(terms.contains)
        .groupBy(identity).map { case (w, g) => (id, w, g.length.toLong) }
    }
    val df = tf.groupBy(_._2).map { case (w, g) => w -> g.length.toLong }
    val scores = tf.groupBy(_._1).map { case (id, g) =>
      id -> g.map { case (_, w, t) =>
        round0(math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5)) *
          (t * 2.2) / (t + 1.2 * (0.25 + 0.75 * dl(id) / (totalDl / n))) * 1000000)
      }.sum
    }
    val expected = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(25)
    val got = TextAnalysis.queries("text_bm25")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_micro"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(3)}\nindependent: ${expected.take(3)}")
  }

  test("HITS equals an imperative integer mutual-reinforcement recompute") {
    val sp = supplierParts
    def normalize(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum
      raw.map { case (k, v) => k -> v * 1000000L / tot }
    }
    var h: Map[Long, Long] = sp.map(_._1).distinct.map(s => s -> 1000000L).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to 2) {
      a = normalize(sp.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => h(e._1)).sum
      })
      h = normalize(sp.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => a(e._2)).sum
      })
    }
    def top15(m: Map[Long, Long], kind: String) =
      m.toSeq.sortBy { case (id, s) => (-s, id) }.take(15).zipWithIndex
        .map { case ((id, s), i) => (kind, id, s, (i + 1).toLong) }
    val expected = top15(a, "authority") ++ top15(h, "hub")
    val got = Graph.queries("graph_hits")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_id"),
        r.getAs[Long]("score_mu"), r.getAs[Long]("rk"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(4)}\nindependent: ${expected.take(4)}")
  }

  test("clustering coefficients equal a brute-force driver recompute") {
    val edges = coSupplyEdges.toSet
    val adj = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    edges.foreach { case (u, v) =>
      adj(u) = adj.getOrElse(u, Set.empty) + v
      adj(v) = adj.getOrElse(v, Set.empty) + u
    }
    val perNode = adj.toSeq.map { case (node, nbrs) =>
      val d = nbrs.size.toLong
      val ns = nbrs.toSeq.sorted
      var tri = 0L
      for (i <- ns.indices; j <- (i + 1) until ns.length)
        if (edges.contains((ns(i), ns(j))) || edges.contains((ns(j), ns(i)))) tri += 1
      val coeff = if (d >= 2) tri * 2000000L / (d * (d - 1L)) else 0L
      (node, d, tri, coeff)
    }
    val tri3 = perNode.map(_._3).sum
    val wedges2 = perNode.map(e => e._2 * (e._2 - 1L)).sum
    val trans = if (wedges2 > 0) tri3 * 2000000L / wedges2 else 0L
    val avg = perNode.map(_._4).sum / perNode.length
    val expected = perNode.sortBy { case (n2, _, _, c) => (-c, n2) }.take(20)
      .map { case (n2, d, tri, c) => (n2, d, tri, c, trans, avg) }
    val got = Graph.queries("graph_clustering_coeff")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("s_suppkey"), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("coeff_ppm"),
        r.getAs[Long]("transitivity_ppm"), r.getAs[Long]("avg_coeff_ppm"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(3)}\nindependent: ${expected.take(3)}")
  }

  test("mutual information equals a driver contingency recompute") {
    val (joint, mx, my, n) = contingency
    val miTerms = joint.map { case ((x, y), c) =>
      (x, y) -> round9((c.toDouble / n) * math.log(c.toDouble * n / (mx(x).toDouble * my(y).toDouble)))
    }
    val mi = miTerms.values.sum
    val got = Aggregates.queries("agg_mutual_info")(spark, sf0001).collect()
    assert(got.length == joint.size)
    got.foreach { r =>
      val k = (r.getAs[String]("returnflag"), r.getAs[String]("linestatus"))
      assert(r.getAs[Long]("c_xy") == joint(k))
      assert(r.getAs[Long]("c_x") == mx(k._1) && r.getAs[Long]("c_y") == my(k._2))
      assert(r.getAs[Long]("n_rows") == n)
      assert(math.abs(r.getAs[Double]("mi_term") - miTerms(k).toDouble) < 1e-9)
      assert(math.abs(r.getAs[Double]("mi_nats") - mi.toDouble) < 1e-8)
    }
  }

  test("chi-square and Cramér's V equal a driver full-grid recompute") {
    val (joint, mx, my, n) = contingency
    val cells = for (x <- mx.keys.toSeq; y <- my.keys.toSeq) yield {
      val o = joint.getOrElse((x, y), 0L)
      val e = mx(x).toDouble * my(y).toDouble / n
      ((x, y), o, e, round6((o - e) * (o - e) / e))
    }
    val chi2 = cells.map(_._4).sum
    val dof = (mx.size - 1L) * (my.size - 1L)
    val v = math.sqrt(chi2.toDouble / (n.toDouble * math.min(mx.size - 1, my.size - 1)))
    val got = Aggregates.queries("agg_chi2_independence")(spark, sf0001).collect()
    assert(got.length == cells.length)
    val byKey = cells.map(c => c._1 -> c).toMap
    got.foreach { r =>
      val c = byKey((r.getAs[String]("returnflag"), r.getAs[String]("linestatus")))
      assert(r.getAs[Long]("c_xy") == c._2)
      assert(math.abs(r.getAs[Double]("expected") - c._3) < 1e-5)
      assert(math.abs(r.getAs[Double]("chi2_term") - c._4.toDouble) < 1e-9)
      assert(math.abs(r.getAs[Double]("chi2_total") - chi2.toDouble) < 1e-7)
      assert(r.getAs[Long]("dof") == dof)
      assert(math.abs(r.getAs[Double]("cramers_v") - v) < 1e-6)
    }
  }

  test("k-NN classifier equals a brute-force driver vote, exactly") {
    val all = embeddings.map(e => (e.vecId, e.label, e.vec))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norm = all.map(v => v._1 -> math.sqrt(dot(v._3, v._3))).toMap
    val qs = all.filter(_._1 < 20L)
    val train = all.filter(_._1 >= 20L)
    val verdicts = qs.sortBy(_._1).map { case (qid, trueLab, qv) =>
      val top5 = train
        .map(t => (t._1, t._2, dot(qv, t._3) / (norm(qid) * norm(t._1))))
        .sortBy { case (id, _, c) => (-c, id) }.take(5)
      val (pred, nv) = top5.groupBy(_._2).toSeq
        .map { case (l, g) => (l, g.length.toLong) }
        .minBy { case (l, c) => (-c, l) }
      (qid, trueLab, pred, nv)
    }
    val nTest = verdicts.length.toLong
    val nCorrect = verdicts.count(v => v._2 == v._3).toLong
    val acc = nCorrect * 1000000L / nTest
    val got = Similarity.queries("ml_knn_classifier")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("true_label"),
        r.getAs[Int]("pred_label"), r.getAs[Long]("n_votes"),
        r.getAs[Long]("accuracy_ppm"))).toSeq
    assert(got == verdicts.map(v => (v._1, v._2, v._3, v._4, acc)).toSeq,
      s"\nentry: ${got.take(3)}\nindependent: ${verdicts.take(3)} acc=$acc")
  }

  test("rolling beta equals an imperative windowed-moment recompute, exactly") {
    // the cents are the entry's own decimal(12,2) cast, so the projection
    // stays in Spark
    val rows = Tables.lineitem(spark, sf0001)
      .filter(col("l_partkey") <= 200)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("string").as("sd"),
        col("l_quantity").cast("long").as("q"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (part, g) =>
      val ordered = g.toSeq.sortBy(t => (t._4, t._2, t._3))
      ordered.indices.map { i =>
        val w = ordered.slice(math.max(0, i - 20), i + 1)
        val n = w.length.toLong
        val sq = w.map(_._5).sum; val sc = w.map(_._6).sum
        val sqc = w.map(t => t._5 * t._6).sum; val sqq = w.map(t => t._5 * t._5).sum
        val den = n * sqq - sq * sq
        val beta = if (den == 0) None else Some(1000000L * (n * sqc - sq * sc) / den)
        (part, ordered(i)._2, ordered(i)._3, n, beta)
      }
    }.sortBy(t => (t._1, t._2, t._3))
    val got = Windows.queries("win_rolling_beta")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("l_orderkey"),
        r.getAs[Int]("l_linenumber"), r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Long]("beta_micro")).map(_.toLong))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("mixture HHI equals a driver concentration recompute") {
    val docs = documents.map(d => (d.lang, d.source))
    val expected = docs.groupBy(_._1).map { case (lang, g) =>
      val bySrc = g.groupBy(_._2).map { case (_, s) => s.length.toLong }.toSeq
      val sum = bySrc.sum
      lang -> (bySrc.length.toLong, sum,
        bySrc.map(n => n.toDouble * n).sum / (sum.toDouble * sum.toDouble))
    }
    TextAnalysis.queries("pipe_mixture_hhi")(spark, sf0001).collect().foreach { r =>
      val (ns, nd, hhi) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_sources") == ns && r.getAs[Long]("n_docs") == nd)
      assert(math.abs(r.getAs[Double]("hhi") - hhi) < 1e-12,
        s"lang ${r.getAs[String]("lang")} hhi")
    }
  }

  test("silhouette equals a fully imperative Lloyd fit + score pipeline") {
    val (comps, cent, asg) = lloydFit
    // distances to every centroid on the round-9 lattice
    val sVals = comps.toSeq.map { case (vid, x) =>
      val own = asg(vid)
      val da = dist(x, cent(own)).toDouble
      val db = cent.keys.filter(_ != own).map(cl => dist(x, cent(cl))).min.toDouble
      val s = if (math.max(da, db) > 0.0) round6((db - da) / math.max(da, db))
              else BigDecimal(0)
      (own, s)
    }
    val per = sVals.groupBy(_._1).map { case (cl, g) =>
      cl -> (g.length.toLong, round6(g.map(_._2).sum.toDouble / g.length).toDouble)
    }
    val overall = (sVals.length.toLong,
      round6(sVals.map(_._2).sum.toDouble / sVals.length).toDouble)
    val got = Similarity.queries("sim_silhouette")(spark, sf0001).collect()
    got.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val (n, m) = if (cid == -1L) overall else per(cid)
      assert(r.getAs[Long]("n_points") == n, s"cluster $cid n_points")
      assert(math.abs(r.getAs[Double]("mean_silhouette") - m) < 1e-9,
        s"cluster $cid mean ${r.getAs[Double]("mean_silhouette")} vs $m")
    }
    assert(got.length == per.size + 1)
  }
}
