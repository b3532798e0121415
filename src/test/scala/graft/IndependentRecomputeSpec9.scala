package graft

import graft.operators._

/** Wave 9 of the oracle-independence pins — the round-10 session-2
  * additions, pinned on arrival: Slope One, user-based CF, the ranking-
  * metric evaluation, the ridge Cramer solve, and the compaction
  * bin-packer. Each pin recomputes the entry imperatively on the driver
  * from raw collected rows (plain Scala collections + the shared round6
  * lattice) and demands EXACT equality — the style the sim_pca_power /
  * rank-1-ALS pins proved out. */
class IndependentRecomputeSpec9 extends SparkSpec {

  import BaseRows._
  import HalfUp._

  /** The vector corpus with the entries' sequential-fold dot
    * (((0 + a0·b0) + a1·b1) + … — the VectorOps order, replicated). */
  private lazy val vecs: Map[Long, Array[Double]] =
    embeddings.map(e => e.vecId -> e.vec).toMap
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  test("slope one equals an imperative deviation recompute, exactly") {
    val byUser = ratings
      .groupBy(_._1).map { case (c, g) => c -> g.map(t => t._2 -> t._3).toMap }
    // undirected deviation accumulators keyed (pi < pj)
    val acc = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for ((_, items) <- byUser; pi <- items.keys; pj <- items.keys; if pi < pj) {
      val (n, sd) = acc.getOrElse((pi, pj), (0L, 0L))
      acc((pi, pj)) = (n + 1L, sd + items(pi) - items(pj))
    }
    val dev = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for (((pi, pj), (n, sd)) <- acc) {
      dev((pi, pj)) = (micro6(sd.toDouble / n.toDouble), n)
      dev((pj, pi)) = (micro6(-sd.toDouble / n.toDouble), n)
    }
    val expected = byUser.keys.filter(_ < 20L).toSeq.sorted.flatMap { u =>
      val rated = byUser(u)
      val targets = dev.keys.collect {
        case (j, i) if rated.contains(i) && !rated.contains(j) => j
      }.toSet
      targets.toSeq.map { j =>
        var num = 0L; var den = 0L
        for ((i, r) <- rated; if dev.contains((j, i))) {
          val (dm, n) = dev((j, i))
          num += (dm + r * 1000000L) * n; den += n
        }
        (j, round6(num.toDouble / (den.toDouble * 1000000.0)).toDouble, den)
      }.sortBy { case (j, s, _) => (-s, j) }.take(5).zipWithIndex
        .map { case ((j, s, den), k) => (u, j, s, den, (k + 1).toLong) }
    }
    val got = Recommend.queries("rec_slope_one")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("partkey"),
        r.getAs[Double]("score"), r.getAs[Long]("n_support"),
        r.getAs[Long]("rn"))).toSeq
    assert(got == expected,
      s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
  }

  test("user-based CF equals an imperative neighbor-vote recompute, exactly") {
    val items = purchases.keys.toSeq.groupBy(_._1)
      .map { case (c, g) => c -> g.map(_._2).toSet }
    val users = items.keys.toSeq.sorted
    val expected = users.filter(_ < 20L).flatMap { u =>
      val cos = users.filter(v => v != u)
        .map { v =>
          val co = (items(u) & items(v)).size.toLong
          (v, co,
            if (co == 0L) 0L
            else micro6(co.toDouble /
              math.sqrt((items(u).size.toLong * items(v).size).toDouble)))
        }
        .filter(_._2 > 0L)
      val nbrs = cos.sortBy { case (v, co, cm) => (-cm, -co, v) }.take(10)
      val votes = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      for ((v, _, cm) <- nbrs; p <- items(v); if !items(u).contains(p)) {
        val (s, n) = votes.getOrElse(p, (0L, 0L))
        votes(p) = (s + cm, n + 1L)
      }
      votes.toSeq.map { case (p, (s, n)) => (p, s, n) }
        .sortBy { case (p, s, n) => (-s, -n, p) }.take(5).zipWithIndex
        .map { case ((p, s, n), k) => (u, p, s, n, (k + 1).toLong) }
    }
    val got = Recommend.queries("rec_user_cf")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("partkey"),
        r.getAs[Long]("score_micro"), r.getAs[Long]("n_voters"),
        r.getAs[Long]("rn"))).toSeq
    assert(got == expected,
      s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
  }

  test("ranking evaluation equals an imperative metric recompute, exactly") {
    val cut = java.time.LocalDateTime.of(1999, 7, 1, 0, 0)
    val orderOf = orders.map(o => o.orderkey -> o).toMap
    val inter = lineitem.flatMap { l =>
      orderOf.get(l.orderkey).map(o => (o.custkey, l.partkey, o.orderdate))
    }
    val train = inter.collect { case (c, p, ts) if ts.isBefore(cut) => (c, p) }.toSet
    val testNew = inter.collect { case (c, p, ts) if !ts.isBefore(cut) => (c, p) }
      .toSet -- train
    val disc = Array(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val pop = train.toSeq.groupBy(_._2).map { case (p, g) => p -> g.size.toLong }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
      .zipWithIndex.map { case ((p, _), i) => p -> disc(i) }.toMap
    val expected = testNew.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, g) =>
      val ps = g.map(_._2)
      val nTest = ps.size.toLong
      val hitDiscs = ps.toSeq.flatMap(pop.get)
      val hits = hitDiscs.size.toLong
      val dcg = hitDiscs.sum
      val idcg = disc.take(math.min(10L, nTest).toInt).sum
      (c, nTest, hits, dcg, idcg, hits * 1000000L / 10L,
        hits * 1000000L / nTest, round6(dcg.toDouble / idcg.toDouble).toDouble)
    }
    val got = Recommend.queries("rec_eval_ranking")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("n_test"),
        r.getAs[Long]("hits"), r.getAs[Long]("dcg_micro"),
        r.getAs[Long]("idcg_micro"), r.getAs[Long]("prec_ppm"),
        r.getAs[Long]("recall_ppm"), r.getAs[Double]("ndcg"))).toSeq
    assert(got == expected,
      s"\nentry: ${got.take(3)}\nindependent: ${expected.take(3)}")
    // the metric is actually exercised: some user hit the popularity list
    assert(got.exists(_._3 > 0L), "no user hit the top-10 — vacuous metrics")
  }

  test("ridge at lambda=0 equals the OLS Cramer solve, exactly") {
    val ols = Aggregates.queries("ml_ols_cramer")(spark, sf0001).collect()(0)
    val ridge = Aggregates.queries("ml_ridge_cramer")(spark, sf0001).collect()
    assert(ridge.length == 2)
    val r0 = ridge.find(_.getAs[Long]("lam_per_obs") == 0L).get
    assert(r0.getAs[Double]("b0_cents") == ols.getAs[Double]("b0_cents"))
    assert(r0.getAs[Double]("b1_per_qty") == ols.getAs[Double]("b1_per_qty"))
    assert(r0.getAs[Double]("b2_per_bp") == ols.getAs[Double]("b2_per_bp"))
    assert(r0.getAs[Double]("r2") == ols.getAs[Double]("r2"))
  }

  test("ridge equals an independent Gaussian-elimination solve") {
    val rows = olsRows
    val n = rows.length.toDouble
    def s(f: ((Long, Long, Long)) => Double): Double = rows.iterator.map(f).sum
    for (lamPerObs <- Seq(0L, 100L)) {
      val lam = lamPerObs * n
      // normal equations (intercept unpenalized) solved by partial-pivot
      // elimination — an algorithm the entry does NOT use
      val a = Array(
        Array(n, s(t => t._1.toDouble), s(t => t._2.toDouble), s(t => t._3.toDouble)),
        Array(s(t => t._1.toDouble), s(t => t._1.toDouble * t._1) + lam,
          s(t => t._1.toDouble * t._2), s(t => t._1.toDouble * t._3)),
        Array(s(t => t._2.toDouble), s(t => t._1.toDouble * t._2),
          s(t => t._2.toDouble * t._2) + lam, s(t => t._2.toDouble * t._3)))
      for (col0 <- 0 until 3) {
        val piv = (col0 until 3).maxBy(r => math.abs(a(r)(col0)))
        val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
        for (r <- 0 until 3; if r != col0) {
          val f = a(r)(col0) / a(col0)(col0)
          for (k <- col0 to 3) a(r)(k) -= f * a(col0)(k)
        }
      }
      val beta = (0 until 3).map(r => a(r)(3) / a(r)(r))
      val got = Aggregates.queries("ml_ridge_cramer")(spark, sf0001).collect()
        .find(_.getAs[Long]("lam_per_obs") == lamPerObs).get
      val ent = Seq(got.getAs[Double]("b0_cents"), got.getAs[Double]("b1_per_qty"),
        got.getAs[Double]("b2_per_bp"))
      for (k <- 0 until 3) {
        val scale = math.max(1.0, math.abs(beta(k)))
        assert(math.abs(ent(k) - beta(k)) / scale < 1e-6,
          s"lam=$lamPerObs beta$k: entry ${ent(k)} vs elimination ${beta(k)}")
      }
    }
  }

  test("binary quantization equals an imperative pack/Hamming/rerank, exactly") {
    def pack(v: Array[Double], off: Int): Long =
      (0 until 32).map(j => if (v(off + j) >= 0.0) 1L << j else 0L).sum
    val bits = vecs.map { case (id, v) => id -> (pack(v, 0), pack(v, 32)) }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dotSeq(v, v)) }
    val ids = vecs.keys.toSeq.sorted
    val expected = ids.filter(_ < 20L).flatMap { q =>
      val (qlo, qhi) = bits(q)
      val ham = ids.filter(_ != q).map { a =>
        val (alo, ahi) = bits(a)
        (a, (java.lang.Long.bitCount(qlo ^ alo) +
             java.lang.Long.bitCount(qhi ^ ahi)).toLong)
      }
      val cand = ham.sortBy { case (a, h) => (h, a) }.take(50)
      cand.map { case (a, h) =>
        (a, h, dotSeq(vecs(q), vecs(a)) / (nrm(q) * nrm(a)))
      }.sortBy { case (a, _, c) => (-c, a) }.take(5).zipWithIndex
        .map { case ((a, h, c), k) => (q, a, h, c, (k + 1).toLong) }
    }
    val got = Similarity.queries("sim_binary_quant")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("hamming"), r.getAs[Double]("cos"),
        r.getAs[Long]("rn"))).toSeq
    assert(got == expected,
      s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
    // the prefilter must actually filter: some true neighbor's hamming is
    // small (sign agreement correlates with cosine) and all ≤ 64
    assert(got.forall(_._3 <= 64L))
  }

  test("matryoshka prefix retrieval equals an imperative two-arm recompute") {
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dotSeq(v, v)) }
    val nrmP = vecs.map { case (id, v) =>
      id -> math.sqrt(dotSeq(v.take(16), v.take(16))) }
    val ids = vecs.keys.toSeq.sorted
    def top5(q: Long, score: Long => Double): Seq[(Long, Double)] =
      ids.filter(_ != q).map(a => (a, score(a)))
        .sortBy { case (a, c) => (-c, a) }.take(5)
    val expected = ids.filter(_ < 20L).flatMap { q =>
      val pre = top5(q,
        a => dotSeq(vecs(q).take(16), vecs(a).take(16)) / (nrmP(q) * nrmP(a)))
      val ful = top5(q, a => dotSeq(vecs(q), vecs(a)) / (nrm(q) * nrm(a)))
        .map(_._1).zipWithIndex.map { case (a, i) => a -> (i + 1).toLong }.toMap
      pre.zipWithIndex.map { case ((a, c), i) =>
        (q, (i + 1).toLong, a, c, ful.getOrElse(a, 0L))
      }
    }
    val got = Similarity.queries("sim_matryoshka_prefix")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_prefix"),
        r.getAs[Long]("full_rn"))).toSeq
    assert(got == expected,
      s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
    // fidelity is measured, not vacuous: at least one query's prefix pick
    // lands inside the full top-5
    assert(got.exists(_._5 > 0L), "prefix arm never intersects the full arm")
  }

  test("jaccard link prediction equals an imperative wedge recompute, exactly") {
    val edges = coSupplyEdges.toSet
    val adj = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).map { case (n, g) => n -> g.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val cand = (for {
      i <- nodes.indices; j <- i + 1 until nodes.length
      u = nodes(i); v = nodes(j)
      if !edges.contains((u, v))
      common = (adj(u) & adj(v)).size.toLong
      if common > 0L
    } yield {
      val union = adj(u).size.toLong + adj(v).size - common
      (u, v, common, union,
        round6(common.toDouble / union.toDouble).toDouble)
    }).sortBy { case (u, v, c, _, jc) => (-jc, -c, u, v) }.take(20)
    val got = Graph.queries("graph_jaccard_links")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sc"),
        r.getAs[Long]("n_common"), r.getAs[Long]("n_union"),
        r.getAs[Double]("jaccard"))).toSeq
    assert(got == cand, s"\nentry: ${got.take(5)}\nindependent: ${cand.take(5)}")
    assert(got.forall(t => t._5 > 0.0 && t._5 <= 1.0))
  }

  test("kmv intersection equals an imperative theta-sketch recompute, exactly") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = documents.filter(d => d.source == "src0" || d.source == "src1")
      .map(d => (d.source, d.text))
    val bySrc = docs.groupBy(_._1).map { case (s, g) =>
      s -> g.flatMap { case (_, t) =>
        val w = t.split(" ", -1)
        if (w.length < 3) Seq.empty
        else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
      }.map(h60).distinct.sorted
    }
    val (sa, sb) = (bySrc("src0"), bySrc("src1"))
    val full = 1L << 60
    def theta(xs: Seq[Long]): Long = if (xs.length < 128) full else xs(127)
    val th = math.min(theta(sa), theta(sb))
    val (ka, kb) = (sa.take(128).toSet, sb.take(128).toSet)
    val nS = (ka & kb).count(_ < th).toLong
    val est = nS.toDouble * 1.152921504606846976e18 / th.toDouble
    val nExact = (sa.toSet & sb.toSet).size.toLong
    val got = Aggregates.queries("agg_kmv_intersect")(spark, sf0001)
      .collect()(0)
    assert(got.getAs[Long]("k") == 128L)
    assert(got.getAs[Long]("n_a_exact") == sa.length.toLong)
    assert(got.getAs[Long]("n_b_exact") == sb.length.toLong)
    assert(got.getAs[Long]("theta") == th)
    assert(got.getAs[Long]("n_s") == nS)
    assert(got.getAs[Double]("est_intersect") == est)
    assert(got.getAs[Long]("n_exact_intersect") == nExact)
    assert(nExact > 0L, "sources share no shingles — vacuous intersection")
  }

  test("holm step-down equals an imperative recompute and actually steps down") {
    val counts = hourCounts.toSeq
    val n = counts.length.toDouble
    val sc = counts.map(_._2).sum.toDouble
    val sc2 = counts.map(c => c._2 * c._2).sum.toDouble
    val mean = sc / n
    val sd = math.sqrt((sc2 - sc * sc / n) / (n - 1.0))
    val crit = Array(2865260L, 2837597L, 2807034L, 2772921L, 2734369L,
      2690110L, 2638257L, 2575829L, 2497705L, 2393980L, 2241403L, 1959964L)
    val cand = counts.map { case (h, c) => (h, c, (c.toDouble - mean) / sd) }
      .sortBy { case (h, _, z) => (-math.abs(z), h) }.take(12)
    var alive = 1L
    val expected = cand.zipWithIndex.map { case ((h, c, z), i) =>
      val ind = if (math.abs(z) >= crit(i) / 1000000.0) 1L else 0L
      alive = math.min(alive, ind)
      ((i + 1).toLong, h, c, round6(z).toDouble, crit(i), alive)
    }
    val got = Behavior.queries("behavior_holm_anomalies")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("hour_no"),
        r.getAs[Long]("n_events"), r.getAs[Double]("z"),
        r.getAs[Long]("crit_micro"), r.getAs[Long]("rejected"))).toSeq
    assert(got == expected,
      s"\nentry: ${got.take(4)}\nindependent: ${expected.take(4)}")
    // the correction must bite in BOTH directions: something rejects and
    // something survives, else the demo is vacuous
    assert(got.exists(_._6 == 1L), "nothing rejected — no planted signal")
    assert(got.exists(_._6 == 0L), "everything rejected — no correction")
  }

  test("blocklist audit is non-vacuous and conserves the document spine") {
    val rows = TextAnalysis.queries("text_blocklist")(spark, sf0001).collect()
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val spine = documents.length.toLong
    assert(nDocs == spine, s"rollup covers $nDocs of $spine docs")
    assert(rows.map(_.getAs[Long]("total_hits")).sum > 0L, "lexicon never hit")
    val blocked = rows.map(_.getAs[Long]("n_blocked")).sum
    assert(blocked > 0L && blocked < nDocs,
      s"verdict is vacuous: $blocked of $nDocs blocked")
  }

  test("binpack equals an imperative packing and respects the load bounds") {
    val sizes = lineitem.groupBy(_.orderkey / 2048)
      .map { case (f, g) => f -> g.length.toLong }.toSeq
    val T = 4096L
    val sorted = sizes.sortBy { case (id, sz) => (-sz, id) }
    var cum = 0L
    val planned = sorted.map { case (id, sz) =>
      val bin = cum / T; cum += sz; (bin, id, sz)
    }
    val expected = planned.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, g) =>
      (b, g.length.toLong, g.map(_._3).sum, g.map(_._3).max, g.map(_._2).min)
    }
    val got = Layout.queries("layout_binpack")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_files"),
        r.getAs[Long]("bin_rows"), r.getAs[Long]("largest_file"),
        r.getAs[Long]("first_file"))).toSeq
    assert(got == expected, s"\nentry: $got\nindependent: $expected")
    // load bound: every bin < T + its largest member (the sorted-cumulative
    // guarantee); conservation: no row lost or double-packed
    assert(got.forall { case (_, _, rows, largest, _) => rows < T + largest })
    assert(got.map(_._3).sum == sizes.map(_._2).sum)
    assert(got.map(_._2).sum == sizes.length.toLong)
  }
}
