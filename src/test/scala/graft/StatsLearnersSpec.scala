package graft

import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Behavior, Events, Similarity, TextAnalysis}

/** Semantic pins for the r8 statistics/learning wave that the DuckDB hash
  * gate can't express: mass-balance identities, monotonicity/bounds the
  * algorithms guarantee by construction, and agreement between the exact
  * and approximate arms. The oracle proves Spark ≡ DuckDB; these prove
  * both compute the THING the entry claims.
  *
  * The `ml_*` learners are also refit on the driver from the collected
  * sf0.001 rows ([[BaseRows]]) by a second implementation (Gaussian
  * elimination against the entries' Cramer solves, an imperative
  * trainer/scorer) and compared exactly or on the documented lattice.
  */
class StatsLearnersSpec extends SparkSpec {

  import BaseRows._
  import HalfUp._

  test("markov attribution: removal effects and credits are coherent") {
    val rows = Behavior.markovAttribution(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val pFull = rows.map(_.getLong(1)).distinct
    assert(pFull.length == 1, "p_full must be identical on every row")
    assert(pFull.head >= 0 && pFull.head <= 1000000)
    val removals = rows.map(_.getLong(2))
    // truncation is monotone: a removed-channel chain never converts MORE
    assert(removals.forall(r => r >= 0 && r <= 1000000))
    val credits = rows.map(_.getLong(3))
    // credit shares are a ppm partition of 1 (up to one DIV truncation ulp
    // per channel) whenever any removal effect is nonzero
    if (removals.sum > 0) {
      assert(credits.sum <= 1000000 &&
        credits.sum >= 1000000 - rows.length,
        s"credit shares ${credits.toSeq} do not partition 1e6")
    }
    // ordering coherence: bigger removal effect => bigger credit
    assert(rows.sortBy(_.getLong(2)).map(_.getLong(3)).toSeq ==
      rows.map(_.getLong(3)).toSeq.sorted,
      "credit order must follow removal order")
  }

  test("mutual information and chi-square are nonnegative and consistent") {
    val mi = Aggregates.mutualInfo(spark, sf0001).collect()
    assert(mi.nonEmpty)
    val miTotal = mi.head.getDouble(7)
    // MI >= 0 up to the round-9 lattice (one quantum per cell)
    assert(miTotal >= -1e-9 * mi.length, s"MI $miTotal negative beyond lattice")
    val chi = Aggregates.chi2Independence(spark, sf0001).collect()
    val chiTotal = chi.head.getDouble(5)
    assert(chiTotal >= 0.0)
    val v = chi.head.getDouble(7)
    assert(v >= 0.0 && v <= 1.0, s"Cramer's V $v outside [0,1]")
    // both probes must agree on the verdict's direction: (near-)independent
    // columns give small MI AND small V; strongly dependent give both large.
    // On this fixture the pair is near-independent.
    assert((miTotal < 0.05) == (v < 0.2),
      s"MI $miTotal and V $v disagree on dependence")
  }

  test("mmr: first pick is the relevance top-1, picks are distinct per query") {
    val picks = Similarity.mmrRerank(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute = Similarity.knnBrute(spark, sf0001).collect()
      .filter(_.getLong(4) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byQ = picks.groupBy(_._1)
    byQ.foreach { case (q, ps) =>
      val ids = ps.sortBy(_._2).map(_._3)
      assert(ids.distinct.length == ids.length, s"q=$q picked a duplicate")
      val first = ps.find(_._2 == 1L).get
      assert(brute(q) == first._3,
        s"q=$q MMR pos-1 ${first._3} != brute top-1 ${brute(q)}")
    }
  }

  test("decision stump: split counts balance and the ranking is by gain") {
    val rows = Aggregates.decisionStump(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byFeature = rows.groupBy(_.getString(0))
    byFeature.foreach { case (_, rs) =>
      val tot = rs.map(r => r.getLong(2) + r.getLong(4)).distinct
      assert(tot.length == 1, "n_left + n_right must be constant per feature")
      rs.foreach { r =>
        assert(r.getLong(3) <= r.getLong(2) && r.getLong(5) <= r.getLong(4),
          "positives exceed split size")
      }
    }
    val gains = rows.sortBy(_.getLong(7)).map(_.getDouble(6))
    assert(gains.sameElements(gains.sorted(Ordering[Double].reverse)),
      "rk order must be gain-descending")
    assert(gains.forall(_ >= -1e-9), s"negative gain beyond lattice: ${gains.min}")
  }

  test("naive bayes: confusion matrix accounts for every test doc") {
    val rows = TextAnalysis.naiveBayes(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nTest = rows.map(_.getLong(3)).distinct
    assert(nTest.length == 1)
    assert(rows.map(_.getLong(2)).sum == nTest.head,
      "confusion cells must sum to n_test")
    val expected = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 === 0).count()
    assert(nTest.head == expected, s"n_test ${nTest.head} != fold size $expected")
    val diag = rows.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    assert(diag == rows.head.getLong(4), "n_correct must equal the diagonal")
  }

  test("lloyd k-means: every vector is assigned, and IVF stays within cells") {
    val km = Similarity.kmeansLloyd(spark, sf0001).collect()
    val clusters = km.map(_.getLong(0)).distinct
    assert(clusters.length <= 8)
    val members = km.filter(_.getLong(1) == 1L).map(_.getLong(3)).sum
    val corpus = Tables.embeddings(spark, sf0001).count()
    assert(members == corpus, s"cluster sizes $members != corpus $corpus")
    val ivf = Similarity.knnIvfLloyd(spark, sf0001).collect()
    assert(ivf.nonEmpty)
    // top-5 relation shape: per query ranks are 1..k with k <= 5
    ivf.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val rns = rs.map(_.getLong(3)).sorted
      assert(rns.toSeq == (1L to rns.length).toSeq, s"q=$q ranks $rns not dense")
      assert(rns.length <= 5)
    }
  }

  test("growth accounting: weekly statuses partition that week's actives") {
    val ledger = Events.growthAccounting(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) + r.getLong(2) + r.getLong(3)))
      .toMap
    val actives = Tables.events(spark, sf0001)
      .select(expr("unix_micros(ts) DIV 604800000000").as("w"), col("user_id"))
      .distinct().groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    actives.foreach { case (w, n) =>
      assert(ledger.getOrElse(w, 0L) == n,
        s"week $w: new+retained+resurrected ${ledger.get(w)} != active $n")
    }
  }

  test("snaive backtest and acf agree on the hourly grid length") {
    val acf = Events.autocorrHourly(spark, sf0001).collect()
    assert(acf.nonEmpty)
    // n_terms at lag k must be grid_size - k: recover grid size from lag 1
    val byLag = acf.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grid = byLag(1L) + 1
    byLag.foreach { case (k, n) =>
      assert(n == grid - k, s"lag $k n_terms $n != ${grid - k}")
    }
    val bt = Events.snaiveBacktest(spark, sf0001).collect()
    assert(bt.length == 24, s"backtest must cover exactly the final day: ${bt.length}")
  }

  test("cms sketch never underestimates, and exact entries have zero overcount") {
    val rows = TextAnalysis.cmsSketch(spark, sf0001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS underestimated ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }

  test("halfsample ci brackets the overall mean with a positive width") {
    val rows = Behavior.halfsampleCi(spark, sf0001).collect()
    assert(rows.length == 16, s"expected 16 replicates, got ${rows.length}")
    val h = rows.head
    val (mean, lo, hi) = (h.getDouble(5), h.getDouble(7), h.getDouble(8))
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] does not bracket $mean")
    assert(h.getDouble(6) >= 0.0)
  }

  test("lsh recall is a valid ppm ratio and matches its own mean") {
    val rows = Similarity.lshRecall(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val hits = rows.map(_.getLong(2)).sum
    val truths = rows.map(_.getLong(1)).sum
    val mean = rows.head.getLong(4)
    assert(mean == hits * 1000000L / truths,
      s"mean_recall_ppm $mean != recomputed ${hits * 1000000L / truths}")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "hits cannot exceed truth size")
    }
  }

  // ---------------------------------------------------- learner recomputes

  test("OLS by Cramer equals a Gaussian-elimination solve of the normal equations") {
    val rows = olsRows
    val n = rows.length.toDouble
    // normal equations A·beta = b, A = Xᵀ X for X = [1, x1, x2]
    val a = Array(
      Array(n, rows.map(_._1.toDouble).sum, rows.map(_._2.toDouble).sum),
      Array(0.0, rows.map(r => r._1.toDouble * r._1).sum, rows.map(r => r._1.toDouble * r._2).sum),
      Array(0.0, 0.0, rows.map(r => r._2.toDouble * r._2).sum))
    a(1)(0) = a(0)(1); a(2)(0) = a(0)(2); a(2)(1) = a(1)(2)
    val b = Array(rows.map(_._3.toDouble).sum,
      rows.map(r => r._1.toDouble * r._3).sum,
      rows.map(r => r._2.toDouble * r._3).sum)
    // Gaussian elimination with partial pivoting — a different solver than
    // the entry's cofactor expansion
    val m = a.map(_.clone)
    val rhs = b.clone
    for (kk <- 0 until 3) {
      val piv = (kk until 3).maxBy(i => math.abs(m(i)(kk)))
      val tmp = m(kk); m(kk) = m(piv); m(piv) = tmp
      val t2 = rhs(kk); rhs(kk) = rhs(piv); rhs(piv) = t2
      for (i <- (kk + 1) until 3) {
        val f = m(i)(kk) / m(kk)(kk)
        for (j <- kk until 3) m(i)(j) -= f * m(kk)(j)
        rhs(i) -= f * rhs(kk)
      }
    }
    val beta = Array(0.0, 0.0, 0.0)
    for (i <- 2 to 0 by -1) {
      var s = rhs(i)
      for (j <- (i + 1) until 3) s -= m(i)(j) * beta(j)
      beta(i) = s / m(i)(i)
    }
    val syy = rows.map(r => r._3.toDouble * r._3).sum
    val sse = syy - (beta(0) * b(0) + beta(1) * b(1) + beta(2) * b(2))
    val sst = syy - b(0) * b(0) / n
    val row = Aggregates.queries("ml_ols_cramer")(spark, sf0001).collect().head
    def rel(g: Double, e: Double) = math.abs(g - e) / math.max(1.0, math.abs(e))
    assert(rel(row.getAs[Double]("b0_cents"), beta(0)) < 1e-5, s"b0 ${row.getAs[Double]("b0_cents")} vs ${beta(0)}")
    assert(rel(row.getAs[Double]("b1_per_qty"), beta(1)) < 1e-5, s"b1 ${row.getAs[Double]("b1_per_qty")} vs ${beta(1)}")
    assert(rel(row.getAs[Double]("b2_per_bp"), beta(2)) < 1e-5, s"b2 ${row.getAs[Double]("b2_per_bp")} vs ${beta(2)}")
    assert(math.abs(row.getAs[Double]("r2") - (1.0 - sse / sst)) < 1e-5, "r2")
  }

  test("ml_kfold_cv equals an imperative fold/moment/Cramer recompute, exactly") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = lineitem.zip(olsRows).map { case (l, (x1, x2, y)) =>
      (java.lang.Long.parseLong(
        md5hex(s"${l.orderkey}:${l.linenumber}").substring(0, 15), 16) % 5,
        x1, x2, y)
    }
    case class M(var n: BigInt = 0, var sx1: BigInt = 0, var sx2: BigInt = 0,
                 var sy: BigInt = 0, var s11: BigInt = 0, var s12: BigInt = 0,
                 var s22: BigInt = 0, var sx1y: BigInt = 0,
                 var sx2y: BigInt = 0, var syy: BigInt = 0)
    val fm = Array.fill(5)(M())
    for ((f, x1, x2, y) <- rows) {
      val m = fm(f.toInt)
      m.n += 1; m.sx1 += x1; m.sx2 += x2; m.sy += y
      m.s11 += BigInt(x1) * x1; m.s12 += BigInt(x1) * x2
      m.s22 += BigInt(x2) * x2; m.sx1y += BigInt(x1) * y
      m.sx2y += BigInt(x2) * y; m.syy += BigInt(y) * y
    }
    val tot = M()
    for (m <- fm) {
      tot.n += m.n; tot.sx1 += m.sx1; tot.sx2 += m.sx2; tot.sy += m.sy
      tot.s11 += m.s11; tot.s12 += m.s12; tot.s22 += m.s22
      tot.sx1y += m.sx1y; tot.sx2y += m.sx2y; tot.syy += m.syy
    }
    val expected = (0 until 5).map { k =>
      val m = fm(k)
      val a = (tot.n - m.n).toDouble; val b = (tot.sx1 - m.sx1).toDouble
      val c = (tot.sx2 - m.sx2).toDouble; val d = (tot.s11 - m.s11).toDouble
      val e = (tot.s12 - m.s12).toDouble; val f = (tot.s22 - m.s22).toDouble
      val g = (tot.sy - m.sy).toDouble; val h = (tot.sx1y - m.sx1y).toDouble
      val i = (tot.sx2y - m.sx2y).toDouble
      val det = a * (d * f - e * e) - b * (b * f - e * c) + c * (b * e - d * c)
      val det0 = g * (d * f - e * e) - b * (h * f - e * i) + c * (h * e - d * i)
      val det1 = a * (h * f - e * i) - g * (b * f - e * c) + c * (b * i - h * c)
      val det2 = a * (d * i - e * h) - b * (b * i - h * c) + g * (b * e - d * c)
      val b0 = det0 / det; val b1 = det1 / det; val b2 = det2 / det
      val hn = m.n.toDouble
      val quad = b0 * b0 * hn + b1 * b1 * m.s11.toDouble +
        b2 * b2 * m.s22.toDouble + 2.0 * b0 * b1 * m.sx1.toDouble +
        2.0 * b0 * b2 * m.sx2.toDouble + 2.0 * b1 * b2 * m.s12.toDouble
      val sse = m.syy.toDouble -
        2.0 * (b0 * m.sy.toDouble + b1 * m.sx1y.toDouble +
          b2 * m.sx2y.toDouble) + quad
      (k.toLong, (tot.n - m.n).toLong, m.n.toLong, round6(b0), round6(b1),
        round6(b2), round6(math.sqrt(sse / hn)))
    }
    val got = Aggregates.queries("ml_kfold_cv")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_test"), BigDecimal(r.getAs[Double]("b0_cents")),
        BigDecimal(r.getAs[Double]("b1_per_qty")),
        BigDecimal(r.getAs[Double]("b2_per_bp")),
        BigDecimal(r.getAs[Double]("rmse_cents")))).toSeq
    assert(got == expected, s"\nentry: $got\nindependent: $expected")
    // fold partition: every row held out exactly once
    assert(got.map(_._3).sum == rows.length.toLong)
  }

  test("naive bayes confusion matrix equals an imperative trainer/scorer") {
    val docs = documents.map(d => (d.docId, d.lang, d.text))
    val train = docs.filter(_._1 % 5 != 0)
    val test = docs.filter(_._1 % 5 == 0)
    val classDocs = train.groupBy(_._2).map { case (c, g) => c -> g.length.toLong }
    val nTrain = train.length.toLong
    val tokClass = scala.collection.mutable.HashMap.empty[(String, String), Long]
    train.foreach { case (_, c, text) =>
      text.split(" ").filter(_.nonEmpty).foreach { w =>
        tokClass((c, w)) = tokClass.getOrElse((c, w), 0L) + 1L
      }
    }
    val classToks = tokClass.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    val vocab = tokClass.keys.map(_._2).toSet
    val v = vocab.size.toLong
    val priors = classDocs.map { case (c, n) =>
      c -> round9(math.log(n.toDouble / nTrain))
    }
    val classes = classDocs.keys.toSeq.sorted
    val confusion = scala.collection.mutable.HashMap.empty[(String, String), Long]
    test.foreach { case (_, lang, text) =>
      val tf = text.split(" ").filter(w => w.nonEmpty && vocab.contains(w))
        .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
      val pred = classes.map { c =>
        val score = priors(c) + tf.map { case (w, f) =>
          BigDecimal(f) * round9(math.log(
            (tokClass.getOrElse((c, w), 0L) + 1.0) / (classToks(c) + v)))
        }.sum
        (c, score)
      }.minBy { case (c, s) => (-s, c) }(
        Ordering.Tuple2(Ordering.BigDecimal, Ordering.String))._1
      confusion((lang, pred)) = confusion.getOrElse((lang, pred), 0L) + 1L
    }
    val nTest = test.length.toLong
    val nCorrect = confusion.collect { case ((t, p), n) if t == p => n }.sum
    val expected = confusion.toSeq.map { case ((t, p), n) =>
      (t, p, n, nTest, nCorrect, nCorrect * 1000000L / nTest)
    }.sortBy(e => (e._1, e._2))
    val got = TextAnalysis.queries("ml_naive_bayes")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("true_lang"), r.getAs[String]("pred_lang"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_test"),
        r.getAs[Long]("n_correct"), r.getAs[Long]("accuracy_ppm"))).toSeq
    assert(got == expected, s"\nentry: $got\nindependent: $expected")
  }

}
