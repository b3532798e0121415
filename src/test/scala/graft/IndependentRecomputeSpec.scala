package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Round-10 oracle-independence pins (VERDICT r9, next-round item #1).
  *
  * The DuckDB hash gate proves Spark ≡ DuckDB on the SAME construction —
  * implementation equality, never design correctness (round 9's rank-1 JL
  * matrix and 255/256 SQ8 mismatch both hash-matched while broken). Every
  * test here recomputes a mirrored ALGORITHMIC catalog entry with a second,
  * independent implementation — plain driver-side Scala over the collected
  * sf0.001 inputs, a different algorithm or formulation where one exists
  * (Gaussian elimination vs Cramer, mean-absolute-difference vs the rank
  * Gini, two-pass central moments vs raw power sums, imperative LPA /
  * Markov absorption vs the relational loops) — and compares outputs
  * exactly (integer kernels) or to the documented rounding lattice
  * (round-6/round-9 entries). A plan bug that is deterministic-but-wrong
  * passes the mirrored oracle and fails here.
  */
class IndependentRecomputeSpec extends SparkSpec {

  // ---------------------------------------------------------------- helpers

  /** The sparsified co-supply undirected edge list (u < v, distinct) that
    * the graph community/link-prediction entries share — rebuilt here
    * imperatively from the raw lineitem slice. */
  private lazy val coSupplyEdges: Seq[(Long, Long)] = {
    val ps = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") > 49)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    ps.groupBy(_._1).values.flatMap { grp =>
      val ss = grp.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- (i + 1) until ss.length) yield (ss(i), ss(j))
    }.toSeq.distinct.sorted
  }

  import HalfUp._

  // ------------------------------------------------- events_attribution_markov

  test("markov attribution equals an imperative absorption second implementation") {
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // journeys: per user, events ordered by (ts, is_purchase, event_id) up to
    // and including the FIRST purchase; non-converters add a terminal →NULL
    val transitions = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.toSeq.sortBy(r => (r._2, if (r._4 == "purchase") 1 else 0, r._3))
      val firstP = ordered.indexWhere(_._4 == "purchase")
      val journey = if (firstP >= 0) ordered.take(firstP + 1) else ordered
      var src = "START"
      journey.foreach { r =>
        val dst = if (r._4 == "purchase") "CONV" else r._4
        transitions += ((src, dst)); src = dst
      }
      if (firstP < 0) transitions += ((src, "NULL"))
    }
    // transition ppm on the FULL chain (removal filters rows afterwards —
    // removed mass leaks to the implicit NULL sink, the Anderl construction)
    val bySrc = transitions.groupBy(_._1)
    val ppmAll: Seq[(String, String, Long)] = bySrc.toSeq.flatMap { case (src, ts) =>
      val tot = ts.size.toLong
      ts.groupBy(_._2).toSeq.map { case (dst, g) =>
        (src, dst, g.size.toLong * 1000000L / tot)
      }
    }
    def absorption(removed: String): Long = {
      val rows = ppmAll.filter(t => t._1 != removed && t._2 != removed)
      val moveM = rows.filter(t => t._2 != "CONV" && t._2 != "NULL")
      val cppm = rows.filter(_._2 == "CONV").map(t => t._1 -> t._3).toMap
      val nodes = rows.map(_._1).distinct
      var p: Map[String, Long] = nodes.map(n => n -> cppm.getOrElse(n, 0L)).toMap
      for (_ <- 2 to 12) {
        val contrib = moveM.groupBy(_._1).map { case (src, es) =>
          src -> es.map(e => e._3 * p.getOrElse(e._2, 0L)).sum / 1000000L
        }
        p = nodes.map(n => n -> (cppm.getOrElse(n, 0L) + contrib.getOrElse(n, 0L))).toMap
      }
      p.getOrElse("START", 0L)
    }
    val pFull = absorption("_full_")
    val removal = Seq("click", "view").map { ch =>
      ch -> (if (pFull > 0) 1000000L - absorption(ch) * 1000000L / pFull else 0L)
    }
    val sumR = removal.map(_._2).sum
    val expected = removal.map { case (ch, r) =>
      (ch, pFull, r, if (sumR > 0) r * 1000000L / sumR else 0L)
    }.sortBy(_._1)
    val got = Behavior.queries("events_attribution_markov")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("p_full_ppm"),
        r.getAs[Long]("removal_ppm"), r.getAs[Long]("credit_ppm")))
      .sortBy(_._1).toSeq
    assert(got == expected, s"\nentry: $got\nindependent: $expected")
  }

  // ------------------------------------------------------------ rec_assoc_rules

  test("assoc rules equal a brute-force basket recount, all 8 columns, top-20") {
    // sf0.001, and the synthetic baskets whose top-20 cut falls inside a
    // run of rules tied on lift and confidence
    TieBaskets.withDirs(spark, TieBaskets.Tied, TieBaskets.Directed) { ties =>
      (sf0001 +: ties).foreach { dir =>
        val op = Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val nBaskets = op.map(_._1).distinct.length.toLong
        val marg = op.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
        val pairCounts = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        op.groupBy(_._1).values.foreach { items =>
          val ps = items.map(_._2).distinct.sorted
          for (i <- ps.indices; j <- (i + 1) until ps.length) {
            val k = (ps(i), ps(j))
            pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
          }
        }
        val ranked = pairCounts.toSeq
          .flatMap { case ((a, b), nab) => Seq((a, b, nab), (b, a, nab)) }
          .map { case (ante, cons, nab) =>
            val na = marg(ante); val nc = marg(cons)
            (ante, cons, nab, na, nc, nBaskets,
              nab * 1000000L / na, nab * nBaskets * 1000000L / (na * nc))
          }
          .sortBy { case (a, c, _, _, _, _, conf, lift) => (-lift, -conf, a, c) }
        if (ties.contains(dir))
          assert(ranked(19)._7 == ranked(20)._7 && ranked(19)._8 == ranked(20)._8,
            s"the synthetic top-20 cut is not inside a tie: ${ranked.slice(18, 22)}")
        val expected = ranked.take(20)
        val got = Recommend.queries("rec_assoc_rules")(spark, dir).collect()
          .map(r => (r.getAs[Long]("antecedent"), r.getAs[Long]("consequent"),
            r.getAs[Long]("n_ab"), r.getAs[Long]("n_ante"), r.getAs[Long]("n_cons"),
            r.getAs[Long]("n_baskets"), r.getAs[Long]("conf_ppm"),
            r.getAs[Long]("lift_ppm"))).toSeq
        assert(got == expected, s"\n$dir entry: ${got.take(3)}…\nindependent: ${expected.take(3)}…")
      }
    }
  }

  // ----------------------------------------------------------- graph_modularity

  test("modularity Q equals an imperative LPA + Newman-Girvan recompute") {
    val edges = coSupplyEdges
    val und = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val adj = und.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2) }
    // synchronous LPA, 4 rounds, ties -> smallest label (the deterministic
    // variant the entry documents)
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lab = adj.map { case (m, nbrs) =>
        val best = nbrs.map(lab).groupBy(identity).toSeq
          .map { case (l, g) => (l, g.size) }
          .minBy { case (l, c) => (-c, l) }._1
        m -> best
      }
    }
    val mEdges = edges.length.toLong
    val byLabel = lab.groupBy(_._2)
    val expected = byLabel.toSeq.map { case (label, members) =>
      val nodes = members.keySet
      val internal = edges.count { case (u, v) => lab(u) == label && lab(v) == label }.toLong
      val degSum = nodes.toSeq.map(n => adj(n).length.toLong).sum
      val rawTerm = internal.toDouble / mEdges.toDouble -
        (degSum.toDouble / (2.0 * mEdges)) * (degSum.toDouble / (2.0 * mEdges))
      (label, nodes.size.toLong, internal, degSum, round9(rawTerm).toDouble)
    }.sortBy(_._1)
    val q = expected.map(t => BigDecimal(t._5)).sum.toDouble
    val got = Graph.queries("graph_modularity")(spark, sf0001).collect()
    assert(got.length == expected.length)
    got.sortBy(_.getAs[Long]("label")).zip(expected).foreach { case (r, e) =>
      assert(r.getAs[Long]("label") == e._1)
      assert(r.getAs[Long]("n_nodes") == e._2, s"label ${e._1} n_nodes")
      assert(r.getAs[Long]("n_internal_edges") == e._3, s"label ${e._1} internal")
      assert(r.getAs[Long]("deg_sum") == e._4, s"label ${e._1} deg_sum")
      assert(math.abs(r.getAs[Double]("term") - e._5) < 1e-9, s"label ${e._1} term")
      assert(math.abs(r.getAs[Double]("modularity_q") - q) < 1e-8, "Q")
    }
  }

  // -------------------------------------------------------- graph_assortativity

  test("assortativity equals a driver Pearson over endpoint degrees") {
    val edges = coSupplyEdges
    val und = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = und.groupBy(_._1).map { case (m, xs) => m -> xs.length.toLong }
    val pairsDeg = und.map { case (m, x) => (deg(m), deg(x)) }
    val n = pairsDeg.length.toLong
    val sx = pairsDeg.map(_._1).sum; val sy = pairsDeg.map(_._2).sum
    val sxx = pairsDeg.map(p => p._1.toDouble * p._1).sum
    val syy = pairsDeg.map(p => p._2.toDouble * p._2).sum
    val sxy = pairsDeg.map(p => p._1.toDouble * p._2).sum
    val r = (n * sxy - sx.toDouble * sy) /
      math.sqrt((n * sxx - sx.toDouble * sx) * (n * syy - sy.toDouble * sy))
    val sumDeg = pairsDeg.map(_._1).sum
    val meanPpm = (sumDeg / n) * 1000000L + (sumDeg % n) * 1000000L / n
    val row = Graph.queries("graph_assortativity")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_directed_edges") == n)
    assert(row.getAs[Long]("mean_degree_ppm") == meanPpm)
    assert(math.abs(row.getAs[Double]("assortativity") - r) < 1e-6,
      s"entry ${row.getAs[Double]("assortativity")} vs independent $r")
  }

  // ------------------------------- graph_common_neighbors / graph_adamic_adar

  /** Brute-force wedge scores over the co-supply graph: for every
    * non-adjacent pair, the shared-neighbor count and the Adamic–Adar sum
    * on the entry's round-9 weight lattice. */
  private lazy val linkPredScores: Seq[(Long, Long, Long, Double)] = {
    val edges = coSupplyEdges.toSet
    val und = coSupplyEdges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val adj = und.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).toSet }
    val deg = adj.map { case (m, xs) => m -> xs.size }
    val nodes = adj.keys.toSeq.sorted
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      a = nodes(i); c = nodes(j)
      if !edges.contains((a, c))
      common = adj(a) & adj(c)
      if common.nonEmpty
    } yield {
      val aa = common.toSeq.map(m => BigDecimal(round9(1.0 / math.log(deg(m).toDouble)).toDouble)).sum
      (a, c, common.size.toLong, aa.toDouble)
    }
  }

  test("common-neighbors top-20 equals the brute-force non-adjacent wedge count") {
    val expected = linkPredScores
      .map { case (a, c, n, _) => (a, c, n) }
      .sortBy { case (a, c, n) => (-n, a, c) }.take(20)
    val got = Graph.queries("graph_common_neighbors")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sc"), r.getAs[Long]("n_common")))
      .toSeq
    assert(got == expected)
  }

  test("adamic-adar top-20 equals the brute-force weighted wedge sum") {
    val expected = linkPredScores
      .sortBy { case (a, c, _, aa) => (-aa, a, c) }.take(20)
    val got = Graph.queries("graph_adamic_adar")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sc"),
        r.getAs[Long]("n_common"), r.getAs[Double]("aa_score"))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-9, s"pair (${g._1},${g._2}) aa_score")
    }
  }

  // --------------------------------------------------------------- ml_ols_cramer

  test("OLS by Cramer equals a Gaussian-elimination solve of the normal equations") {
    val rows = Tables.lineitem(spark, sf0001).select(
        floor(col("l_quantity")).cast("long").as("x1"),
        floor(col("l_discount") * 100).cast("long").as("x2"),
        floor(col("l_extendedprice") * 100).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
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

  // -------------------------------------------------------------------- agg_gini

  test("gini per priority equals the mean-absolute-difference formulation exactly") {
    val xs = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = xs.groupBy(_._1).map { case (p, g) =>
      val v = g.map(_._2)
      val n = v.length.toLong
      val sx = v.sum
      // Σᵢⱼ|xᵢ−xⱼ| — O(n²) independent formulation; algebraically
      // 2·(2Σi·x₍ᵢ₎ − (n+1)Σx) for ascending x, so the double ratios are
      // bit-identical, not merely close
      var num = 0L
      for (i <- v.indices; j <- v.indices) num += math.abs(v(i) - v(j))
      p -> (n, num.toDouble / (2.0 * n * sx))
    }
    Aggregates.queries("agg_gini")(spark, sf0001).collect().foreach { r =>
      val (n, g) = expected(r.getAs[String]("o_orderpriority"))
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("gini") - g) < 1e-12,
        s"${r.getAs[String]("o_orderpriority")}: entry ${r.getAs[Double]("gini")} vs MAD $g")
    }
  }

  // ---------------------------------------------------------- agg_skew_kurtosis

  test("skew/kurtosis equal a two-pass central-moment recompute") {
    val xs = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = xs.groupBy(_._1).map { case (p, g) =>
      val v = g.map(_._2.toDouble)
      val n = v.length
      val mu = v.sum / n
      val m2 = v.map(x => (x - mu) * (x - mu)).sum / n
      val m3 = v.map(x => math.pow(x - mu, 3)).sum / n
      val m4 = v.map(x => math.pow(x - mu, 4)).sum / n
      p -> (n.toLong, m3 / (math.sqrt(m2) * m2), m4 / (m2 * m2) - 3.0)
    }
    Aggregates.queries("agg_skew_kurtosis")(spark, sf0001).collect().foreach { r =>
      val (n, sk, ku) = expected(r.getAs[String]("o_orderpriority"))
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("skew_pop") - sk) < 1e-4,
        s"skew ${r.getAs[Double]("skew_pop")} vs two-pass $sk")
      assert(math.abs(r.getAs[Double]("kurt_excess") - ku) < 1e-4,
        s"kurt ${r.getAs[Double]("kurt_excess")} vs two-pass $ku")
    }
  }

  // -------------------------------------------------------- agg_weighted_median

  test("weighted median equals a driver sort-and-scan selection") {
    val xs = Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("w"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3),
        r.getDecimal(4)))
    val expected = xs.groupBy(_._1).map { case (f, g) =>
      val ordered = g.sortBy(t => (t._2, t._3, t._4))
      val tot = ordered.map(t => BigDecimal(t._5)).sum
      var cum = BigDecimal(0)
      var ans = Double.NaN
      var found = false
      ordered.foreach { t =>
        cum += BigDecimal(t._5)
        if (!found && cum * 2 >= tot) { ans = t._2; found = true }
      }
      f -> ans
    }
    Aggregates.queries("agg_weighted_median")(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Double]("weighted_median") == expected(r.getAs[String]("l_returnflag")),
        s"flag ${r.getAs[String]("l_returnflag")}")
    }
  }

  // ------------------------------------------------- behavior_ab_ztest / cuped

  /** Per-user (variant, pre-cents, post-cents, converted-within-24h) built
    * imperatively from the raw log — shared by the two experiment pins. */
  private lazy val abUsers: Seq[(Long, Long, Long, Long)] = {
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val views = rows.filter(_._2 == "view")
      if (views.isEmpty) None
      else {
        val v = views.map(_._3).min
        val purchases = rows.filter(_._2 == "purchase")
        val x = purchases.filter(_._3 < v).map(_._4).sum
        val y = purchases.filter(_._3 > v).map(_._4).sum
        val conv = purchases.exists(p => p._3 > v && p._3 <= v + 86400000000L)
        Some((uid % 2, x, y, if (conv) 1L else 0L))
      }
    }
  }

  test("two-proportion z-test equals a driver recompute of the funnel and statistic") {
    val na = abUsers.count(_._1 == 0).toLong
    val nb = abUsers.count(_._1 == 1).toLong
    val ca = abUsers.filter(_._1 == 0).map(_._4).sum
    val cb = abUsers.filter(_._1 == 1).map(_._4).sum
    val row = Behavior.queries("behavior_ab_ztest")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == na && row.getAs[Long]("n_b") == nb)
    assert(row.getAs[Long]("conv_a") == ca && row.getAs[Long]("conv_b") == cb)
    assert(row.getAs[Long]("rate_a_bp") == ca * 10000L / na)
    assert(row.getAs[Long]("rate_b_bp") == cb * 10000L / nb)
    val pPool = (ca + cb).toDouble / (na + nb)
    if (pPool > 0.0 && pPool < 1.0) {
      val z = (ca.toDouble / na - cb.toDouble / nb) /
        math.sqrt(pPool * (1.0 - pPool) * (1.0 / na + 1.0 / nb))
      assert(math.abs(row.getAs[Double]("z") - z) < 1e-6)
    }
  }

  test("CUPED theta/diff/variance-reduction equal a driver OLS recompute") {
    val n = abUsers.length.toDouble
    val sx = abUsers.map(_._2).sum.toDouble; val sy = abUsers.map(_._3).sum.toDouble
    val sxy = abUsers.map(u => BigDecimal(u._2) * BigDecimal(u._3)).sum
    val sxx = abUsers.map(u => BigDecimal(u._2) * BigDecimal(u._2)).sum
    val syy = abUsers.map(u => BigDecimal(u._3) * BigDecimal(u._3)).sum
    val covN = n * sxy.toDouble - sx * sy
    val varXN = n * sxx.toDouble - sx * sx
    val varYN = n * syy.toDouble - sy * sy
    val a = abUsers.filter(_._1 == 0); val b = abUsers.filter(_._1 == 1)
    val diffRaw = a.map(_._3).sum.toDouble / a.length - b.map(_._3).sum.toDouble / b.length
    val row = Behavior.queries("behavior_cuped")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == a.length.toLong)
    assert(row.getAs[Long]("n_b") == b.length.toLong)
    assert(math.abs(row.getAs[Double]("diff_raw") - diffRaw) < 1e-5)
    if (varXN > 0.0) {
      val theta = covN / varXN
      val diffCuped = diffRaw - theta *
        (a.map(_._2).sum.toDouble / a.length - b.map(_._2).sum.toDouble / b.length)
      assert(math.abs(row.getAs[Double]("theta") - theta) < 1e-6)
      assert(math.abs(row.getAs[Double]("diff_cuped") - diffCuped) < 1e-5)
      if (varYN > 0.0)
        assert(row.getAs[Long]("var_red_bp") ==
          math.floor(10000.0 * covN * covN / (varXN * varYN)).toLong)
    }
  }
}

/** Wave 2 of the round-10 oracle-independence pins — same discipline as
  * [[IndependentRecomputeSpec]]: plain driver-side second implementations
  * of mirrored algorithmic entries (rank statistics by explicit midranks,
  * two-pass centered moments vs one-pass raw sums, imperative integer
  * power iteration, brute-force cosine). */
class IndependentRecomputeSpec2 extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.operators._

  import HalfUp._

  /** Token frequencies of the sf0.001 corpus, tokenized on the driver as
    * the text entries do: split on single spaces, empties dropped. */
  private lazy val tokenFreq: Map[String, Long] = {
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    Tables.documents(spark, sf0001).select(col("text")).collect().foreach { r =>
      r.getString(0).split(" ").filter(_.nonEmpty)
        .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1L)
    }
    freq.toMap
  }

  test("zipf fit equals a driver OLS over an independently tokenized head") {
    val top = tokenFreq.toSeq.sortBy { case (w, f) => (-f, w) }.take(32)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (math.log((i + 1).toDouble), math.log(f.toDouble))
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - sx * slope) / n
    val r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    val row = TextAnalysis.queries("text_zipf_fit")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_points") == pts.length.toLong)
    assert(math.abs(row.getAs[Double]("zipf_slope") - slope) < 1e-5,
      s"slope ${row.getAs[Double]("zipf_slope")} vs independent $slope")
    assert(math.abs(row.getAs[Double]("intercept") - intercept) < 1e-5)
    assert(math.abs(row.getAs[Double]("r2") - r2) < 1e-5)
  }

  test("heavy hitters equal the exact token set with cnt·33 > n") {
    // the entry's Misra–Gries pass only nominates candidates; its exact
    // recount must keep precisely the tokens above 3% of all tokens
    val n = tokenFreq.values.sum
    val truth = tokenFreq.filter { case (_, c) => c * 33 > n }
    assert(truth.nonEmpty, "fixture lost its heavy hitters — check the corpus")
    val got = TextAnalysis.queries("text_heavy_hitters")(spark, sf0001).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
    assert(got == truth,
      s"extra=${got.keySet -- truth.keySet} missing=${truth.keySet -- got.keySet}")
  }

  test("hourly EWMA equals an imperative dyadic-weight recompute, exactly") {
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getString(0), Math.floorDiv(r.getLong(1), 3600000000L)))
    val counts = ev.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val expected = counts.keys.toSeq.sorted.map { case (et, h) =>
      var num = 0L; var wsum = 0L
      for (d <- 0 until 20) {
        counts.get((et, h - d)).foreach { n2 =>
          val wt = 1L << (19 - d)
          num += n2 * wt; wsum += wt
        }
      }
      val micro = (num / wsum) * 1000000L + (num % wsum) * 1000000L / wsum
      (et, h, counts((et, h)), micro)
    }
    val got = Events.queries("events_ewma_hourly")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_no"),
        r.getAs[Long]("n_events"), r.getAs[Long]("ewma_micro"))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("item-item cosine top-25 equals a brute-force driver recount") {
    val custOf = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cp = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .flatMap(r => custOf.get(r.getLong(0)).map(c => (c, r.getLong(1))))
      .distinct
    val marg = cp.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
    val co = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    cp.groupBy(_._1).values.foreach { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        val k = (ps(i), ps(j)); co(k) = co.getOrElse(k, 0L) + 1L
      }
    }
    val expected = co.toSeq.map { case ((a, b), c) =>
      val cos = round6(c.toDouble / math.sqrt((marg(a) * marg(b)).toDouble)).toDouble
      (a, b, c, marg(a), marg(b), cos)
    }.sortBy { case (a, b, c, _, _, cos) => (-cos, -c, a, b) }.take(25)
    val got = Recommend.queries("rec_item_cosine")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("co_users"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("cosine"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(3)}…\nindependent: ${expected.take(3)}…")
  }

  /** Per-user post-exposure revenue and variant, rebuilt imperatively —
    * the Mann-Whitney pin's input (no 24 h cap, unlike abUsers). */
  private lazy val mwUsers: Seq[(Long, Long)] = {
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val views = rows.filter(_._2 == "view")
      if (views.isEmpty) None
      else {
        val v = views.map(_._3).min
        val y = rows.filter(r => r._2 == "purchase" && r._3 > v).map(_._4).sum
        Some((uid % 2, y))
      }
    }
  }

  test("mann-whitney U and z equal an explicit midrank recompute") {
    val n = mwUsers.length.toLong
    val nA = mwUsers.count(_._1 == 0).toLong
    val nB = n - nA
    val byY = mwUsers.groupBy(_._2).map { case (y, g) =>
      y -> (g.length.toLong, g.count(_._1 == 0).toLong)
    }
    val sortedY = byY.keys.toSeq.sorted
    var lt = 0L; var r2sumA = 0L; var tie3 = BigInt(0)
    sortedY.foreach { y =>
      val (t, tA) = byY(y)
      val r2 = 2L * lt + t + 1L
      r2sumA += r2 * tA
      tie3 += BigInt(t) * t * t - t
      lt += t
    }
    val u2a = r2sumA - nA * (nA + 1L)
    val varU = nA.toDouble * nB / 12.0 *
      ((n + 1.0) - tie3.toDouble / (n.toDouble * (n - 1.0)))
    val row = Behavior.queries("behavior_mann_whitney")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == nA && row.getAs[Long]("n_b") == nB)
    assert(row.getAs[Long]("u2_a") == u2a)
    if (varU > 0.0) {
      val z = (u2a.toDouble / 2.0 - nA.toDouble * nB / 2.0) / math.sqrt(varU)
      assert(math.abs(row.getAs[Double]("z") - z) < 1e-6,
        s"z ${row.getAs[Double]("z")} vs independent $z")
    }
  }

  test("spearman rho equals Pearson over explicitly built midranks") {
    val per = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq
      .map { case (_, g) => (g.length.toLong, g.map(_._2).sum) }
    def midranks(vs: Seq[Long]): Map[Long, Double] = {
      val byV = vs.groupBy(identity).map { case (v, g) => v -> g.length.toLong }
      var lt = 0L
      byV.keys.toSeq.sorted.map { v =>
        val t = byV(v)
        val r = lt + (t + 1.0) / 2.0
        lt += t
        v -> r
      }.toMap
    }
    val rx = midranks(per.map(_._1)); val ry = midranks(per.map(_._2))
    val pts = per.map { case (x, y) => (rx(x), ry(y)) }
    val n = pts.length.toDouble
    val mx = pts.map(_._1).sum / n; val my = pts.map(_._2).sum / n
    val cov = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
    val vx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val vy = pts.map(p => (p._2 - my) * (p._2 - my)).sum
    val row = Behavior.queries("behavior_spearman")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n") == pts.length.toLong)
    if (vx > 0.0 && vy > 0.0) {
      val rho = cov / math.sqrt(vx * vy)
      assert(math.abs(row.getAs[Double]("rho") - rho) < 1e-6,
        s"rho ${row.getAs[Double]("rho")} vs independent $rho")
    }
  }

  test("pagerank equals an imperative integer power iteration, exactly") {
    val sp = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = sp.flatMap { case (s, p) => Seq((s, p), (p, s)) }
    val outAdj = edges.groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
    val deg = outAdj.map { case (s, g) => s -> g.length.toLong }
    var r: Map[Long, Long] = deg.keys.map(n => n -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inbox = scala.collection.mutable.HashMap.empty[Long, Long]
      outAdj.foreach { case (src, dsts) =>
        val contrib = r.getOrElse(src, 0L) / deg(src)
        dsts.foreach(d => inbox(d) = inbox.getOrElse(d, 0L) + contrib)
      }
      r = inbox.map { case (node, s) => node -> (150000L + 85L * s / 100L) }.toMap
    }
    val expected = r.toSeq.map { case (node, rr) => (node, rr / 1000000.0) }
      .sortBy { case (node, rank) => (-rank, node) }.take(25)
    val got = Graph.queries("graph_pagerank")(spark, sf0001).collect()
      .map(r2 => (r2.getAs[Long]("node"), r2.getAs[Double]("rank"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
  }

  test("per-nation regression equals a two-pass centered recompute") {
    val supNat = Tables.supplier(spark, sf0001)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val natName = Tables.nation(spark, sf0001)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val pts = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (natName(supNat(r.getLong(0))), r.getDouble(1), r.getDouble(2)))
    val expected = pts.groupBy(_._1).map { case (nat, g) =>
      val n = g.length.toDouble
      val mx = g.map(_._2).sum / n; val my = g.map(_._3).sum / n
      val cov = g.map(p => (p._2 - mx) * (p._3 - my)).sum
      val vx = g.map(p => (p._2 - mx) * (p._2 - mx)).sum
      val vy = g.map(p => (p._3 - my) * (p._3 - my)).sum
      val slope = cov / vx
      nat -> (g.length.toLong, slope, my - slope * mx, cov * cov / (vx * vy))
    }
    Aggregates.queries("agg_regression_manual")(spark, sf0001).collect().foreach { r =>
      val (n, slope, icpt, r2) = expected(r.getAs[String]("n_name"))
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-5,
        s"${r.getAs[String]("n_name")} slope")
      assert(math.abs(r.getAs[Double]("intercept") - icpt) < 1e-2 * math.max(1.0, math.abs(icpt)),
        s"${r.getAs[String]("n_name")} intercept ${r.getAs[Double]("intercept")} vs $icpt")
      assert(math.abs(r.getAs[Double]("r2") - r2) < 1e-5, s"${r.getAs[String]("n_name")} r2")
    }
  }

  test("ANOVA F equals a two-pass within/between decomposition") {
    val ys = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority"), floor(col("o_totalprice") * 100).cast("long").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = ys.groupBy(_._1).values.map(_.map(_._2.toDouble)).toSeq
    val n = ys.length.toDouble
    val grand = ys.map(_._2.toDouble).sum / n
    val ssb = groups.map(g => g.length * {
      val m = g.sum / g.length; (m - grand) * (m - grand)
    }).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(y => (y - m) * (y - m)).sum }).sum
    val k = groups.length.toDouble
    val f = (ssb / (k - 1.0)) / (ssw / (n - k))
    val row = Behavior.queries("behavior_anova_f")(spark, sf0001).collect().head
    assert(row.getAs[Long]("k") == groups.length.toLong)
    assert(row.getAs[Long]("n") == ys.length.toLong)
    assert(math.abs(row.getAs[Double]("ssb") - ssb) < 1e-6 * math.abs(ssb), "ssb")
    assert(math.abs(row.getAs[Double]("ssw") - ssw) < 1e-6 * math.abs(ssw), "ssw")
    assert(math.abs(row.getAs[Double]("f") - f) < 1e-4,
      s"F ${row.getAs[Double]("f")} vs independent $f")
  }
}

/** Wave 3 of the round-10 oracle-independence pins — monitoring and
  * learned-model entries: PSI, Benford, JS divergence, Flesch readability,
  * the naive-Bayes learner, and the Markov steady state, each rebuilt
  * imperatively in driver Scala and compared on the entry's documented
  * lattice (exact for the integer kernels). */
class IndependentRecomputeSpec3 extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.operators._

  import HalfUp._

  test("PSI drift equals a driver Laplace-smoothed recompute") {
    val rows = Tables.orders(spark, sf0001)
      .select(col("o_totalprice"), col("o_orderdate").cast("string").as("d"))
      .collect().map(r => (r.getDouble(0), r.getString(1)))
    val nRef = Array.fill(10)(0L); val nCur = Array.fill(10)(0L)
    rows.foreach { case (p, d) =>
      val bin = math.min(math.floor(p / 50000).toLong, 9L).toInt
      if (d < "1998-01-01") nRef(bin) += 1 else nCur(bin) += 1
    }
    val tr = nRef.sum; val tc = nCur.sum
    val terms = (0 until 10).map { b =>
      val p = (nRef(b) + 1.0) / (tr + 10.0)
      val q = (nCur(b) + 1.0) / (tc + 10.0)
      (b.toLong, nRef(b), nCur(b), p, q, round6((p - q) * math.log(p / q)))
    }
    val total = terms.map(_._6).sum
    val got = Aggregates.queries("agg_psi_drift")(spark, sf0001).collect()
      .sortBy(_.getAs[Long]("bin"))
    assert(got.length == 10)
    got.zip(terms).foreach { case (r, (b, nr, nc, p, q, term)) =>
      assert(r.getAs[Long]("bin") == b)
      assert(r.getAs[Long]("n_ref") == nr && r.getAs[Long]("n_cur") == nc, s"bin $b counts")
      assert(math.abs(r.getAs[Double]("p_ref") - p) < 1e-6, s"bin $b p_ref")
      assert(math.abs(r.getAs[Double]("p_cur") - q) < 1e-6, s"bin $b p_cur")
      assert(math.abs(r.getAs[Double]("psi_term") - term.toDouble) < 1e-9, s"bin $b term")
      assert(math.abs(r.getAs[Double]("psi_total") - total.toDouble) < 1e-8, "total")
    }
  }

  test("benford audit equals an exact driver digit recount") {
    val exp = Map(1 -> 30103L, 2 -> 17609L, 3 -> 12494L, 4 -> 9691L, 5 -> 7918L,
      6 -> 6695L, 7 -> 5799L, 8 -> 5115L, 9 -> 4576L)
    val digits = Tables.orders(spark, sf0001)
      .select(col("o_totalprice")).collect()
      .map(r => math.floor(r.getDouble(0) * 100).toLong.toString.head - '0')
      .filter(d => d >= 1 && d <= 9)
    val total = digits.length.toLong
    val counts = digits.groupBy(identity).map { case (d, g) => d -> g.length.toLong }
    val expected = counts.keys.toSeq.sorted.map { d =>
      val n = counts(d)
      val share = n * 100000L / total
      (d.toLong, n, share, exp(d), math.abs(share - exp(d)))
    }
    val got = Aggregates.queries("agg_benford_audit")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("digit"), r.getAs[Long]("n_orders"),
        r.getAs[Long]("share_e5"), r.getAs[Long]("expected_e5"),
        r.getAs[Long]("dev_e5"))).toSeq
    assert(got == expected)
  }

  test("JS divergence equals a driver two-corpus recompute on the round-9 lattice") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    docs.foreach { case (id, text) =>
      val arm = id % 2
      text.split(" ").filter(_.nonEmpty).foreach { t =>
        val (a, b) = counts.getOrElse(t, (0L, 0L))
        counts(t) = if (arm == 0) (a + 1, b) else (a, b + 1)
      }
    }
    val na = counts.values.map(_._1).sum; val nb = counts.values.map(_._2).sum
    val js = counts.values.map { case (ca, cb) =>
      val p = ca.toDouble / na; val q = cb.toDouble / nb
      val m = (p + q) / 2.0
      round9((if (ca > 0) p * math.log(p / m) else 0.0) * 0.5 +
        (if (cb > 0) q * math.log(q / m) else 0.0) * 0.5)
    }.sum
    val row = TextAnalysis.queries("text_js_divergence")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_tokens_a") == na && row.getAs[Long]("n_tokens_b") == nb)
    assert(row.getAs[Long]("n_vocab") == counts.size.toLong)
    assert(math.abs(row.getAs[Double]("js_nats") - js.toDouble) < 1e-8,
      s"js_nats ${row.getAs[Double]("js_nats")} vs independent ${js.toDouble}")
    assert(math.abs(row.getAs[Double]("js_bits") - js.toDouble / math.log(2.0)) < 1e-5)
  }

  test("readability report equals an exact driver Flesch recompute") {
    val syl = "[aeiouy]+".r
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val words = g.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val nWords = words.length.toLong
      val nSyl = words.map(w => syl.findAllIn(w).length.toLong).sum
      val nDocs = g.length.toLong
      val wps = nWords * 1000L / nDocs
      val spw = nSyl * 1000L / nWords
      src -> (nDocs, nWords, nSyl, wps, spw, 206835L - 1015L * wps / 1000L - 84600L * spw / 1000L)
    }
    val got = TextAnalysis.queries("text_readability")(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getAs[String]("source"))
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_syllables"), r.getAs[Long]("wps_milli"),
        r.getAs[Long]("spw_milli"), r.getAs[Long]("flesch_milli")) == e,
        s"source ${r.getAs[String]("source")}")
    }
  }

  test("naive bayes confusion matrix equals an imperative trainer/scorer") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
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

  test("markov steady state equals an imperative integer power iteration") {
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = scala.collection.mutable.HashMap.empty[(String, String), Long]
    ev.groupBy(_._1).values.foreach { rows =>
      val ordered = rows.toSeq.sortBy(r => (r._2, r._3)).map(_._4)
      ordered.sliding(2).foreach {
        case Seq(a, b) => trans((a, b)) = trans.getOrElse((a, b), 0L) + 1L
        case _ =>
      }
    }
    val rowTot = trans.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val kernel = trans.map { case ((s, d), n) => (s, d, n * 1000000L / rowTot(s)) }
    val k = rowTot.size.toLong
    var pi: Map[String, Long] = rowTot.keys.map(s => s -> 1000000L / k).toMap
    for (_ <- 1 to 4) {
      pi = kernel.toSeq.filter(t => pi.contains(t._1))
        .groupBy(_._2)
        .map { case (d, es) => d -> es.map(e => pi(e._1) * e._3).sum / 1000000L }
    }
    val expected = pi.toSeq.map { case (s, m) => (s, m) }
      .sortBy { case (s, m) => (-m, s) }
    val got = Events.queries("events_markov_steady")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("state"), r.getAs[Long]("pi_micro"))).toSeq
    assert(got == expected, s"\nentry: $got\nindependent: $expected")
  }
}
