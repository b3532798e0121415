package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Behavior, Events}

/** Independent recomputes and semantic pins of the `Events` and
  * `Behavior` entries: experiment statistics, attribution, hourly
  * monitoring and forecasting.
  *
  * Each recompute rebuilds its entry on the driver from the collected
  * sf0.001 rows ([[BaseRows]]) in plain Scala, with a different
  * formulation where one exists (explicit midranks, two-pass moments,
  * imperative absorption and power iteration), and compares exactly on
  * the integer kernels or to the documented rounding lattice. The DuckDB
  * oracle proves Spark ≡ DuckDB on the same construction; these prove the
  * construction computes what the entry claims. The semantic pins check
  * identities and bounds an algorithm guarantees by construction. */
class EventsRecomputeSpec extends SparkSpec {

  import BaseRows._

  // ------------------------------------------------------------ attribution

  test("markov attribution equals an imperative absorption second implementation") {
    val ev = events.filter(e => Set("click", "view", "purchase")(e.eventType))
      .map(e => (e.userId, e.tsUs, e.eventId, e.eventType))
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

  // ------------------------------------------------------------ experiments

  /** Per experiment user (arm, pre-view cents, post-view cents,
    * converted within 24 h) — the input of the z-test and CUPED pins. */
  private lazy val abUsers: Seq[(Long, Long, Long, Long)] =
    expUsers.map(u => (u.arm, u.preCents, u.postCents, if (u.conv24h) 1L else 0L))

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

  test("mann-whitney U and z equal an explicit midrank recompute") {
    val mwUsers = expUsers.map(u => (u.arm, u.postCents))
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
    val per = orders.map(o => (o.custkey, math.floor(o.totalprice * 100).toLong))
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

  test("ANOVA F equals a two-pass within/between decomposition") {
    val ys = orders.map(o => (o.orderpriority, math.floor(o.totalprice * 100).toLong))
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

  // ---------------------------------------------------- hourly monitoring

  test("hourly EWMA equals an imperative dyadic-weight recompute, exactly") {
    val counts = typeHourCounts
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

  /** The strictly-prior EWMA verdict of every (type, hour) of `counts`,
    * in exact BigInt: window d ∈ [1, 20] hours back, weight 2^(20−d);
    * a warm-up hour (no prior count in the window) has no baseline and
    * is no spike. */
  private def ewmaPrev(counts: Map[(String, Long), Long]) =
    counts.keys.toSeq.sorted.map { case (et, h) =>
      val n = counts((et, h))
      var num = BigInt(0); var wsum = BigInt(0)
      for (d <- 1 to 20; n2 <- counts.get((et, h - d))) {
        val wt = BigInt(1) << (20 - d)
        num += wt * n2; wsum += wt
      }
      if (wsum == 0) (et, h, n, Option.empty[Long], 0L)
      else (et, h, n, Some(((num / wsum) * 1000000 + (num % wsum) * 1000000 / wsum).toLong),
        if (wsum * n > num * 3) 1L else 0L)
    }

  private def ewmaVerdicts(df: DataFrame) = df.collect()
    .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_no"),
      r.getAs[Long]("n_events"),
      Option(r.getAs[java.lang.Long]("ewma_prev_micro")).map(_.toLong),
      r.getAs[Long]("is_spike"))).toSeq

  test("EWMA anomaly verdicts equal a strictly-prior dyadic recompute, exactly") {
    val expected = ewmaPrev(typeHourCounts)
    val got = ewmaVerdicts(Events.queries("events_ewma_anomaly")(spark, sf0001))
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    assert(expected.exists(_._4.isEmpty), "no warm-up hour at sf0.001")
    // sf0.001 holds no spike, so the spike rule runs on planted counts
    // through the entry's verdict kernel: a flat history, an hour at
    // exactly 3× its baseline (no spike: the test is strict), a gap, and
    // an hour above 3×
    import spark.implicits._
    val planted = (0L until 30L).map(h => ("x", h) -> 1L).toMap ++
      Map(("x", 30L) -> 3L, ("x", 40L) -> 10L)
    val df = planted.toSeq.map { case ((et, h), n) => (et, h, n) }.toDF("event_type", "h", "n")
    val plantedGot = ewmaVerdicts(Events.ewmaPrevVerdicts(df, df)
      .orderBy(col("event_type"), col("hour_no")))
    assert(plantedGot == ewmaPrev(planted))
    assert(plantedGot.filter(_._5 == 1L).map(_._2) == Seq(40L))
  }

  test("holt linear smoother equals an imperative dyadic double-EWMA, exactly") {
    val hc = hourCounts
    val h0 = hc.keys.min; val h1 = hc.keys.max
    val grid = hourlySeries.toMap
    def smooth(src: Map[Long, Long], micro: Boolean): Map[Long, Long] =
      (h0 to h1).map { h =>
        var num = 0L; var wsum = 0L
        for (d <- 0 until 20; if src.contains(h - d)) {
          val wt = 1L << (19 - d)
          num += src(h - d) * wt; wsum += wt
        }
        h -> (if (micro) (num / wsum) * 1000000L + (num % wsum) * 1000000L / wsum
              else num / wsum)
      }.toMap
    val s1 = smooth(grid, micro = true)
    val s2 = smooth(s1, micro = false)
    val expected = (h0 to h1).map { h =>
      (h, grid(h), s1(h), s2(h), 2 * s1(h) - s2(h), s1(h) - s2(h),
        3 * s1(h) - 2 * s2(h))
    }
    val got = Events.queries("events_holt_linear")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("hour_no"), r.getAs[Long]("n_events"),
        r.getAs[Long]("s1_micro"), r.getAs[Long]("s2_micro"),
        r.getAs[Long]("level_micro"), r.getAs[Long]("trend_micro"),
        r.getAs[Long]("forecast_next_micro"))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  // ------------------------------------------------- per-user and per-day

  test("markov steady state equals an imperative integer power iteration") {
    val ev = events.map(e => (e.userId, e.tsUs, e.eventId, e.eventType))
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
