package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Wave 4 of the round-10 oracle-independence pins — the experimentation
  * and monitoring formulas: Welch t, QTE order statistics, DiD cells,
  * post-stratified ATE, SRM, KS, delta-method ratio z, the integer 3σ
  * rate flags, TWAP, CUSUM, Theil–Sen, and MAD — each rebuilt imperatively
  * in plain driver Scala from the raw sf0.001 log and compared on the
  * entry's documented lattice (exact for the integer kernels). */
class IndependentRecomputeSpec4 extends SparkSpec {

  import BaseRows._

  /** Post-view revenue cents of each experiment user in arm `arm`. */
  private def postCents(arm: Long): Seq[Long] =
    expUsers.filter(_.arm == arm).map(_.postCents)

  test("welch t-test equals a driver recompute of means, t, and df") {
    val a = postCents(0)
    val b = postCents(1)
    def m(v: Seq[Long]) = v.map(_.toDouble).sum / v.length
    def va(v: Seq[Long]) = {
      val mm = m(v); v.map(y => (y - mm) * (y - mm)).sum / (v.length - 1.0)
    }
    val se2a = va(a) / a.length; val se2b = va(b) / b.length
    val row = Behavior.queries("behavior_ttest_revenue")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == a.length.toLong)
    assert(row.getAs[Long]("n_b") == b.length.toLong)
    assert(math.abs(row.getAs[Double]("mean_a") - m(a)) < 1e-5)
    assert(math.abs(row.getAs[Double]("mean_b") - m(b)) < 1e-5)
    if (se2a + se2b > 0.0) {
      val t = (m(a) - m(b)) / math.sqrt(se2a + se2b)
      val df = (se2a + se2b) * (se2a + se2b) /
        (se2a * se2a / (a.length - 1.0) + se2b * se2b / (b.length - 1.0))
      assert(math.abs(row.getAs[Double]("t") - t) < 1e-6, s"t ${row.getAs[Double]("t")} vs $t")
      assert(math.abs(row.getAs[Double]("df_welch") - df) < 1e-4)
    }
  }

  test("quantile treatment effects equal driver order statistics, exactly") {
    def stats(v: Seq[Long]): (Double, Long) = {
      val s = v.sorted
      val n = s.length
      val med = (s(((n + 1) / 2) - 1).toDouble + s((n / 2 + 1) - 1).toDouble) / 2.0
      val p90 = s(((9 * n + 9) / 10) - 1)
      (med, p90)
    }
    val (ma, p90a) = stats(postCents(0))
    val (mb, p90b) = stats(postCents(1))
    val row = Behavior.queries("behavior_qte")(spark, sf0001).collect().head
    assert(row.getAs[Double]("median_a") == ma && row.getAs[Double]("median_b") == mb)
    assert(row.getAs[Double]("qte_median") == mb - ma)
    assert(row.getAs[Long]("p90_a") == p90a && row.getAs[Long]("p90_b") == p90b)
    assert(row.getAs[Long]("qte_p90") == p90b - p90a)
  }

  test("diff-in-diff cells and estimate equal a driver recompute, exactly") {
    val postFrom = java.time.LocalDateTime.of(2024, 1, 16, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val per = events.groupBy(e => (e.userId % 2, if (e.tsUs < postFrom) "pre" else "post", e.userId))
      .map { case ((arm, period, _), g) =>
        (arm, period,
          g.filter(_.eventType == "purchase").map(_.cents).sum,
          g.count(_.eventType == "purchase").toLong)
      }
    val cells = per.groupBy(e => (e._1, e._2)).map { case ((arm, period), g) =>
      val nUsers = g.size.toLong
      val rev = g.map(_._3).sum
      val mean = (rev / nUsers) * 1000000L + (rev % nUsers) * 1000000L / nUsers
      (arm, period) -> (nUsers, g.map(_._4).sum, rev, mean)
    }
    val did = (cells((1L, "post"))._4 - cells((1L, "pre"))._4) -
      (cells((0L, "post"))._4 - cells((0L, "pre"))._4)
    Behavior.queries("behavior_diff_in_diff")(spark, sf0001).collect().foreach { r =>
      val e = cells((r.getAs[Long]("arm"), r.getAs[String]("period")))
      assert(r.getAs[Long]("n_users") == e._1)
      assert(r.getAs[Long]("n_purchases") == e._2)
      assert(r.getAs[Long]("revenue_cents") == e._3)
      assert(r.getAs[Long]("mean_microcents") == e._4)
      assert(r.getAs[Long]("did_microcents") == did)
    }
  }

  test("post-stratified ATE equals a driver stratify-and-weight recompute") {
    val ev = events.map(e => (e.userId, e.eventType, e.tsUs, e.cents))
    val mid = ev.map(_._3).min + (ev.map(_._3).max - ev.map(_._3).min) / 2
    val users = ev.map(_._1).distinct
    val nPre = ev.filter(_._3 < mid).groupBy(_._1).map { case (u, g) => u -> g.length.toLong }
    val post = ev.filter(e => e._3 >= mid && e._2 == "purchase")
      .groupBy(_._1).map { case (u, g) => u -> g.map(_._4).sum }
    val muMicro = users.map(u => nPre.getOrElse(u, 0L)).sum * 1000000L / users.length
    val rows = users.map { u =>
      val s = math.min(nPre.getOrElse(u, 0L) * 2000000L / math.max(muMicro, 1L), 3L)
      (u % 2, s, post.getOrElse(u, 0L))
    }
    val n = rows.length.toDouble
    val terms = (0L to 3L).map { s =>
      val c = rows.filter(r => r._2 == s && r._1 == 0).map(_._3)
      val t = rows.filter(r => r._2 == s && r._1 == 1).map(_._3)
      if (c.nonEmpty && t.nonEmpty)
        (c.length + t.length) / n *
          (t.sum.toDouble / t.length - c.sum.toDouble / c.length)
      else 0.0
    }
    val used = (0L to 3L).count { s =>
      rows.exists(r => r._2 == s && r._1 == 0) && rows.exists(r => r._2 == s && r._1 == 1)
    }.toLong
    val t1 = rows.filter(_._1 == 1); val t0 = rows.filter(_._1 == 0)
    val naive = t1.map(_._3).sum.toDouble / t1.length - t0.map(_._3).sum.toDouble / t0.length
    val row = Behavior.queries("behavior_poststrat_ate")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n") == rows.length.toLong)
    assert(row.getAs[Long]("n_strata_used") == used)
    assert(math.abs(row.getAs[Double]("ate_cents") - terms.sum) < 1e-5,
      s"ate ${row.getAs[Double]("ate_cents")} vs ${terms.sum}")
    assert(math.abs(row.getAs[Double]("naive_cents") - naive) < 1e-5)
  }

  test("SRM chi-square equals a driver recompute") {
    val ev = events.filter(_.eventType == "view").map(_.userId).distinct
    val na = ev.count(_ % 2 == 0).toLong; val nb = ev.count(_ % 2 == 1).toLong
    val e = (na + nb) / 2.0
    val chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    val row = Behavior.queries("behavior_srm_check")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == na && row.getAs[Long]("n_b") == nb)
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 1e-6)
    assert(row.getAs[Long]("srm_flag") == (if (chi2 > 3.841) 1L else 0L))
  }

  test("KS statistic equals a driver exact-CDF recompute") {
    val a = postCents(0)
    val b = postCents(1)
    val na = a.length.toLong; val nb = b.length.toLong
    val values = (a ++ b).distinct.sorted
    var ca = 0L; var cb = 0L; var dNum = 0L
    values.foreach { v =>
      ca += a.count(_ == v); cb += b.count(_ == v)
      dNum = math.max(dNum, math.abs(ca * nb - cb * na))
    }
    val row = Behavior.queries("behavior_ks_test")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == na && row.getAs[Long]("n_b") == nb)
    assert(row.getAs[Long]("d_num") == dNum)
    val ks = dNum.toDouble / (na.toDouble * nb.toDouble)
    assert(math.abs(row.getAs[Double]("ks") - ks) < 1e-6)
    val reject = ks > 1.358 * math.sqrt((na + nb).toDouble / (na.toDouble * nb.toDouble))
    assert(row.getAs[Long]("reject_05") == (if (reject) 1L else 0L))
  }

  test("delta-method ratio z equals a driver moment recompute") {
    val per = events
      .map(e => (e.userId, if (e.eventType == "purchase") e.cents else 0L))
      .groupBy(_._1).toSeq
      .map { case (u, g) => (u % 2, g.map(_._2).sum, g.length.toLong) }
    def arm(v: Long): (Long, Double, Double, Double, Double, Double) = {
      val g = per.filter(_._1 == v)
      val n = g.length.toLong
      val sx = g.map(_._2).sum.toDouble; val sy = g.map(_._3).sum.toDouble
      val sxx = g.map(u => BigDecimal(u._2) * BigDecimal(u._2)).sum.toDouble
      val syy = g.map(u => BigDecimal(u._3) * BigDecimal(u._3)).sum.toDouble
      val sxy = g.map(u => BigDecimal(u._2) * BigDecimal(u._3)).sum.toDouble
      (n, sx, sy, sxx, syy, sxy)
    }
    val (naL, sxa, sya, sxxa, syya, sxya) = arm(0)
    val (nbL, sxb, syb, sxxb, syyb, sxyb) = arm(1)
    def varR(n: Long, sx: Double, sy: Double, sxx: Double, syy: Double, sxy: Double): Double = {
      val nn = n.toDouble
      val r = sx / sy
      val vx = (nn * sxx - sx * sx) / (nn * (nn - 1.0))
      val vy = (nn * syy - sy * sy) / (nn * (nn - 1.0))
      val cxy = (nn * sxy - sx * sy) / (nn * (nn - 1.0))
      (vx - 2.0 * r * cxy + r * r * vy) / (nn * (sy / nn) * (sy / nn))
    }
    val row = Behavior.queries("behavior_ratio_delta")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_a") == naL && row.getAs[Long]("n_b") == nbL)
    assert(math.abs(row.getAs[Double]("ratio_a") - sxa / sya) < 1e-6)
    assert(math.abs(row.getAs[Double]("ratio_b") - sxb / syb) < 1e-6)
    if (naL > 1 && nbL > 1 && sya > 0 && syb > 0) {
      val vsum = varR(naL, sxa, sya, sxxa, syya, sxya) +
        varR(nbL, sxb, syb, sxxb, syyb, sxyb)
      if (vsum > 0.0) {
        assert(math.abs(row.getAs[Double]("se") - math.sqrt(vsum)) < 1e-6)
        assert(math.abs(row.getAs[Double]("z") -
          (sxa / sya - sxb / syb) / math.sqrt(vsum)) < 1e-6)
      }
    }
  }

  test("3-sigma rate flags equal an exact integer driver recompute") {
    val hourly = typeHourCounts
    val expected = hourly.toSeq.map { case ((et, h), cnt) =>
      val grp = hourly.filter(_._1._1 == et).values.toSeq
      val n = grp.length.toLong; val tot = grp.sum
      val sumsq = grp.map(c => c * c).sum
      val dev = n * cnt - tot
      (et, h, cnt, dev * dev > 9L * (n * sumsq - tot * tot))
    }.sortBy(e => (e._1, e._2))
    val got = Events.queries("events_rate_anomaly")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("hour_start").toString.replace(".0", ""),
        r.getAs[Long]("cnt"), r.getAs[Boolean]("is_anomaly"))).toSeq
    assert(got.map(e => (e._1, e._3, e._4)) == expected.map(e => (e._1, e._3, e._4)),
      s"first diff: ${got.zip(expected).find(p => (p._1._1, p._1._3, p._1._4) != (p._2._1, p._2._3, p._2._4))}")
  }

  test("time-weighted average equals an imperative hold-interval recompute") {
    // the decimal(18,2) cents cast is the entry's own, so it stays in Spark
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (u, g) =>
      val ordered = g.toSeq.sortBy(r => (r._3, r._2))
      val holds = ordered.zip(ordered.tail).map { case (cur, nxt) =>
        (cur._4, nxt._3 - cur._3)
      }
      val denom = holds.map(_._2).sum
      if (holds.isEmpty || denom <= 0) None
      else {
        val numer = holds.map { case (c, d) => BigInt(c) * d }.sum
        Some((u, holds.length.toLong, denom, (numer / denom).toLong))
      }
    }.sortBy(_._1)
    val got = Events.queries("agg_time_weighted_avg")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_holds"),
        r.getAs[Long]("span_us"), r.getAs[Long]("twap_cents"))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("CUSUM peak equals an imperative prefix recompute, exactly") {
    val days = events.map(e => Math.floorDiv(e.tsUs, 86400000000L) * 86400000000L)
    val daily = days.groupBy(identity).map { case (d, g) => d -> g.length.toLong }
    val ds = daily.keys.toSeq.sorted
    val dCount = ds.length.toLong
    val total = daily.values.sum
    var s = 0L; var peakAbs = -1L; var peakDay = 0L
    ds.foreach { d =>
      s += daily(d) * dCount - total
      if (math.abs(s) > peakAbs) { peakAbs = math.abs(s); peakDay = d }
    }
    val row = Events.queries("events_cusum_shift")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_days") == dCount)
    assert(row.getAs[Long]("total_events") == total)
    assert(row.getAs[Long]("peak_day_us") == peakDay)
    assert(row.getAs[Long]("cusum_peak") == peakAbs)
    assert(math.abs(row.getAs[Double]("shift_score") -
      peakAbs.toDouble / (dCount.toDouble * total.toDouble)) < 1e-6)
  }

  test("theil-sen slope equals a brute-force pairwise-median recompute") {
    val hc = hourCounts
    val hs = hc.keys.toSeq.sorted
    val slopes = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
    } yield (hc(hs(j)) - hc(hs(i))).toDouble / (hs(j) - hs(i))).sorted
    val m = slopes.length
    val median = (slopes(((m + 1) / 2) - 1) + slopes((m / 2 + 1) - 1)) / 2.0
    val row = Events.queries("events_theilsen_trend")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_hours") == hs.length.toLong)
    assert(row.getAs[Long]("n_pairs") == m.toLong)
    assert(math.abs(row.getAs[Double]("slope") - median) < 1e-12,
      s"slope ${row.getAs[Double]("slope")} vs independent $median")
  }

  test("MAD outlier counts equal a driver percentile recompute") {
    val ev = events.map(e => (e.eventType, math.floor(e.value * 100.0)))
    def pct50(v: Seq[Double]): Double = {
      val s = v.sorted
      val idx = 0.5 * (s.length - 1)
      val lo = idx.toInt; val frac = idx - lo
      if (lo + 1 < s.length) s(lo) + (s(lo + 1) - s(lo)) * frac else s(lo)
    }
    val expected = ev.groupBy(_._1).map { case (et, g) =>
      val cents = g.map(_._2)
      val med = pct50(cents)
      val adev = cents.map(c => math.abs(c - med))
      val mad = pct50(adev)
      et -> (cents.length.toLong, med, mad, adev.count(_ > 4.4478 * mad).toLong)
    }
    Aggregates.queries("agg_mad_outliers")(spark, sf0001).collect().foreach { r =>
      val (n, med, mad, out) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_events") == n)
      assert(math.abs(r.getAs[Double]("med_cents") - med) < 1e-9)
      assert(math.abs(r.getAs[Double]("mad_cents") - mad) < 1e-9)
      assert(r.getAs[Long]("n_outliers") == out, s"type ${r.getAs[String]("event_type")}")
    }
  }
}
