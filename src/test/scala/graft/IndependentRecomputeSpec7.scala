package graft

import graft.operators._

/** Wave 7 of the round-10 oracle-independence pins — the last mirrored
  * algorithmic entries found pinless by the COVERAGE.md inventory sweep:
  * power/MDE design formulas, the nearest-direction as-of join, the
  * repetition signals, the deterministic mixture sampler, and the whole
  * logistic-regression eval suite (fit replayed imperatively, AUC checked
  * by DIRECT pair counting against the entry's Mann-Whitney identity). */
class IndependentRecomputeSpec7 extends SparkSpec {

  import BaseRows._
  import HalfUp._

  /** The lrDocs → 3×GD → score pipeline, replayed imperatively on the
    * entry's documented decimal lattice: per-doc (f1, f2, y) standardized
    * features, zero-init weights, three full-batch steps at lr = 2.0. */
  private lazy val lrScored: Seq[(BigDecimal, Long)] = {
    val docs = documents.map(_.text)
    val raw = docs.flatMap { text =>
      val ws = text.split(" ", -1).filter(_.nonEmpty)
      if (ws.isEmpty) None
      else {
        val n = ws.length.toLong
        val nd = ws.distinct.length.toLong
        val nStop = ws.count(w => w == "the" || w == "a").toLong
        Some((round6(nd.toDouble / n), round6(nStop.toDouble / n),
          if (n >= 55) 1L else 0L))
      }
    }
    val m = raw.length
    def z(fs: Seq[BigDecimal]): Seq[BigDecimal] = {
      val s1 = fs.sum; val s11 = fs.map(f => f * f).sum
      val mean = s1.toDouble / m
      val variance = s11.toDouble / m - mean * mean
      if (variance > 0.0) fs.map(f => round6((f.toDouble - mean) / math.sqrt(variance)))
      else fs.map(_ => BigDecimal(0))
    }
    val f1 = z(raw.map(_._1)); val f2 = z(raw.map(_._2))
    val ys = raw.map(_._3)
    var w = (BigDecimal(0), BigDecimal(0), BigDecimal(0))
    def score(i: Int): BigDecimal = {
      val zv = (w._1 + w._2 * f1(i) + w._3 * f2(i)).toDouble
      round6(1.0 / (1.0 + math.exp(-zv)))
    }
    for (_ <- 1 to 3) {
      var g0 = BigDecimal(0); var g1 = BigDecimal(0); var g2 = BigDecimal(0)
      for (i <- 0 until m) {
        val r = score(i) - BigDecimal(ys(i))
        g0 += r; g1 += r * f1(i); g2 += r * f2(i)
      }
      w = (round6(w._1.toDouble - 2.0 * g0.toDouble / m),
        round6(w._2.toDouble - 2.0 * g1.toDouble / m),
        round6(w._3.toDouble - 2.0 * g2.toDouble / m))
    }
    (0 until m).map(i => (score(i), ys(i)))
  }

  test("power/MDE table equals a driver recompute of the design formulas") {
    val users = expUsers.map(_.conv24h)
    val nExp = users.length.toLong
    val nConv = users.count(identity).toLong
    val p = nConv.toDouble / nExp
    val zsum = 1.959964 + 0.841621
    val rows = Behavior.queries("behavior_power_mde")(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("lift_pct")).toSeq == Seq(1L, 2L, 5L, 10L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exposed") == nExp && r.getAs[Long]("n_conv") == nConv)
      assert(r.getAs[Long]("p_bp") == nConv * 10000L / nExp)
      if (p > 0 && p < 1) {
        val lift = r.getAs[Long]("lift_pct").toDouble
        val nReq = math.ceil(zsum * zsum * 2.0 * p * (1.0 - p) /
          ((p * lift / 100.0) * (p * lift / 100.0))).toLong
        assert(r.getAs[Long]("n_per_arm_required") == nReq, s"lift $lift")
        val mde = zsum * math.sqrt(2.0 * p * (1.0 - p) / (nExp / 2.0))
        assert(math.abs(r.getAs[Double]("mde_abs") - mde) < 1e-6)
      }
    }
  }

  test("as-of nearest equals a driver two-direction scan with backward ties") {
    val ev = events.map(e => (e.eventId, e.userId, e.tsUs, e.eventType))
    val purchases = ev.filter(_._4 == "purchase")
      .groupBy(e => (e._2, e._3))
      .map { case ((u, ts), g) => (u, ts, g.map(_._1).max) }
      .groupBy(_._1).map { case (u, g) => u -> g.toSeq.sortBy(_._2) }
    val expected = ev.filter(_._4 == "click").sortBy(_._1).map { c =>
      val ps = purchases.getOrElse(c._2, Seq.empty)
      val back = ps.filter(_._2 <= c._3).lastOption
      val fwd = ps.find(_._2 > c._3)
      val pick = (back, fwd) match {
        case (Some(b), None) => Some(b)
        case (None, Some(f)) => Some(f)
        case (Some(b), Some(f)) =>
          if (c._3 - b._2 <= f._2 - c._3) Some(b) else Some(f)
        case _ => None
      }
      (c._1, c._2, c._3, pick.map(_._3), pick.map(_._2))
    }.toSeq
    val got = Events.queries("join_asof_nearest")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("ts_us"),
        Option(r.getAs[java.lang.Long]("near_p_id")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("near_p_ts_us")).map(_.toLong))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("repetition signals equal a driver bigram recount, exactly") {
    val docs = docTexts
    val expected = docs.flatMap { case (id, text) =>
      val ws = text.split(" ", -1).filter(_.nonEmpty)
      val pairs = ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }
      if (pairs.isEmpty) None
      else {
        val counts = pairs.groupBy(identity).map { case (p, g) => (p, g.length.toLong) }
        val (pair, c) = counts.maxBy { case (p, cc) => (cc, p) }
        val nw = ws.length.toLong; val nd = ws.distinct.length.toLong
        Some((id, nw, nd, (nw - nd).toDouble / nw, pair, c,
          2.0 * c / nw, 2.0 * c / nw > 0.2))
      }
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.queries("text_repetition")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_distinct"), r.getAs[Double]("dup_word_frac"),
        r.getAs[String]("top_bigram"), r.getAs[Long]("top_bigram_n"),
        r.getAs[Double]("top_bigram_frac"), r.getAs[Boolean]("flag_repetitive"))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("mixture sampling equals a driver Knuth-hash recount, exactly") {
    val docs = documents.map(d => (d.docId, d.source))
    val sizes = docs.groupBy(_._2).map { case (s, g) => s -> g.length.toLong }
    val nTotal = docs.length.toLong; val nSources = sizes.size.toLong
    val expected = sizes.keys.toSeq.sorted.map { src =>
      val n = sizes(src)
      val rate = math.min(1.0, (nTotal.toDouble / nSources) / n)
      val thresh = math.floor(rate * 4294967296.0).toLong
      val kept = docs.filter(_._2 == src)
        .count(d => (d._1 * 2654435761L) % 4294967296L < thresh).toLong
      (src, n, rate, kept, kept.toDouble / n)
    }
    val got = TextAnalysis.queries("pipe_mixture_sample")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("target_rate"), r.getAs[Long]("n_kept"),
        r.getAs[Double]("achieved_rate"))).toSeq
    assert(got == expected)
  }

  test("quality AUC: direct pair counting equals the entry's Mann-Whitney identity") {
    val pos = lrScored.filter(_._2 == 1L).map(_._1)
    val neg = lrScored.filter(_._2 == 0L).map(_._1)
    // DIRECT definition: P(score_pos > score_neg) + ties/2, doubled to 2U
    var u2 = 0L
    pos.foreach { sp =>
      neg.foreach { sn =>
        if (sp > sn) u2 += 2 else if (sp == sn) u2 += 1
      }
    }
    val nPos = pos.length.toLong; val nNeg = neg.length.toLong
    val d = nPos * nNeg
    val auc = (u2 / d) * 500000L + (u2 % d) * 500000L / d
    val row = TextAnalysis.queries("pipe_quality_auc")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_pos") == nPos && row.getAs[Long]("n_neg") == nNeg)
    assert(row.getAs[Long]("u2") == u2,
      s"u2 ${row.getAs[Long]("u2")} (MW identity) vs $u2 (direct pairs)")
    assert(row.getAs[Long]("auc_micro") == auc)
  }

  test("quality calibration equals the driver fit's reliability table, exactly") {
    val byBucket = lrScored.groupBy { case (p, _) =>
      math.min((p * 10).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong, 9L)
    }
    val expected = byBucket.toSeq.map { case (b, g) =>
      val n = g.length.toLong
      val nPos = g.map(_._2).sum
      val sumP = g.map(_._1).sum
      val meanMicro = ((sumP * 1000000).toBigInt / n).toLong
      (b, n, nPos, meanMicro, nPos * 10000L / n)
    }.sortBy(_._1)
    val got = TextAnalysis.queries("pipe_quality_calibration")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_pos"), r.getAs[Long]("mean_p_micro"),
        r.getAs[Long]("pos_rate_bp"))).toSeq
    assert(got == expected, s"\nentry: $got\nindependent: $expected")
  }
}
