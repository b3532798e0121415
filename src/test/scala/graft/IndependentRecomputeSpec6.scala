package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Wave 6 of the round-10 oracle-independence pins — the layout curve, the
  * forecasting pair, the stump learner, and the curation samplers. The
  * Hilbert pin is the flagship: the entry's 8-round reflection walk is
  * checked against the CLASSIC Wikipedia xy2d formulation (rotation by
  * swap, a genuinely different algorithm) AND the curve's defining
  * adjacency theorem over the whole 256×256 grid. */
class IndependentRecomputeSpec6 extends SparkSpec {

  import BaseRows._
  import HalfUp._

  /** The classic xy2d (Hilbert curve, order 8) — rotation by conditional
    * swap/reflect, structurally different from the entry's n−1-reflection
    * CASE walk. */
  private def xy2d(xIn: Long, yIn: Long): Long = {
    var x = xIn; var y = yIn; var d = 0L
    var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate quadrant
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hilbert buckets match the classic xy2d walk and the adjacency theorem") {
    // the defining property: consecutive curve positions are grid-adjacent
    val inv = Array.fill(65536)((0L, 0L))
    for (x <- 0L until 256L; y <- 0L until 256L) inv(xy2d(x, y).toInt) = (x, y)
    for (i <- 1 until 65536) {
      val (x0, y0) = inv(i - 1); val (x1, y1) = inv(i)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"curve jump at d=$i: ($x0,$y0) -> ($x1,$y1)")
    }
    // the entry's bucket profile vs an independent recount through xy2d
    val pairs = lineitem.map(l => (l.partkey % 256, l.suppkey % 256))
    val expected = pairs.map { case (px, sx) => (xy2d(px, sx) / 3000L, px, sx) }
      .groupBy(_._1).toSeq.map { case (b, g) =>
        (b, g.length.toLong, g.map(_._2).min, g.map(_._2).max,
          g.map(_._3).min, g.map(_._3).max)
      }.sortBy(_._1)
    val got = Layout.queries("layout_hilbert_buckets")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("h_bucket"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("min_part"), r.getAs[Long]("max_part"),
        r.getAs[Long]("min_supp"), r.getAs[Long]("max_supp"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(3)}\nindependent: ${expected.take(3)}")
  }

  test("hourly ACF equals a driver exact-moment recompute") {
    val ys = hourlySeries.map(_._2)
    val n = ys.length.toLong; val s = ys.sum
    val z = ys.map(y => BigInt(n * y - s))
    val den = z.map(v => v * v).sum
    val expected = (1 to 24).flatMap { k =>
      if (k >= z.length) None
      else {
        val num = (k until z.length).map(i => z(i) * z(i - k)).sum
        Some((k.toLong, (z.length - k).toLong,
          round6(num.toDouble / den.toDouble).toDouble))
      }
    }
    val got = Events.queries("events_acf_hourly")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("lag"), r.getAs[Long]("n_terms"),
        r.getAs[Double]("acf"))).toSeq
    assert(got.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-6, s"lag ${g._1}: ${g._3} vs ${e._3}")
    }
  }

  test("seasonal-naive backtest equals a driver recompute of the final day") {
    val series = hourlySeries.toMap
    val h1 = hourlySeries.map(_._1).max
    val audit = ((h1 - 23) to h1).flatMap { h =>
      series.get(h - 24).map { f =>
        val y = series(h)
        val ae = math.abs(y - f)
        val smape = if (y + f == 0) 0L else 2000000L * ae / (y + f)
        (h, y, f, ae, smape)
      }
    }
    val got = Events.queries("events_snaive_backtest")(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == audit.length)
    val maeMicro = audit.map(_._4).sum * 1000000L / audit.length
    val smapeMean = audit.map(_._5).sum / audit.length
    val byH = audit.map(a => a._1 -> a).toMap
    got.foreach { r =>
      val h = r.getAs[Long]("hour_no")
      val e = byH(h)
      assert(r.getAs[Long]("actual") == e._2 && r.getAs[Long]("forecast") == e._3, s"hour $h")
      assert(r.getAs[Long]("abs_err") == e._4, s"hour $h abs_err")
      assert(r.getAs[Long]("smape_ppm") == e._5, s"hour $h smape")
      assert(r.getAs[Long]("mae_micro") == maeMicro)
      assert(r.getAs[Long]("smape_mean_ppm") == smapeMean)
    }
  }

  test("decision stump candidates and ranking equal a driver split search") {
    val rows = lineitem.map(l =>
      (if (l.returnflag == "R") 1L else 0L, l.quantity, l.discount, l.extendedprice))
    def h(pos: Long, n: Long): Double =
      if (pos == 0 || pos == n) 0.0
      else {
        val p = pos.toDouble / n
        -p * math.log(p) - (1 - p) * math.log(1 - p)
      }
    val feats = Seq[(String, ((Long, Double, Double, Double)) => Double)](
      ("discount", _._3), ("extendedprice", _._4), ("quantity", _._2))
    val cands = feats.flatMap { case (fname, fval) =>
      val vals = rows.map(r => (fval(r), r._1))
      val nTot = vals.length.toLong
      val posTot = vals.map(_._2).sum
      val dv = vals.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (v, g) => (v, g.length.toLong, g.map(_._2).sum) }
      var cumN = 0L; var cumPos = 0L
      val cuts = (1 to 19).map(i => i * nTot / 20).filter(_ >= 1).toSet
      dv.flatMap { case (v, nn, pp) =>
        val lo = cumN
        cumN += nn; cumPos += pp
        if (cumN < nTot && cuts.exists(p => p > lo && p <= cumN)) {
          val gain = round9(h(posTot, nTot) -
            (cumN.toDouble / nTot) * h(cumPos, cumN) -
            ((nTot - cumN).toDouble / nTot) * h(posTot - cumPos, nTot - cumN))
          Some((fname, v, cumN, cumPos, nTot - cumN, posTot - cumPos, gain))
        } else None
      }
    }
    val expected = cands
      .sortWith { (a, b) =>
        if (a._7 != b._7) a._7 > b._7
        else if (a._1 != b._1) a._1 < b._1
        else a._2 < b._2
      }
      .zipWithIndex.map { case ((f, t, nl, pl, nr, pr, g), i) =>
        (f, t, nl, pl, nr, pr, g.toDouble, (i + 1).toLong)
      }
    val got = Aggregates.queries("ml_decision_stump")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("feature"), r.getAs[Double]("threshold"),
        r.getAs[Long]("n_left"), r.getAs[Long]("pos_left"),
        r.getAs[Long]("n_right"), r.getAs[Long]("pos_right"),
        r.getAs[Double]("gain"), r.getAs[Long]("rk"))).toSeq
    assert(got.length == expected.length,
      s"candidate count ${got.length} vs ${expected.length}")
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2, s"rk ${g._8}: split ${g._1}<=${g._2} vs ${e._1}<=${e._2}")
      assert((g._3, g._4, g._5, g._6) == (e._3, e._4, e._5, e._6), s"rk ${g._8} counts")
      assert(math.abs(g._7 - e._7) < 1e-9, s"rk ${g._8} gain")
      assert(g._8 == e._8)
    }
  }

  test("winsorize equals a driver percentile-clip recompute") {
    val xs = orders.map(o => (o.orderpriority, o.totalprice))
    def pct(v: Seq[Double], p: Double): Double = {
      val s = v.sorted
      val idx = p * (s.length - 1)
      val lo = idx.toInt; val frac = idx - lo
      if (lo + 1 < s.length) s(lo) + (s(lo + 1) - s(lo)) * frac else s(lo)
    }
    val all = xs.map(_._2)
    val lo = round6(pct(all, 0.05)).toDouble
    val hi = round6(pct(all, 0.95)).toDouble
    val expected: Map[String, (Long, Double, Double, Long)] =
      xs.groupBy(_._1).map { case (p, g) =>
        val clipped = g.map(t => math.max(lo, math.min(hi, t._2)))
        val sr = g.map(t => round6(t._2)).sum.toDouble
        val scp = clipped.map(round6).sum.toDouble
        val nc = g.zip(clipped).count { case (t, c) => c != t._2 }.toLong
        p -> ((g.length.toLong, sr, scp, nc))
      }
    Etl.queries("etl_winsorize")(spark, sf0001).collect().foreach { r =>
      val (n, sr, scp, nc) = expected(r.getAs[String]("o_orderpriority"))
      assert(r.getAs[Long]("n_orders") == n)
      assert(math.abs(r.getAs[Double]("sum_raw") - sr) < 1e-4)
      assert(math.abs(r.getAs[Double]("sum_clipped") - scp) < 1e-4)
      assert(r.getAs[Long]("n_clipped") == nc, s"priority ${r.getAs[String]("o_orderpriority")}")
    }
  }

  test("weighted sample equals a driver exponential-race recompute and is weight-biased") {
    val docs = documents.map(d => (d.docId, d.source, d.nChars, d.text))
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(text: String, w: Long): Double = {
      val hex = md.digest(text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1L).toDouble / 4294967296.0
      -math.log(u) / w
    }
    val expected = docs.map(d => (d._1, d._2, d._3, key(d._4, d._3)))
      .sortBy(t => (t._4, t._1)).take(50)
      .map(t => (t._1, t._2, t._3)).sortBy(_._1).toSeq
    val got = TextAnalysis.queries("pipe_weighted_sample")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars"))).toSeq
    assert(got == expected)
    // design property: char-weighted selection over-represents long docs
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    val selMean = got.map(_._3).sum.toDouble / got.length
    assert(selMean > corpusMean,
      s"selection mean $selMean not above corpus mean $corpusMean — weights inverted?")
  }

  test("token packing conserves tokens and matches a driver first-fit recompute") {
    val docs = documents
      .map(d => (d.docId, d.source, d.text.split(" ", -1).count(_.nonEmpty).toLong))
      .filter(_._3 > 0)
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      var running = 0L
      g.sortBy(_._1).map { d =>
        running += d._3
        (src, (running - 1) / 500L, d._3)
      }.groupBy(_._2).toSeq.map { case (b, m) =>
        (src, b, m.length.toLong, m.map(_._3).sum)
      }
    }.sortBy(t => (t._1, t._2))
    val got = TextAnalysis.queries("pipe_token_packing")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == expected)
    // conservation: every token lands in exactly one batch
    assert(got.map(_._4).sum == docs.map(_._3).sum)
  }

  test("DAU/WAU stickiness equals an imperative recompute, exactly") {
    val ud = events.map(e => (e.userId, e.tsUs / 86400000000L)).distinct
    val dau = ud.groupBy(_._2).map { case (d, g) => d -> g.length.toLong }
    val wau = ud.flatMap { case (u, d) => (0L to 6L).map(g => (u, d + g)) }
      .distinct.groupBy(_._2).map { case (w, g) => w -> g.length.toLong }
    val expected = dau.keys.toSeq.sorted.map { d =>
      (d, dau(d), wau(d), dau(d) * 1000000L / wau(d))
    }
    val got = Events.queries("events_dau_stickiness")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("day_idx"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau"), r.getAs[Long]("stickiness_micro"))).toSeq
    assert(got == expected)
  }

  test("ngram novelty equals a driver first-occurrence recount, exactly") {
    val docs = documents.map(d => (d.docId, d.source, d.text))
    val tris = docs.flatMap { case (id, src, text) =>
      val t = text.split(" ", -1).filter(_.nonEmpty)
      t.sliding(3).filter(_.length == 3).map(w => (id, src, w.mkString(" "))).toSeq.distinct
    }
    val first = tris.groupBy(_._3).map { case (tri, g) => tri -> g.map(_._1).min }
    val expected = tris.groupBy(_._2).map { case (src, g) =>
      val nDocs = g.map(_._1).distinct.length.toLong
      val nTri = g.length.toLong
      val novel = g.count(t => first(t._3) == t._1).toLong
      src -> (nDocs, nTri, novel, novel * 1000000L / nTri)
    }
    TextAnalysis.queries("pipe_ngram_novelty")(spark, sf0001).collect().foreach { r =>
      val (nd, nt, nn, ppm) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == nd && r.getAs[Long]("n_trigrams") == nt)
      assert(r.getAs[Long]("n_novel") == nn && r.getAs[Long]("novelty_ppm") == ppm)
    }
  }

  test("sliding 3h distinct equals a direct per-window set-union recompute") {
    // the window starts are compared as the entry's timestamp strings, so
    // the hour key keeps its date_trunc(...).cast("string") projection
    val uh = Tables.events(spark, sf0001)
      .select(date_trunc("hour", col("ts")).cast("string").as("h"), col("user_id"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    // direct formulation: for each window start w, union the user sets of
    // hours {w, w+1h, w+2h} — no expansion trick, genuinely different shape
    val byHour = uh.groupBy(_._1).map { case (h, g) => h -> g.map(_._2).toSet }
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    def parse(s: String) = java.time.LocalDateTime.parse(s, fmt)
    val starts = byHour.keys.flatMap { h =>
      val t = parse(h)
      Seq(t, t.minusHours(1), t.minusHours(2))
    }.toSet
    val expected = starts.toSeq.map { w =>
      val users = (0 to 2).flatMap(k =>
        byHour.getOrElse(w.plusHours(k).format(fmt), Set.empty[Long])).toSet
      (w.format(fmt), users.size.toLong)
    }.filter(_._2 > 0).sortBy(_._1)
    val got = Events.queries("events_sliding_distinct")(spark, sf0001).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString
        .stripSuffix(".0"), r.getAs[Long]("n_distinct_users"))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }
}
