package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Wave 8 of the oracle-independence pins — the four round-10 catalog
  * additions, pinned on arrival (the self-consistent-oracle rule: write
  * the independent recompute the moment the oracle passes): the rank-1
  * ALS recommender, Brown's double smoother, the Goertzel tone detector,
  * and the LSH sizing curve. */
class IndependentRecomputeSpec8 extends SparkSpec {

  private def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
  private def round9(x: Double): BigDecimal =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)

  test("rank-1 ALS equals an imperative alternating solve, exactly") {
    val custOf = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val obs = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .flatMap(r => custOf.get(r.getLong(0)).map(c => (c, r.getLong(1))))
      .groupBy(identity).map { case ((c, p), g) => (c, p, g.length.toLong) }.toSeq
    var v: Map[Long, BigDecimal] = obs.map(_._2).distinct.map(_ -> BigDecimal(1)).toMap
    var u: Map[Long, BigDecimal] = Map.empty
    for (_ <- 1 to 2) {
      u = obs.groupBy(_._1).map { case (c, g) =>
        val num = g.map(o => BigDecimal(o._3) * v(o._2)).sum
        val den = g.map(o => v(o._2) * v(o._2)).sum
        c -> round6(num.toDouble / den.toDouble)
      }
      v = obs.groupBy(_._2).map { case (p, g) =>
        val num = g.map(o => BigDecimal(o._3) * u(o._1)).sum
        val den = g.map(o => u(o._1) * u(o._1)).sum
        p -> round6(num.toDouble / den.toDouble)
      }
    }
    val observed = obs.map(o => (o._1, o._2)).toSet
    val expected = u.keys.filter(_ < 20L).toSeq.sorted.flatMap { c =>
      v.keys.toSeq.filter(p => !observed.contains((c, p)))
        .map(p => (p, round6(u(c).toDouble * v(p).toDouble).toDouble))
        .sortBy { case (p, s) => (-s, p) }.take(5).zipWithIndex
        .map { case ((p, s), i) => (c, p, s, (i + 1).toLong) }
    }
    val got = Recommend.queries("rec_mf_rank1")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("partkey"),
        r.getAs[Double]("score"), r.getAs[Long]("rn"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
  }

  test("holt linear smoother equals an imperative dyadic double-EWMA, exactly") {
    val hours = Tables.events(spark, sf0001)
      .select(expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000").as("h"))
      .collect().map(_.getLong(0))
    val hc = hours.groupBy(identity).map { case (h, g) => h -> g.length.toLong }
    val h0 = hc.keys.min; val h1 = hc.keys.max
    val grid = (h0 to h1).map(h => h -> hc.getOrElse(h, 0L)).toMap
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

  test("goertzel detection equals a brute-force DFT-bin argmax") {
    // second implementation: the direct DFT projection Σ x·e^{-iwn}
    // (two running sums), not the Goertzel recurrence
    def dftPower(x: Array[Short], p: Int): Double = {
      val w = 2.0 * math.Pi / p
      var re = 0.0; var im = 0.0
      var i = 0
      while (i < x.length) {
        re += x(i) * math.cos(w * i); im -= x(i) * math.sin(w * i)
        i += 1
      }
      re * re + im * im
    }
    Seq(0L, 1L, 2L, 3L, 21L, 46L, 103L).foreach { id =>
      val n = (256 + id % 128).toInt
      val planted = Multimodal.tonePeriod(id)
      val wav = Multimodal.squareWav(id, n, 8000, planted)
      val (_, xs) = Multimodal.pcm16Samples(wav).get
      val viaDft = Multimodal.TonePeriods.maxBy(dftPower(xs, _))
      val viaGoertzel = Multimodal.TonePeriods.maxBy(Multimodal.goertzelPower(xs, _))
      assert(viaDft == planted && viaGoertzel == planted,
        s"id $id: planted $planted, dft $viaDft, goertzel $viaGoertzel")
      // the two formulations agree on the whole power ranking, not just argmax
      val rankG = Multimodal.TonePeriods.sortBy(p => -Multimodal.goertzelPower(xs, p)).toSeq
      val rankD = Multimodal.TonePeriods.sortBy(p => -dftPower(xs, p)).toSeq
      assert(rankG == rankD, s"id $id ranking: goertzel $rankG vs dft $rankD")
    }
  }

  test("LSH sizing curve equals a driver S-curve recompute over brute-force pairs") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shingles = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val sh = if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
               else Set.empty[String]
      id -> sh
    }.toMap
    // brute-force all-pairs sharing >= 1 shingle (df cap is a no-op here,
    // pinned elsewhere) — a different pair generator than the inverted index
    val ids = shingles.keys.toSeq.sorted
    val pairSims = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = shingles(ids(i)); b = shingles(ids(j))
      inter = (a & b).size
      if inter > 0
    } yield inter.toDouble / (a.size + b.size - inter)
    val expected = Dedup.LshCurveConfigs.map { case (bnd, r) =>
      val terms = pairSims.map { s =>
        // mirror the entry's left-assoc chains exactly
        var sr = s; for (_ <- 2 to r) sr *= s
        val q = 1.0 - sr
        var qb = q; for (_ <- 2 to bnd) qb *= q
        1.0 - qb
      }
      (bnd.toLong, r.toLong, terms.length.toLong,
        terms.count(_ > 0.5).toLong,
        terms.map(round9).sum.toDouble)
    }
    val rows = Dedup.queries("dedup_lsh_curve")(spark, sf0001).collect()
      .map(r => (r.getAs[Int]("bands").toLong, r.getAs[Int]("rows_per_band").toLong,
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_likely"),
        r.getAs[Double]("expected_cands"))).toSeq
    rows.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2)
      assert(g._3 == e._3, s"config ${g._1}x${g._2} n_pairs ${g._3} vs ${e._3}")
      assert(g._4 == e._4, s"config ${g._1}x${g._2} n_likely")
      assert(math.abs(g._5 - e._5) < 1e-7, s"config ${g._1}x${g._2} expected_cands")
    }
  }
}
