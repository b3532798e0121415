package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Round-11 pinned-on-arrival wave: every entry added this round lands
  * with an independent driver recompute or a cross-entry identity in the
  * same commit (the IndependentRecomputeSpec discipline).
  *
  *  - `ml_kfold_cv`: full imperative recompute — MessageDigest md5 folds,
  *    BigInt moment sums, Cramer determinants and held-out RMSE re-run
  *    as plain Scala doubles with the identical IEEE expression order.
  *  - `layout_overlap_depth`: brute-force O(F²) stabbing-depth recompute
  *    over the collected manifest (the window formulation must equal the
  *    definitional count), plus the clustered < insertion ROI direction.
  *  - `dedup_roi_curve`: the 0.7 row must count exactly the
  *    `dedup_ngram_jaccard` pair set, and all three measures must be
  *    monotone non-increasing in the threshold. */
class R11WaveSpec extends SparkSpec {

  import HalfUp._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("ml_kfold_cv equals an imperative fold/moment/Cramer recompute, exactly") {
    val rows = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("long"),
        floor(col("l_discount") * 100).cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"))
      .collect()
      .map(r => (
        java.lang.Long.parseLong(
          md5hex(s"${r.getLong(0)}:${r.getInt(1)}").substring(0, 15), 16) % 5,
        r.getLong(2), r.getLong(3), r.getLong(4)))
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

  test("layout_overlap_depth equals the definitional stabbing count, and clustering reduces depth") {
    val base = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_shipdate")).collect()
      .map { r =>
        val ldt = r.getAs[java.time.LocalDateTime](1)
        val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
        (r.getLong(0), ldt, micros)
      }
    def stats(fileOf: ((Long, java.time.LocalDateTime)) => Long)
        : (Long, Long, Long) = {
      val files = base.groupBy(t => fileOf((t._1, t._2))).values
        .map(g => (g.map(_._3).min, g.map(_._3).max)).toSeq
      val depths = files.map { case (mn, _) =>
        files.count { case (mn2, mx2) => mn2 <= mn && mx2 >= mn }.toLong
      }
      (files.size.toLong, depths.max, depths.sum * 1000000L / files.size)
    }
    val ins = stats { case (ok, _) => ok / 2048L }
    val clu = stats { case (_, d) => d.getYear.toLong * 12 + d.getMonthValue }
    val got = Layout.queries("layout_overlap_depth")(spark, sf0001).collect()
      .map(r => r.getAs[String]("layout") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("max_depth"),
          r.getAs[Long]("avg_depth_ppm")))).toMap
    assert(got("insertion") == ins, s"insertion: ${got("insertion")} vs $ins")
    assert(got("clustered") == clu, s"clustered: ${got("clustered")} vs $clu")
    // the ROI direction the entry exists to measure. sf0.001 is the
    // degenerate single-insertion-file corpus (both depths 1), so the pin
    // is non-strict here; the strict gap is a measured fact of the oracle
    // sweeps (sf0.01: insertion 8.0 vs clustered 1.0 avg depth; sf0.1:
    // 72.1 vs 1.0)
    assert(got("clustered")._3 <= got("insertion")._3)
  }

  test("rec_coverage_diversity metrics equal a driver recompute over the rec_user_cf lists") {
    val lists = Recommend.queries("rec_user_cf")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("partkey")))
    val byUser = lists.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).toSet }
    val catalogParts = Tables.part(spark, sf0001).count()
    // exposure gini by the rank formula, ascending (count, partkey)
    val expCounts = lists.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
      .toSeq.sortBy { case (p, x) => (x, p) }
    val n = expCounts.size.toLong
    val sx = expCounts.map(_._2).sum
    val six = expCounts.zipWithIndex.map { case ((_, x), i) => (i + 1) * x }.sum
    val gini = round6((2.0 * six - (n + 1) * sx).toDouble / (n * sx).toDouble)
    // pairwise jaccard in exact micros over all budget-user pairs
    val users = byUser.keys.toSeq.sorted
    val jacs = for (i <- users.indices; j <- i + 1 until users.size) yield {
      val a = byUser(users(i)); val b = byUser(users(j))
      val ov = (a & b).size.toLong
      ov * 1000000L / (a.size + b.size - ov)
    }
    val row = Recommend.queries("rec_coverage_diversity")(spark, sf0001)
      .collect().head
    assert(row.getAs[Long]("n_users") == byUser.size.toLong)
    assert(row.getAs[Long]("n_recs") == lists.length.toLong)
    assert(row.getAs[Long]("n_recommended") == lists.map(_._2).distinct.length.toLong)
    assert(row.getAs[Long]("catalog_parts") == catalogParts)
    assert(row.getAs[Long]("coverage_ppm") ==
      lists.map(_._2).distinct.length.toLong * 1000000L / catalogParts)
    assert(row.getAs[Long]("n_exposed") == n)
    assert(BigDecimal(row.getAs[Double]("exposure_gini")) == gini)
    assert(row.getAs[Long]("n_user_pairs") == jacs.size.toLong)
    assert(row.getAs[Long]("mean_overlap_micro") == jacs.sum / jacs.size)
    assert(row.getAs[Long]("personalization_micro") ==
      1000000L - jacs.sum / jacs.size)
  }

  test("mm_audio_rms_windows equals a javax.sound second-parse window recompute") {
    import javax.sound.sampled.AudioSystem
    val got = Multimodal.queries("mm_audio_rms_windows")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("win")) ->
        ((r.getAs[Long]("n_samp"), r.getAs[Long]("sum_abs"),
          r.getAs[Long]("sum_sq"), r.getAs[Long]("active")))).toMap
    assert(got.nonEmpty)
    val ids = got.keys.map(_._1).toSeq.distinct.sorted.take(6)
    for (id <- ids) {
      val bytes = Multimodal.envelopedWav(id, (256 + id % 128).toInt, 8000)
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      assert(ais.getFormat.getSampleSizeInBits == 16 &&
        ais.getFormat.getChannels == 1 && !ais.getFormat.isBigEndian)
      val raw = ais.readAllBytes()
      val xs = Array.tabulate(raw.length / 2)(i =>
        (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort)
      for (w <- 0 until (xs.length + 63) / 64) {
        val s = w * 64; val e = math.min(s + 64, xs.length)
        val slice = xs.slice(s, e).map(_.toLong)
        val sa = slice.map(math.abs).sum
        val sq = slice.map(v => v * v).sum
        val active = if (sq > 1000000L) 1L else 0L
        assert(got((id, w.toLong)) == ((e - s).toLong, sa, sq, active),
          s"id=$id win=$w")
      }
      // the planted silence actually exists and the gate detects it
      assert(got.exists { case ((i2, _), (_, _, _, a)) => i2 == id && a == 0L })
      assert(got.exists { case ((i2, _), (_, _, _, a)) => i2 == id && a == 1L })
    }
  }

  test("dedup_roi_curve 0.7 row counts the ngram-jaccard pair set; measures are threshold-monotone") {
    val rows = Dedup.queries("dedup_roi_curve")(spark, sf0001).collect()
      .map(r => (r.getAs[Double]("thr"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_dropped"), r.getAs[Long]("chars_dropped")))
      .sortBy(_._1)
    val jacPairs = Dedup.queries("dedup_ngram_jaccard")(spark, sf0001).count()
    assert(rows.find(_._1 == 0.7).get._2 == jacPairs)
    for (Array(lo, hi) <- rows.sliding(2).map(_.toArray)) {
      assert(lo._2 >= hi._2 && lo._3 >= hi._3 && lo._4 >= hi._4,
        s"non-monotone: $lo -> $hi")
    }
    // the curve must actually discriminate on this corpus (not flat)
    assert(rows.head._2 > rows.last._2)
  }
}
