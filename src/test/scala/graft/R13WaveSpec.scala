package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Round-13 pins: the rank-parameterized matrix factorization (r12
  * verdict item #4 — `mfRankK` generalized from the hand-written 2×2
  * Cramer solve to any k ∈ [2,4] with a generic fixed-order
  * cofactor-expansion chain).
  *
  *  - the k=3 path gets a FULL imperative recompute at sf0.001: exact
  *    BigDecimal normal-equation moments, a HAND-WRITTEN 3×3 Cramer
  *    chain in the plan's cofactor term order (independent of the
  *    production `detC`/`detD` helpers), round6 lattice re-entry —
  *    so the generalization is witnessed by a second implementation,
  *    not just by "k=2 didn't change";
  *  - `rec_mf_rankk` is pinned to `mfRankKWith(_, _, 2)` byte-for-byte,
  *    and the rank is shown to change the readout;
  *  - k=2 bit-stability under the generic chain is pinned by
  *    R12WaveSpec's existing rank-2 recompute (its hand-written solve
  *    uses the OLD operand order — passing proves the commutative-swap
  *    argument) plus the unchanged DuckDB oracle at sf0.001/0.01. */
class R13WaveSpec extends SparkSpec {

  private def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Hand-written 3×3 determinant in detC's exact term order:
    * ((t0 + t1) + t2), minors expanded as m11*m22 − m12*m21. */
  private def det3(m: Array[Array[Double]]): Double =
    m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))

  test("rec_mf_rankk at k=3 equals an imperative rank-3 ridge-ALS recompute, exactly") {
    val obs = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(count(lit(1)).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    type Fac = Map[Long, IndexedSeq[BigDecimal]]
    val v0: Fac = obs.map(_._2).distinct.map(p => p -> IndexedSeq(
      BigDecimal(1).setScale(6),
      round6((p % 7 + 1).toDouble / 10.0),
      round6((p % 11 + 1).toDouble / 100.0))).toMap
    // one ridge half-step: exact BigDecimal moments, ONE double 3×3
    // Cramer chain in the plan's cofactor order, round6 lattice re-entry
    def step(rows: Seq[(Long, Long, Long)], fixed: Fac): Fac =
      rows.groupBy(_._1).map { case (key, xs) =>
        val s = Array.ofDim[BigDecimal](3, 3)
        val b = Array.fill(3)(BigDecimal(0))
        for (i <- 0 until 3; j <- i until 3) s(i)(j) = BigDecimal(0)
        for ((_, o, r) <- xs) {
          val f = fixed(o)
          for (i <- 0 until 3; j <- i until 3) s(i)(j) += f(i) * f(j)
          for (i <- 0 until 3) b(i) += BigDecimal(r) * f(i)
        }
        def a(i: Int, j: Int): Double = {
          val base = (if (i <= j) s(i)(j) else s(j)(i)).toDouble
          if (i == j) base + 0.1 else base
        }
        val full = Array.tabulate(3, 3)(a)
        val det = det3(full)
        val g = b.map(_.toDouble)
        key -> IndexedSeq.tabulate(3) { x =>
          round6(det3(Array.tabulate(3, 3)((i, j) =>
            if (j == x) g(i) else a(i, j))) / det)
        }
      }
    val byC = obs; val byP = obs.map { case (c, p, r) => (p, c, r) }
    val u1 = step(byC, v0)
    val v1 = step(byP, u1)
    val u2 = step(byC, v1)
    val v2 = step(byP, u2)
    val observed = obs.map(x => (x._1, x._2)).toSet
    val expected = u2.keys.filter(_ < 20).toSeq.sorted.flatMap { c =>
      val cu = u2(c)
      v2.toSeq.filter { case (p, _) => !observed((c, p)) }
        .map { case (p, pv) =>
          val score = ((cu(0).toDouble * pv(0).toDouble) +
            cu(1).toDouble * pv(1).toDouble) +
            cu(2).toDouble * pv(2).toDouble
          (p, round6(score).toDouble)
        }
        .sortBy { case (p, s) => (-s, p) }.take(5).zipWithIndex
        .map { case ((p, s), i) => (c, p, s, (i + 1).toLong) }
    }
    // through the catalog entry (rec_mf_rank3 IS mfRankKWith(_, _, 3))
    val got = Recommend.queries("rec_mf_rank3")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == expected)
  }

  test("rec_mf_rankk runs rank 2, rank changes the readout, k outside 2..4 fails") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val k2 = rows(Recommend.mfRankKWith(spark, sf0001, 2))
    val k3 = rows(Recommend.mfRankKWith(spark, sf0001, 3))
    assert(k2 != k3, "rank must change the readout, else the parameter is vacuous")
    assert(rows(Recommend.queries("rec_mf_rankk")(spark, sf0001)) == k2)
    intercept[IllegalArgumentException](Recommend.mfRankKWith(spark, sf0001, 8))
  }

  test("rank-4 path solves and serves (shape + determinism smoke)") {
    val k4a = Recommend.mfRankKWith(spark, sf0001, 4).collect().toSeq
    val k4b = Recommend.mfRankKWith(spark, sf0001, 4).collect().toSeq
    assert(k4a == k4b && k4a.nonEmpty)
    assert(k4a.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 5))
  }

  test("embedding-LSH band-width level rule: boundaries + AND-construction refinement") {
    // the level thresholds, imperatively (what the in-plan CASE mirrors)
    assert(Dedup.embBandLevel(6400L) == 1 && Dedup.embBandLevel(6401L) == 2)
    assert(Dedup.embBandLevel(65536L) == 2 && Dedup.embBandLevel(65537L) == 3)
    assert(Dedup.embBandLevel(2097152L) == 3 && Dedup.embBandLevel(2097153L) == 4)
    // occupancy cap follows the level's bucket space
    assert(Dedup.embOccupancyCap(2000L) == 2000L * 13 / 320)
    assert(Dedup.embOccupancyCap(20000L) == 20000L * 13 / 10240)
    assert(Dedup.embOccupancyCap(300000L) == 300000L * 13 / 327680)
    assert(Dedup.embOccupancyCap(3000000L) == 3000000L * 13 / 10485760)
    // widening the key can only REFINE buckets: level-2 pairs are a
    // subset of level-1 pairs on the same corpus (the AND-construction
    // property the sizing rule relies on), and both levels find pairs
    def pairs(l: Int) = Dedup.embeddingLshWith(spark, sf0001,
        forceLevel = Some(l))
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(1); val p2 = pairs(2)
    assert(p2.subsetOf(p1), s"level-2 pairs not a subset: ${p2.diff(p1).take(3)}")
    assert(p1.nonEmpty && p2.nonEmpty)
    // at sf0.001 the derived level is 1: the entry output is the forced
    // level-1 output byte-for-byte (the harness-SF hash-stability claim)
    val entry = Dedup.queries("dedup_embedding_lsh")(spark, sf0001).collect().toSeq
    val forced = Dedup.embeddingLshWith(spark, sf0001,
      forceLevel = Some(1)).collect().toSeq
    assert(entry == forced)
  }

  test("events_attribution_position equals an imperative U-shaped recompute and conserves credit") {
    val e = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    val touchesByUser = e.filter(t => t._4 == "click" || t._4 == "view")
      .groupBy(_._1).view.mapValues(_.toSeq).toMap
    val purchases = e.filter(_._4 == "purchase")
    val credits = collection.mutable.Buffer[(String, String, Long)]()
    var totalMicro = 0L; var creditedMicro = 0L
    for ((uid, pUs, _, _, cents) <- purchases) {
      val total = cents * 1000000L
      totalMicro += total
      val win = touchesByUser.getOrElse(uid, Seq.empty)
        .filter(t => t._2 < pUs && t._2 >= pUs - 86400000000L)
        .sortBy(t => (-t._2, -t._3)) // (t_us desc, t_eid desc) = rn order
      val k = win.length
      if (k == 0) credits += (("none", "none", total))
      else if (k == 1) credits += ((win.head._4, "solo", total))
      else if (k == 2) {
        credits += ((win(0)._4, "last", total / 2 + total % 2))
        credits += ((win(1)._4, "first", total / 2))
      } else {
        val share = total * 2 / 5
        val pool = total - share * 2
        credits += ((win(0)._4, "last", share))
        credits += ((win(k - 1)._4, "first", share))
        for (i <- 1 until k - 1) // rn = i+1; most recent middle is rn=2
          credits += ((win(i)._4, "middle",
            pool / (k - 2) + (if (i == 1) pool % (k - 2) else 0L)))
      }
    }
    creditedMicro = credits.map(_._3).sum
    assert(creditedMicro == totalMicro, "credit not conserved")
    val expected = credits.groupBy(c => (c._1, c._2)).map { case ((ch, pos), g) =>
      (ch, pos, g.length.toLong, g.map(_._3).sum)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = Behavior.queries("events_attribution_position")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    // the interesting positions actually occur at this sf
    assert(Set("first", "middle", "last").subsetOf(got.map(_._2).toSet),
      "no k>=3 journey at sf0.001 - U-shape untested")
  }

  test("sim_davies_bouldin equals a fully imperative Lloyd fit + DB recompute") {
    def round9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val raw = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val comps: Map[Long, Array[BigDecimal]] =
      raw.map { case (id, v) => id -> v.map(round6) }.toMap
    val d = raw.head._2.length
    def assign(cent: Map[Long, Array[BigDecimal]]): Map[Long, Long] =
      comps.map { case (vid, x) =>
        val vsq = x.map(b => b * b).sum.toDouble
        val best = cent.toSeq.map { case (cl, c) =>
          val dotv = x.zip(c).map { case (a, b) => a * b }.sum.toDouble
          val csq = c.map(b => b * b).sum.toDouble
          (cl, dotv / math.sqrt(vsq * csq))
        }.minBy { case (cl, cos) => (-cos, cl) }._1
        vid -> best
      }
    var cent: Map[Long, Array[BigDecimal]] =
      comps.filter(_._1 < 8L).map { case (id, x) => id -> x.clone }
    for (_ <- 1 to 2) {
      val asg = assign(cent)
      cent = asg.groupBy(_._2).map { case (cl, members) =>
        val ids = members.keys.toSeq
        cl -> Array.tabulate(d) { j =>
          round6(ids.map(id => comps(id)(j)).sum.toDouble / ids.length)
        }
      }
    }
    val asg = assign(cent)
    def dist(x: Array[BigDecimal], c: Array[BigDecimal]): BigDecimal =
      round9(math.sqrt(x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble))
    val byCl = asg.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val sig = byCl.map { case (cl, ids) =>
      val s = ids.map(id => dist(comps(id), cent(cl))).sum // exact decimal sum
      cl -> (ids.length.toLong, round6(s.toDouble / ids.length))
    }
    val per = sig.keys.toSeq.sorted.map { cl =>
      val worst = sig.keys.filter(_ != cl).map { cj =>
        val cd = dist(cent(cl), cent(cj))
        (cj, round6((sig(cl)._2 + sig(cj)._2).toDouble / cd.toDouble).toDouble)
      }.minBy { case (cj, r) => (-r, cj) }
      (cl, sig(cl)._1, worst._1, worst._2)
    }
    val overall = (per.map(_._2).sum,
      round6(per.map(t => round6(t._4)).sum.toDouble / per.length).toDouble)
    val got = Similarity.queries("sim_davies_bouldin")(spark, sf0001).collect()
    assert(got.length == per.length + 1)
    got.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      if (cid == -1L) {
        assert(r.getAs[Long]("n_points") == overall._1)
        assert(r.isNullAt(r.fieldIndex("worst_other")))
        assert(math.abs(r.getAs[Double]("db_ratio") - overall._2) < 1e-9)
      } else {
        val row = per.find(_._1 == cid).get
        assert(r.getAs[Long]("n_points") == row._2, s"cluster $cid n_points")
        assert(r.getAs[Long]("worst_other") == row._3, s"cluster $cid worst_other")
        assert(math.abs(r.getAs[Double]("db_ratio") - row._4) < 1e-9,
          s"cluster $cid ratio ${r.getAs[Double]("db_ratio")} vs ${row._4}")
      }
    }
  }
}
