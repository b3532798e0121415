package graft

import graft.operators._

/** Round-12 pinned-on-arrival wave: the hot-key-cap twins (the
  * pair-generation guards that were documented but not implemented, now
  * code carried by oracled `*_capped` twins).
  *
  *  - each `*_capped` entry gets a FULL imperative driver recompute at
  *    sf0.001 (collect the incidence, apply the cap in plain Scala maps,
  *    replicate the micro/round6 lattice) — the IndependentRecomputeSpec
  *    discipline, so the mirrored DuckDB oracle is not the only witness;
  *  - the plain catalog entries are pinned to the uncapped path
  *    (`NoCap` / no bucket cap), byte-for-byte;
  *  - the caps are proven to BITE at the harness SFs (keys above the cap
  *    exist; capped pair generation sees strictly fewer rows), so the
  *    twins exercise the lever rather than no-op.
  *
  * r13: the three rec twins' SF-tuned literal caps became in-plan MEAN
  * SIZING RULES (`Recommend.{OrderBasket,CustBasket,PartAudience}Rule`,
  * the dedup occupancy pattern, so no cap is tuned to one SF); each recompute
  * below now derives its cap from the collected incidence via
  * `Recommend.ruleCap`, so the pin covers the rule arithmetic too. */
class R12WaveSpec extends SparkSpec {

  import BaseRows._
  import HalfUp._
  import RecommendRecomputeSpec._

  test("rec_assoc_rules_capped equals an imperative capped recompute, exactly") {
    // sf0.001, and the synthetic baskets whose capped top-20 cut falls
    // inside a run of rules tied on lift and confidence
    TieBaskets.withDirs(spark, TieBaskets.Tied) { case Seq(ties) =>
      Seq(sf0001 -> 8L, ties -> 4L).foreach { case (dir, cap) =>
        val inc = basketIncidence(dir)
        val byBasket = inc.groupBy(_._1)
        val nBaskets = byBasket.size.toLong
        // the rule-derived cap, recomputed imperatively (2× mean basket size)
        val orderCap =
          Recommend.ruleCap(Recommend.OrderBasketRule, inc.size.toLong, nBaskets)
        assert(orderCap == cap, s"sizing rule drifted: expected cap $cap on $dir, got $orderCap")
        // the cap must bite, else the twin is a no-op test
        assert(byBasket.values.exists(_.size > orderCap),
          s"no basket exceeds $orderCap on $dir — cap untested")
        val ranked = rankedRules(inc, byBasket.filter(_._2.size <= orderCap).values)
        if (dir == ties)
          assert(ranked(19)._7 == ranked(20)._7 && ranked(19)._8 == ranked(20)._8,
            s"the synthetic top-20 cut is not inside a tie: ${ranked.slice(18, 22)}")
        val got = Recommend.queries("rec_assoc_rules_capped")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        assert(got.toSeq == ranked.take(20), s"on $dir")
      }
    }
  }

  test("rec_item_cosine_capped equals an imperative capped recompute, exactly") {
    val cpInc = purchasePairs
    val byCust = cpInc.groupBy(_._1)
    // the rule-derived cap (1.5× mean customer-basket size)
    val custCap = Recommend.ruleCap(Recommend.CustBasketRule,
      cpInc.size.toLong, byCust.size.toLong)
    assert(custCap == 53L, s"sizing rule drifted: expected cap 53 at sf0.001, got $custCap")
    assert(byCust.values.exists(_.size > custCap),
      s"no customer basket exceeds $custCap at sf0.001 — cap untested")
    val expected = topCosine(cpInc, byCust.filter(_._2.size <= custCap).values)
    val got = Recommend.queries("rec_item_cosine_capped")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == expected)
  }

  test("rec_user_cf_capped equals an imperative capped recompute, exactly") {
    val cpInc = purchasePairs
    val audience = cpInc.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    // the rule-derived cap (1.4× mean part audience)
    val audCap = Recommend.ruleCap(Recommend.PartAudienceRule,
      cpInc.size.toLong, audience.size.toLong)
    assert(audCap == 37L, s"sizing rule drifted: expected cap 37 at sf0.001, got $audCap")
    assert(audience.values.exists(_ > audCap),
      s"no part audience exceeds $audCap at sf0.001 — cap untested")
    val deg = cpInc.groupBy(_._1).map { case (c, xs) => c -> xs.size.toLong }
    val items = cpInc.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    val okParts = audience.filter(_._2 <= audCap).keySet
    // directed budget pairs (u < 20, v ≠ u) through eligible parts only
    val byPart = cpInc.filter(x => okParts(x._2)).groupBy(_._2)
    val coUV = collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    for ((_, cs) <- byPart) {
      val users = cs.map(_._1)
      for (u <- users if u < 20; v <- users if v != u) coUV((u, v)) += 1
    }
    val cosMicro = coUV.toSeq.map { case ((u, v), c) =>
      val micro = (round6(c.toDouble / math.sqrt((deg(u) * deg(v)).toDouble))
        * 1000000).toLongExact
      (u, v, c, micro)
    }
    val nbr = cosMicro.groupBy(_._1).flatMap { case (u, xs) =>
      xs.sortBy { case (_, v, c, m) => (-m, -c, v) }.take(10)
    }
    val votes = collection.mutable.Map[(Long, Long), (Long, Long)]()
    for ((u, v, _, micro) <- nbr; p <- items(v) if !items(u)(p)) {
      val (s, n) = votes.getOrElse((u, p), (0L, 0L))
      votes((u, p)) = (s + micro, n + 1)
    }
    val expected = votes.toSeq
      .map { case ((u, p), (s, n)) => (u, p, s, n) }
      .groupBy(_._1).toSeq.flatMap { case (_, xs) =>
        xs.sortBy { case (_, p, s, n) => (-s, -n, p) }.take(5).zipWithIndex
          .map { case ((u, p, s, n), i) => (u, p, s, n, (i + 1).toLong) }
      }.sortBy(x => (x._1, x._5))
    val got = Recommend.queries("rec_user_cf_capped")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == expected)
  }

  test("rec_mf_rankk equals an imperative rank-2 ridge-ALS recompute, exactly") {
    val obs = ratings
    type Fac = Map[Long, (BigDecimal, BigDecimal)]
    val v0: Fac = obs.map(_._2).distinct.map(p =>
      p -> (BigDecimal(1).setScale(6), round6((p % 7 + 1).toDouble / 10.0))).toMap
    // one ridge half-step: exact BigDecimal moments, ONE double Cramer
    // chain in the plan's operand order, round6 back onto the lattice
    def step(rows: Seq[(Long, Long, Long)], fixed: Fac): Fac =
      rows.groupBy(_._1).map { case (k, xs) =>
        var s11, s12, s22, b1, b2 = BigDecimal(0)
        for ((_, o, r) <- xs) {
          val (f1, f2) = fixed(o)
          s11 += f1 * f1; s12 += f1 * f2; s22 += f2 * f2
          b1 += BigDecimal(r) * f1; b2 += BigDecimal(r) * f2
        }
        val a = s11.toDouble + 0.1; val c2 = s22.toDouble + 0.1
        val b = s12.toDouble; val g1 = b1.toDouble; val g2 = b2.toDouble
        val det = a * c2 - b * b
        k -> (round6((g1 * c2 - g2 * b) / det), round6((a * g2 - b * g1) / det))
      }
    val byC = obs; val byP = obs.map { case (c, p, r) => (p, c, r) }
    val u1 = step(byC, v0)
    val v1 = step(byP, u1)
    val u2 = step(byC, v1)
    val v2 = step(byP, u2)
    val observed = obs.map(x => (x._1, x._2)).toSet
    val expected = u2.keys.filter(_ < 20).toSeq.sorted.flatMap { c =>
      val (cu1, cu2) = u2(c)
      v2.toSeq.filter { case (p, _) => !observed((c, p)) }
        .map { case (p, (pv1, pv2)) =>
          (p, round6(cu1.toDouble * pv1.toDouble + cu2.toDouble * pv2.toDouble).toDouble)
        }
        .sortBy { case (p, s) => (-s, p) }.take(5).zipWithIndex
        .map { case ((p, s), i) => (c, p, s, (i + 1).toLong) }
    }
    val got = Recommend.queries("rec_mf_rankk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == expected)
  }

  test("rec_item_cosine runs the uncapped path and its capped twin differs") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val cappedExpected = rows(Recommend.itemCosineCapped(spark, sf0001))
    val uncappedExpected = rows(Recommend.itemCosineWith(spark, sf0001, Recommend.NoCap))
    assert(rows(Recommend.queries("rec_item_cosine")(spark, sf0001)) == uncappedExpected)
    // the cap changes the sf0.001 answer, so the twin is not vacuous
    assert(cappedExpected != uncappedExpected)
  }

  test("occupancy-capped LSH pairs are a subset of uncapped and the cap bites") {
    import org.apache.spark.sql.functions._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Dedup.embeddingLshWith(spark, sf0001))
    val capped = pairs(Dedup.embeddingLshCapped(spark, sf0001))
    assert(capped.subsetOf(uncapped)) // dropping buckets can only remove candidates
    assert(pairs(Dedup.queries("dedup_embedding_lsh")(spark, sf0001)) == uncapped)
    // the occupancy rule (13n DIV 320), evaluated imperatively
    val occCap = Dedup.embOccupancyCap(BaseRows.embeddings.length.toLong)
    // the rule BITES at this sf: over-cap buckets exist (recomputed from
    // the entry's own sign-band definition, so the bands stay in Spark)
    import graft.functions.VectorOps
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bands = e.select(col("vec_id"), explode(array(
      (0 until Dedup.EmbBands).map(b => struct(
        lit(b).as("band_idx"),
        VectorOps.signBand(col("v"), b, Dedup.EmbBandBits).as("band_val"))): _*
    )).as("band")).select(col("band.band_idx"), col("band.band_val"))
    val overCap = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > occCap).count()
    assert(overCap > 0, s"no bucket exceeds the occupancy cap $occCap at sf0.001 — rule untested")
  }
}
