package graft

import org.apache.spark.sql.functions._

import graft.operators.Recommend

/** Independent recomputes of the `Recommend` entries.
  *
  * The DuckDB hash gate proves Spark ≡ DuckDB on the same construction:
  * implementation equality, never design correctness. Each pin here
  * rebuilds an entry on the driver from the collected sf0.001 rows
  * ([[BaseRows]]) in plain Scala, with a different formulation where one
  * exists, and compares exactly on the entry's integer or round-6 lattice.
  * A plan bug that is deterministic but wrong passes the mirrored oracle
  * and fails here. */
class RecommendRecomputeSpec extends SparkSpec {

  import BaseRows._
  import HalfUp._
  import RecommendRecomputeSpec._

  // ------------------------------------------------------------ rec_assoc_rules

  test("assoc rules equal a brute-force basket recount, all 8 columns, top-20") {
    // sf0.001, and the synthetic baskets whose top-20 cut falls inside a
    // run of rules tied on lift and confidence
    TieBaskets.withDirs(spark, TieBaskets.Tied, TieBaskets.Directed) { ties =>
      (sf0001 +: ties).foreach { dir =>
        val op = basketIncidence(dir)
        val ranked = rankedRules(op, op.groupBy(_._1).values)
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

  // ------------------------------------------------------------ rec_item_cosine

  test("item-item cosine top-25 equals a brute-force driver recount") {
    val expected = topCosine(purchasePairs, purchasePairs.groupBy(_._1).values)
    val got = Recommend.queries("rec_item_cosine")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("co_users"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("cosine"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(3)}…\nindependent: ${expected.take(3)}…")
  }

  // ----------------------------------------------------- rec_user_cf and friends

  test("rec_coverage_diversity metrics equal a driver recompute over the rec_user_cf lists") {
    val lists = Recommend.queries("rec_user_cf")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("partkey")))
    val byUser = lists.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).toSet }
    val catalogParts = partkeys.length.toLong
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

  // ------------------------------------------------------ matrix factorization

  test("rank-1 ALS equals an imperative alternating solve, exactly") {
    val obs = ratings
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

}

/** The basket recounts that the recommender pins share. */
object RecommendRecomputeSpec {

  import HalfUp._

  /** Distinct (orderkey, partkey) incidence of `dir`, driver-side. The
    * basket pins loop over sf0.001 and the synthetic tied baskets, so they
    * read each dir instead of the sf0.001 rows. */
  def basketIncidence(dir: String): Seq[(Long, Long)] =
    Tables.lineitem(SparkSpec.session, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Both directions of every part pair that co-occurs in `baskets`, as
    * rules (ante, cons, n_ab, n_ante, n_cons, n_baskets, conf_ppm,
    * lift_ppm) over the marginals and basket count of the whole incidence
    * `inc`, ranked by lift, then confidence, descending, then by parts. */
  def rankedRules(inc: Seq[(Long, Long)], baskets: Iterable[Seq[(Long, Long)]]) = {
    val nBaskets = inc.map(_._1).distinct.length.toLong
    val marg = inc.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
    val pairCounts = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    baskets.foreach { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        val k = (ps(i), ps(j))
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
      }
    }
    pairCounts.toSeq
      .flatMap { case ((a, b), nab) => Seq((a, b, nab), (b, a, nab)) }
      .map { case (ante, cons, nab) =>
        val na = marg(ante); val nc = marg(cons)
        (ante, cons, nab, na, nc, nBaskets,
          nab * 1000000L / na, nab * nBaskets * 1000000L / (na * nc))
      }
      .sortBy { case (a, c, _, _, _, _, conf, lift) => (-lift, -conf, a, c) }
  }

  /** The top-25 item pairs by cosine of the distinct (customer, part)
    * incidence `cp`, co-counted over `baskets`: (part_a, part_b, co_users,
    * n_a, n_b, cosine on the round-6 lattice). */
  def topCosine(cp: Seq[(Long, Long)], baskets: Iterable[Seq[(Long, Long)]]) = {
    val marg = cp.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
    val co = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    baskets.foreach { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        val k = (ps(i), ps(j)); co(k) = co.getOrElse(k, 0L) + 1L
      }
    }
    co.toSeq.map { case ((a, b), c) =>
      val cos = round6(c.toDouble / math.sqrt((marg(a) * marg(b)).toDouble)).toDouble
      (a, b, c, marg(a), marg(b), cos)
    }.sortBy { case (a, b, c, _, _, cos) => (-cos, -c, a, b) }.take(25)
  }
}
