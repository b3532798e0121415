package graft

/** Semantic pins for the r8 analytics wave (Shapley attribution, TPC-H
  * Q3/Q10, rank statistics, Theil–Sen, seasonal decomposition, winnowing,
  * KMV sketches, PMI, apportionment, Markov steady state, dedup funnel):
  * identities and bounds the algorithms guarantee BY CONSTRUCTION, which
  * the DuckDB hash gate can't express — the oracle proves Spark ≡ DuckDB,
  * these prove both compute the thing each entry claims.
  */
class AnalyticsWaveSpec extends SparkSpec {

  import BaseRows._

  test("shapley attribution satisfies the efficiency axiom") {
    val rows = entry("events_attribution_shapley").collect()
    assert(rows.length == 4, "one row per channel")
    val sumX24 = rows.map(_.getLong(1)).sum
    // efficiency: Σφ = v(N) − v(∅), in the entry's ppm×24 units — recompute
    // the two coalition values from the raw events via an independent path
    val fp = events.filter(_.eventType == "purchase")
      .groupBy(_.userId).map { case (u, g) => u -> g.map(_.tsUs).min }
    val touch = Set("click", "error", "signup", "view")
    val k = events.filter(e => touch(e.eventType) && fp.get(e.userId).forall(e.tsUs < _))
      .groupBy(_.userId).map { case (u, g) => u -> g.map(_.eventType).distinct.length.toLong }
    val au = events.map(_.userId).distinct
      .map(u => (k.getOrElse(u, 0L), if (fp.contains(u)) 1L else 0L))
    def vPpm(kVal: Long): Long = {
      val g = au.filter(_._1 == kVal)
      if (g.isEmpty) 0L else g.map(_._2).sum * 1000000L / g.length
    }
    val expected = 24L * (vPpm(4) - vPpm(0))
    assert(sumX24 == expected,
      s"efficiency violated: Σφ×24 = $sumX24, 24·(v(N)−v(∅)) = $expected")
  }

  test("theil-sen pairs count matches the hour count exactly") {
    val r = entry("events_theilsen_trend").collect().head
    val h = r.getLong(0); val m = r.getLong(1)
    assert(m == h * (h - 1) / 2, s"pairs $m != C($h,2)")
  }

  test("winnowing density respects the w=5 window guarantees") {
    val rows = entry("text_winnowing").collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (n_kgrams, n_fp)
      .filter(_._1 > 4)
    assert(rows.nonEmpty)
    rows.foreach { case (kg, fp) =>
      val windows = kg - 4
      // ≥ 1 fingerprint per w consecutive windows; ≤ one per window
      assert(fp >= (windows + 4) / 5 && fp <= windows,
        s"density out of range: $fp fps over $windows windows")
    }
    val density = rows.map(_._2).sum.toDouble / rows.map(_._1 - 4).sum
    assert(density > 0.2 && density < 0.67, // 2/(w+1)=1/3 ± wide margin
      s"corpus density $density far from the 2/(w+1) expectation")
  }

  test("kmv: small-set rule is exact and the merged estimate is calibrated") {
    val rows = entry("agg_kmv_merge").collect()
    val (union, srcs) = rows.partition(_.getString(0) == "__union__")
    srcs.foreach { r =>
      if (r.getLong(2) < 128) // n_min < k ⇒ sketch IS the exact answer
        assert(r.getDouble(4) == r.getLong(1).toDouble,
          s"small-set rule broken for ${r.getString(0)}")
    }
    val u = union.head
    val (exact, est) = (u.getLong(1).toDouble, u.getDouble(4))
    if (u.getLong(2) == 128) // estimator path: within 5/√k of truth
      assert(math.abs(est - exact) / exact < 5.0 / math.sqrt(128.0),
        s"merged estimate $est vs exact $exact outside 5σ")
  }

  test("hamilton apportionment: quotas sum to the budget, off base by ≤1") {
    val rows = entry("pipe_quota_apportion").collect()
    assert(rows.map(_.getLong(4)).sum == 10000L)
    rows.foreach { r =>
      val (base, quota) = (r.getLong(2), r.getLong(4))
      assert(quota == base || quota == base + 1)
    }
  }

  test("anova decomposes nonnegative variance; spearman is a correlation") {
    val a = entry("behavior_anova_f").collect().head
    assert(a.getLong(0) == 5 && a.getDouble(2) >= 0.0 && a.getDouble(3) > 0.0)
    assert(a.getDouble(4) > 0.0)
    val s = entry("behavior_spearman").collect().head
    assert(math.abs(s.getDouble(1)) <= 1.0)
  }

  test("markov steady state conserves mass up to DIV floor loss") {
    val pis = entry("events_markov_steady").collect().map(_.getLong(1))
    assert(pis.sum <= 1000000L && pis.sum >= 980000L,
      s"mass ${pis.sum} drifted beyond floor-loss bounds")
    assert(pis.forall(_ >= 0))
  }

  test("seasonal decomposition centers the profile and balances slots") {
    val rows = entry("events_seasonal_decomp").collect()
    assert(rows.length == 24)
    val centered = rows.map(_.getLong(2)).sum
    // re-centering is an exact floor division: residue ∈ [0, k)
    assert(centered >= 0 && centered < 24,
      s"seasonal sum $centered outside the floor-div residue band")
    val obs = rows.map(_.getLong(1))
    assert(obs.max - obs.min <= 1, "hour-of-day slots unbalanced")
  }

  test("q3/q10 heads are revenue-sorted within their limits") {
    val q3 = entry("join_shipping_q3").collect()
    assert(q3.length <= 10 && q3.nonEmpty)
    val rev3 = q3.map(_.getDouble(3))
    assert(rev3.sameElements(rev3.sortBy(-_)))
    val q10 = entry("join_returned_q10").collect()
    assert(q10.length <= 20 && q10.nonEmpty)
    val rev10 = q10.map(_.getDouble(3))
    assert(rev10.sameElements(rev10.sortBy(-_)))
  }

  test("msprt p-value is always-valid-shaped and decision-consistent") {
    val r = entry("behavior_msprt").collect().head
    val (p, reject) = (r.getDouble(4), r.getLong(5))
    assert(p > 0.0 && p <= 1.0)
    assert((reject == 1L) == (p < 0.05))
  }

  test("dedup funnel stages chain and shrink monotonically") {
    val rows = entry("pipe_dedup_funnel").collect().sortBy(_.getLong(0))
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "a stage grew the corpus")
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3))
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(2) == a.getLong(3),
        "stage k+1 input != stage k output")
      case _ =>
    }
  }

  test("vocabulary coverage is monotone and bounded") {
    val rows = entry("text_vocab_coverage").collect()
    val cov = rows.map(_.getLong(4))
    assert(cov.sameElements(cov.sorted) && cov.forall(c => c > 0 && c <= 1000000))
  }

  test("ppr concentrates rank mass on and around the seed set") {
    val rows = entry("graph_ppr_seeded").collect()
    val top5 = rows.take(5).map(_.getLong(0)).toSet
    // seeds are supplier nodes 2·{1..5}; with teleport returning to them
    // every round, at least 3 of the top-5 must be seeds on any fixture
    assert(top5.count(n => n % 2 == 0 && n / 2 <= 5) >= 3,
      s"seed nodes missing from PPR head: $top5")
  }

  test("pmi survivors meet min-support and order deterministically") {
    val rows = entry("text_pmi_bigrams").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) >= 5))
    val pmis = rows.map(_.getDouble(4))
    assert(pmis.sameElements(pmis.sortBy(-_)))
  }
}
