package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.operators._

/** Physical-plan assertions (SURVEY.md §4): the catalog's scale behavior is
  * a property of the plans, not the data — so the plans are what the tests
  * pin. Each assertion encodes a "would this survive 100×?" invariant:
  * filters reach the parquet scan, dimension joins broadcast, aggregates
  * get map-side partials, top-k never globally sorts, and nothing
  * cartesian-products by accident.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("validity filter predicates push into the parquet scan") {
    val p = plan(Etl.validityFilter(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"), // non-empty list
      s"no pushed filters:\n$p")
  }

  test("star join: fixed dims hinted broadcast, customer left to AQE") {
    val df = Joins.innerRevenue(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly two hard-coded broadcast hints (nation, region): customer
    // scales with the fact data, so its join strategy must stay AQE's
    // choice — a hint there OOMs the driver at real scale
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 2, s"expected 2 broadcast hints (nation, region), got ${hints.size}")
  }

  test("unpartitioned windows only ever run over aggregated input") {
    // the module rule (Windows.scala): a window with an empty PARTITION BY
    // forces a SinglePartition exchange, so it may only sit on grouped
    // output (O(|groups|) rows), never on a raw scan — the round-1 ntile
    // entry violated this and was rewritten as percentile-cutoff + join
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // CacheManager substitution hides lineage: once an entry cache()s a
    // fragment (theilsen's hourly agg), an identical subtree in a later
    // entry optimizes to InMemoryRelation — no Aggregate node visible below
    // the window. CatalogSweep clears the cache before building each entry,
    // so its optimized plans show the unsubstituted shape. Entries that
    // failed are skipped (ContractSpec reports them).
    val offenders = CatalogSweep.entries.flatMap { e =>
      e.ran.toSeq.flatMap(_.built.plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst { case _: Aggregate => () }.isEmpty => e.name
      })
    }.distinct
    assert(offenders.isEmpty, s"unpartitioned window over raw input: $offenders")
  }

  test("ntile tiering plans with no window function at all") {
    val p = plan(Windows.ntileTiers(spark, sf0001))
    assert(!p.contains("Window"), s"ntileTiers still plans a window:\n$p")
  }

  test("aggregates use two-phase hash aggregation (map-side partials)") {
    val p = plan(Aggregates.nationRevenue(spark, sf0001))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(SortsAndSets.topkOrders(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("column pruning: scan of a 2-column aggregate reads only needed columns") {
    val p = plan(
      Tables.lineitem(spark, sf0001)
        .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
        .agg(org.apache.spark.sql.functions.sum("l_quantity")))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("SCD-2 point-in-time lookup plans as an equi-join, interval as residual") {
    // the interval predicate must ride a custkey equi-join (bounded
    // per-key fan-out), never a non-equi nested loop over the fact table
    val p = plan(Behavior.scd2PointInTime(spark, sf0001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"point-in-time join fell back to a nested loop:\n$p")
  }

  test("contamination detection plans the train side as a semi-join probe") {
    // eval shingles semi-join the distinct train set: no train payload
    // survives the join, only the existence bit
    val p = plan(TextAnalysis.contamination(spark, sf0001))
    assert(p.contains("LeftSemi"), s"no semi-join in contamination plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("basket pair generation is join-free (in-row generator over the basket memo)") {
    // r13: agg_basket_pairs rides the grouped order-basket memo and emits
    // its C(n,2) pairs from two chained generators — the self-join (and
    // the exchange-reuse pin that guarded it) is GONE. The memo is spread
    // over the cores when it is built, so the generators run in its scan
    // splits and the plan must stay join-free with one exchange, the
    // (pa, pb) aggregation shuffle; a refactor that reintroduces a join
    // here would re-shuffle the incidence twice at 100 TB, and a spread
    // per read would shuffle the memo on every run.
    val p = plan(Aggregates.basketPairs(spark, sf0001))
    assert(!p.contains("Join"), s"pair generation reintroduced a join:\n$p")
    assert(p.contains("Generate"), s"no generator in basket-pairs plan:\n$p")
    // tree occurrences only ("Exchange (n)"); the details section repeats
    // each operator as "(n) Exchange"
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size <= 1,
      s"more exchanges than the pair agg:\n$p")
  }

  test("the grouped basket memos scan in at least one split per core") {
    // each memo build ends with a spread over the cores, so the memo is
    // one file per core and a read needs no shuffle to run its pair
    // generator in parallel; sf0.01, where a memo is large enough that
    // AQE would coalesce an unspread build into fewer files than cores
    val sf001 = s"${new java.io.File(sf0001).getParent}/sf0.01"
    val cores = spark.sparkContext.defaultParallelism
    Seq("opBaskets" -> Recommend.opBaskets(spark, sf001),
        "cpBaskets" -> Recommend.cpBaskets(spark, sf001),
        "cpAudiences" -> Recommend.cpAudiences(spark, sf001)).foreach { case (memo, df) =>
      val splits = df.rdd.getNumPartitions
      assert(splits >= cores, s"$memo scans in $splits splits on $cores cores")
    }
  }

  test("assoc rules expand rule directions only for the top pairs") {
    // the top-20 is taken over undirected pairs (by their better rule)
    // before the two-rule array is exploded: the Generate that emits
    // the directions must sit above a TakeOrderedAndProject, or every
    // counted pair is doubled into rules before the final top-k
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Explode}
    import org.apache.spark.sql.execution.{GenerateExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Stages extends AdaptiveSparkPlanHelper
    Seq("rec_assoc_rules", "rec_assoc_rules_capped").foreach { name =>
      val root = SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan
      val expand = Stages.collect(root) {
        case g @ GenerateExec(Explode(_: CreateArray), _, _, _, _) => g
      }
      assert(expand.size == 1, s"$name: expected one rule-direction Generate in:\n$root")
      assert(Stages.collect(expand.head.child) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"$name expands rule directions before its pair top-k:\n$root")
    }
  }

  test("assoc rules count each part pair once: no union, no final aggregate over a reused exchange") {
    // Exchange reuse saves only the map side of a relation consumed twice;
    // the final (pa, pb) aggregate above it re-runs per consumer. Both rule
    // directions are emitted in-row from one counted pair, so the FINAL
    // AQE plan (query stages included) must show neither the union of the
    // two directions nor a final aggregate reading a reused shuffle.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
      AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    object Stages extends AdaptiveSparkPlanHelper
    def input(p: SparkPlan): SparkPlan = p match {
      case i: InputAdapter => input(i.child)
      case r: AQEShuffleReadExec => input(r.child)
      case s: QueryStageExec => input(s.plan)
      case other => other
    }
    Seq("rec_assoc_rules", "rec_assoc_rules_capped").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.collect() // materialize so AQE finalizes its query stages
      val root = df.queryExecution.executedPlan
      val finals = Stages.collect(root) {
        case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Final) => h
      }
      assert(finals.nonEmpty, s"$name: no final aggregate found in:\n$root")
      assert(Stages.collect(root) { case u: UnionExec => u }.isEmpty,
        s"$name plans a union of the rule directions:\n$root")
      val rerun = finals.filter(h => input(h.child).isInstanceOf[ReusedExchangeExec])
      assert(rerun.isEmpty,
        s"$name re-runs a final aggregate over a reused exchange:\n$root")
    }
  }

  test("no accidental cartesian products anywhere in the catalog") {
    // the all-pairs similarity shapes are *documented* nested-loop joins
    // (brute-force scoring); everything else must be hash/broadcast/sort-merge
    // text_tfidf crossJoins a broadcast 1-row aggregate (the in-plan scalar
    // pattern replacing a driver .count(), SURVEY.md A4/A9) — constant-size
    // build side, legal at any scale
    // sim_knn_ivf crossJoins the |Q|-row query set against the broadcast
    // k-row centroid relation (both constant-size) to derive multi-probe
    // cells — legal at any corpus size
    // events_resample_gapfill crossJoins the hour spine (time-bounded)
    // against the distinct event types (small) — a bounded×bounded grid
    // text_heavy_hitters crossJoins the broadcast 1-row token total (the
    // same in-plan scalar pattern as text_tfidf)
    // sim_knn_quantized broadcasts the fixed-budget |Q|-row query set for
    // O(|Q|·n) integer scoring — the same documented shape as sim_knn_brute
    // pipe_mixture_sample crossJoins the |sources|-row size relation with
    // the broadcast 1-row corpus total (in-plan scalar pattern)
    // sim_knn_pq crossJoins the |Q|·PqM-row query subvectors against the
    // broadcast PqK-row codebook (both constant) to build the ADC tables
    // sim_knn_ivfpq (and its corpus-scaled twin sim_knn_ivfpq_tuned)
    // crossJoins constant-size query relations against the broadcast
    // centroid/codebook relations (same shapes as ivf + pq)
    // agg_histogram and etl_winsorize crossJoin the broadcast 1-row
    // min/max / percentile band back over the scan (the same in-plan
    // scalar pattern as text_tfidf / win_ntile_tiers)
    // sim_range_search broadcasts the same fixed-budget |Q|-row query set
    // as sim_knn_brute for the O(|Q|·n) radius scan
    // events_dow_seasonality crossJoins the 7-row weekday aggregate with
    // the broadcast 1-row global mean (in-plan scalar pattern, A4)
    // text_bm25 crossJoins the per-term rows with the broadcast 1-row
    // (N, total_dl) corpus stats (the same A4 scalar pattern)
    // agg_pareto_bands crossJoins the broadcast 1-row p50/p90 cutoff
    // aggregate back over the per-customer spends (the ntile pattern)
    // pipe_class_balance crossJoins the broadcast 1-row minority count
    // over the ranked docs (the same A4 scalar pattern)
    // ml_standardize_noleak crossJoins the broadcast 1-row train-split
    // μ/σ² aggregate over the 3-row split moments (A4 scalar pattern)
    // pipe_dsir_weights / pipe_dsir_resample crossJoin the broadcast 1-row
    // (nt, nq) feature totals into the B=256-row score relation (A4
    // scalar pattern; the corpus-sized feature stream itself equi-joins)
    // pipe_temperature_mix crossJoins two broadcast 1-row totals (corpus
    // tokens, normalizer) over the |langs|-row share relation (A4 ×2)
    // pipe_ccnet_buckets crossJoins the broadcast 1-row vocabulary size V
    // over the transition stream and the broadcast 1-row tercile cutoffs
    // over the per-doc scores (A4 + the ntile pattern)
    // sim_hybrid_rrf crossJoins the broadcast 1-row BM25 corpus stats
    // (text_bm25's A4 shape); its dense arm broadcasts the fixed-budget
    // |Q|-row query set like sim_knn_brute
    // text_bpe_merges / text_bpe_encode crossJoin each round's broadcast
    // 1-row winning pair (and the merge table's 1-row symbol totals) over
    // the vocabulary symbol stream (A4 scalar pattern, per merge round)
    // agg_psi_drift crossJoins the broadcast 1-row window totals and the
    // 1-row PSI sum over the 10-bin frame (A4 x2)
    // events_survival_km crossJoins the broadcast 1-row user total over
    // the <=tau+1-row day aggregate (A4 scalar pattern)
    // behavior_rfm_segments crossJoins the broadcast 1-row max-date and
    // the 1-row nine-quartile-cutoff aggregate over the per-customer
    // relation (win_ntile_tiers pattern tripled)
    // agg_benford_audit crossJoins the broadcast 1-row ledger total over
    // the 9-digit frame (A4 scalar pattern)
    // pipe_quality_lr crossJoins the broadcast 1-row standardization
    // moments and each GD step's 1-row weight/gradient relations over the
    // doc features (A4 per training step)
    val allowedNestedLoop =
      Set("sim_knn_brute", "sim_knn_lsh", "sim_knn_ivf", "text_tfidf", "win_ntile_tiers",
        "events_resample_gapfill", "text_heavy_hitters",
        "sim_knn_quantized", "pipe_mixture_sample", "sim_knn_pq", "sim_knn_ivfpq",
        "sim_knn_ivfpq_tuned", "sim_index_serve", "sim_index_append",
        "sim_index_delete",
        "agg_histogram", "etl_winsorize", "sim_range_search",
        "events_dow_seasonality", "text_bm25", "agg_pareto_bands",
        "pipe_class_balance", "ml_standardize_noleak",
        "pipe_dsir_weights", "pipe_dsir_resample", "pipe_temperature_mix",
        "pipe_ccnet_buckets", "sim_hybrid_rrf", "text_bpe_merges",
        "text_bpe_encode", "agg_psi_drift", "agg_psi_windows",
        "events_survival_km", "events_cusum_shift", "behavior_ks_test",
        "text_js_divergence",
        "behavior_rfm_segments", "agg_benford_audit", "pipe_quality_lr",
        "pipe_quality_auc", "pipe_quality_calibration",
        // 2-row readout ⋈ broadcast 1-row baseline: the constant-key join
        // folds to a broadcast nested loop over O(|channels|) rows
        "events_attribution_markov",
        // |X|·|Y|-cell audit ⋈ broadcast 1-row decimal total (psi shape)
        "agg_mutual_info",
        // knn_brute's bounded broadcast-query non-equi scoring scan
        "sim_mmr_rerank",
        // A4-pattern 1-row broadcast global threshold (Q11's correlated
        // global aggregate / Q22's global average) — |rows|×1 fan-out
        "join_top_stock_q11", "join_dormant_rich_q22",
        // pair-similarity relation ⋈ broadcast 5-row config table (the
        // S-curve is evaluated per config — a bounded literal fan-out),
        // and the smoother's 1-row broadcast h1 bound
        "dedup_lsh_curve", "events_holt_linear",
        // budget customers × parts candidate grid — the knn_brute serving
        // contract (|budget| constant, the corpus side never broadcast)
        "rec_mf_rank1", "rec_mf_rankk", "rec_mf_rank3",
        // grid-frame ⋈ broadcast 1-row stats/denominator (psi shape)
        "agg_chi2_independence", "events_acf_hourly",
        // 1-row broadcast mean-vector / max-norm rescale (A4 shape ×4)
        "sim_pca_power",
        // 1-row broadcast per-arm rank constants (A4 / time_to_convert shape)
        "behavior_qte",
        // |classes|/1-row broadcast fan-outs in train/score joins
        "ml_naive_bayes",
        // audit relation ⋈ broadcast 1-row totals (psi shape)
        "events_snaive_backtest", "graph_clustering_coeff",
        // brute-truth arm's bounded non-equi scan + 1-row mean broadcast
        "sim_lsh_recall",
        // rule relation ⋈ broadcast 1-row basket total (A4 pattern)
        "rec_assoc_rules",
        // the r13 mean sizing rule: group sizes ⋈ broadcast 1-row cap
        // (A4 pattern) inside each capped twin's pair-generation guard
        "rec_assoc_rules_capped", "rec_item_cosine_capped",
        "rec_user_cf_capped", "dedup_embedding_lsh_capped",
        // band relation ⋈ broadcast 1-row band-width level (the r13
        // AND-construction sizing rule; A4 pattern)
        "dedup_embedding_lsh",
        // per-half-step score ⋈ broadcast 1-row sum-normalizer (A4)
        "graph_hits",
        // 16-row replicate audit ⋈ broadcast 1-row overall/variance folds
        "behavior_halfsample_ci",
        // canonical-group relation ⋈ broadcast 1-row collapse audit
        "etl_url_canonical",
        // user-month activity ⋈ broadcast 1-row timeline horizon
        "events_growth_accounting",
        // knn_brute's bounded broadcast-query non-equi scoring scan
        "ml_knn_classifier",
        // 4-cell readout ⋈ broadcast 1-row DiD estimate (A4 pattern)
        "behavior_diff_in_diff",
        // |labels|-row audit ⋈ broadcast 1-row edge total + 1-row Q (A4 ×2)
        "graph_modularity",
        // BM25 arm's broadcast 1-row corpus stats (the text_bm25 A4 shape)
        "pipe_hard_negatives",
        // hour-series all-pairs slope join: quadratic in the TIME RANGE
        // (the Theil–Sen definition), not in event count — broadcast of
        // the bounded hourly series + 1-row median-rank broadcast (A4)
        "events_theilsen_trend",
        // k-row sketch stats ⋈ broadcast 1-row exact audit (A4 pattern)
        "agg_kmv_distinct",
        // per-edge 1-row orphan count ⋈ broadcast 1-row child total (A4)
        "etl_fk_orphans",
        // seed relation ⋈ broadcast 1-row node/seed counts (A4 pattern)
        "graph_ppr_seeded",
        // bigram relation ⋈ broadcast 1-row corpus totals (A4 pattern)
        "text_pmi_bigrams",
        // |states|-row init ⋈ broadcast 1-row state count (A4 pattern)
        "events_markov_steady",
        // 1-row merged sketch ⋈ broadcast 1-row exact audit (A4 pattern)
        "agg_kmv_merge",
        // 1-row θ/sample/audit folds cross-joined into the single output
        // row (A4 pattern ×5) + the k×k sample's 1-row θ gate
        "agg_kmv_intersect",
        // hourly counts ⋈ broadcast 1-row moment fold (A4 pattern) + the
        // 12-row candidate set ⋈ broadcast 12-row literal critical table
        "behavior_holm_anomalies",
        // vocab/source relation ⋈ broadcast 1-row total (A4 pattern)
        "text_vocab_coverage", "pipe_quota_apportion",
        // hour-residual relation ⋈ broadcast 1-row RMS threshold (A4)
        "events_seasonal_anomaly",
        // event stream ⋈ broadcast 1-row timeline midpoint (A4 pattern)
        "behavior_poststrat_ate",
        // latency histogram ⋈ broadcast 1-row quantile ranks (A4 pattern)
        "events_time_to_convert",
        // 16-row shard audit ⋈ broadcast 1-row total/χ² (A4 pattern)
        "layout_shard_balance",
        // 1-row moment matrix ⋈ broadcast 2-row λ path (A4 pattern)
        "ml_ridge_cramer",
        // knn_brute's bounded broadcast-query non-equi scan: the Hamming
        // prefilter and the two matryoshka arms (budget side broadcast)
        "sim_binary_quant", "sim_matryoshka_prefix",
        // per-user test sizes ⋈ broadcast 10-row DCG discount table
        // (fixed literal metric constants, non-equi r ≤ min(10, n_test))
        "rec_eval_ranking",
        // pair-jaccard relation ⋈ broadcast 5-row threshold table (the
        // lsh_curve shape), and fold moments ⋈ broadcast 1-row totals
        // (A4 shape)
        "dedup_roi_curve", "ml_kfold_cv",
        // |budget|² broadcast non-equi user-pair frame + 1-row metric
        // broadcasts (A4) over the serving-budget-bounded list relation
        "rec_coverage_diversity")
    // entries that failed are skipped (ContractSpec reports them)
    val offenders = CatalogSweep.entries.flatMap { e =>
      val name = e.name
      val p = e.ran.fold(_ => "", _.built.explain)
      if (p.contains("CartesianProduct")) Some(name)
      else if (p.contains("BroadcastNestedLoopJoin") &&
               !allowedNestedLoop.contains(name) &&
               !p.contains("Join LeftSemi") && name != "join_range_price_bands")
        Some(s"$name (nested loop)")
      else None
    }
    assert(offenders.isEmpty, s"unexpected cartesian/nested-loop: $offenders")
  }

  test("span explosion computes its window digests exactly once in the plan") {
    // Regression pin for the InferFiltersFromGenerate pathology: exploding
    // a PRE-PROJECTED array alias lets the optimizer infer `size(hs) > 0`
    // and push it through the projections into the scan filter, where the
    // substituted predicate re-runs the whole window+md5 computation on
    // every row before the projection runs it again — measured 8× the
    // explosion's cost at sf0.1. The fix keeps the transform expression
    // directly under the Generate; this test counts md5 occurrences in
    // the physical plan so a refactor can't silently reintroduce the
    // duplication (correctness would not catch it — only cost does).
    // Cache residue from another suite (CacheManager is CONTEXT-shared,
    // even across newSession() isolates) would print the cached span
    // relation's subtree inside InMemoryRelation at every scan site and
    // inflate the count — pin the fresh, unmaterialized shape.
    spark.catalog.clearCache()
    Seq[(String, DataFrame)](
      "spanNgrams" -> Dedup.spanNgrams(spark, sf0001),
      "spanRemoval" -> Dedup.spanRemoval(spark, sf0001)
    ).foreach { case (name, df) =>
      val p = plan(df)
      val md5Sites = "md5\\(".r.findAllIn(p).size
      // one site for the window digests (+1 in spanRemoval's final
      // clean-text fingerprint projection); anything above that means an
      // optimizer rule duplicated the expensive generator child
      val allowed = if (name == "spanRemoval") 2 else 1
      assert(md5Sites <= allowed,
        s"$name plan computes md5 at $md5Sites sites (allowed $allowed) — " +
          s"expensive generator child duplicated by an inferred filter?\n$p")
    }
  }

  test("chunking is a pure generator pipeline: no join, no aggregate, one sort exchange") {
    val df = TextAnalysis.chunkDocuments(spark, sf0001)
    val p = plan(df)
    assert(p.contains("Generate"), s"no generator in chunking plan:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"chunking should not aggregate or join:\n$p")
    // the only required-distribution exchange is the output ORDER BY's range
    // partitioning; the chunk computation itself is embarrassingly parallel
    // (the round-robin fan-out exchange is the Tables.fanOut scan helper,
    // tagged REPARTITION_BY_NUM, and AQE hides exec nodes pre-execution —
    // so the pin reads the formatted plan text)
    assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1,
      s"expected exactly the output-sort exchange:\n$p")
  }

  test("partitionBy layout: year predicate prunes the scan to one directory") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = Sources.partitionedOrdersScan(spark, sf0001)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the read-back plan"))
    assert(scan.partitionFilters.nonEmpty, "no partition filters on the scan")
    assert(scan.partitionFilters.exists(_.toString.contains("1997")),
      s"year predicate missing from partition filters: ${scan.partitionFilters}")
    // 7 year directories exist; the predicate must list exactly one
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scan touches ${scan.selectedPartitions.partitionCount}")
    // and the pruning must not have cost correctness
    val years = df.select("o_year").distinct().collect().map(_.getLong(0)).toSeq
    assert(years == Seq(1997L), s"unexpected years after pruning: $years")
  }

  test("ANN entries never hint-broadcast a corpus-proportional side") {
    // round-2 verdict item #1: a broadcast hint on a side that grows with
    // the corpus OOMs the driver at 100 TB. Only constant-size sides may be
    // hinted: brute's fixed-budget query set, ivf's k-row centroid relation.
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def hints(df: DataFrame): Seq[ResolvedHint] =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // lsh: bucket equi-join must be hint-free (AQE's choice)
    assert(hints(Similarity.knnLsh(spark, sf0001)).isEmpty,
      "sim_knn_lsh carries a broadcast hint")
    // ivf: the only hinted subtree is the centroid LocalRelation (k rows)
    val ivfHints = hints(Similarity.knnIvf(spark, sf0001))
    assert(ivfHints.nonEmpty)
    ivfHints.foreach { h =>
      assert(h.child.collectFirst { case l: LocalRelation => l }.isDefined &&
        h.child.collectFirst {
          case r if r.nodeName.contains("Relation") && !r.isInstanceOf[LocalRelation] => r
        }.isEmpty,
        s"sim_knn_ivf hints a non-local side:\n${h.child}")
    }
    // brute: exactly one hint, and its subtree filters to the fixed budget
    val bruteHints = hints(Similarity.knnBrute(spark, sf0001))
    assert(bruteHints.size == 1)
    def hasBudgetFilter(p: LogicalPlan): Boolean = p.exists(_.expressions.exists(_.exists {
      case l: org.apache.spark.sql.catalyst.expressions.LessThan =>
        l.right.toString.contains(Similarity.QueryBudget.toString)
      case _ => false
    }))
    assert(hasBudgetFilter(bruteHints.head.child),
      s"sim_knn_brute broadcast side is not budget-bounded:\n${bruteHints.head.child}")
    // centroid assignment: hints only on AGGREGATE-TOPPED subtrees
    // (centroids / centroid norms — |labels|·dims rows no matter the
    // corpus size). "Contains an aggregate somewhere" is not enough: a
    // corpus-sized join ABOVE an aggregate would also contain one, so the
    // pin requires the aggregate at the top (modulo projections/aliases)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, SubqueryAlias}
    def aggTopped(p: LogicalPlan): Boolean = p match {
      case pr: Project       => aggTopped(pr.child)
      case s: SubqueryAlias  => aggTopped(s.child)
      case _: Aggregate      => true
      case _                 => false
    }
    val assignHints = hints(Similarity.centroidAssign(spark, sf0001))
    assert(assignHints.nonEmpty)
    assignHints.foreach { h =>
      assert(aggTopped(h.child),
        s"sim_centroid_assign hints a side not bounded by an aggregate:\n${h.child}")
    }
    // quantized/PQ/IVF-PQ (round-3): every hinted subtree must be constant-
    // size — either codebook/centroid LocalRelations (k rows) or a relation
    // filtered to the fixed query budget; a hint on the encoded corpus or
    // candidate set would be the round-2 scale-killer reborn
    // the IVF-PQ index memo (`Similarity.ivfPqIndex`) persists the k-row
    // centroid/codebook relations to scratch parquet; those artifacts are
    // cells/PqK-sized — constant in the corpus by construction — so a
    // hint on them is as bounded as the LocalRelation it replaced
    // identified by their exact schemas — the corpus-sized index relations
    // (cells/codes) carry vec_id and never qualify
    val idxSchemas = Set(Seq("cell", "centroid"), Seq("code", "pq_centroid"))
    def isIndexArtifact(p: LogicalPlan): Boolean = {
      val rels = p.collect {
        case r if r.nodeName.contains("Relation") && !r.isInstanceOf[LocalRelation] => r
      }
      rels.nonEmpty && rels.forall(r => idxSchemas.contains(r.output.map(_.name)))
    }
    def constantSide(p: LogicalPlan): Boolean =
      (p.collectFirst { case l: LocalRelation => l }.isDefined &&
        p.collectFirst {
          case r if r.nodeName.contains("Relation") && !r.isInstanceOf[LocalRelation] => r
        }.isEmpty) || hasBudgetFilter(p) || isIndexArtifact(p)
    Seq(
      "sim_knn_quantized" -> Similarity.knnQuantized(spark, sf0001),
      "sim_knn_pq"        -> Similarity.knnPq(spark, sf0001),
      "sim_knn_ivfpq"     -> Similarity.knnIvfPq(spark, sf0001),
      // the corpus-scaled parameterization must obey the same hint
      // discipline at its larger cell/table sizes
      "sim_knn_ivfpq_tuned" -> Similarity.knnIvfPqScaled(spark, sf0001)
    ).foreach { case (name, df) =>
      val hs = hints(df)
      assert(hs.nonEmpty, s"$name lost its bounded broadcast hints")
      hs.foreach { h =>
        assert(constantSide(h.child),
          s"$name hints a corpus-proportional side:\n${h.child}")
      }
    }
  }

  test("recursive CTE runs through the engine's recursion operator (UnionLoop)") {
    // pins that WITH RECURSIVE is planned as the native bounded-rounds
    // UnionLoop/UnionLoopRef pair — not silently rewritten to something
    // unbounded or rejected by the parser in a future Spark upgrade
    val df = Sql.queries("sql_recursive_cte")(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("UnionLoop"), s"no UnionLoop in:\n$plan")
  }

  test("FoldGraftExpressions folds literal-input custom expressions at optimization time") {
    // the shared test session carries the extensions config, which
    // injects this same rule, so the test applies the RULE directly to an
    // analyzed plan (mechanism, no session wiring); ExtensionsSpec pins
    // the injected path's pushdown.
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.expressions.PolyHash
    import graft.plans.FoldGraftExpressions
    val hashOfSpark = ColumnBridge.column(
      PolyHash(ColumnBridge.expression(lit("spark"))))
    val analyzed = ColumnBridge.logicalPlan(
      Tables.documents(spark, sf0001)
        .filter(col("doc_id") % PolyHash.Prime === hashOfSpark).toDF())
    assert(analyzed.exists(p =>
      p.expressions.exists(_.exists(_.isInstanceOf[PolyHash]))),
      s"fixture lost its PolyHash before the rule ran:\n$analyzed")
    val folded = FoldGraftExpressions(analyzed)
    assert(!folded.exists(p =>
      p.expressions.exists(_.exists(_.isInstanceOf[PolyHash]))),
      s"PolyHash survived the rule:\n$folded")
    val expected = PolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("spark"))
    assert(folded.toString.contains(expected.toString),
      s"folded literal $expected missing from plan:\n$folded")
  }

  test("whole-stage codegen covers the dot-product pair loop") {
    val df = Dedup.embeddingPairs(spark, sf0001)
    df.collect() // materialize so AQE finalizes stages and codegen is decided
    // simple mode marks codegen'd operators with "*(id)"
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*("), s"no whole-stage codegen span:\n$finalPlan")
    assert(plan(df).contains("graft_dot"), "custom expression missing from plan")
  }
}
