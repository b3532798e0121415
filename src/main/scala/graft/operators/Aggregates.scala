package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det._

/** Aggregation catalog — SURVEY.md §2.4 (A1–A10) re-expressed on the harness
  * star schema. Every query is a declarative DataFrame program (partial
  * aggregation, pushdown and pruning come from Catalyst; SURVEY.md §4) with a
  * deterministic total ordering so the DuckDB oracle hash-matches.
  *
  * Scale notes (100 TB stance):
  *  - group-by keys here are low-cardinality (flags, priorities, nations) →
  *    map-side partial agg collapses the shuffle to ~|groups| rows per task.
  *  - countDistinct is exact (expand + 2-phase agg); the approx twin
  *    (`agg_approx_distinct`, invariant-oracled) is the drop-in at high
  *    cardinality.
  *  - no collect(): even the "global" aggregate stays a 1-row DataFrame.
  */
object Aggregates {

  /** A1 multi-key hash agg + HAVING, mirrors reference 03:28-43 (TPC-H Q1
    * shape). Ref: /root/reference/code/03_SQLOperations.scala:28-43. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        drevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .filter(col("count_order") > 10)
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** A2/A7 single-key agg with exact countDistinct over a 3-way join,
    * mirrors reference 01:160-179 state aggregation.
    * Ref: /root/reference/code/01_DataPreprocessing.scala:160-179. */
  def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_value"),
        davg(col("o_totalprice")).as("avg_order_value"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("n_name"))
  }

  /** A3 exact percentiles per group (exact `percentile` so the DuckDB
    * `quantile_cont` oracle matches; the approx twin is non-oracle).
    * Ref: /root/reference/code/01_DataPreprocessing.scala:168-175. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact WEIGHTED median per group — lowest l_extendedprice whose
    * cumulative l_quantity weight reaches half the group's total weight
    * (the classic "median price weighted by units sold"). Spark has no
    * weighted percentile builtin; the relational formulation is two window
    * passes over ONE shuffle on the group key (cumulative weight + group
    * total), then a filter and a min-agg — no per-group buffering of
    * values, unlike exact `percentile`, so per-task memory stays O(1).
    * Determinism: weights are whole-unit quantities summed as
    * DECIMAL(18,2) (exact in both engines) and the half-total test is the
    * integer-exact `2·cum >= total`, division-free; the selected price is
    * an input passthrough. Ties in price are harmless — whichever ordering
    * equal-price rows take, the min qualifying price is identical — but
    * the window still orders by (price, orderkey, linenumber) so the scan
    * itself is reproducible. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val cumW = byFlag
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity").cast("decimal(18,2)").as("w"))
      .withColumn("cumw", sum(col("w")).over(cumW))
      .withColumn("totw", sum(col("w")).over(byFlag))
      .withColumn("price", col("l_extendedprice"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("price")).as("weighted_median"))
      .orderBy(col("l_returnflag"))
  }

  /** Incremental re-aggregation — the EXACT sibling of the sketch
    * entries' persist-partials pattern: two disjoint slices of orders
    * (a stand-in for two daily batches) are aggregated separately and the
    * PARTIALS re-aggregated, oracled against one direct aggregation of
    * the whole table. count/decimal-sum are commutative monoids, so the
    * rollup is lossless — the algebra every incremental pipeline (and
    * Spark's own partial-agg step) relies on; here the hash gate proves
    * it end-to-end. Sums stay decimal through BOTH levels, cast to
    * double once at the end (Det rule). */
  def incrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def slice(p: Int): DataFrame = o.filter(col("o_orderkey") % 2 === p)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
    slice(0).unionByName(slice(1))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("s")).cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Mergeable quantile summaries (the GK-style sketch behind Spark's
    * `approx_percentile`) — the percentile path that survives 100 TB:
    * bounded per-group summary state, partial-mergeable across
    * partitions, where exact `percentile` buffers every group value.
    * Oracled on its guarantee, like agg_approx_distinct: accuracy 10000
    * bounds rank error at 1e-4, and the flag pins the approx median
    * inside the EXACT (0.49, 0.51) quantile band — 100× the guaranteed
    * bound, so it asserts "summary sane", not "summary lucky", and a
    * dataset regeneration cannot flip it. The band itself is exact
    * round-4 (the agg_percentiles determinism rule) under the hash gate. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.49)"), 4).as("p49"),
        round(expr("percentile(o_totalprice, 0.51)"), 4).as("p51"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"), col("p49"), col("p51"), col("n_orders"),
        (col("ap") >= col("p49") && col("ap") <= col("p51")).as("median_ok"))
      .orderBy(col("o_orderpriority"))
  }

  /** A4 global aggregate — stays a 1-row relation (no `.first()` driver
    * scalar). Ref: /root/reference/code/04_MachineLearning.scala:186. */
  def globalStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      davg(col("l_extendedprice")).as("avg_price"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
  }

  /** Approximate-distinct twin of A2 (HLL++). The raw estimates can't be
    * hash-oracled (DuckDB's sketch differs), but the entry's INVARIANTS
    * can: output the exact distincts plus a boolean per key asserting the
    * HLL estimate landed within 25% of exact (5× the default 5% rsd:
    * HLL++ is deterministic for a given dataset so the flag is stable,
    * but the oracle pins it TRUE, and a regenerated dataset must not be
    * able to flip a ~2σ flag — the invariant is "sketch sane", not
    * "sketch lucky"). */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_suppkey")).as("asup"))
      .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
        (abs(col("ap") - col("n_parts")) <= col("n_parts") * 0.25).as("parts_ok"),
        (abs(col("asup") - col("n_supps")) <= col("n_supps") * 0.25).as("supps_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable-sketch distinct counting (Apache DataSketches HLL via
    * Spark 4's hll_sketch_agg / hll_union_agg) — the 100 TB cardinality
    * pattern approx_count_distinct can't express: level-1 builds a sketch
    * per (priority, month) — the partial a daily job would PERSIST — and
    * level-2 re-aggregates those sketches per priority with a lossless
    * union, no rescan of the raw data. At scale this is how distinct
    * counts roll up across days/partitions: sketch once, union forever.
    * Invariant-oracled like agg_approx_distinct: exact distincts + a
    * within-25% flag on the estimate, pinned TRUE (default lgK=12 ⇒ ~1.6%
    * rsd, so 25% is a regeneration-proof margin, "sketch sane" not
    * "sketch lucky"). */
  def hllPartialUnion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val partials = o
      .withColumn("m", month(col("o_orderdate")))
      .groupBy(col("o_orderpriority"), col("m"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val merged = partials.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_partials"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = o.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    merged.join(exact, "o_orderpriority")
      .select(col("o_orderpriority"), col("n_partials"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.25).as("union_ok"))
      .orderBy(col("o_orderpriority"))
  }

  /** Hierarchical rollup (region → nation → grand total) with GROUPING()
    * flags — the grouping-sets surface the reference lacks (SURVEY.md §2.4
    * "not present"); completes the aggregation category. One Expand + one
    * hash-agg; output is Σ|levels| groups, tiny at any scale. */
  def rollupRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"),
        grouping(col("r_name")).cast("long").as("g_region"),
        grouping(col("n_name")).cast("long").as("g_nation"))
      .orderBy(col("g_region"), col("g_nation"), col("r_name"), col("n_name"))
  }

  /** Full CUBE lattice (status × priority) with GROUPING() flags — the
    * other half of the grouping-sets surface next to `rollupRegionNation`:
    * all 2^k dimension combinations in ONE Expand + one hash-agg pass (vs
    * 2^k separate scans of a 100 TB fact table). Output is bounded by the
    * key-cardinality product, tiny at any scale. */
  def cubeStatusPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    statusPriorityCells(o.cube(col("o_orderstatus"), col("o_orderpriority")))
  }

  /** Order count and value per (status, priority) lattice cell, with the
    * GROUPING() flags, in lattice order. */
  private def statusPriorityCells(
      cells: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    cells      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_value"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"),
        col("o_orderstatus"), col("o_orderpriority"))

  /** Explicit GROUPING SETS — the third grouping-lattice variant next to
    * rollup (prefix hierarchy) and cube (full 2^k lattice): ONLY the
    * status-marginal, priority-marginal, and grand-total sets, skipping
    * the (status × priority) cross cells a cube would also compute. At
    * 100 TB the difference is real: Expand emits 3 rows per input instead
    * of 4, and the hash-agg state is the SUM of marginal cardinalities,
    * not their product. */
  def groupingSetsMarginals(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    statusPriorityCells(o.groupingSets(
      Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
      col("o_orderstatus"), col("o_orderpriority")))
  }

  /** Custom typed Aggregator (SURVEY.md §2.12 surface): bounded-state exact
    * top-3 order keys by price per priority — O(k) aggregation state per
    * group vs collect_list's O(group size) (see graft.functions.TopKKeys).
    * Output exploded to rows (array columns don't hash-compare portably). */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKKeys(3))
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("keys"))
      .select(col("o_orderpriority"),
        posexplode(col("keys")).as(Seq("pos", "o_orderkey")))
      .withColumn("pos", col("pos").cast("long"))
      .orderBy(col("o_orderpriority"), col("pos"))
  }

  /** Median/MAD outlier detection — the ROBUST twin of the 3σ rule
    * (`events_rate_anomaly`): mean/stddev are dragged by the very outliers
    * they're meant to catch; median and MAD (median absolute deviation)
    * have a 50% breakdown point. Two grouped exact-percentile aggregates
    * (per-event-type median, then median of |x − med|), one join back,
    * and a conditional count of rows beyond 3·1.4826·MAD ≈ robust 3σ
    * (the 1.4826 factor makes MAD consistent with σ under normality;
    * written as the single literal 4.4478 so both engines do ONE
    * multiply). events.value is the long-tailed column, so the flag
    * genuinely BITES (~5% flagged at every SF) while leaving matches.
    *
    * Determinism — EXACT INTEGER lattice, no round(), no interpolation
    * hazard: values enter as floor-cents BIGINTs (floor of one identical
    * IEEE product has no midpoint rule, unlike round), so every
    * percentile is computed over integers ≤ 1e9 whose midpoint averages
    * are .5/.25-granular doubles — EXACTLY representable, hence
    * bit-identical under ANY interpolation formula either engine uses
    * (the round-6 rule needs 2-decimal inputs; raw arbitrary-precision
    * doubles get the stronger treatment). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        floor(col("value") * lit(100.0)).as("cents"))
    val med = e.groupBy(col("event_type"))
      .agg(percentile(col("cents"), lit(0.5)).as("med"))
    // dev feeds both the MAD percentile and the final rollup — cache it
    // (the codebase's convention for reused intermediates)
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cents") - col("med")))
      .cache()
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("med")).as("med_cents"),
        min(col("mad")).as("mad_cents"),
        count(when(col("adev") > lit(4.4478) * col("mad"), 1)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Equal-width histogram — the distribution profile a feature-QA pass
    * draws before choosing transforms (is o_totalprice skewed? bimodal?):
    * 20 equal-width buckets over the exact [min, max] range. The range is
    * a 1-row aggregate broadcast back over the scan (A9 pattern); the
    * bucket index is floor((x − min) / width) clamped to 19 so x = max
    * lands in the last bucket. All inputs to the floor are identical
    * doubles in both engines (min/max are exact, width is one IEEE
    * divide), so bucketing is engine-deterministic. Output bounded at 20
    * rows; empty buckets are reported too (the shape matters) via a
    * sequence spine left-join, zero-filled. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val band = o.agg(
      min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    // degenerate-range guard: hi == lo makes width 0 and 0.0/0.0 diverges
    // across engines (Spark floor(NaN) → 0, DuckDB → NULL) — pin every
    // row to bucket 0 explicitly in BOTH plans
    val counts = o.crossJoin(broadcast(band))
      .select(when(col("hi") === col("lo"), lit(0L))
        .otherwise(least(lit(19L), floor((col("o_totalprice") - col("lo"))
          / ((col("hi") - col("lo")) / lit(20.0))))).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_orders"))
    spark.range(0, 20).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("bucket"))
  }

  /** Native-Catalyst twin of `agg_topk_aggregator`: the same bounded-state
    * top-3, but as a TypedImperativeAggregate injected by GraftExtensions
    * and invoked from SQL TEXT — the engine-native
    * aggregate tier (ObjectHashAggregateExec, binary-serialized O(k)
    * partials; see graft.expressions.TopKKeysAgg). Proves the ladder's
    * aggregate rung end to end: FunctionRegistry resolution → analyzer
    * wraps the AggregateFunction → partial/merge across shuffles → LATERAL
    * VIEW posexplode back to oracle-comparable rows. */
  def topkNative(spark: SparkSession, dir: String): DataFrame =
    Sql.run(spark, Seq("orders" -> (s => Tables.orders(s, dir))),
      """SELECT o_orderpriority, CAST(pos AS BIGINT) AS pos, o_orderkey
        |FROM (SELECT o_orderpriority,
        |        graft_topk_keys(o_totalprice, o_orderkey, 3) AS ks
        |      FROM orders GROUP BY o_orderpriority)
        |LATERAL VIEW posexplode(ks) t AS pos, o_orderkey
        |ORDER BY o_orderpriority, pos""".stripMargin)

  /** collect_list / collect_set surface: per-region nation rosters.
    * Serialized as sorted joined strings — deterministic (collect order is
    * partition-dependent, sort fixes it) and scalar (the oracle comparator
    * can't sort array cells).
    *
    * MEMORY CONTRACT: collect_list holds the WHOLE group in one
    * aggregation buffer — per-group state is O(group size), not O(1),
    * and a hot group concentrates on a single executor (spill helps the
    * sort, not the final array). That is LISTAGG's semantics and exactly
    * what the oracle demands; it is safe here because the group domain is
    * |nations per region| ≤ 25 at EVERY scale factor (dimension-bounded,
    * not data-bounded). Before reusing this shape on a data-proportional
    * group, switch to the bounded-state alternative (TopKKeys, k-capped)
    * or pre-aggregate. */
  def collectRoster(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
        concat_ws(",", array_sort(collect_set(substring(col("n_name"), 1, 1)))).as("initials"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }

  /** lineitem quantity and price as exact 2-decimal `x` and `y`. */
  private def quantityPrice: Seq[Column] = Seq(
    col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("x"),
    col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("y"))

  /** The five moments of an (x, y) pair plus n: exact decimal sums over
    * 2-decimal inputs, cast to double only once summed. */
  private def pairMoments: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("x")).cast("double").as("sx"),
    sum(col("y")).cast("double").as("sy"),
    sum(col("x") * col("x")).cast("double").as("sxx"),
    sum(col("y") * col("y")).cast("double").as("syy"),
    sum(col("x") * col("y")).cast("double").as("sxy"))

  /** Exact-arithmetic correlation/covariance — the statistical aggregates
    * (`corr`, `covar_pop`) that are normally UN-oracleable: engines sum
    * doubles in different orders and use different one-pass update
    * formulas (Welford vs textbook), so the last ulps never match. Here
    * the five moments (Σx, Σy, Σx², Σy², Σxy) are EXACT decimal sums over
    * 2-decimal inputs — associative, engine- and partition-order-
    * independent — and the closed-form corr/covar is one identical chain
    * of IEEE ops on those exact moments, so even these land under the
    * byte-exact hash gate. One hash-agg, map-side partials; the moment
    * pattern is also what an incremental/streaming correlation would
    * persist per partition and merge. AggSanitySpec-style check: the spec
    * asserts agreement with Spark's built-in corr to float tolerance. */
  def corrManual(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(col("l_returnflag") +: quantityPrice: _*)
    l.groupBy(col("l_returnflag"))
      .agg(pairMoments.head, pairMoments.tail: _*)
      .select(col("l_returnflag"), col("n"),
        // round-6 (the module's libm/ulp rule): the moment VALUES are
        // exact, but decimal→double conversion of >2^53 magnitudes is
        // single-rounded by the JVM and double-rounded by DuckDB — a
        // 1-ulp input wobble round-6 absorbs, as for ln() outputs
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("n")), 6).as("covar_pop"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_xy"))
      .orderBy(col("l_returnflag"))
  }

  /** Gini coefficient per group — the inequality/concentration measure
    * mixture balancing reads next to pipe_mixture_hhi's HHI, from the
    * rank formulation G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending
    * values: one window pass (row_number over the group-key shuffle) +
    * one hash-agg. All terms are exact INT64 in integer cents (Σi·x is
    * rank-weighted, bounded by n²·max-cents — far inside 2⁶³ at any
    * harness SF), and ties in x are rank-order-invariant (equal values
    * swap equal contributions), so the single final division of two
    * exactly-convertible integers is the only float op — deterministic in
    * both engines without rounding. */
  def giniCoefficient(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("x"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("o_orderpriority"), col("n"),
        ((lit(2L) * col("six") - (col("n") + 1) * col("sx")).cast("double")
          / (col("n") * col("sx")).cast("double")).as("gini"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact-moment skewness / kurtosis — the 3rd/4th-moment builtins
    * (`skewness`, `kurtosis`) re-derived the corrManual way: raw power
    * sums Σx..Σx⁴ as exact decimal aggregates (2-decimal inputs keep even
    * x⁴ exactly representable in decimal), then the central-moment closed
    * forms as one identical IEEE chain. `sqrt(m2)*m2` replaces `pow(m2,
    * 1.5)` deliberately: sqrt is IEEE-correctly-rounded in both engines,
    * libm `pow` is not. Round-6 absorbs the decimal→double conversion ulp
    * (module rule). Distribution-shape profiling — the first look a
    * feature-quality pass takes at a numeric column — as one hash-agg
    * with map-side partials. */
  def skewKurtosis(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // integer CENTS, not DECIMAL(12,2): the 4th power would overflow both
    // engines' 38-digit decimal product (DuckDB errors, Spark would round).
    // Skew/kurt are scale-invariant, so the cents domain needs no rescale;
    // scale-0 decimal powers stay exact (DuckDB runs the same in HUGEINT).
    val m = Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(DecimalType(14, 0)).as("x"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("s1"),
        sum(col("x") * col("x")).cast("double").as("s2"),
        sum(col("x") * col("x") * col("x")).cast("double").as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).cast("double").as("s4"))
    val mu = col("s1") / col("n")
    val m2 = col("s2") / col("n") - mu * mu
    val m3 = col("s3") / col("n") - lit(3.0) * mu * (col("s2") / col("n")) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4") / col("n") - lit(4.0) * mu * (col("s3") / col("n")) +
      lit(6.0) * mu * mu * (col("s2") / col("n")) - lit(3.0) * mu * mu * mu * mu
    m.select(col("o_orderpriority"), col("n"),
        round(m3 / (sqrt(m2) * m2), 6).as("skew_pop"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurt_excess"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact-moment linear regression per group — `regr_slope` /
    * `regr_intercept` / `regr_r2` re-derived the agg_corr_manual way:
    * the builtins are un-oracleable (engine-specific double accumulation
    * order), but the five moments as EXACT decimal sums over 2-decimal
    * inputs are associative and partition-order-independent, and the
    * closed forms are one identical IEEE chain on those moments. Grouped
    * by supplier nation (two broadcast dim hops on the 100 TB fact
    * side — dims never shuffle the fact). Round-6 absorbs the
    * decimal→double conversion ulp (module rule, see corrManual). */
  def regressionManual(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val m = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name") +: quantityPrice: _*)
      .groupBy(col("n_name"))
      .agg(pairMoments.head, pairMoments.tail: _*)
    m.withColumn("slope_raw",
        (col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("n_name"), col("n"),
        round(col("slope_raw"), 6).as("slope"),
        round((col("sy") - col("slope_raw") * col("sx")) / col("n"), 6).as("intercept"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            * (col("n") * col("sxy") - col("sx") * col("sy"))
          / ((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      .orderBy(col("n_name"))
  }

  /** Ordered string aggregation (LISTAGG) — the report-building agg:
    * per-region roster of nation names as one delimited string. Expressed
    * as `concat_ws` over a SORTED collect_list so the result is a unique
    * string (DuckDB `string_agg(... ORDER BY ...)` mirrors it exactly);
    * group state is bounded by |nations per region|, the same contract as
    * `agg_collect_roster`. */
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_nations"),
        concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
      .orderBy(col("r_name"))
  }

  /** Deterministic per-group MODE — the builtin `mode()` is explicitly
    * any-of-the-ties nondeterministic (and so un-oracle-able); the
    * portable formulation is the two-stage counts→argmax: hash-agg the
    * (group, value) histogram, then pick the top row per group with a
    * TOTAL order (count desc, value desc — ties broken by value). Both
    * engines run the identical rule, so the hash gate applies. Scale:
    * first stage collapses map-side to |group × distinct values|; the
    * window sorts only that histogram, never the fact table. */
  def modeDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("l_quantity").desc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").cast("double").as("mode_qty"),
        col("n").as("n_mode"))
      .orderBy(col("l_returnflag"))
  }

  /** Revenue-concentration (Pareto) bands — "what share of revenue do the
    * top 10% of customers hold", the concentration report next to
    * agg_gini's scalar index. SCALE-HONEST: no global rank window (that
    * would single-partition-sort |customers| rows); instead the ntile
    * pattern — exact p50/p90 spend cutoffs in a 1-row aggregate broadcast
    * back (round-6 under the ntile determinism rule), a when-chain band
    * assignment, a 3-row band aggregate, and the cumulative share only
    * over those 3 grouped rows. Shares are exact: cents sums in BIGINT,
    * micro-share by integral division taken in DECIMAL(38,0) Spark-side /
    * HUGEINT oracle-side (the TWAP rule: DuckDB `//` on DECIMAL is lossy
    * DOUBLE; both operands non-negative so floor == truncation). */
  def paretoBands(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val cuts = c.agg(
      round(percentile(col("cents"), lit(0.5)), 6).as("c5"),
      round(percentile(col("cents"), lit(0.9)), 6).as("c9"))
    val bands = c.crossJoin(broadcast(cuts))
      .withColumn("band",
        when(col("cents") <= col("c5"), "bottom50")
          .when(col("cents") <= col("c9"), "mid40")
          .otherwise("top10"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("band_cents"))
    val wAll = Window.partitionBy() // 3 grouped rows — documented constraint
    bands
      .withColumn("tot", sum(col("band_cents")).over(wAll))
      .select(col("band"), col("n_customers"),
        col("band_cents").cast("long").as("band_cents"),
        expr("CAST((CAST(band_cents AS DECIMAL(38,0)) * 1000000) div CAST(tot AS DECIMAL(38,0)) AS BIGINT)")
          .as("share_micro"))
      .orderBy(col("band"))
  }

  /** Market-basket affinity: top-20 part pairs co-ordered in the same
    * order, ranked by support — the co-occurrence primitive under
    * recommendations ("bought together") and under feature co-occurrence
    * stats in corpus analysis. The self-join key is the ORDER (a natural
    * blocking key): pair volume is Σ|basket|² with baskets ≤ ~13 parts in
    * this schema — bounded fan-out per key, never |parts|², the same
    * Σblock² argument as dedup_fuzzy_names. Distinct-projection first so
    * multi-line duplicates of a part in one order count once; ties at the
    * top-20 boundary are resolved by the (support desc, part_a, part_b)
    * total order via TakeOrderedAndProject. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    // r13: rides the rec family's grouped order-basket memo — pairs come
    // from the in-row C(n,2) generator over each sorted basket array
    // (same multiset as the old distinct-projection self-join, which
    // recomputed the incidence inline per call), so the entry shares the
    // substrate build and skips the self-join shuffle entirely; the memo
    // is spread over the cores at build, so the generator runs in its
    // scan splits and the pair aggregation is the only exchange.
    Recommend.arrayPairs(Recommend.opBaskets(spark, dir), "ps",
        "part_a", "part_b")
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(20)

  /** Differentially-private release counts (Dwork et al. 2006): per-group
    * counts with Laplace(1/ε) noise at ε = 1 — the ε-DP mechanism for a
    * COUNT query, whose sensitivity is 1. The noise is drawn by inverse
    * CDF (u ∈ (0,1) → −b·sign(u−½)·ln(1−2|u−½|)) from the module's md5
    * uniform idiom keyed on the group value, making the draw a pure
    * function of the data — deterministic under retry/relayout and
    * replayed verbatim by the oracle, the same replayable-noise stance as
    * `pipe_dsir_resample`'s Gumbel keys. A production release would key
    * the hash on a SECRET salt (data-keyed noise is replay-testable, not
    * private); the relational mechanism — one hash-agg, noise as a
    * projection, non-negativity clamp — is identical either way.
    *
    * Determinism: u is one IEEE division of an exact 32-bit hash prefix;
    * ln() output round-6 (module libm rule); the released count rounds
    * the noisy double once. Scale: one partial-agg'd hash-agg over a
    * bounded key domain; noise adds zero shuffles. */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    val b = 1.0 // Laplace scale = sensitivity/ε = 1/1
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        (conv(substring(md5(concat(lit("dp:"), col("o_orderpriority"))), 1, 8), 16, 10)
          .cast("long") + 1L) / lit(4294967296.0))
      .withColumn("noise",
        round(when(col("u") < 0.5, lit(b) * log(col("u") * 2.0))
          .otherwise(lit(-b) * log((lit(1.0) - col("u")) * 2.0)), 6))
      .withColumn("n_released",
        greatest(lit(0L), round(col("n_true") + col("noise")).cast("long")))
      .drop("u")
      .orderBy(col("o_orderpriority"))
  }

  /** Population Stability Index drift report — THE production monitoring
    * metric for feature/score drift between a reference window and the
    * current one (banking scorecards through ML feature stores; rule of
    * thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 act). Here: the order
    * price distribution before vs from 1998, in B=10 fixed-width 50k
    * bins. PSI = Σ_bins (p−q)·ln(p/q) with +1 smoothing so empty bins on
    * either side stay finite (the all-bin frame makes never-hit bins
    * contribute through the smoothed term too). Emits the per-bin audit
    * (counts, shares, term) with the total on every row — the relation a
    * monitoring job thresholds and alerts on.
    *
    * Determinism: p, q are single IEEE divisions of exact longs; the
    * (p−q)·ln(p/q) term is round-6 → DECIMAL(18,6) (module libm rule,
    * same as text_entropy's −p·ln p) and the total is the exact decimal
    * sum. Scale: one B-key hash-agg over the scan (partial map-side), a
    * 10-row frame join, two 1-row broadcasts — nothing grows with data. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val B = 10L
    val o = Tables.orders(spark, dir)
      .select(
        least(floor(col("o_totalprice") / 50000).cast("long"), lit(B - 1)).as("bin"),
        (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("is_ref"))
    val bins = o.groupBy(col("bin")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    val frame = spark.range(0, B).select(col("id").as("bin"))
      .join(bins, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = frame.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val terms = frame.crossJoin(broadcast(totals))
      .withColumn("p", (col("n_ref") + lit(1L)).cast("double") / (col("tr") + lit(B)).cast("double"))
      .withColumn("q", (col("n_cur") + lit(1L)).cast("double") / (col("tc") + lit(B)).cast("double"))
      .withColumn("psi_term", round((col("p") - col("q")) * log(col("p") / col("q")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .cache() // read twice: total fold + per-bin output
    val total = terms.agg(sum(col("psi_term")).as("t"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("p"), 6).as("p_ref"), round(col("q"), 6).as("p_cur"),
        col("psi_term").cast("double").as("psi_term"),
        col("t").cast("double").as("psi_total"))
      .orderBy(col("bin"))
  }

  /** Mutual information between two categorical columns — the
    * feature-selection staple (how much knowing l_returnflag tells you
    * about l_linestatus), and the dependence probe a training-data
    * pipeline runs before dropping "redundant" label columns. Emits the
    * per-cell audit relation (joint count, both marginals, per-cell MI
    * contribution) with the MI total in nats on every row — the
    * `agg_psi_drift` report shape. Cells with zero joint count
    * contribute 0 (lim p→0 of p·ln p) and are correctly absent from the
    * grouped relation.
    *
    * Determinism: joint/marginal counts are exact longs (marginals as
    * window sums over the |X|·|Y|-cell grouped relation — no second
    * scan); the per-cell term p_xy·ln(c_xy·n / (c_x·c_y)) is one IEEE
    * chain on identical operands in both engines, round-9 →
    * DECIMAL(18,9) (the module's libm-lattice rule at the JS-divergence
    * precision, since balanced cells give tiny terms), and the total is
    * the exact order-free decimal sum. The log's operands are lifted to
    * double BEFORE multiplying (c_xy·n as longs overflows past ~3·10⁹
    * rows; the double product is deterministic and loses nothing the
    * round-9 lattice would keep).
    *
    * Scale: ONE map-side-partial hash-agg over the scan reading two
    * dictionary columns; everything after runs on the |X|·|Y| grouped
    * relation (window sums + a 1-row broadcast total). Nothing but the
    * first agg touches data volume. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val joint = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
      .agg(count(lit(1)).as("c_xy"))
    val withM = joint
      .withColumn("c_x", sum(col("c_xy")).over(Window.partitionBy(col("x"))))
      .withColumn("c_y", sum(col("c_xy")).over(Window.partitionBy(col("y"))))
      .withColumn("n", sum(col("c_xy")).over(Window.partitionBy(lit(1))))
      .withColumn("mi_term",
        round((col("c_xy").cast("double") / col("n").cast("double")) *
          log((col("c_xy").cast("double") * col("n").cast("double")) /
            (col("c_x").cast("double") * col("c_y").cast("double"))), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .cache() // read twice: total fold + per-cell output
    val total = withM.agg(sum(col("mi_term")).as("t"))
    withM.crossJoin(broadcast(total))
      .select(col("x").as("returnflag"), col("y").as("linestatus"),
        col("c_xy"), col("c_x"), col("c_y"), col("n").as("n_rows"),
        col("mi_term").cast("double").as("mi_term"),
        col("t").cast("double").as("mi_nats"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** χ² test of independence + Cramér's V over the same
    * returnflag×linestatus contingency table as `agg_mutual_info` — MI
    * answers "how many bits do the columns share", χ² answers "is the
    * dependence statistically significant and how strong" (the pair a
    * feature-audit report prints together). Unlike MI, χ² sums over the
    * FULL |X|·|Y| grid — empty cells still contribute (o−e)²/e through
    * their expected count — so the cell frame is the marginal-cross-join
    * completion of the observed cells.
    *
    * Determinism: counts/marginals exact longs; e = c_x·c_y/n and the
    * (o−e)²/e term are identical IEEE chains (explicit `(o−e)·(o−e)`,
    * never pow — libm pow is not guaranteed correctly rounded), per-cell
    * term round-6 → DECIMAL(18,6) (module lattice rule; χ² terms are
    * O(n)-sized so 6 fractional digits is plenty), totals as exact
    * decimal sums. V = √(χ²/(n·min(|X|−1,|Y|−1))) is one IEEE chain on
    * the decimal total, round-6, NULL on a degenerate 1-level column
    * (mirrored CASE, the ab_ztest empty-arm rule).
    *
    * Scale: identical to `agg_mutual_info` — one map-side-partial
    * hash-agg over the scan; the frame/totals run on the |X|·|Y| grid
    * (two tiny broadcasts). */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val joint = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
      .agg(count(lit(1)).as("c"))
    val mx = joint.groupBy(col("x")).agg(sum(col("c")).as("c_x"))
    val my = joint.groupBy(col("y")).agg(sum(col("c")).as("c_y"))
    val st = joint.agg(countDistinct(col("x")).as("nx"),
      countDistinct(col("y")).as("ny"), sum(col("c")).as("n"))
    val cells = mx.crossJoin(broadcast(my))
      .join(joint, Seq("x", "y"), "left")
      .select(col("x"), col("y"), col("c_x"), col("c_y"),
        coalesce(col("c"), lit(0L)).as("c_xy"))
      .crossJoin(broadcast(st))
      .withColumn("e",
        (col("c_x").cast("double") * col("c_y").cast("double")) / col("n").cast("double"))
      .withColumn("chi2_term",
        round((col("c_xy").cast("double") - col("e")) *
          (col("c_xy").cast("double") - col("e")) / col("e"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    cells
      .withColumn("chi2", sum(col("chi2_term")).over(Window.partitionBy(lit(1))))
      .select(col("x").as("returnflag"), col("y").as("linestatus"),
        col("c_xy"), round(col("e"), 6).as("expected"),
        col("chi2_term").cast("double").as("chi2_term"),
        col("chi2").cast("double").as("chi2_total"),
        ((col("nx") - 1) * (col("ny") - 1)).as("dof"),
        when(col("nx") > 1 && col("ny") > 1,
          round(sqrt(col("chi2").cast("double") /
            (col("n").cast("double") * least(col("nx") - 1, col("ny") - 1).cast("double"))), 6))
          .as("cramers_v"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** Shared Spark-SQL/DuckDB binary-entropy fragment H(pos/n) in nats —
    * identical text runs in both engines (bigint/bigint `/` is double
    * division in both, `ln` exists in both), which is what makes the
    * stump's gain a bit-identical IEEE chain. */
  private def entropyH(pos: String, n: String): String =
    s"CASE WHEN $pos = 0 OR $pos = $n THEN 0.0 ELSE " +
      s"-(($pos / $n) * ln($pos / $n)) - " +
      s"((($n - $pos) / $n) * ln((($n - $pos)) / $n)) END"

  /** Information-gain expression over the candidate-split counts; ONE
    * shared formula string (Spark `expr` ≡ DuckDB SQL). */
  private def stumpGainSql: String =
    s"ROUND(${entropyH("pos_tot", "n_tot")} - " +
      s"(n_left / n_tot) * ${entropyH("pos_left", "n_left")} - " +
      s"(n_right / n_tot) * ${entropyH("pos_right", "n_right")}, 9)"

  /** Decision stump trained relationally — the third in-plan learner
    * (after `pipe_quality_lr`'s GD and `ml_naive_bayes`' counting): the
    * best single split `feature ≤ threshold` predicting
    * l_returnflag = 'R', by information gain. This is one boosting/tree
    * round's split search expressed as SQL, and the supervised sequel to
    * `agg_mutual_info`'s unsupervised dependence probe. Candidate
    * thresholds are the per-feature VIGINTILES (19 cuts), located
    * exactly: distinct (feature, value) counts, a per-feature cumulative
    * window over those, and a row matches cut i when position i·n/20
    * falls inside its cumulative span — no sampling, no approx
    * percentile, so both engines pick identical cuts. Emits the full
    * candidate audit (split counts + gain) ranked by gain; row rk=1 is
    * the trained stump.
    *
    * Determinism: all counts exact longs; the gain
    * H(parent) − Σ(w·H(child)) is ONE shared formula string evaluated by
    * both engines (bigint `/` is double division in both; `ln` in both),
    * round-9 → DECIMAL(18,9), so the ranking compares exact decimals
    * with (feature, threshold) tie-break. Empty/pure children hit the
    * CASE guards identically.
    *
    * Scale: one 3× unpivot projection + one (feature, value) hash-agg;
    * the cumulative window runs over DISTINCT values per feature (the
    * exact-percentile cost anywhere — bounded for discrete features,
    * and the continuous one is the same sort a quantile needs); the
    * candidate relation is ≤ 19·|features| rows, where the gain math
    * and the global rank window live. */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        col("l_quantity").cast("double").as("quantity"),
        col("l_discount").cast("double").as("discount"),
        col("l_extendedprice").cast("double").as("extendedprice"))
    val unpiv = li.select(col("y"), explode(array(
        struct(lit("discount").as("feature"), col("discount").as("value")),
        struct(lit("extendedprice").as("feature"), col("extendedprice").as("value")),
        struct(lit("quantity").as("feature"), col("quantity").as("value"))))
        .as("f"))
      .select(col("f.feature").as("feature"), col("f.value").as("value"), col("y"))
    val dv = unpiv.groupBy(col("feature"), col("value"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(col("feature"))
    val cum = dv
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_pos", sum(col("pos")).over(wCum))
      .withColumn("n_tot", sum(col("n")).over(wTot))
      .withColumn("pos_tot", sum(col("pos")).over(wTot))
    // r13: generate only the cut indexes whose position can land in this
    // row's cumulative span, instead of exploding every distinct value
    // ×19 and filtering (~600 k distinct extendedprice values at sf0.1 →
    // 11.4 M generated rows for ~50 survivors, inside the 3-partition
    // post-window layout; linear in distinct values at every SF). The
    // bounds are the exact integer inversions of the p_i filter below
    // (floor(i·n/20) ≥ a ⟺ i ≥ ⌈20a/n⌉; ≤ b ⟺ i ≤ ⌊(20b+19)/n⌋, all
    // operands positive), so the range is a provable superset and the
    // original filter — kept verbatim — makes the row set identical.
    val cands = cum
      .withColumn("i_lo", greatest(
        expr("(20 * (cum_n - n + 1) + n_tot - 1) DIV n_tot"),
        expr("(20 + n_tot - 1) DIV n_tot"), lit(1L)))
      .withColumn("i_hi", least(lit(19L), expr("(20 * cum_n + 19) DIV n_tot")))
      .filter(col("i_lo") <= col("i_hi") && col("cum_n") < col("n_tot"))
      .withColumn("i", explode(sequence(col("i_lo"), col("i_hi"))))
      .withColumn("p_i", expr("i * n_tot DIV 20"))
      .filter(col("p_i") >= 1 &&
        col("p_i") > col("cum_n") - col("n") && col("p_i") <= col("cum_n") &&
        col("cum_n") < col("n_tot")) // a full-left "split" is no split
      .select(col("feature"), col("value").as("threshold"),
        col("cum_n").as("n_left"), col("cum_pos").as("pos_left"),
        (col("n_tot") - col("cum_n")).as("n_right"),
        (col("pos_tot") - col("cum_pos")).as("pos_right"),
        col("n_tot"), col("pos_tot"))
      .distinct()
    cands
      .withColumn("gain",
        expr(stumpGainSql).cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gain").desc, col("feature"), col("threshold"))).cast("long"))
      .select(col("feature"), col("threshold"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"),
        col("gain").cast("double").as("gain"), col("rk"))
      .orderBy(col("rk"))
  }

  /** 12-hour slide of the 24-hour PSI windows, in epoch micros. */
  private[graft] val PsiSlideUs = 12L * 3600 * 1000000
  private[graft] val PsiWindowUs = 2 * PsiSlideUs
  /** Reference/current cut: 2024-01-08T00:00Z — the events timeline's
    * first week trains the reference histogram. */
  private[graft] val PsiCutUs = 1704672000000000L

  /** Per-window PSI against a frozen reference histogram — the kernel of
    * `agg_psi_windows`. `curg` is (w_us, bin, n_cur) — windowed current
    * counts; `ref` is (bin, n_ref).
    * Laplace-smoothed shares, per-bin term round-6 → DECIMAL(18,6)
    * (module libm rule), exact decimal sum per window → double. Scale:
    * the window frame is |windows|·10 rows — time-bounded, not
    * data-bounded; ref and its total are broadcast. */
  private[graft] def psiAgainstRef(curg: DataFrame, ref: DataFrame): DataFrame = {
    val spark = curg.sparkSession
    val refFrame = spark.range(0, 10).select(col("id").as("bin"))
      .join(ref, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"))
    val tr = refFrame.agg(sum(col("n_ref")).as("tr"))
    val frame = curg.select(col("w_us")).distinct()
      .crossJoin(broadcast(spark.range(0, 10).select(col("id").as("bin"))))
      .join(curg, Seq("w_us", "bin"), "left")
      .select(col("w_us"), col("bin"), coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tc = frame.groupBy(col("w_us")).agg(sum(col("n_cur")).as("tc"))
    frame.join(tc, "w_us")
      .join(broadcast(refFrame), "bin")
      .crossJoin(broadcast(tr))
      .withColumn("p", (col("n_ref") + lit(1L)).cast("double") / (col("tr") + lit(10L)).cast("double"))
      .withColumn("q", (col("n_cur") + lit(1L)).cast("double") / (col("tc") + lit(10L)).cast("double"))
      .withColumn("term", round((col("p") - col("q")) * log(col("p") / col("q")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy(col("w_us"), col("tc"))
      .agg(sum(col("term")).as("psi_d"))
      .select(col("w_us").as("w_start_us"),
        (col("w_us") + lit(PsiWindowUs)).as("w_end_us"),
        col("tc").as("n_cur"),
        col("psi_d").cast("double").as("psi"))
  }

  /** SLIDING-WINDOW PSI over the event stream — `agg_psi_drift`'s
    * monitoring twin on the time axis: instead of one ref-vs-current
    * snapshot, every 24-hour window (sliding 12 h, epoch-aligned — the
    * exact alignment Spark's `window()` uses) of post-cut events is
    * scored against the frozen first-week reference histogram of event
    * values. The window membership is ARITHMETIC — each event lands in
    * its two covering windows via an explode over k ∈ {0,1} and
    * `us − us % slide − k·slide` — fully portable to the DuckDB oracle,
    * no engine window-function semantics involved. This is the
    * drift-alert relation a model-serving pipeline pages on.
    * Scale: one |windows|·10-bounded frame after a (w, bin) hash-agg on
    * the scan — the agg is the only data-proportional stage. */
  def psiWindows(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"),
        least(floor(col("value") / 50).cast("long"), lit(9L)).as("bin"))
    val ref = e.filter(col("us") < PsiCutUs)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    val curg = e.filter(col("us") >= PsiCutUs)
      .select(col("us"), col("bin"), explode(array(lit(0L), lit(1L))).as("k"))
      .withColumn("w_us", col("us") - col("us") % PsiSlideUs - col("k") * PsiSlideUs)
      .groupBy(col("w_us"), col("bin")).agg(count(lit(1)).as("n_cur"))
    psiAgainstRef(curg, ref).orderBy(col("w_start_us"))
  }

  /** Benford first-digit audit — the classic fraud / fabricated-data
    * screen: naturally-occurring multi-magnitude amounts follow
    * P(d) = log₁₀(1+1/d), and a ledger that deviates hard was touched.
    * The leading digit comes from the INTEGER cents' decimal string
    * (bigint→string is exact and engine-identical; no float formatting,
    * no log10 libm call anywhere) and the expected shares are hardcoded
    * per-hundred-thousand literals (30103, 17609, … — they sum to
    * exactly 100000), so the whole audit is integer arithmetic: observed
    * share via DIV, absolute deviation in the same 10⁻⁵ units. One
    * 9-group hash-agg + a broadcast 1-row total; nothing grows with the
    * ledger but the scan. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val expected: Column = // log10(1 + 1/d) in 1e-5 units, exact literals
      map(Seq(1 -> 30103, 2 -> 17609, 3 -> 12494, 4 -> 9691, 5 -> 7918,
        6 -> 6695, 7 -> 5799, 8 -> 5115, 9 -> 4576)
        .flatMap { case (d, e) => Seq(lit(d), lit(e)) }: _*)
    val digits = Tables.orders(spark, dir)
      .select(substring(floor(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      // out-of-domain digits (0 for sub-cent amounts, '-' for negatives)
      // drop out exactly as the oracle's INNER JOIN on the 9-row expected
      // relation drops them — keeps engine and oracle symmetric on
      // degenerate ledgers
      .filter(col("digit").between(1, 9))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_orders"))
    val total = digits.agg(sum(col("n_orders")).as("n_total"))
    digits.crossJoin(broadcast(total))
      .withColumn("share_e5", expr("n_orders * 100000 DIV n_total"))
      .withColumn("expected_e5", element_at(expected, col("digit")).cast("long"))
      .withColumn("dev_e5",
        abs(col("share_e5") - col("expected_e5")))
      .select(col("digit").cast("long").as("digit"), col("n_orders"),
        col("share_e5"), col("expected_e5"), col("dev_e5"))
      .orderBy(col("digit"))
  }

  /** KMV distinct sketch (Bar-Yossef et al. 2002 / the Θ-sketch family's
    * k-minimum-values core): keep the k=256 smallest distinct hash
    * values; the kth smallest R estimates distinct count as
    * (k−1)·2⁶⁰/R. Unlike `agg_approx_distinct` (HLL, Spark-internal and
    * rows-only-checkable) the KMV sketch is FULLY DETERMINISTIC given
    * the hash — so this one is hash-oracled end to end, estimate
    * included: the hash is a 60-bit md5 slice, identical in both
    * engines, and the estimate is one mul+div IEEE chain on exact
    * integer inputs (no libm, no rounding needed). Below k distinct
    * values the sketch IS the exact answer (the KMV small-set rule).
    * The exact distinct count rides along as the audit column.
    *
    * Scale: distinct is a key-partitioned two-stage hash-agg; the k
    * smallest collapse via TakeOrderedAndProject (per-partition top-k,
    * never a global sort); the two 1-row stats join as broadcasts (A4).
    * Mergeability — union of sketches = sketch of union — is the 100 TB
    * story: each partition ships ≤ k values. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val u = Tables.events(spark, dir).select(col("event_id")).distinct()
    val h = u.select(
      conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h")).distinct()
    val tk = h.orderBy(col("h")).limit(k)
    val s = tk.agg(count(lit(1)).as("n_min"), max(col("h")).as("kth_hash"))
    val e = u.agg(count(lit(1)).as("n_exact"))
    s.crossJoin(broadcast(e))
      .select(lit(k.toLong).as("k"), col("n_exact"), col("n_min"),
        col("kth_hash"),
        when(col("n_min") < k.toLong, col("n_min").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18) /
            col("kth_hash").cast("double")).as("est_kmv"))
  }

  /** The Cramer regressions' features over lineitem, all exact longs:
    * `x1` = quantity, `x2` = discount in basis points, `y` = price cents. */
  private def cramerFeatures: Seq[Column] = Seq(
    floor(col("l_quantity")).cast("long").as("x1"),
    floor(col("l_discount") * 100).cast("long").as("x2"),
    floor(col("l_extendedprice") * 100).cast("long").as("y"))

  /** The exact 10-moment aggregate of the 2-feature normal equations over
    * `cramerFeatures`: n, Σx1, Σx2, Σy and the second moments, every
    * product decimal(19,0)-seeded → 38 (the overflow-policy rule). */
  private def cramerMoments: Seq[Column] = {
    val dec = (c: Column) => c.cast("decimal(19,0)")
    Seq(
      count(lit(1)).as("n"),
      sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
      sum(col("y")).as("sy"),
      sum(dec(col("x1")) * col("x1")).as("s11"),
      sum(dec(col("x1")) * col("x2")).as("s12"),
      sum(dec(col("x2")) * col("x2")).as("s22"),
      sum(dec(col("x1")) * col("y")).as("sx1y"),
      sum(dec(col("x2")) * col("y")).as("sx2y"),
      sum(dec(col("y")) * col("y")).as("syy"))
  }

  /** The 2-feature normal equations solved by Cramer's rule: A symmetric
    * = [[a,b,c],[b,d,e],[c,e,f]], rhs [g,h,i]; det = a(df−e²) − b(bf−ec)
    * + c(be−dc), and β_k replaces column k with the rhs. Fixed IEEE op
    * chains on exact operands, so the β are bit-identical across
    * engines. */
  private final case class CramerSystem(a: Column, b: Column, c: Column,
      d: Column, e: Column, f: Column, g: Column, h: Column, i: Column) {
    val det: Column = a * (d * f - e * e) - b * (b * f - e * c) +
      c * (b * e - d * c)
    val b0: Column = (g * (d * f - e * e) - b * (h * f - e * i) +
      c * (h * e - d * i)) / det
    val b1: Column = (a * (h * f - e * i) - g * (b * f - e * c) +
      c * (b * i - h * c)) / det
    val b2: Column = (a * (d * i - e * h) - b * (b * i - h * c) +
      g * (b * e - d * c)) / det

    /** β0..β2 round-6, NULL for a singular system. */
    def coefficients: Seq[Column] = Seq(
      when(det =!= 0.0, round(b0, 6)).as("b0_cents"),
      when(det =!= 0.0, round(b1, 6)).as("b1_per_qty"),
      when(det =!= 0.0, round(b2, 6)).as("b2_per_bp"))
  }

  private object CramerSystem {
    /** The system over the `cramerMoments` columns, each read through
      * `moment` (by its moment name) as a double. */
    def apply(moment: String => Column): CramerSystem = {
      val Seq(a, b, c, d, e, f, g, h, i) =
        Seq("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "sx1y", "sx2y").map(moment)
      CramerSystem(a, b, c, d, e, f, g, h, i)
    }
  }

  /** Multiple OLS in closed form — `agg_regression_manual` (one
    * regressor, per-nation) generalized to the 2-feature normal
    * equations, solved by CRAMER'S RULE entirely in-plan: price_cents ~
    * β0 + β1·quantity + β2·discount_bp over lineitem. One hash-agg
    * collects the EXACT integer moment matrix (quantity/discount-bp/
    * cents are integral; every product decimal(19,0)-seeded → 38, the
    * overflow-policy rule), then the four 3×3 determinants are explicit
    * first-row cofactor expansions on the 1-row relation — fixed IEEE
    * op chains on exact operands, bit-identical across engines, no
    * libm; only the O(1)-magnitude coefficients/R² are rounded (6).
    * The 100 TB story is the same as A4: the model fits in one partial-
    * aggregated pass (`cramerMoments`), and the solve (`CramerSystem`)
    * costs nothing at any scale. */
  def olsCramer(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir).select(cramerFeatures: _*)
      .agg(cramerMoments.head, cramerMoments.tail: _*)
    val ols = CramerSystem(cm => col(cm).cast("double"))
    import ols.{a, g, h, i, det, b0, b1, b2}
    val yy = col("syy").cast("double")
    val sse = yy - (b0 * g + b1 * h + b2 * i)
    val sst = yy - g * g / a
    m.select(col("n") +: ols.coefficients :+
      when(det =!= 0.0 && sst > 0.0, round(lit(1.0) - sse / sst, 6)).as("r2"): _*)
  }

  /** Ridge regression in closed form — `ml_ols_cramer`'s REGULARIZED twin:
    * the same exact integer moment matrix, with λ·I added to the
    * non-intercept block of the normal equations before the Cramer solve
    * (the intercept is never penalized, the standard convention). λ is a
    * PER-OBSERVATION penalty (λ = lam_per_obs·n), so the shrinkage is
    * scale-invariant in the row count — the same λ dial works at sf0.001
    * and at 100 TB. The entry emits the two-point regularization path
    * (λ/n ∈ {0, 100}): the λ=0 row must equal the OLS solve EXACTLY (the
    * spec pins it against `ml_ols_cramer`), and the λ>0 row shows the
    * coefficients the penalty actually buys. R² uses the general
    * quadratic form sse = yy − 2βᵀXᵀy + βᵀ(XᵀX)β (valid off the OLS
    * optimum, where the λ=0 shortcut isn't).
    *
    * Scale: ONE partial-aggregated pass collects the exact
    * `cramerMoments`; the per-λ `CramerSystem` solves are O(1) on a
    * broadcast 2-row λ table. No libm — fixed IEEE chains on exact operands, bit-identical
    * across engines; only the O(1) outputs are rounded (6). */
  def ridgeCramer(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir).select(cramerFeatures: _*)
      .agg(cramerMoments.head, cramerMoments.tail: _*)
    val lams = spark.createDataFrame(Seq(Tuple1(0L), Tuple1(100L)))
      .toDF("lam_per_obs")
    val j = m.crossJoin(broadcast(lams))
    val xtx = CramerSystem(cm => col(cm).cast("double"))
    import xtx.{a, b, c, d, e, f, g, h, i}
    val yy = col("syy").cast("double")
    val lam = col("lam_per_obs").cast("double") * a
    val ridge = xtx.copy(d = d + lam, f = f + lam)
    import ridge.{det, b0, b1, b2}
    val quad = b0 * b0 * a + b1 * b1 * d + b2 * b2 * f +
      lit(2.0) * b0 * b1 * b + lit(2.0) * b0 * b2 * c +
      lit(2.0) * b1 * b2 * e
    val sse = yy - lit(2.0) * (b0 * g + b1 * h + b2 * i) + quad
    val sst = yy - g * g / a
    j.select(Seq(col("lam_per_obs"), col("n")) ++ ridge.coefficients :+
        when(det =!= 0.0 && sst > 0.0, round(lit(1.0) - sse / sst, 6)).as("r2"): _*)
      .orderBy(col("lam_per_obs"))
  }

  /** K-fold cross-validation of the Cramer OLS fit — the model-SELECTION
    * leg next to `ml_ols_cramer` (the fit) and `ml_ridge_cramer` (the
    * path): 5 deterministic hash folds (md5 of the lineitem primary key —
    * the `etl_hash_split` idiom, engine-portable and stable under
    * repartition), each fold held out once, the model refit on the other
    * four, and out-of-fold RMSE reported per fold.
    *
    * The scale trick: closed-form OLS needs only the 10-moment matrix,
    * and moments are ADDITIVE over disjoint folds — so ONE corpus pass
    * hash-aggs the moments PER FOLD (5 rows), train moments are
    * total − heldout (a 1-row broadcast), and the held-out SSE expands
    * entirely in the same moments: sse = syy − 2(b0·sy + b1·sx1y +
    * b2·sx2y) + b0²n + b1²s11 + b2²s22 + 2b0b1·sx1 + 2b0b2·sx2 +
    * 2b1b2·s12. The full 5-fold CV therefore costs exactly one
    * partial-aggregated pass at 100 TB — no per-fold scans, no shuffles
    * beyond the 5-key hash-agg (vs the naive K scans a row-level CV
    * runs).
    *
    * Determinism: moments are exact integer sums (decimal(19,0)-seeded,
    * the overflow-policy rule ≡ DuckDB HUGEINT); determinants, SSE, and
    * RMSE are fixed IEEE chains on exact operands, identical expression
    * trees in both engines; sqrt follows the module's ONE-shared-formula
    * libm rule; only O(1) outputs round (6). */
  def kfoldCv(spark: SparkSession, dir: String): DataFrame = {
    val K = 5
    val li = Tables.lineitem(spark, dir).select(
      (conv(substring(md5(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), 1, 15), 16, 10).cast("long")
        % K).as("fold") +: cramerFeatures: _*)
    val fm = li.groupBy(col("fold")).agg(cramerMoments.head, cramerMoments.tail: _*)
    val tot = fm.agg(
      sum(col("n")).as("tn"),
      sum(col("sx1")).as("tsx1"), sum(col("sx2")).as("tsx2"),
      sum(col("sy")).as("tsy"),
      sum(col("s11")).as("t11"), sum(col("s12")).as("t12"),
      sum(col("s22")).as("t22"),
      sum(col("sx1y")).as("tx1y"), sum(col("sx2y")).as("tx2y"),
      sum(col("syy")).as("tyy"))
    val j = fm.crossJoin(broadcast(tot))
    // train = total − held-out fold, cast once to double (exact operands)
    val total = Map("n" -> "tn", "sx1" -> "tsx1", "sx2" -> "tsx2", "sy" -> "tsy",
      "s11" -> "t11", "s12" -> "t12", "s22" -> "t22", "sx1y" -> "tx1y", "sx2y" -> "tx2y")
    val train = CramerSystem(cm => (col(total(cm)) - col(cm)).cast("double"))
    import train.{det, b0, b1, b2}
    // held-out SSE from the held-out fold's OWN moments
    val hn = col("n").cast("double")
    val quad = b0 * b0 * hn + b1 * b1 * col("s11").cast("double") +
      b2 * b2 * col("s22").cast("double") +
      lit(2.0) * b0 * b1 * col("sx1").cast("double") +
      lit(2.0) * b0 * b2 * col("sx2").cast("double") +
      lit(2.0) * b1 * b2 * col("s12").cast("double")
    // clamp: the moment-expanded SSE cancels large doubles and can round
    // to a tiny negative on a near-perfect fold; Spark sqrt(neg) = NaN but
    // DuckDB errors, so both engines clamp to 0 and agree on that fold
    val sse = greatest(col("syy").cast("double") -
      lit(2.0) * (b0 * col("sy").cast("double") +
        b1 * col("sx1y").cast("double") + b2 * col("sx2y").cast("double")) +
      quad, lit(0.0))
    j.select(Seq(col("fold"),
        (col("tn") - col("n")).as("n_train"), col("n").as("n_test")) ++ train.coefficients :+
        when(det =!= 0.0 && col("n") > 0L,
          round(sqrt(sse / hn), 6)).as("rmse_cents"): _*)
      .orderBy(col("fold"))
  }

  /** KMV sketch MERGE — the property that makes `agg_kmv_distinct` a
    * 100 TB operator: union of sketches = sketch of the union, exactly
    * (the k smallest of the merged k-smallest sets ARE the k smallest of
    * the union). Per-source k=128-minimum-value sketches over document
    * digests, then the merged union sketch — each row carries the exact
    * distinct count as audit, so the output shows per-shard AND
    * post-merge estimate quality side by side. Deterministic end to end
    * (same md5-slice hash + single mul/div chain as the sibling entry).
    *
    * Scale: the per-source k-smallest runs as a rank-limited window —
    * Spark's WindowGroupLimit pushes the rn≤k predicate into per-
    * partition partial top-k BEFORE the shuffle, so each task ships at
    * most k rows per source; the merged sketch re-ranks ≤ k·|sources|
    * rows. Nothing data-sized crosses the wire after the distinct. */
  def kmvMerge(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val d = Tables.documents(spark, dir).select(col("source"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct().cache() // sketch pass + the two exact audits read it
    val perSrc = d.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= k).cache() // per-source stats + the merge
    val est = (nMin: Column, kth: Column) =>
      when(nMin < k.toLong, nMin.cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18) /
          kth.cast("double"))
    val srcOut = perSrc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_min"), max(col("h")).as("kth_hash"))
      .join(d.groupBy(col("source")).agg(count(lit(1)).as("n_exact")),
        "source")
    val mStats = perSrc.select(col("h")).distinct()
      .orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("n_min"), max(col("h")).as("kth_hash"))
    val merged = mStats
      .crossJoin(broadcast(
        d.select(col("h")).distinct().agg(count(lit(1)).as("n_exact"))))
      .select(lit("__union__").as("source"), col("n_min"),
        col("kth_hash"), col("n_exact"))
    srcOut.select(col("source"), col("n_min"), col("kth_hash"), col("n_exact"))
      .unionByName(merged)
      .select(col("source"), col("n_exact"), col("n_min"), col("kth_hash"),
        est(col("n_min"), col("kth_hash")).as("est_kmv"))
      .orderBy(col("source"))
  }

  /** KMV/Theta sketch INTERSECTION — the estimator family's reason to
    * prefer KMV over HLL (HLL unions; Theta also intersects): per-source
    * k-minimum sketches over the sources' distinct TRIGRAM-shingle
    * digests (the cross-source content-overlap question decontamination
    * and mixture design actually ask), θ = min of the two
    * sketches' thresholds (a sketch smaller than k is EXACT and carries
    * θ = 2^60, the full hash range), the intersection sample
    * S = {h ∈ A_min ∩ B_min : h < θ}, and the estimate |S|·2^60/θ —
    * which degrades to the EXACT intersection when both sketches are
    * exact (the property the IRS9 pin checks at toy SF, alongside an
    * exact-intersection audit column at every SF).
    *
    * Determinism: digests are the module's md5-slice 60-bit idiom, so θ
    * and all memberships are exact longs (no double boundary anywhere in
    * the sample selection); only the final estimate does IEEE arithmetic
    * (same mul/div chain as agg_kmv_distinct). Scale: per-source
    * k-smallest is the rank-limited window (WindowGroupLimit partial
    * top-k before the shuffle); the sample join is ≤ k×k rows; the exact
    * audit is one equi-join of the two distinct digest sets — drop it at
    * 100 TB and the sketch path alone never moves more than k rows per
    * source. */
  def kmvIntersect(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val full = 1L << 60 // md5 15-hex-char digests are 60-bit
    val d = Tables.documents(spark, dir)
      .filter(col("source").isin("src0", "src1"))
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")))
      .filter(col("n") >= 3)
      .select(col("source"), explode(transform(
        sequence(lit(1), col("n") - 2), i => concat_ws(" ",
          element_at(col("w"), i.cast("int")),
          element_at(col("w"), (i + 1).cast("int")),
          element_at(col("w"), (i + 2).cast("int"))))).as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct().cache() // sketch pass + the exact audit read it
    val perSrc = d.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= k).cache() // per-source stats + the sample join
    val stats = perSrc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_min"), max(col("h")).as("kth"))
      .withColumn("theta",
        when(col("n_min") < k.toLong, lit(full)).otherwise(col("kth")))
    val a = stats.filter(col("source") === "src0")
      .select(col("n_min").as("n_min_a"), col("theta").as("th_a"))
    val b = stats.filter(col("source") === "src1")
      .select(col("n_min").as("n_min_b"), col("theta").as("th_b"))
    val th = a.crossJoin(broadcast(b))
      .withColumn("theta", least(col("th_a"), col("th_b")))
    val sample = perSrc.filter(col("source") === "src0").select(col("h"))
      .join(perSrc.filter(col("source") === "src1").select(col("h")), "h")
      .crossJoin(broadcast(th.select(col("theta"))))
      .filter(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_s"))
    val exact = d.filter(col("source") === "src0").select(col("h"))
      .join(d.filter(col("source") === "src1").select(col("h")), "h")
      .agg(count(lit(1)).as("n_exact_intersect"))
    val exA = d.filter(col("source") === "src0")
      .agg(count(lit(1)).as("n_a_exact"))
    val exB = d.filter(col("source") === "src1")
      .agg(count(lit(1)).as("n_b_exact"))
    th.crossJoin(broadcast(sample)).crossJoin(broadcast(exact))
      .crossJoin(broadcast(exA)).crossJoin(broadcast(exB))
      .select(lit(k.toLong).as("k"), col("n_a_exact"), col("n_b_exact"),
        col("theta"), col("n_s"),
        (col("n_s").cast("double") * lit(1.152921504606846976e18) /
          col("theta").cast("double")).as("est_intersect"),
        col("n_exact_intersect"))
      .orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_kmv_intersect" -> (kmvIntersect _),
    "agg_kmv_merge" -> (kmvMerge _),
    "ml_ols_cramer" -> (olsCramer _),
    "ml_ridge_cramer" -> (ridgeCramer _),
    "ml_kfold_cv" -> (kfoldCv _),
    "agg_kmv_distinct" -> (kmvDistinct _),
    "agg_benford_audit" -> (benfordAudit _),
    "agg_psi_drift" -> (psiDrift _),
    "agg_mutual_info" -> (mutualInfo _),
    "agg_chi2_independence" -> (chi2Independence _),
    "ml_decision_stump" -> (decisionStump _),
    "agg_psi_windows" -> (psiWindows _),
    "agg_dp_counts" -> (dpCounts _),
    "agg_basket_pairs" -> (basketPairs _),
    "agg_pareto_bands" -> (paretoBands _),
    "agg_mode_deterministic" -> (modeDeterministic _),
    "agg_string_agg" -> (stringAgg _),
    "agg_corr_manual" -> (corrManual _),
    "agg_regression_manual" -> (regressionManual _),
    "agg_skew_kurtosis" -> (skewKurtosis _),
    "agg_gini" -> (giniCoefficient _),
    "agg_collect_roster" -> (collectRoster _),
    "agg_topk_aggregator" -> (topkPerGroup _),
    "agg_topk_native" -> (topkNative _),
    "agg_histogram" -> (histogram _),
    "agg_mad_outliers" -> (madOutliers _),
    "agg_pricing_summary" -> (pricingSummary _),
    "agg_nation_revenue"  -> (nationRevenue _),
    "agg_percentiles"     -> (percentiles _),
    "agg_weighted_median" -> (weightedMedian _),
    "agg_global_stats"    -> (globalStats _),
    "agg_approx_distinct" -> (approxDistinct _),
    "agg_quantile_sketch" -> (quantileSketch _),
    "agg_incremental_rollup" -> (incrementalRollup _),
    "agg_hll_partial"     -> (hllPartialUnion _),
    "agg_rollup_region"   -> (rollupRegionNation _),
    "agg_cube_matrix"     -> (cubeStatusPriority _),
    "agg_grouping_sets"   -> (groupingSetsMarginals _)
  )

  val oracle: Map[String, String] = Map(
    "agg_kmv_merge" ->
      """WITH d AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |ps AS (
        |  SELECT source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM d),
        |sk AS (SELECT source, h FROM ps WHERE rn <= 128),
        |src AS (
        |  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_min,
        |    CAST(MAX(s.h) AS BIGINT) AS kth_hash,
        |    CAST(MAX(e.n_exact) AS BIGINT) AS n_exact
        |  FROM sk s JOIN (
        |    SELECT source, COUNT(*) AS n_exact FROM d GROUP BY source) e
        |    ON s.source = e.source
        |  GROUP BY s.source),
        |mh AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT 128),
        |mrg AS (
        |  SELECT '__union__' AS source,
        |    CAST(COUNT(*) AS BIGINT) AS n_min,
        |    CAST(MAX(h) AS BIGINT) AS kth_hash,
        |    (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM d) AS n_exact
        |  FROM mh),
        |u AS (
        |  SELECT source, n_exact, n_min, kth_hash FROM src
        |  UNION ALL
        |  SELECT source, n_exact, n_min, kth_hash FROM mrg)
        |SELECT source, n_exact, n_min, kth_hash,
        |  CASE WHEN n_min < 128 THEN CAST(n_min AS DOUBLE)
        |    ELSE 127.0 * 1.152921504606846976e18 / CAST(kth_hash AS DOUBLE)
        |  END AS est_kmv
        |FROM u ORDER BY source""".stripMargin,
    "ml_ols_cramer" ->
      """WITH r AS (
        |  SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS x1,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
        |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
        |    SUM(CAST(x1 AS HUGEINT) * y) AS sx1y,
        |    SUM(CAST(x2 AS HUGEINT) * y) AS sx2y,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM r),
        |v AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) AS a, CAST(sx1 AS DOUBLE) AS b,
        |    CAST(sx2 AS DOUBLE) AS c, CAST(s11 AS DOUBLE) AS d,
        |    CAST(s12 AS DOUBLE) AS e, CAST(s22 AS DOUBLE) AS f,
        |    CAST(sy AS DOUBLE) AS g, CAST(sx1y AS DOUBLE) AS h,
        |    CAST(sx2y AS DOUBLE) AS i, CAST(syy AS DOUBLE) AS yy
        |  FROM m),
        |dets AS (
        |  SELECT n, a, g, h, i, yy,
        |    a * (d * f - e * e) - b * (b * f - e * c) + c * (b * e - d * c)
        |      AS det,
        |    g * (d * f - e * e) - b * (h * f - e * i) + c * (h * e - d * i)
        |      AS det0,
        |    a * (h * f - e * i) - g * (b * f - e * c) + c * (b * i - h * c)
        |      AS det1,
        |    a * (d * i - e * h) - b * (b * i - h * c) + g * (b * e - d * c)
        |      AS det2
        |  FROM v)
        |SELECT n,
        |  CASE WHEN det <> 0 THEN ROUND(det0 / det, 6) END AS b0_cents,
        |  CASE WHEN det <> 0 THEN ROUND(det1 / det, 6) END AS b1_per_qty,
        |  CASE WHEN det <> 0 THEN ROUND(det2 / det, 6) END AS b2_per_bp,
        |  CASE WHEN det <> 0 AND yy - g * g / a > 0 THEN
        |    ROUND(1.0 - (yy - ((det0 / det) * g + (det1 / det) * h +
        |      (det2 / det) * i)) / (yy - g * g / a), 6)
        |  END AS r2
        |FROM dets""".stripMargin,
    "ml_kfold_cv" ->
      """WITH r AS (
        |  SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS x1,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |fm AS (
        |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
        |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
        |    SUM(CAST(x1 AS HUGEINT) * y) AS sx1y,
        |    SUM(CAST(x2 AS HUGEINT) * y) AS sx2y,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM r GROUP BY fold),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(sx1) AS BIGINT) AS tsx1, CAST(SUM(sx2) AS BIGINT) AS tsx2,
        |    CAST(SUM(sy) AS BIGINT) AS tsy,
        |    SUM(s11) AS t11, SUM(s12) AS t12, SUM(s22) AS t22,
        |    SUM(sx1y) AS tx1y, SUM(sx2y) AS tx2y, SUM(syy) AS tyy
        |  FROM fm),
        |v AS (
        |  SELECT fold, n, tn,
        |    CAST(tn - n AS DOUBLE) AS a, CAST(tsx1 - sx1 AS DOUBLE) AS b,
        |    CAST(tsx2 - sx2 AS DOUBLE) AS c, CAST(t11 - s11 AS DOUBLE) AS d,
        |    CAST(t12 - s12 AS DOUBLE) AS e, CAST(t22 - s22 AS DOUBLE) AS f,
        |    CAST(tsy - sy AS DOUBLE) AS g, CAST(tx1y - sx1y AS DOUBLE) AS h,
        |    CAST(tx2y - sx2y AS DOUBLE) AS i,
        |    CAST(n AS DOUBLE) AS hn,
        |    CAST(sx1 AS DOUBLE) AS hx1, CAST(sx2 AS DOUBLE) AS hx2,
        |    CAST(sy AS DOUBLE) AS hy,
        |    CAST(s11 AS DOUBLE) AS h11, CAST(s12 AS DOUBLE) AS h12,
        |    CAST(s22 AS DOUBLE) AS h22,
        |    CAST(sx1y AS DOUBLE) AS hx1y, CAST(sx2y AS DOUBLE) AS hx2y,
        |    CAST(syy AS DOUBLE) AS hyy
        |  FROM fm CROSS JOIN tot),
        |dets AS (
        |  SELECT *,
        |    a * (d * f - e * e) - b * (b * f - e * c) + c * (b * e - d * c)
        |      AS det,
        |    g * (d * f - e * e) - b * (h * f - e * i) + c * (h * e - d * i)
        |      AS det0,
        |    a * (h * f - e * i) - g * (b * f - e * c) + c * (b * i - h * c)
        |      AS det1,
        |    a * (d * i - e * h) - b * (b * i - h * c) + g * (b * e - d * c)
        |      AS det2
        |  FROM v),
        |fit AS (
        |  SELECT fold, n, tn, det, hn, hx1, hx2, hy, h11, h12, h22,
        |    hx1y, hx2y, hyy,
        |    det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        |  FROM dets)
        |SELECT fold, tn - n AS n_train, n AS n_test,
        |  CASE WHEN det <> 0 THEN ROUND(b0, 6) END AS b0_cents,
        |  CASE WHEN det <> 0 THEN ROUND(b1, 6) END AS b1_per_qty,
        |  CASE WHEN det <> 0 THEN ROUND(b2, 6) END AS b2_per_bp,
        |  CASE WHEN det <> 0 AND n > 0 THEN
        |    ROUND(sqrt(GREATEST(hyy - 2 * (b0 * hy + b1 * hx1y + b2 * hx2y) +
        |      (b0 * b0 * hn + b1 * b1 * h11 + b2 * b2 * h22 +
        |       2 * b0 * b1 * hx1 + 2 * b0 * b2 * hx2 +
        |       2 * b1 * b2 * h12), 0) / hn), 6)
        |  END AS rmse_cents
        |FROM fit
        |ORDER BY fold""".stripMargin,
    "ml_ridge_cramer" ->
      """WITH r AS (
        |  SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS x1,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
        |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
        |    SUM(CAST(x1 AS HUGEINT) * y) AS sx1y,
        |    SUM(CAST(x2 AS HUGEINT) * y) AS sx2y,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM r),
        |lams(lam_per_obs) AS (
        |  VALUES (CAST(0 AS BIGINT)), (CAST(100 AS BIGINT))),
        |v AS (
        |  SELECT lam_per_obs, n,
        |    CAST(n AS DOUBLE) AS a, CAST(sx1 AS DOUBLE) AS b,
        |    CAST(sx2 AS DOUBLE) AS c,
        |    CAST(s11 AS DOUBLE) AS d, CAST(s12 AS DOUBLE) AS e,
        |    CAST(s22 AS DOUBLE) AS f,
        |    CAST(s11 AS DOUBLE)
        |      + CAST(lam_per_obs AS DOUBLE) * CAST(n AS DOUBLE) AS dl,
        |    CAST(s22 AS DOUBLE)
        |      + CAST(lam_per_obs AS DOUBLE) * CAST(n AS DOUBLE) AS fl,
        |    CAST(sy AS DOUBLE) AS g, CAST(sx1y AS DOUBLE) AS h,
        |    CAST(sx2y AS DOUBLE) AS i, CAST(syy AS DOUBLE) AS yy
        |  FROM m CROSS JOIN lams),
        |dets AS (
        |  SELECT lam_per_obs, n, a, b, c, d, e, f, g, h, i, yy,
        |    a * (dl * fl - e * e) - b * (b * fl - e * c) + c * (b * e - dl * c)
        |      AS det,
        |    g * (dl * fl - e * e) - b * (h * fl - e * i) + c * (h * e - dl * i)
        |      AS det0,
        |    a * (h * fl - e * i) - g * (b * fl - e * c) + c * (b * i - h * c)
        |      AS det1,
        |    a * (dl * i - e * h) - b * (b * i - h * c) + g * (b * e - dl * c)
        |      AS det2
        |  FROM v),
        |bs AS (
        |  SELECT lam_per_obs, n, a, b, c, d, e, f, g, h, i, yy, det,
        |    det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        |  FROM dets),
        |fin AS (
        |  SELECT lam_per_obs, n, det, b0, b1, b2,
        |    yy - 2.0 * (b0 * g + b1 * h + b2 * i)
        |      + (b0 * b0 * a + b1 * b1 * d + b2 * b2 * f
        |        + 2.0 * b0 * b1 * b + 2.0 * b0 * b2 * c + 2.0 * b1 * b2 * e)
        |      AS sse,
        |    yy - g * g / a AS sst
        |  FROM bs)
        |SELECT lam_per_obs, n,
        |  CASE WHEN det <> 0 THEN ROUND(b0, 6) END AS b0_cents,
        |  CASE WHEN det <> 0 THEN ROUND(b1, 6) END AS b1_per_qty,
        |  CASE WHEN det <> 0 THEN ROUND(b2, 6) END AS b2_per_bp,
        |  CASE WHEN det <> 0 AND sst > 0 THEN ROUND(1.0 - sse / sst, 6)
        |  END AS r2
        |FROM fin ORDER BY lam_per_obs""".stripMargin,
    "agg_kmv_intersect" ->
      """WITH toks AS (
        |  SELECT source, string_split(text, ' ') AS w
        |  FROM documents
        |  WHERE source IN ('src0', 'src1') AND len(string_split(text, ' ')) >= 3),
        |pos AS (
        |  SELECT source, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
        |d AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]),
        |      1, 15))::BIGINT AS h
        |  FROM pos),
        |ps AS (
        |  SELECT source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM d),
        |sk AS (SELECT source, h FROM ps WHERE rn <= 128),
        |st AS (
        |  SELECT source, COUNT(*) AS n_min, MAX(h) AS kth,
        |    CASE WHEN COUNT(*) < 128 THEN 1152921504606846976
        |      ELSE MAX(h) END AS theta
        |  FROM sk GROUP BY source),
        |th AS (
        |  SELECT a.n_min AS n_min_a, b.n_min AS n_min_b,
        |    LEAST(a.theta, b.theta) AS theta
        |  FROM (SELECT * FROM st WHERE source = 'src0') a
        |  CROSS JOIN (SELECT * FROM st WHERE source = 'src1') b),
        |samp AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_s
        |  FROM (SELECT h FROM sk WHERE source = 'src0') x
        |  JOIN (SELECT h FROM sk WHERE source = 'src1') y USING (h)
        |  CROSS JOIN th WHERE x.h < th.theta),
        |ex AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_intersect
        |  FROM (SELECT h FROM d WHERE source = 'src0') x
        |  JOIN (SELECT h FROM d WHERE source = 'src1') y USING (h)),
        |exa AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_a_exact
        |  FROM d WHERE source = 'src0'),
        |exb AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_b_exact
        |  FROM d WHERE source = 'src1')
        |SELECT CAST(128 AS BIGINT) AS k, exa.n_a_exact, exb.n_b_exact,
        |  th.theta, samp.n_s,
        |  CAST(samp.n_s AS DOUBLE) * 1.152921504606846976e18
        |    / CAST(th.theta AS DOUBLE) AS est_intersect,
        |  ex.n_exact_intersect
        |FROM th CROSS JOIN samp CROSS JOIN ex CROSS JOIN exa CROSS JOIN exb
        |ORDER BY k""".stripMargin,
    "agg_kmv_distinct" ->
      """WITH u AS (SELECT DISTINCT event_id FROM events),
        |h AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS h
        |  FROM u),
        |tk AS (SELECT h FROM h ORDER BY h LIMIT 256),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_min,
        |    CAST(MAX(h) AS BIGINT) AS kth_hash
        |  FROM tk),
        |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM u)
        |SELECT CAST(256 AS BIGINT) AS k, e.n_exact, s.n_min, s.kth_hash,
        |  CASE WHEN s.n_min < 256 THEN CAST(s.n_min AS DOUBLE)
        |    ELSE 255.0 * 1.152921504606846976e18 / CAST(s.kth_hash AS DOUBLE)
        |  END AS est_kmv
        |FROM s CROSS JOIN e""".stripMargin,
    "agg_benford_audit" ->
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders
        |  GROUP BY 1
        |  HAVING digit BETWEEN 1 AND 9),
        |total AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM digits),
        |exp_tab AS (
        |  SELECT * FROM (VALUES (1, 30103), (2, 17609), (3, 12494), (4, 9691),
        |    (5, 7918), (6, 6695), (7, 5799), (8, 5115), (9, 4576))
        |    AS t(digit, expected_e5))
        |SELECT CAST(d.digit AS BIGINT) AS digit, d.n_orders,
        |  d.n_orders * 100000 // t.n_total AS share_e5,
        |  CAST(e.expected_e5 AS BIGINT) AS expected_e5,
        |  abs(d.n_orders * 100000 // t.n_total - e.expected_e5) AS dev_e5
        |FROM digits d
        |JOIN exp_tab e ON d.digit = e.digit
        |CROSS JOIN total t
        |ORDER BY digit""".stripMargin,
    "ml_decision_stump" ->
      s"""WITH li AS (
        |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |    l_quantity::DOUBLE AS quantity, l_discount::DOUBLE AS discount,
        |    l_extendedprice::DOUBLE AS extendedprice
        |  FROM lineitem),
        |unp AS (
        |  SELECT 'discount' AS feature, discount AS value, y FROM li
        |  UNION ALL SELECT 'extendedprice', extendedprice, y FROM li
        |  UNION ALL SELECT 'quantity', quantity, y FROM li),
        |dv AS (
        |  SELECT feature, value, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS pos
        |  FROM unp GROUP BY 1, 2),
        |cum AS (
        |  SELECT feature, value, n, pos,
        |    SUM(n) OVER (PARTITION BY feature ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    SUM(pos) OVER (PARTITION BY feature ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |    SUM(n) OVER (PARTITION BY feature) AS n_tot,
        |    SUM(pos) OVER (PARTITION BY feature) AS pos_tot
        |  FROM dv),
        |cand AS (
        |  SELECT DISTINCT feature, value AS threshold,
        |    CAST(cum_n AS BIGINT) AS n_left, CAST(cum_pos AS BIGINT) AS pos_left,
        |    CAST(n_tot - cum_n AS BIGINT) AS n_right,
        |    CAST(pos_tot - cum_pos AS BIGINT) AS pos_right,
        |    CAST(n_tot AS BIGINT) AS n_tot, CAST(pos_tot AS BIGINT) AS pos_tot
        |  FROM cum CROSS JOIN (SELECT unnest(range(1, 20)) AS i) g
        |  WHERE i * n_tot // 20 >= 1 AND i * n_tot // 20 > cum_n - n
        |    AND i * n_tot // 20 <= cum_n AND cum_n < n_tot),
        |sc AS (
        |  SELECT *, $stumpGainSql::DECIMAL(18,9) AS gain FROM cand)
        |SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
        |  CAST(gain AS DOUBLE) AS gain,
        |  CAST(ROW_NUMBER() OVER (ORDER BY gain DESC, feature, threshold)
        |    AS BIGINT) AS rk
        |FROM sc ORDER BY rk""".stripMargin,
    "agg_chi2_independence" ->
      """WITH joint AS (
        |  SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS c_x FROM joint GROUP BY x),
        |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS c_y FROM joint GROUP BY y),
        |st AS (
        |  SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS nx,
        |    CAST(COUNT(DISTINCT y) AS BIGINT) AS ny,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM joint),
        |cells AS (
        |  SELECT f.x, f.y, f.c_x, f.c_y, COALESCE(j.c, 0) AS c_xy,
        |    (f.c_x::DOUBLE * f.c_y::DOUBLE) / s.n::DOUBLE AS e,
        |    s.nx, s.ny, s.n
        |  FROM (SELECT mx.x, my.y, mx.c_x, my.c_y FROM mx CROSS JOIN my) f
        |  LEFT JOIN joint j ON j.x = f.x AND j.y = f.y
        |  CROSS JOIN st s),
        |t AS (
        |  SELECT *, CAST(ROUND((c_xy::DOUBLE - e) * (c_xy::DOUBLE - e) / e, 6)
        |    AS DECIMAL(18,6)) AS chi2_term
        |  FROM cells)
        |SELECT x AS returnflag, y AS linestatus, CAST(c_xy AS BIGINT) AS c_xy,
        |  ROUND(e, 6) AS expected,
        |  CAST(chi2_term AS DOUBLE) AS chi2_term,
        |  CAST(SUM(chi2_term) OVER () AS DOUBLE) AS chi2_total,
        |  (nx - 1) * (ny - 1) AS dof,
        |  CASE WHEN nx > 1 AND ny > 1 THEN
        |    ROUND(sqrt(CAST(SUM(chi2_term) OVER () AS DOUBLE) /
        |      (n::DOUBLE * LEAST(nx - 1, ny - 1)::DOUBLE)), 6) END AS cramers_v
        |FROM t ORDER BY returnflag, linestatus""".stripMargin,
    "agg_mutual_info" ->
      """WITH joint AS (
        |  SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c_xy
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT x, y, c_xy,
        |    SUM(c_xy) OVER (PARTITION BY x) AS c_x,
        |    SUM(c_xy) OVER (PARTITION BY y) AS c_y,
        |    SUM(c_xy) OVER () AS n
        |  FROM joint),
        |t AS (
        |  SELECT x, y, c_xy, c_x, c_y, n,
        |    CAST(ROUND((c_xy::DOUBLE / n::DOUBLE) *
        |      ln((c_xy::DOUBLE * n::DOUBLE) / (c_x::DOUBLE * c_y::DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS mi_term
        |  FROM m)
        |SELECT x AS returnflag, y AS linestatus,
        |  CAST(c_xy AS BIGINT) AS c_xy, CAST(c_x AS BIGINT) AS c_x,
        |  CAST(c_y AS BIGINT) AS c_y, CAST(n AS BIGINT) AS n_rows,
        |  CAST(mi_term AS DOUBLE) AS mi_term,
        |  CAST(SUM(mi_term) OVER () AS DOUBLE) AS mi_nats
        |FROM t ORDER BY returnflag, linestatus""".stripMargin,
    "agg_psi_windows" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us,
        |    LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bin
        |  FROM events),
        |ref0 AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref FROM e
        |  WHERE us < 1704672000000000 GROUP BY bin),
        |ref AS (
        |  SELECT r.range AS bin, COALESCE(ref0.n_ref, 0) AS n_ref
        |  FROM range(10) r LEFT JOIN ref0 ON ref0.bin = r.range),
        |tr AS (SELECT SUM(n_ref) AS tr FROM ref),
        |curg AS (
        |  SELECT (us - us % 43200000000) - k.k * 43200000000 AS w_us, bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_cur
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        |  WHERE us >= 1704672000000000
        |  GROUP BY 1, 2),
        |frame AS (
        |  SELECT w.w_us, r.range AS bin, COALESCE(c.n_cur, 0) AS n_cur
        |  FROM (SELECT DISTINCT w_us FROM curg) w
        |  CROSS JOIN range(10) r
        |  LEFT JOIN curg c ON c.w_us = w.w_us AND c.bin = r.range),
        |tc AS (SELECT w_us, CAST(SUM(n_cur) AS BIGINT) AS tc FROM frame GROUP BY w_us),
        |terms AS (
        |  SELECT f.w_us, tc.tc,
        |    CAST(ROUND(
        |      (CAST(ref.n_ref + 1 AS DOUBLE) / CAST(tr.tr + 10 AS DOUBLE)
        |        - CAST(f.n_cur + 1 AS DOUBLE) / CAST(tc.tc + 10 AS DOUBLE))
        |      * ln((CAST(ref.n_ref + 1 AS DOUBLE) / CAST(tr.tr + 10 AS DOUBLE))
        |           / (CAST(f.n_cur + 1 AS DOUBLE) / CAST(tc.tc + 10 AS DOUBLE))), 6)
        |      AS DECIMAL(18,6)) AS term
        |  FROM frame f
        |  JOIN ref ON ref.bin = f.bin
        |  JOIN tc ON tc.w_us = f.w_us
        |  CROSS JOIN tr)
        |SELECT w_us AS w_start_us, w_us + 86400000000 AS w_end_us,
        |  tc AS n_cur, CAST(SUM(term) AS DOUBLE) AS psi
        |FROM terms GROUP BY w_us, tc
        |ORDER BY w_start_us""".stripMargin,
    "agg_psi_drift" ->
      """WITH b AS (
        |  SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bin,
        |    o_orderdate < TIMESTAMP '1998-01-01' AS is_ref
        |  FROM orders),
        |g AS (
        |  SELECT bin,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY bin),
        |f AS (
        |  SELECT r.range AS bin,
        |    COALESCE(g.n_ref, 0) AS n_ref, COALESCE(g.n_cur, 0) AS n_cur
        |  FROM range(10) r LEFT JOIN g ON g.bin = r.range),
        |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM f),
        |t AS (
        |  SELECT bin, n_ref, n_cur,
        |    CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) AS p,
        |    CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE) AS q
        |  FROM f CROSS JOIN tot),
        |x AS (
        |  SELECT bin, n_ref, n_cur, p, q,
        |    CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6)) AS psi_term
        |  FROM t)
        |SELECT bin, n_ref, n_cur,
        |  round(p, 6) AS p_ref, round(q, 6) AS p_cur,
        |  CAST(psi_term AS DOUBLE) AS psi_term,
        |  CAST((SELECT SUM(psi_term) FROM x) AS DOUBLE) AS psi_total
        |FROM x ORDER BY bin""".stripMargin,
    "agg_dp_counts" ->
      """WITH g AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_true FROM orders GROUP BY 1),
        |n AS (
        |  SELECT o_orderpriority, n_true,
        |    (('0x' || substr(md5('dp:' || o_orderpriority), 1, 8))::BIGINT + 1)
        |      / 4294967296.0 AS u
        |  FROM g),
        |x AS (
        |  SELECT o_orderpriority, n_true,
        |    round(CASE WHEN u < 0.5 THEN 1.0 * ln(u * 2.0)
        |               ELSE -1.0 * ln((1.0 - u) * 2.0) END, 6) AS noise
        |  FROM n)
        |SELECT o_orderpriority, n_true, noise,
        |  GREATEST(CAST(0 AS BIGINT), CAST(round(n_true + noise) AS BIGINT)) AS n_released
        |FROM x ORDER BY o_orderpriority""".stripMargin,
    "agg_basket_pairs" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS support
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY a.p, b.p)
        |SELECT part_a, part_b, support FROM pairs
        |ORDER BY support DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    "agg_pareto_bands" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (
        |  SELECT ROUND(quantile_cont(cents, 0.5), 6) AS c5,
        |         ROUND(quantile_cont(cents, 0.9), 6) AS c9 FROM c),
        |d AS (
        |  SELECT CASE WHEN cents <= c5 THEN 'bottom50'
        |              WHEN cents <= c9 THEN 'mid40'
        |              ELSE 'top10' END AS band,
        |    cents FROM c, cuts),
        |b AS (
        |  SELECT band, COUNT(*) AS n_customers,
        |    CAST(SUM(cents) AS BIGINT) AS band_cents FROM d GROUP BY band),
        |w AS (
        |  SELECT band, n_customers, band_cents,
        |    CAST(SUM(band_cents) OVER () AS HUGEINT) AS tot
        |  FROM b)
        |SELECT band, n_customers, band_cents,
        |  CAST(CAST(band_cents AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_micro
        |FROM w ORDER BY band""".stripMargin,
    "agg_mode_deterministic" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY l_returnflag ORDER BY n DESC, l_quantity DESC) AS rn
        |  FROM c)
        |SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS mode_qty,
        |  n AS n_mode
        |FROM r WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin,
    "agg_string_agg" ->
      """SELECT r_name,
        |  COUNT(*) AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "agg_corr_manual" ->
      """WITH l AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy
        |  FROM l GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ROUND((n * sxy - sx * sy) / (n * n), 6) AS covar_pop,
        |  ROUND((n * sxy - sx * sy)
        |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_xy
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_gini" ->
      """WITH c AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, x,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY o_orderpriority ORDER BY x, o_orderkey) AS BIGINT) AS i
        |  FROM c),
        |s AS (
        |  SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(i * x) AS BIGINT) AS six
        |  FROM r GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n,
        |  CAST(2 * six - (n + 1) * sx AS DOUBLE)
        |    / CAST(n * sx AS DOUBLE) AS gini
        |FROM s ORDER BY o_orderpriority""".stripMargin,
    "agg_skew_kurtosis" ->
      """WITH s AS (
        |  SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS s1,
        |    CAST(SUM(x * x) AS DOUBLE) AS s2,
        |    CAST(SUM(x * x * x) AS DOUBLE) AS s3,
        |    CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
        |  FROM (SELECT o_orderpriority,
        |          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS HUGEINT) AS x
        |        FROM orders)
        |  GROUP BY o_orderpriority),
        |c AS (
        |  SELECT o_orderpriority, n,
        |    s1 / n AS mu, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
        |  FROM s),
        |m AS (
        |  SELECT o_orderpriority, n,
        |    r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM c)
        |SELECT o_orderpriority, n,
        |  ROUND(m3 / (sqrt(m2) * m2), 6) AS skew_pop,
        |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurt_excess
        |FROM m ORDER BY o_orderpriority""".stripMargin,
    "agg_regression_manual" ->
      """WITH l AS (
        |  SELECT n_name,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS y
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey),
        |s AS (
        |  SELECT n_name, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy
        |  FROM l GROUP BY n_name),
        |sl AS (
        |  SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw
        |  FROM s)
        |SELECT n_name, n,
        |  ROUND(slope_raw, 6) AS slope,
        |  ROUND((sy - slope_raw * sx) / n, 6) AS intercept,
        |  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM sl ORDER BY n_name""".stripMargin,
    "agg_collect_roster" ->
      """SELECT r_name,
        |  array_to_string(list_sort(array_agg(n_name)), ',') AS nations,
        |  array_to_string(list_sort(list_distinct(array_agg(substr(n_name, 1, 1)))), ',') AS initials,
        |  COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "agg_mad_outliers" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type, quantile_cont(cents, 0.5) AS med
        |  FROM e GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, ABS(e.cents - m.med) AS adev, m.med
        |  FROM e JOIN med m ON e.event_type = m.event_type),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type,
        |  COUNT(*) AS n_events,
        |  MIN(d.med) AS med_cents,
        |  MIN(a.mad) AS mad_cents,
        |  COUNT(CASE WHEN d.adev > 4.4478 * a.mad THEN 1 END) AS n_outliers
        |FROM dev d JOIN mad a ON d.event_type = a.event_type
        |GROUP BY d.event_type
        |ORDER BY d.event_type""".stripMargin,
    "agg_histogram" ->
      """WITH band AS (
        |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
        |c AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE LEAST(19, CAST(FLOOR((o_totalprice - lo)
        |      / ((hi - lo) / 20.0)) AS BIGINT)) END AS bucket,
        |    COUNT(*) AS n_orders
        |  FROM orders, band GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(0, 19)) AS bucket)
        |SELECT CAST(spine.bucket AS BIGINT) AS bucket,
        |  COALESCE(c.n_orders, 0) AS n_orders
        |FROM spine LEFT JOIN c ON spine.bucket = c.bucket
        |ORDER BY bucket""".stripMargin,
    "agg_topk_native" ->
      """WITH t AS (
        |  SELECT o_orderpriority,
        |    (array_agg(o_orderkey ORDER BY o_totalprice DESC, o_orderkey))[1:3] AS keys
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        |  CAST(unnest(generate_series(0, len(keys) - 1)) AS BIGINT) AS pos,
        |  unnest(keys) AS o_orderkey
        |FROM t
        |ORDER BY o_orderpriority, pos""".stripMargin,
    "agg_topk_aggregator" ->
      """WITH t AS (
        |  SELECT o_orderpriority,
        |    (array_agg(o_orderkey ORDER BY o_totalprice DESC, o_orderkey))[1:3] AS keys
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        |  CAST(unnest(generate_series(0, len(keys) - 1)) AS BIGINT) AS pos,
        |  unnest(keys) AS o_orderkey
        |FROM t
        |ORDER BY o_orderpriority, pos""".stripMargin,
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |HAVING COUNT(*) > 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_nation_revenue" ->
      """SELECT n_name,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_order_value,
        |  COUNT(DISTINCT c_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "agg_percentiles" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_weighted_median" ->
      """WITH s AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |      PARTITION BY l_returnflag) AS totw
        |  FROM lineitem)
        |SELECT l_returnflag, MIN(price) AS weighted_median
        |FROM s WHERE 2 * cumw >= totw
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // deliberately the DIRECT aggregation: re-aggregating partials must
    // be lossless
    "agg_incremental_rollup" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_quantile_sketch" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.49), 4) AS p49,
        |  ROUND(quantile_cont(o_totalprice, 0.51), 4) AS p51,
        |  COUNT(*) AS n_orders,
        |  TRUE AS median_ok
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_rollup_region" ->
      """SELECT r_name, n_name,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
        |  CAST(GROUPING(r_name) AS BIGINT) AS g_region,
        |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin,
    "agg_cube_matrix" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin,
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  TRUE AS parts_ok,
        |  TRUE AS supps_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_hll_partial" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT month(o_orderdate)) AS BIGINT) AS n_partials,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  TRUE AS union_ok
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_global_stats" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem""".stripMargin
  )
}
