package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det._

/** Event-stream analytics as batch queries over the `events` table —
  * SURVEY.md §7.5: windowed counts, sessions, interval joins and online
  * detectors, each written as a Catalyst plan the DuckDB oracle checks.
  *
  * Scale notes: tumbling aggregation is a plain hash-agg on (window, type)
  * — map-side partials apply. Sessionization is the gaps-and-islands
  * pattern: one shuffle on user_id, then two window passes inside each
  * partition — no cross-user data movement, skew bounded by max events
  * per user.
  */
object Events {

  /** Tumbling 1-hour windowed aggregation. */
  def tumblingHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("hour_start", date_trunc("hour", col("ts")))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Sliding (hopping) window aggregation — 3-hour windows advancing every
    * hour, so each event contributes to 3 overlapping windows. This is one
    * Expand (×3 rows, the width/slide ratio) + a hash agg; the Expand is
    * map-side, BEFORE the shuffle, so partial
    * aggregation still collapses each task's output to |windows|·|types|
    * rows — the amplification never crosses the wire. Oracle: each event's
    * member windows enumerated with a 3-value offset cross join. */
  def slidingThreeHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "3 hours", "1 hour").as("win"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(col("win").getField("start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** EXACT distinct users per sliding 3-hour window (1-hour hop) — the
    * sliding twin of tumblingHour's `countDistinct`. Naive sliding-distinct
    * recomputes the distinct set per overlapping window (×3 the raw data
    * over the wire). This plan never ships a raw event: (1) dedup to
    * (user, hour) pairs — a hash-agg with map-side partials that collapses
    * each user's burst within an hour to one row; (2) map-side explode of
    * the 3 covering window starts (amplification happens on the ALREADY
    * deduped relation); (3) dedup (user, window) — a user active in 2 of a
    * window's 3 member hours must count once; (4) count per window. At
    * 100 TB the wire cost is bounded by |users|·|hours| per stage, not by
    * event volume, and every stage is a partial-agg-friendly hash-agg. */
  def slidingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val userHours = e
      .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .distinct()
    val userWindows = userHours
      .select(explode(sequence(lit(0), lit(2))).as("k"), col("h"), col("user_id"))
      .select(col("h") - expr("make_interval(0, 0, 0, 0, k, 0, 0)").as("off"),
        col("user_id"))
      .toDF("window_start", "user_id")
      .distinct()
    userWindows.groupBy(col("window_start"))
      .agg(count(lit(1)).as("n_distinct_users"))
      .orderBy(col("window_start"))
  }

  /** Sliding-window distinct via MERGEABLE HLL partials — the sketch path
    * that takes over from events_sliding_distinct when the per-window
    * distinct sets themselves get huge: ONE scan builds an hourly sketch
    * per hour (the partial a daily job persists), and each window is a
    * lossless union of its 3 member sketches — re-aggregation without
    * rescanning raw data, the same persist-partials algebra as
    * agg_hll_partial but over overlapping windows (each partial feeds 3
    * unions; the explode is over |hours| sketch rows, not events).
    * Invariant-oracled: exact sliding distinct (the oracled twin's shape)
    * + a within-25% estimate flag pinned TRUE (lgK=12 ⇒ ~1.6% rsd;
    * sparse-mode HLL is near-exact at harness cardinalities). */
  def slidingHllUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e
      .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .groupBy(col("h")).agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = hourly
      .select(explode(sequence(lit(0), lit(2))).as("k"), col("h"), col("sk"))
      .select((col("h") - expr("make_interval(0, 0, 0, 0, k, 0, 0)"))
        .as("window_start"), col("sk"))
      .groupBy(col("window_start"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = slidingDistinctUsers(spark, dir)
      .withColumnRenamed("n_distinct_users", "n_exact")
    est.join(exact, "window_start")
      .select(col("window_start"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.25).as("union_ok"))
      .orderBy(col("window_start"))
  }

  /** Sessionization with a 30-minute inactivity gap: lag → gap flag →
    * running sum = session id. */
  def sessionization(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val flagged = e
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Engine-native sessionization twin: the same 30-minute-gap sessions
    * via Spark's built-in `session_window()` run in BATCH mode — the
    * Structured-Streaming sessionizer's grouping expression as a plain
    * aggregate, planned with session merging instead of a lag window.
    * The oracle re-derives the sessions gaps-and-islands style with the
    * boundary rule matched to session_window's documented merge
    * semantics: windows are [ts, ts+gap) and merge only when the next
    * event lands STRICTLY inside, so a gap of exactly 30:00 STARTS a new
    * session (`>=` in the oracle, where `events_sessionization`'s own
    * convention uses `>`). Session bounds are reported as min/max event
    * time (not the padded window end) to stay engine-portable. */
  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("tst", col("ts").cast("timestamp"))
    e.groupBy(col("user_id"), session_window(col("tst"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("tst"))).as("start_us"),
        max(unix_micros(col("tst"))).as("end_us"),
        dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** Resample + gap-fill — the calendar-spine operator time-series
    * reporting needs and plain groupBy can't produce: hours with NO events
    * must still appear (count 0), or downstream rates/averages silently
    * skip gaps. The spine is `sequence(min_hour, max_hour, 1h)` exploded
    * from a 1-row span aggregate — time-bounded, NOT data-bounded, so the
    * grid (spine × event types) stays a few thousand rows at any corpus
    * size; observed counts left-join onto it. The spine×types cross join
    * is two bounded relations (documented in PlanSpec's nested-loop
    * allowlist). */
  def resampleGapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val span = e.agg(min(col("hour_start")).as("lo"), max(col("hour_start")).as("hi"))
    val spine = span.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_start"))
    val types = e.select(col("event_type")).distinct()
    val agg = e.groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    spine.crossJoin(types)
      .join(agg, Seq("hour_start", "event_type"), "left")
      .select(col("hour_start"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Per-row ML feature derivation (X11/X12): log1p/expm1 round-trip,
    * engagement score — the reference's feature-prep surface on orders.
    * ln() is libm-dependent → rounded to 6; the round-trip flag is exact.
    * Ref: /root/reference/code/01_DataPreprocessing.scala:247-248,299-306;
    * 04_MachineLearning.scala:323-324. */
  def featurePrep(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
        col("o_orderkey"),
        round(log1p(col("o_totalprice")), 6).as("log_price"),
        when(abs(expm1(log1p(col("o_totalprice"))) - col("o_totalprice")) < 1e-6, 1L)
          .otherwise(0L).as("roundtrip_ok"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        (round(log1p(col("o_totalprice")), 6) * 2.0 +
          month(col("o_orderdate"))).as("engagement"))
      .orderBy(col("o_orderkey"))
  }

  /** LEAKAGE-SAFE standardization — the fit-on-train/transform-all
    * discipline as a relation, the preprocessing contract every ML
    * pipeline at scale must honor (fitting the scaler on the full table
    * leaks test statistics into training features). Split assignment is
    * the deterministic md5 scheme of etl_hash_split (replayable, no
    * seed-state coupling to partition layout); μ/σ come from the TRAIN
    * partition only and broadcast back over every split as a 1-row
    * relation (the A4 in-plan scalar pattern — no driver collect).
    * All moments are exact decimal power sums (Det stance): n, Σx, Σx²
    * per split collapse map-side, and every derived double (μ, σ²,
    * per-split mean/var of z) is a fixed expression tree over those
    * exact sums — bit-identical in both engines, then rounded 6dp.
    * Self-check built into the output: the train row must read
    * mean_z=0, var_z=1; the test/valid rows DIFFER from (0,1) exactly
    * because their statistics never contaminated the fit. */
  def standardizeNoLeak(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 1)
    val dec = col("o_totalprice").cast(DecimalType(18, 2))
    val moments = Tables.orders(spark, dir)
      .groupBy(
        when(h.isin("c", "d"), "valid")
          .when(h.isin("e", "f"), "test")
          .otherwise("train").as("split"))
      .agg(count(lit(1)).as("n"),
        sum(dec).cast("double").as("s1"),
        sum(dec * dec).cast("double").as("s2"))
    val train = moments.filter(col("split") === "train")
      .select((col("s1") / col("n")).as("m"),
        (col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))).as("v"))
    moments.crossJoin(broadcast(train))
      .select(col("split"), col("n"),
        round((col("s1") / col("n") - col("m")) / sqrt(col("v")), 6).as("mean_z"),
        round((col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
          / col("v"), 6).as("var_z"))
      .orderBy(col("split"))
  }

  /** The as-of family's side-tagged union: every click as
    * `(user_id, ts_us, side = clickSide, event_id)` with NULL purchase
    * columns, and every purchase — deduped per (user, ts) to its max
    * event_id, so tie behavior is deterministic on any input — as
    * `(p_id, p_ts_us)` on the other side. Ordered by `asofOrder`, side 1
    * sorts after side 0 at the same instant, so `clickSide` = 1 puts
    * same-instant purchases before a click and 0 after it. */
  private def asofUnion(spark: SparkSession, dir: String, clickSide: Int): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("p_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    clicks
      .select(col("user_id"), col("ts_us"), lit(clickSide).as("side"),
        col("event_id"), lit(null).cast("long").as("p_id"),
        lit(null).cast("long").as("p_ts_us"))
      .unionByName(purchases
        .select(col("user_id"), col("ts_us"), lit(1 - clickSide).as("side"),
          lit(null).cast("long").as("event_id"), col("p_id"),
          col("ts_us").as("p_ts_us")))
  }

  /** The as-of family's per-user merge order over `asofUnion`. */
  private val asofOrder = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_us"), col("side"), col("event_id"))

  /** AS-OF JOIN — an operator Spark lacks natively, built by COMPOSITION
    * (SURVEY.md §2.12 preference (a)): each click is matched to the same
    * user's latest purchase at-or-before its timestamp.
    *
    * Formulation: union both sides with a side marker, one window per
    * user ordered by (ts, side, event_id) — purchases sort before a click
    * at the same instant, so `<=` semantics hold — and
    * last_value(ignoreNulls) carries the most recent purchase forward;
    * filter back to clicks (`asofUnion` with clickSide 1, `asofOrder`).
    * ONE shuffle on user_id and a per-key sort: the same cost profile as a
    * sort-merge join, no range explosion, no broadcast requirement — the
    * scalable as-of shape.
    *
    * Oracle: DuckDB's NATIVE `ASOF LEFT JOIN` — two independent
    * implementations of the operator must agree row-for-row. */
  def asofClicks(spark: SparkSession, dir: String): DataFrame = {
    val w = asofOrder.rowsBetween(Window.unboundedPreceding, 0)
    asofUnion(spark, dir, clickSide = 1)
      .withColumn("asof_p_id", last(col("p_id"), ignoreNulls = true).over(w))
      .withColumn("asof_p_ts_us", last(col("p_ts_us"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_p_id"), col("asof_p_ts_us"))
      .orderBy(col("event_id"))
  }

  /** Interval join: each click matched to same-user purchases within the
    * preceding hour. Scale: that of `intervalJoin`. */
  def intervalClicks(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(spark, dir, "inner")

  /** Clicks joined to same-user purchases in the preceding hour
    * (`purchase_us ∈ [click_us − 1 h, click_us]`) with `joinType`. The
    * join key is user_id (plain shuffle join); the time range is a
    * post-join predicate. */
  private def intervalJoin(spark: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val e = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("click_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts_us").as("purchase_us"))
    c.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_us") >= col("click_us") - lit(3600L * 1000000L) &&
        col("purchase_us") <= col("click_us"),
        joinType)
      .select(col("click_id"), col("user_id"), col("click_us"),
        col("purchase_id"), col("purchase_us"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** FORWARD as-of join — the time-reversed variant (pandas
    * merge_asof(direction='forward')): each click matched to the same
    * user's EARLIEST purchase at-or-after its timestamp ("time to next
    * conversion"). One shuffle over `asofUnion` with clickSide 0, the
    * carry reversed: the `asofOrder` window ranges over FOLLOWING rows and
    * takes the first non-null purchase. Purchases sort after clicks at the
    * same instant, so `>=` semantics hold. Oracle: DuckDB's
    * native ASOF LEFT JOIN with a `<=` condition (direction inferred). */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val w = asofOrder.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    asofUnion(spark, dir, clickSide = 0)
      .withColumn("next_p_id", first(col("p_id"), ignoreNulls = true).over(w))
      .withColumn("next_p_ts_us", first(col("p_ts_us"), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("next_p_id"), col("next_p_ts_us"))
      .orderBy(col("event_id"))
  }

  /** As-of NEAREST (pandas merge_asof(direction='nearest')): each click
    * takes whichever same-user purchase is closer in time — backward or
    * forward — with ties to the backward (earlier) match, the attribution
    * rule "closest touchpoint wins". One `asofUnion` + ONE shuffle on
    * user_id carries BOTH directional `asofOrder` window passes (last-non-null
    * preceding and first-non-null following over the same sorted
    * partition); the pick is a pure projection on the two candidates.
    * Same-ts purchases sort before the click (side order), so they are
    * backward delta-0 matches — and since backward wins ties, the oracle's
    * inclusive-both-directions native ASOF pair resolves to the identical
    * purchase even where the directional windows disagree on who "sees"
    * the equal timestamp. */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val wb = asofOrder.rowsBetween(Window.unboundedPreceding, 0)
    val wf = asofOrder.rowsBetween(0, Window.unboundedFollowing)
    val backWins = col("f_ts").isNull ||
      (col("b_ts").isNotNull && col("ts_us") - col("b_ts") <= col("f_ts") - col("ts_us"))
    asofUnion(spark, dir, clickSide = 1)
      .withColumn("b_id", last(col("p_id"), ignoreNulls = true).over(wb))
      .withColumn("b_ts", last(col("p_ts_us"), ignoreNulls = true).over(wb))
      .withColumn("f_id", first(col("p_id"), ignoreNulls = true).over(wf))
      .withColumn("f_ts", first(col("p_ts_us"), ignoreNulls = true).over(wf))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(backWins, col("b_id")).otherwise(col("f_id")).as("near_p_id"),
        when(backWins, col("b_ts")).otherwise(col("f_ts")).as("near_p_ts_us"))
      .orderBy(col("event_id"))
  }

  /** As-of with TOLERANCE (pandas merge_asof(tolerance=...)): the backward
    * match is kept only when the matched purchase is within 1 hour of the
    * click — staler matches are nulled out, which is how feature pipelines
    * avoid attributing conversions to ancient events. Composition over
    * asofClicks: the tolerance is a projection on the matched columns, so
    * the join cost is identical and the oracle wraps the same native ASOF
    * with one CASE. */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ToleranceUs = 3600L * 1000000L
    val within = col("asof_p_ts_us").isNotNull &&
      col("ts_us") - col("asof_p_ts_us") <= ToleranceUs
    asofClicks(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(within, col("asof_p_id")).as("tol_p_id"),
        when(within, col("asof_p_ts_us")).as("tol_p_ts_us"))
      .orderBy(col("event_id"))
  }

  /** LEFT-OUTER interval join: every click survives; clicks with no
    * same-user purchase in the preceding hour carry null purchase columns,
    * from a plain left join under the same predicate. Scale: that of
    * `intervalJoin` — shuffle join on user_id, the range predicate
    * post-filters. */
  def intervalClicksLeft(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(spark, dir, "left_outer")

  /** The SAME as-of semantics through the custom physical operator
    * (graft.plans.AsOfJoinExec, extension tier (c)) — shares the DuckDB
    * native-ASOF oracle with join_asof_clicks, so the driver's hash gate
    * verifies the custom SparkPlan directly. */
  def asofClicksCustom(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("event_id")).as("asof_p_id"))
      .select(col("asof_p_id"), col("p_user_id"), col("p_ts_us"))
    graft.plans.AsOfJoinPlan.asofJoin(
        clicks, purchases,
        clicks("user_id"), clicks("ts_us"),
        purchases("p_user_id"), purchases("p_ts_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_p_id"), col("p_ts_us").as("asof_p_ts_us"))
      .orderBy(col("event_id"))
  }

  /** Rate-anomaly detection — the monitoring query every 24/7 pipeline
    * runs over its own event volumes: per (event_type, hour) counts
    * flagged where the count sits more than 3σ from that type's mean
    * hourly rate. The whole 3σ test runs in EXACT integer arithmetic —
    * z² > 9 rewritten as (n·cnt − total)² > 9·(n·sumsq − total²) over
    * BIGINT sums — so there is no float anywhere and the flag is
    * bit-identical in any engine at any partitioning (magnitudes: cnt ≤
    * 1e6, hours n ≤ 1e5 ⇒ every product < 2^63 up to sf ~1e3).
    * Scale shape: one hash-agg to hourly counts, one |types|-row stats
    * agg broadcast back, one projection — the raw stream is aggregated
    * before anything joins. */
  def rateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .groupBy(col("event_type"), col("hour_start"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("cnt")).as("total"),
        sum(col("cnt") * col("cnt")).as("sumsq"))
    val dev = col("n_hours") * col("cnt") - col("total")
    val nvar = col("n_hours") * col("sumsq") - col("total") * col("total")
    hourly.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("hour_start"), col("cnt"),
        (dev * dev > lit(9L) * nvar).as("is_anomaly"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Running distinct-user counts per event type — "cumulative uniques
    * over time", the growth metric Spark has no native windowed
    * COUNT(DISTINCT) for. The standard re-expression: distinct collapses
    * to each user's FIRST day (one hash-agg — the only pass over raw
    * events), daily new-user counts (second agg, |types|·|days| rows),
    * then a running sum via a window over that tiny aggregated relation,
    * partitioned by type (the catalog's no-window-over-raw-input rule
    * holds). Exact integers throughout — fully oracled. */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    firstDay.groupBy(col("event_type"), col("first_day"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum(col("n_new_users"))
        .over(Window.partitionBy(col("event_type")).orderBy(col("first_day"))))
      .orderBy(col("event_type"), col("first_day"))
  }

  /** Event-type transition matrix — the Markov-chain summary behavior
    * models start from (next-event features, funnel leak detection):
    * per-user event streams in (ts, event_id) order yield (prev → next)
    * pairs via one per-user lag window, collapsed into a |types|²-bounded
    * count matrix by hash-agg. The window partitions by user_id — per-user
    * streams are short, no global sort — and event_id breaks timestamp
    * ties so the sequence (and thus the matrix) is deterministic. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Conditional-reset running sum — the "budget since last purchase"
    * shape (rate-limiter / spend-tracker semantics). A truly recursive
    * reset is non-associative, but the reset-AT-marker variant lowers to
    * two associative passes: a per-user window counting PRIOR purchase
    * events assigns each row a segment number (the count frame ends at -1
    * so the purchase row itself STARTS its new segment's predecessor —
    * i.e. segments are delimited exactly at purchases), then one hash-agg
    * per (user, segment). Both passes partition on user_id — one shuffle,
    * reused by window and agg (Catalyst collapses the exchange). Output
    * is bounded by |purchases| + |users|, not |events|. */
  def resetRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").cast("decimal(18,2)").as("v"))
      .withColumn("seg_no",
        count(when(col("event_type") === "purchase", 1)).over(w))
      .groupBy(col("user_id"), col("seg_no"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("seg_value"))
      .orderBy(col("user_id"), col("seg_no"))
  }

  /** Exact time-weighted average (TWAP): each event's value "holds" until
    * the user's next event; the mean is Σ value·holdtime / Σ holdtime.
    * All arithmetic is integer-exact — cents × microseconds accumulated in
    * DECIMAL(38,0) (a cents·µs product reaches ~1.5e18, too close to the
    * int64 edge to sum in BIGINT), and the final division is integral
    * (`div`, truncating; both operands are non-negative so truncation ==
    * floor). Oracle-side the quotient is taken in HUGEINT, because
    * DuckDB's `//` on DECIMAL operands silently returns DOUBLE — lossy
    * above 2^53 (integer division is spelled per engine throughout).
    * One lead() window and one hash-agg, both partitioned on
    * user_id; output is |users|-bounded. */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("nxt", lead(col("ts_us"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(col("cents").cast("decimal(38,0)") * (col("nxt") - col("ts_us"))).as("numer"),
        sum((col("nxt") - col("ts_us")).cast("decimal(38,0)")).as("denom"),
        count(lit(1)).as("n_holds"))
      .where(col("denom") > 0)
      .select(col("user_id"), col("n_holds"),
        col("denom").cast("long").as("span_us"),
        expr("CAST(numer div denom AS BIGINT)").as("twap_cents"))
      .orderBy(col("user_id"))
  }

  /** Day-of-week seasonal index — the first decomposition cut on any
    * event series: per-weekday mean spend divided by the global mean.
    * The weekday is computed PORTABLY as (epoch_days + 4) % 7 (0=Sunday;
    * 1970-01-01 was a Thursday) — engine dayofweek() conventions disagree
    * (Spark 1=Sunday, DuckDB 0=Sunday) and integer arithmetic sidesteps
    * the whole dialect. Sums are exact decimal; the index is a chain of
    * IEEE divisions on deterministic inputs, bit-identical everywhere.
    * One 7-row hash-agg plus a 1-row global broadcast back — the A4
    * no-driver-scalar pattern. */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    // div, not `/`: Column./ on longs is DOUBLE division, and truncating
    // the rounded double can land one day off near exact-midnight stamps
    val e = Tables.events(spark, dir).select(
      expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
      col("value").cast("decimal(18,2)").as("v"))
    val byDow = e.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).cast("double").as("sum_value"))
    val global = e.agg(count(lit(1)).as("n_tot"), sum(col("v")).cast("double").as("sum_tot"))
    byDow.crossJoin(broadcast(global))
      .select(col("dow"), col("n_events"), col("sum_value"),
        ((col("sum_value") / col("n_events")) / (col("sum_tot") / col("n_tot")))
          .as("seasonal_index"))
      .orderBy(col("dow"))
  }

  /** Overlapping-interval coalescing (merge islands) — the OTHER
    * gaps-and-islands: sessionization splits on a fixed max GAP between
    * points; here each interval carries its own explicit END, and islands
    * merge while the next interval STARTS before the running max end so
    * far (downtime windows, maintenance coverage, validity merging).
    * Intervals are purchases held open for their spend in cent-seconds —
    * deterministic integer endpoints. Three window passes (running max
    * end over a 1-PRECEDING frame → new-island flag → running island id)
    * and one hash-agg, ALL partitioned on user_id: one shuffle total,
    * Catalyst collapses the window exchanges. */
  def intervalCoalesce(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("s_us"), col("event_id"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upto = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) +
          (col("value").cast("decimal(18,2)") * 100).cast("long") * 1000000L).as("e_us"))
      .withColumn("prev_max", max(col("e_us")).over(prior))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("s_us") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(upto))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s_us")).as("start_us"), max(col("e_us")).as("end_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy(col("user_id"), col("island"))
  }

  /** Peak concurrency by sweep-line — the "max simultaneous open
    * intervals" statistic (max concurrent sessions/streams/locks) over
    * the same per-user value-length purchase intervals as
    * `events_interval_coalesce`: stack (+1 at start, −1 at end), order
    * by (time, delta) so half-open semantics release an ending interval
    * before an equal-timestamp start joins, running-sum the deltas, take
    * the per-user max. Ties among equal (t, delta) rows permute which ROW
    * carries which running value but never the SET of values a partition
    * produces, so the per-user MAX is deterministic with no further
    * tiebreak — the classic sweep-line argument.
    *
    * Scale: one user_id-partitioned window + one hash-agg on the SAME
    * key — a single shuffle; output is |users|-bounded. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) +
          (col("value").cast("decimal(18,2)") * 100).cast("long") * 1000000L).as("e_us"))
    val pts = iv.select(col("user_id"), col("s_us").as("t"), lit(1L).as("delta"))
      .unionByName(iv.select(col("user_id"), col("e_us").as("t"), lit(-1L).as("delta")))
    val sweep = Window.partitionBy(col("user_id")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts
      .withColumn("open", sum(col("delta")).over(sweep))
      .groupBy(col("user_id"))
      .agg(expr("count(1) div 2").as("n_intervals"),
        max(col("open")).as("peak_concurrency"))
      .orderBy(col("user_id"))
  }

  /** Rate-limiter audit — burst detection over a trailing value-based
    * window: an event is throttled when its user's trailing-hour count
    * (RANGE frame on epoch seconds, peers enter together so tie order
    * can't matter) exceeds the budget of 2. The per-event flags collapse
    * to a |users|-bounded violation report: events audited, events
    * throttled, peak trailing rate. The RANGE frame + hash-agg share the
    * one user_id shuffle — the same shape a streaming throttler's state
    * audit runs in batch over the log. */
  def rateLimiter(spark: SparkSession, dir: String): DataFrame = {
    val wr = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3599, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("ts_s"))
      .withColumn("trailing_n", count(lit(1)).over(wr))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("trailing_n") > 2, 1L).otherwise(0L)).as("n_throttled"),
        max(col("trailing_n")).as("peak_rate"))
      .orderBy(col("user_id"))
  }

  /** DAU / WAU stickiness — the product-analytics ratio every growth
    * dashboard leads with. The WAU side is the persist-partials
    * sliding-distinct shape (events_sliding_distinct) at day granularity:
    * dedup to (user, day) FIRST (wire cost |users|·|days|, never event
    * volume), explode each active day into its 7 member window-ends
    * map-side, dedup (user, window), count. Stickiness is an exact
    * integral micro-ratio — both operands positive counts, floor ==
    * truncation. Day index is the portable epoch_us div 86400e6. */
  def dauStickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("g"), col("d"))
      .select(col("user_id"), (col("d") + col("g")).as("w"))
      .distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("d") === wau("w"))
      .select(col("d").as("day_idx"), col("dau"), col("wau"),
        expr("CAST(dau * 1000000L div wau AS BIGINT)").as("stickiness_micro"))
      .orderBy(col("day_idx"))
  }

  /** EXACT distinct counting via mergeable BITMAP partials — the
    * bitmap-index technique warehouses use when approximate (HLL) isn't
    * acceptable but plain COUNT(DISTINCT) re-scans are too expensive.
    * Dense integer ids are blocked into 64-id words: each (day, block)
    * partial is ONE BIGINT whose set bits mark the block's active users
    * (`bit_or` of single-bit masks — associative, map-side combinable).
    * The partials then answer BOTH granularities without touching raw
    * events again: per-day counts are `sum(bit_count(word))`, and the
    * all-days total re-merges the SAME partials with a second `bit_or`
    * across days before popcounting — the re-aggregation that
    * COUNT(DISTINCT) fundamentally can't do (its per-day answers don't
    * merge) and the reason bitmap partials are the exact-dedup layout at
    * 100 TB: state per (day, block) is 8 bytes, shuffle is bounded by
    * |active blocks|, never event volume. The DuckDB oracle runs the
    * direct COUNT(DISTINCT) at both granularities — the bitmap path must
    * reproduce it bit-for-bit. Day index is the portable
    * `epoch_us div 86400e6` (same as dauStickiness). */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val partials = Tables.events(spark, dir)
      .select(
        expr("unix_micros(ts) div 86400000000").as("d"),
        expr("user_id div 64").as("blk"),
        expr("shiftleft(1L, CAST(pmod(user_id, 64) AS INT))").as("bit"))
      .groupBy(col("d"), col("blk"))
      .agg(expr("bit_or(bit)").as("bm"))
    val perDay = partials
      .groupBy(col("d"))
      .agg(sum(bit_count(col("bm")).cast("long")).as("n_users"))
      .select(col("d").cast("string").as("scope"), col("n_users"))
    val total = partials
      .groupBy(col("blk"))
      .agg(expr("bit_or(bm)").as("bm"))
      .agg(sum(bit_count(col("bm")).cast("long")).as("n_users"))
      .select(lit("TOTAL").as("scope"), col("n_users"))
    perDay.unionByName(total).orderBy(col("scope"))
  }

  /** KEYLESS interval-containment join via time-bucket chunking — the
    * scale answer when the only join predicate is a range. A naive
    * `e.ts BETWEEN w.start AND w.end` with no equi-key plans as a
    * nested-loop scan of every (event, window) pair; chunking converts it
    * to a plain equi-join: each window row explodes map-side into the
    * hour buckets it covers, each event carries its single hour bucket,
    * and the join key is the bucket. Because an event belongs to EXACTLY
    * ONE bucket, every qualifying (event, window) pair meets on exactly
    * one bucket row — no post-join dedup, the property that makes the
    * rewrite free. Cost: |windows|·(span/bucket) build rows + one
    * shuffle on bucket, vs |events|·|windows| for the nested loop; holds
    * for arbitrarily large window tables (the reason this beats a
    * broadcast range join at 100 TB). Windows here are derived from the
    * data — the 3 busiest hours, widened to [hr−30min, hr+90min) so each
    * spans 3 buckets and the explode is genuinely exercised. The oracle
    * runs the naive range join; answers must match exactly. */
  def intervalChunked(spark: SparkSession, dir: String): DataFrame = {
    val BucketUs = 3600L * 1000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
    val wins = e
      .groupBy(expr(s"us div $BucketUs").as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("h")).limit(3)
      .select(
        (col("h") * BucketUs - 1800000000L).as("ws"),
        (col("h") * BucketUs + 5400000000L).as("we"))
    val chunks = wins.select(col("ws"), col("we"),
      explode(sequence(expr(s"ws div $BucketUs"), expr(s"(we - 1) div $BucketUs")))
        .as("bucket"))
    e.withColumn("bucket", expr(s"us div $BucketUs"))
      .join(chunks, Seq("bucket"))
      .filter(col("us") >= col("ws") && col("us") < col("we"))
      .groupBy(col("ws"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("ws").as("w_start_us"), col("n_events"), col("n_users"))
      .orderBy(col("w_start_us"))
  }

  /** Bot / automation screening by inter-event regularity — the trust-and-
    * safety read every event platform runs: humans emit bursty,
    * heavy-tailed gaps (squared coefficient of variation ≈ 1 for
    * Poisson-like arrivals); schedulers and scripts emit near-constant
    * ones (cv² → 0). Per user: gaps in whole seconds via one lag window
    * (total (ts, event_id) order), then exact long sums n/Σg/Σg², and
    * cv² = (n·Σg² − (Σg)²)/(Σg)² as ONE IEEE division of exact longs,
    * re-rounded to 6. Emits the 10 most-machine-like users (lowest cv²,
    * user_id tiebreak) with their gap stats — the triage worklist, not a
    * fixed-threshold verdict, so the entry is non-degenerate on any log.
    * Users need ≥ 5 gaps and a positive gap sum (an all-same-instant
    * burst has zero mean gap and no defined regularity).
    *
    * Scale: one bounded per-user window + per-user hash-agg +
    * TakeOrderedAndProject(10) — no self-joins, linear in the log. */
  def botSuspects(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .withColumn("ts_s", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
      .withColumn("gap_s", col("ts_s") - lag(col("ts_s"), 1).over(byUser))
      .filter(col("gap_s").isNotNull)
    val stats = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sg"),
        sum(col("gap_s") * col("gap_s")).as("sgg"))
      .filter(col("n_gaps") >= 5 && col("sg") > 0)
    val top = stats
      .withColumn("mean_gap_s", round(col("sg").cast("double") / col("n_gaps"), 6))
      .withColumn("cv2", round(
        (col("n_gaps").cast("double") * col("sgg") - col("sg").cast("double") * col("sg")) /
          (col("sg").cast("double") * col("sg")), 6))
      .orderBy(col("cv2"), col("user_id"))
      .limit(10) // TakeOrderedAndProject — no single-partition |users| sort
    top.withColumn("rn", row_number().over( // rank over the 10 kept rows only
        Window.orderBy(col("cv2"), col("user_id"))).cast("long"))
      .select(col("user_id"), col("n_gaps"), col("mean_gap_s"), col("cv2"), col("rn"))
      .orderBy(col("rn"))
  }

  /** CUSUM level-shift detection over daily event volume — the classic
    * change-point screen an ops/monitoring pipeline runs on ingestion
    * counts: the cumulative sum of per-day deviations from the overall
    * mean peaks AT the day the level shifted (Page's CUSUM, the offline
    * max-|S| form). Everything stays EXACT integers by scaling out the
    * mean's division: dev_j = n_j·D − T (D days, T total events), so
    * S_i = Σ dev is an exact bigint prefix and the only IEEE work is the
    * final normalized score S_peak/(D·T), re-rounded to 6. Peak day ties
    * break to the EARLIEST day via one max(struct(|S|, −day)) — no second
    * window pass. The cumulative window is unpartitioned but runs over
    * the |days| relation — time-bounded aggregated input, the documented
    * exception. Scale: one day-key hash-agg on the scan (partial
    * map-side), then ≤|days| rows end to end. */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      .groupBy(col("day_us")).agg(count(lit(1)).as("n"))
    val tot = daily.agg(count(lit(1)).as("d"), sum(col("n")).as("total"))
    val w = Window.orderBy(col("day_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("dev", col("n") * col("d") - col("total")) // n_j·D − T
      .withColumn("s_i", sum(col("dev")).over(w))
      .groupBy(col("d"), col("total"))
      .agg(max(struct(abs(col("s_i")).as("a"), (-col("day_us")).as("nd"))).as("mx"))
      .select(col("d").as("n_days"), col("total").as("total_events"),
        (-col("mx.nd")).as("peak_day_us"), col("mx.a").as("cusum_peak"),
        round(col("mx.a").cast("double") /
          (col("d").cast("double") * col("total").cast("double")), 6)
          .as("shift_score"))
  }

  /** EXACT-INTEGER EWMA over hourly event volume, per event type — the
    * smoothing baseline an alerting pipeline compares live counts
    * against. The recursive EWMA is unrolled to its finite half-life
    * window with DYADIC weights: α = 1/2 gives weight 2^(W−1−k) to the
    * count k hours back (W = 20), so the weighted sum and the weight
    * total are exact bigints — no pow(), no float accumulation, no
    * cross-engine libm exposure — and the smoothed value is emitted in
    * integer MICRO-events via DIV. Counts older than W hours carry
    * weight < 2^-20 of the newest in true EWMA: the truncation is below
    * count resolution. The unroll is a bounded interval self-join
    * (≤ W× expansion keyed on event_type) — the as-of family's shape, no
    * window over raw data; partial windows (stream start) normalize by
    * the weights actually present, exactly like a warm-up-aware EWMA.
    * Scale: hour-key hash-agg on the scan, then |hours|·W bounded work. */
  def ewmaHourly(spark: SparkSession, dir: String): DataFrame = {
    val W = 20
    val hourly = hourlyByType(spark, dir)
      .cache() // both sides of the bounded self-join
    val past = hourly.select(col("event_type").as("et2"),
      col("h").as("h2"), col("n").as("n2"))
    hourly.join(past,
        col("event_type") === col("et2") &&
          col("h2") <= col("h") && col("h2") > col("h") - W)
      .drop("et2")
      .withColumn("wt", expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${W - 1} - (h - h2) AS INT))"))
      .groupBy(col("event_type"), col("h"), col("n"))
      .agg(sum(col("n2") * col("wt")).as("num"), sum(col("wt")).as("wsum"))
      // quotient-then-remainder micro conversion: num·10⁶ would overflow
      // bigint at ~10⁶ events/hour/type, but num%wsum < 2²⁰ never does
      .withColumn("ewma_micro",
        expr("(num DIV wsum) * 1000000 + (num % wsum) * 1000000 DIV wsum"))
      .select(col("event_type"), col("h").as("hour_no"), col("n").as("n_events"),
        col("ewma_micro"))
      .orderBy(col("event_type"), col("hour_no"))
  }

  /** EWMA-baseline anomaly verdicts for `cur`(event_type, h, n) hours
    * against `hist`(event_type, h, n) — STRICTLY-PRIOR hours only
    * (d = h − h2 ∈ [1, W], dyadic weight 2^(W−d)), because an online
    * detector may not let the current hour contaminate its own baseline.
    * The spike test is division-free: n > 3·ewma_prev ⇔ n·wsum > 3·num,
    * exact bigints end to end. Warm-up hours (no prior history) emit
    * NULL baseline and false spike — LEFT join, never dropped. */
  private[graft] def ewmaPrevVerdicts(cur: DataFrame, hist: DataFrame): DataFrame = {
    val W = 20
    val past = hist.select(col("event_type").as("et2"),
      col("h").as("h2"), col("n").as("n2"))
    cur.join(past,
        col("event_type") === col("et2") &&
          col("h2") < col("h") && col("h2") >= col("h") - W, "left")
      .withColumn("wt", expr(s"shiftleft(CAST(1 AS BIGINT), CAST($W - (h - h2) AS INT))"))
      .groupBy(col("event_type"), col("h"), col("n"))
      .agg(sum(col("n2") * col("wt")).as("num"), sum(col("wt")).as("wsum"))
      .withColumn("ewma_prev_micro", when(col("wsum").isNotNull,
        expr("(num DIV wsum) * 1000000 + (num % wsum) * 1000000 DIV wsum")))
      .withColumn("is_spike",
        coalesce(col("n") * col("wsum") > lit(3L) * col("num"), lit(false)))
      .select(col("event_type"), col("h").as("hour_no"), col("n").as("n_events"),
        col("ewma_prev_micro"), col("is_spike").cast("long").as("is_spike"))
  }

  /** ONLINE-SEMANTICS rate anomaly — the causal counterpart of
    * `events_rate_anomaly` (whose z-test reads the WHOLE timeline's
    * stats, a retrospective audit): each hour is judged only against the
    * EWMA of its strictly-prior 20 hours, the decision an alerting
    * system could actually have made at the time. */
  def ewmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyByType(spark, dir)
      .cache() // both sides of the strictly-prior self-join
    ewmaPrevVerdicts(hourly, hourly)
      .orderBy(col("event_type"), col("hour_no"))
  }

  /** Hourly event volume `(h, y)`, h in epoch hours. */
  private def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("y"))

  /** Hourly event volume per type `(event_type, h, n)`. */
  private def hourlyByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))

  /** The first and last hour of an `(h, y)` series, one row `(h0, h1)`. */
  private def hourBounds(hc: DataFrame): DataFrame =
    hc.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))

  /** `hc` on the gap-filled regular grid: every hour from first to last,
    * missing hours at y = 0 (the resample rule). */
  private def gapFilled(hc: DataFrame): DataFrame =
    hourBounds(hc).select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(hc, Seq("h"), "left")
      .select(col("h"), coalesce(col("y"), lit(0L)).as("y"))

  /** The gap-filled hourly volume series `(h, y)`. */
  private def hourlyGrid(spark: SparkSession, dir: String): DataFrame =
    gapFilled(hourlyCounts(spark, dir))

  /** Autocorrelation function of hourly event volume at lags 1–24 — the
    * seasonality probe run before picking an anomaly baseline (a strong
    * lag-24 peak says "daily cycle: compare to yesterday's hour, not to
    * the EWMA"); completes the time-series family next to
    * `events_ewma_hourly` / `events_cusum_shift` / `events_dow_
    * seasonality`. Missing hours count 0, so the series is the
    * gap-filled regular grid (the resample rule) — ACF over only
    * observed hours would alias gaps into correlation.
    *
    * Determinism: with n hours and S total events, the centered term is
    * n·yₜ−S (exact long, ×n clears the rational mean); r_k =
    * Σ Zₜ·Zₜ₋ₖ / Σ Zₜ² where the products are decimal(19,0)-seeded →
    * decimal(38,0)/HUGEINT exact sums (the Mann-Whitney moment rule,
    * good to ~10³⁶ per term), and r_k is ONE IEEE division of the two
    * exact sums, round-6. Lags past the series length simply emit no
    * row in either engine (empty join group).
    *
    * Scale: hour-key hash-agg on the scan, then everything runs on the
    * |hours| grid: the lag expansion is a bounded 24× explode and the
    * lag join is an hour-key equi-join of the grid to itself — no
    * window over raw data, no quadratic pass. */
  def autocorrHourly(spark: SparkSession, dir: String): DataFrame = {
    val series = hourlyGrid(spark, dir)
    val st = series.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val z = series.crossJoin(broadcast(st))
      .select(col("h"), (col("n") * col("y") - col("s"))
        .cast(org.apache.spark.sql.types.DecimalType(19, 0)).as("z"))
      .cache() // reused: denominator fold + the 24-lag self-join, both sides
    val den = z.agg(sum(col("z") * col("z")).as("den"))
    val lagged = z
      .withColumn("k", explode(sequence(lit(1), lit(24))))
      .select(col("k"), (col("h") - col("k")).as("h_prev"), col("z"))
    val pairs = lagged
      .join(z.select(col("h").as("h_prev"), col("z").as("z_prev")), Seq("h_prev"))
    pairs.groupBy(col("k"))
      .agg(sum(col("z") * col("z_prev")).as("num"), count(lit(1)).as("n_terms"))
      .crossJoin(broadcast(den))
      .select(col("k").cast("long").as("lag"), col("n_terms"),
        when(col("den") > 0,
          round(col("num").cast("double") / col("den").cast("double"), 6)).as("acf"))
      .orderBy(col("lag"))
  }

  /** Seasonal-naive forecast backtest — the baseline every forecasting
    * system must beat, and the action `events_acf_hourly` points at (a
    * lag-24 ACF peak says "predict each hour from the same hour
    * yesterday"): forecast ŷ_h = y_{h−24} for every hour in the grid's
    * final day, scored per-hour and in aggregate (MAE in micro-events,
    * sMAPE in ppm). Zero-volume hour pairs emit sMAPE 0 via a mirrored
    * CASE (0/0 convention). All integers — counts, |errors|, and the
    * DIV-scaled ratios — so the backtest hash-matches with no float
    * caveats.
    *
    * Scale: `hourlyGrid`'s hour-key hash-agg + gap-filled grid; the
    * forecast join is a 24-row-bounded hour-key equi-join and
    * the aggregate window runs over ≤24 audit rows. */
  def snaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val series = hourlyGrid(spark, dir)
      .cache() // actuals + forecast legs + the h1 bound all read it
    val hmax = series.agg(max(col("h")).as("h1"))
    val lastDay = series.crossJoin(broadcast(hmax))
      .filter(col("h") > col("h1") - 24)
    val audit = lastDay
      .join(series.select((col("h") + 24).as("h"), col("y").as("f")), Seq("h"))
      .select(col("h").as("hour_no"), col("y").as("actual"), col("f").as("forecast"),
        abs(col("y") - col("f")).as("abs_err"),
        when(col("y") + col("f") > 0,
          expr("abs(y - f) * 2000000 DIV (y + f)")).otherwise(0L).as("smape_ppm"))
    val tot = audit.agg(
      expr("sum(abs_err) * 1000000 DIV count(1)").as("mae_micro"),
      expr("sum(smape_ppm) DIV count(1)").as("smape_mean_ppm"))
    audit.crossJoin(broadcast(tot))
      .orderBy(col("hour_no"))
  }

  /** Growth accounting — the per-period new/retained/resurrected/churned
    * ledger (WEEKLY here — the fixture timeline spans weeks, not months,
    * so weeks are the granularity with real lifecycle dynamics) every consumer-product dashboard leads with (and the quick
    * ratio (new+resurrected)/churned read off it); the LIFECYCLE view
    * next to `cohort_retention`'s cohort grid and `events_dau_
    * stickiness`'s intensity ratio. A user-week is active on any event;
    * a user is NEW in their first week, RETAINED when also active the
    * previous week, RESURRECTED otherwise, and counts as CHURNED in
    * week w+1 when active in w but not w+1 (capped at the timeline's
    * last week — no phantom post-horizon churn).
    *
    * Scale: one distinct (user, week) hash-agg over the scan, then
    * lag/lead windows over each user's week list (bounded by the
    * timeline, not the event count) and a |months|-row rollup. All
    * integer counts; the quick ratio is integer ppm with an
    * empty-churn guard mirrored in both engines. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) DIV 604800000000").as("m"), col("user_id"))
      .distinct()
    val wU = Window.partitionBy(col("user_id")).orderBy(col("m"))
    val marked = act
      .withColumn("f", min(col("m")).over(Window.partitionBy(col("user_id"))))
      .withColumn("prev_m", lag(col("m"), 1).over(wU))
      .withColumn("next_m", lead(col("m"), 1).over(wU))
      .cache() // status rollup + churn rollup + the horizon fold
    val horizon = marked.agg(max(col("m")).as("m_max"))
    val statuses = marked.groupBy(col("m")).agg(
      sum(when(col("m") === col("f"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("m") =!= col("f") && col("prev_m") === col("m") - 1, 1L)
        .otherwise(0L)).as("n_retained"),
      sum(when(col("m") =!= col("f") &&
        (col("prev_m").isNull || col("prev_m") < col("m") - 1), 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = marked.crossJoin(broadcast(horizon))
      .filter((col("next_m").isNull || col("next_m") > col("m") + 1) &&
        col("m") + 1 <= col("m_max"))
      .groupBy((col("m") + 1).as("m")).agg(count(lit(1)).as("n_churned"))
    statuses.join(churn, Seq("m"), "full_outer")
      .select(col("m").as("week_no"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio_ppm",
        when(col("n_churned") > 0,
          expr("(n_new + n_resurrected) * 1000000 DIV n_churned")))
      .orderBy(col("week_no"))
  }

  /** Hourly OHLC candles over event value — the financial-style
    * resample (open/high/low/close) that generalizes beyond tickers to
    * any metric stream; the shape `events_tumbling_hour` (counts) and
    * `agg_time_weighted_avg` don't cover. Open/close are the values at
    * the hour's FIRST/LAST event under the family's total (ts, event_id)
    * key — picked by conditional aggregation over two row_number
    * windows, identical in both engines; high/low are plain min/max.
    * Values pass through untouched (no arithmetic), so doubles compare
    * bitwise.
    *
    * Scale: windows partition by hour — bounded partitions — then one
    * hour-key hash-agg; output is |hours| rows. */
  def ohlcHourly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000").as("h"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy(col("h")).orderBy(col("ts_us"), col("event_id"))
    val wDesc = Window.partitionBy(col("h")).orderBy(desc("ts_us"), desc("event_id"))
    e.withColumn("rn_o", row_number().over(wAsc))
      .withColumn("rn_c", row_number().over(wDesc))
      .groupBy(col("h").as("hour_no"))
      .agg(max(when(col("rn_o") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_c") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy(col("hour_no"))
  }

  /** Day-of-week × hour activity heatmap — the first calendar view an
    * analyst renders over any event log (staffing, batch-window choice,
    * anomaly triage). Two-stage distinct users per cell (per-(cell, user)
    * partial then rollup — no countDistinct Expand), event share in ppm
    * against the broadcast-window total (the ≤168-row grid is the
    * documented-tiny window exception; the `·1e6 DIV` share carries the
    * usual <9.2e12-events long bound). dow is 0=Sunday in BOTH engines
    * (Spark dayofweek() is 1-based, DuckDB's 0-based — the −1 is the
    * mirror). */
  def calendarHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"), col("user_id"))
      .groupBy(col("dow"), col("hr"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    per.groupBy(col("dow"), col("hr"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_users"))
      .withColumn("share_ppm", expr("n_events * 1000000 DIV " +
        "sum(n_events) OVER (PARTITION BY 1)"))
      .orderBy(col("dow"), col("hr"))
  }

  /** Theil–Sen robust trend (Theil 1950, Sen 1968) over the hourly event
    * volume series: the median of all pairwise slopes (y_j−y_i)/(h_j−h_i),
    * i<j — the slope estimator that shrugs off the outlier hours that
    * wreck OLS (`agg_regression_manual`'s trap on bursty traffic; 29.3%
    * breakdown point). Each pairwise slope is ONE IEEE division of exact
    * integer deltas, the median comes from the slope-value histogram via
    * the two-pass range-partitioned prefix sum (never an unpartitioned
    * window), and even-count medians average the two middle VALUES — all
    * deterministic, no libm, no rounding needed.
    *
    * Scale: the pair join is |hours|² over the AGGREGATED hourly series —
    * quadratic in the TIME RANGE (the estimator's own definition), not in
    * event count; a year is ~8.8k hours → 38M pairs, shuffled across the
    * cluster by the slope-histogram hash-agg. The nested-loop pair join
    * is over the broadcast bounded series, PlanSpec-allow-listed. */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val hc = hourlyCounts(spark, dir)
      .cache() // both pair legs + the hour count read it
    val a = hc.select(col("h").as("ha"), col("y").as("ya"))
    val b = hc.select(col("h").as("hb"), col("y").as("yb"))
    val slopes = a.join(broadcast(b), col("ha") < col("hb"))
      .select(((col("yb") - col("ya")).cast("double") /
        (col("hb") - col("ha")).cast("double")).as("slope"))
    val hist = slopes.groupBy(col("slope")).agg(count(lit(1)).as("t"))
    val ranked = Behavior.rangePrefixSums(hist, "slope", Seq("t"))
      .withColumnRenamed("lt_t", "lt")
    val stats = hist.agg(sum(col("t")).as("m"))
      .crossJoin(broadcast(hc.agg(count(lit(1)).as("n_hours"))))
      .select(col("n_hours"), col("m"),
        expr("(m + 1) DIV 2").as("k1"), expr("m DIV 2 + 1").as("k2"))
    val ind =
      when(col("lt") < col("k1") && col("k1") <= col("lt") + col("t"), 1L)
        .otherwise(0L) +
      when(col("lt") < col("k2") && col("k2") <= col("lt") + col("t"), 1L)
        .otherwise(0L)
    ranked.crossJoin(broadcast(stats))
      .agg(max(col("n_hours")).as("n_hours"), max(col("m")).as("n_pairs"),
        (sum(when(ind > 0L, col("slope") * ind)) / lit(2.0)).as("slope"))
  }

  /** The decomposition substrate shared by `events_seasonal_decomp` and
    * `events_seasonal_anomaly`: per in-window hour, (hour_of_day, h,
    * detrended micro-volume) from the gap-filled 2×24 centered MA. */
  private def detrendedHours(spark: SparkSession, dir: String): DataFrame = {
    val series = hourlyGrid(spark, dir)
    val wMa = Window.orderBy(col("h")).rowsBetween(-12, 12)
    val wOrd = Window.orderBy(col("h"))
    series
      .withColumn("wsum", sum(col("y")).over(wMa))
      .withColumn("y_m12", lag(col("y"), 12).over(wOrd))
      .withColumn("y_p12", lead(col("y"), 12).over(wOrd))
      .filter(col("y_m12").isNotNull && col("y_p12").isNotNull)
      .withColumn("trend_micro", expr(
        "(wsum * 2 - y_m12 - y_p12) * 1000000 DIV 48"))
      .select((col("h") % 24).as("hour_of_day"), col("h"), col("y"),
        (col("y") * lit(1000000L) - col("trend_micro")).as("detr"))
  }

  /** The re-centered hour-of-day profile over a detrended relation. */
  private def centeredProfile(detr: DataFrame): DataFrame = {
    val prof = detr.groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n_obs"), sum(col("detr")).as("sd"))
      .withColumn("smean", expr(
        "CASE WHEN sd >= 0 THEN sd DIV n_obs" +
          " ELSE -((-sd + n_obs - 1) DIV n_obs) END"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    prof
      .withColumn("gsum", sum(col("smean")).over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("seasonal_micro", col("smean") - expr(
        "CASE WHEN gsum >= 0 THEN gsum DIV k" +
          " ELSE -((-gsum + k - 1) DIV k) END"))
  }

  /** Classical additive seasonal decomposition (the Persons/Macaulay
    * moving-average method STL descends from) of hourly volume with
    * period 24: trend = centered 2×24 MA (end lags half-weighted — the
    * textbook even-period filter), seasonal = per-hour-of-day mean of the
    * detrended series re-centered to sum ~0, residual = what's left.
    * Output is the 24-row seasonal profile + per-slot residual MAE — the
    * "what does a normal day look like, and how noisy is each hour"
    * readout behind `events_snaive_backtest`'s forecast.
    *
    * Everything is EXACT integer micro-events: the MA numerator is
    * 2·Σ±11 + y−12 + y+12 over the GAP-FILLED grid, trend = num·10⁶ DIV
    * 48 (positive), and the possibly-negative detrended means use the
    * sign-split floor division `fdiv` (Spark DIV truncates toward zero
    * while DuckDB // floors — the divergence trap — so both branches
    * keep operands positive). No floats anywhere.
    *
    * Scale: hour-key hash-agg, windows over the time-bounded hourly grid,
    * a 24-row profile — nothing data-sized after the first pass. */
  def seasonalDecomp(spark: SparkSession, dir: String): DataFrame = {
    val detr = detrendedHours(spark, dir)
      .select(col("hour_of_day"), col("detr"))
    val centered = centeredProfile(detr)
    val res = detr.join(centered.select(col("hour_of_day"),
        col("seasonal_micro").as("sm")), "hour_of_day")
      .groupBy(col("hour_of_day"))
      .agg(expr("sum(abs(detr - sm)) DIV count(1)").as("res_mae_micro"))
    centered.select(col("hour_of_day"), col("n_obs"), col("seasonal_micro"))
      .join(res, "hour_of_day")
      .orderBy(col("hour_of_day"))
  }

  /** Time-to-convert quantiles — the latency distribution between a
    * user's first view and their first subsequent purchase, read out as
    * EXACT median and p90 in minutes: the activation-speed metric next
    * to `events_funnel`'s reach counts. Quantiles are selected from the
    * minute-latency histogram via the two-pass range-partitioned prefix
    * sum (`Behavior.rangePrefixSums` — the Mann-Whitney midrank
    * machinery), so no unpartitioned window ever sees the user-sized
    * relation; median averages the two middle VALUES, p90 is the
    * ceil(0.9·n)-th — both deterministic integer-rank selections.
    *
    * Scale: two user-keyed hash-aggs to first-view/first-purchase, one
    * histogram agg, rank selection against a broadcast 1-row (A4). */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val fv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_us"))
    val lat = e.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("ts_us") > col("v_us"))
      .groupBy(col("user_id"))
      .agg(expr("(min(ts_us) - max(v_us)) DIV 60000000").as("lat_min"))
    val hist = lat.groupBy(col("lat_min")).agg(count(lit(1)).as("t"))
    val ranked = Behavior.rangePrefixSums(hist, "lat_min", Seq("t"))
      .withColumnRenamed("lt_t", "lt")
    val stats = hist.agg(sum(col("t")).as("m"))
      .select(col("m"), expr("(m + 1) DIV 2").as("k1"),
        expr("m DIV 2 + 1").as("k2"), expr("(9 * m + 9) DIV 10").as("k9"))
    val hit = (k: Column) => col("lt") < k && k <= col("lt") + col("t")
    val ind12 =
      when(hit(col("k1")), 1L).otherwise(0L) +
      when(hit(col("k2")), 1L).otherwise(0L)
    ranked.crossJoin(broadcast(stats))
      .agg(max(col("m")).as("n_converted"),
        (sum(when(ind12 > 0L, col("lat_min").cast("double") * ind12)) /
          lit(2.0)).as("median_min"),
        max(when(hit(col("k9")), col("lat_min"))).as("p90_min"))
  }

  /** Seasonal residual anomalies — `events_seasonal_decomp` turned into a
    * detector: hours whose detrended-minus-seasonal residual exceeds
    * 3×RMS (the "unexpected even for that hour of day" alert, the
    * calendar-aware sibling of `events_ewma_anomaly`'s causal one).
    * Residuals are exact micro integers; RMS is the only libm step
    * (Σr² decimal-lifted — r² passes 2⁶³ at |r| ≥ ~3e9 micro — one
    * sqrt, threshold ROUNDED to the 4-place lattice at micro scale
    * before the comparison so both engines flag identical hours). Top
    * 20 by (|residual| desc, hour).
    *
    * Scale: the decomposition's time-bounded windows + a 1-row RMS
    * broadcast (A4); output is the anomaly head, never the series. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val detr = detrendedHours(spark, dir)
    val withSeasonal = detr.join(
      centeredProfile(detr.select(col("hour_of_day"), col("detr")))
        .select(col("hour_of_day"), col("seasonal_micro")), "hour_of_day")
      .withColumn("resid", col("detr") - col("seasonal_micro"))
      .cache() // RMS fold + the flag scan read it
    val rms = withSeasonal.agg(
        sum(col("resid").cast("decimal(19,0)") * col("resid")).as("sq"),
        count(lit(1)).as("n"))
      .select(round(lit(3.0) *
        sqrt(col("sq").cast("double") / col("n").cast("double")), 4)
        .as("thr"))
    withSeasonal.crossJoin(broadcast(rms))
      .filter(abs(col("resid")).cast("double") > col("thr"))
      .select(col("h").as("hour_no"), col("hour_of_day"), col("y"),
        col("resid").as("resid_micro"), col("thr").as("thr_micro"))
      .orderBy(abs(col("resid_micro")).desc, col("hour_no"))
      .limit(20)
  }

  /** Top session paths — the "how do users actually move through the
    * product" readout behind `events_transition_matrix`'s one-step view:
    * each 30-minute-gap session's FULL ordered event-type sequence
    * (capped at the first 8 steps, '>'-joined), counted and ranked —
    * top 20 paths by (frequency, path). The same gap sessions as
    * `events_sessionization`; order within a session is (ts, event_id) —
    * the repo's deterministic event tie-break.
    *
    * Scale: one user-partitioned lag window marks session starts, one
    * (user, session) hash-agg builds each path via sort_array(collect_
    * list(packed struct)) — per-session lists are session-bounded, never
    * corpus-sized — then a path-key hash-agg and TakeOrderedAndProject.
    * No unpartitioned windows, no global sort. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val flagged = e
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs,
          1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val paths = flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(array_join(slice(transform(
        sort_array(collect_list(struct(col("ts_us"), col("event_id"),
          col("event_type")))), s => s("event_type")), 1, 8), ">").as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Markov steady state — `events_transition_matrix` gives the one-step
    * kernel; this runs the chain to (near-)stationarity: four power
    * iterations π' = πT from uniform, the long-run share of attention
    * each event type absorbs. Everything is fixed-point integers — the
    * kernel in ppm (n·10⁶ DIV row-total), mass in micro-units,
    * each step Σ π(i)·T(i,j) DIV 10⁶ — all operands positive, so
    * Spark's truncating DIV ≡ DuckDB's flooring //; the tiny floor-loss
    * per step is part of the (deterministic) statistic's definition.
    *
    * Scale: the kernel aggregates once from the event stream (the
    * transition-matrix shuffle), then every iteration runs on the
    * |states|² relation — constant-sized, broadcast-joined; nothing
    * data-sized iterates. */
  def markovSteady(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = tr.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    val kernel = tr.join(rowTot, "prev_type")
      .select(col("prev_type"), col("next_type"),
        expr("n * 1000000 DIV tot").as("p_ppm"))
      .cache() // one read per power iteration
    val k = rowTot.agg(count(lit(1)).as("k"))
    var pi = rowTot.select(col("prev_type").as("state"))
      .crossJoin(broadcast(k))
      .select(col("state"), expr("1000000 DIV k").as("pi"))
    for (_ <- 1 to 4) {
      pi = kernel.join(pi, kernel("prev_type") === pi("state"))
        .groupBy(col("next_type"))
        .agg(expr("sum(pi * p_ppm) DIV 1000000").as("pi"))
        .select(col("next_type").as("state"), col("pi"))
    }
    pi.select(col("state"), col("pi").as("pi_micro"))
      .orderBy(desc("pi_micro"), col("state"))
  }

  /** Brown's double exponential smoothing (linear-trend forecasting) over
    * hourly volume — the trend-aware upgrade of `events_ewma_hourly`'s
    * level-only smoother and the model `events_snaive_backtest`'s naive
    * baseline is usually compared against: S1 = EWMA(y), S2 = EWMA(S1),
    * level = 2S1 − S2, trend = S1 − S2 (α = 1/2), one-step forecast =
    * level + trend = 3S1 − 2S2. Both smoothing passes use the module's
    * EXACT dyadic-weight unroll (weight 2^(W−1−d) at lag d, W = 20 —
    * beyond W the weights sit below count resolution), so the whole
    * model is integer arithmetic in micro-events: no floats, no libm,
    * hash-oracled end to end.
    *
    * Scale: each pass is an EXPANSION, not a range join — every source
    * hour emits its ≤W (target, weighted-contribution) pairs map-side
    * (`explode(sequence)`, the dauStickiness idiom) and one hour-key
    * hash-agg folds them, so there is no nested-loop range join and no
    * window over raw data; the grid is time-bounded, never data-sized. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame = {
    val W = 20
    val hc = hourlyCounts(spark, dir)
    val grid = gapFilled(hc)
      .cache() // S1 expansion source + the final output join
    val hMax = hourBounds(hc).select(col("h1"))
    def smoothed(src: DataFrame, v: String): DataFrame = src
      .select(col("h").as("h2"), col(v).as("v2"),
        explode(sequence(lit(0), lit(W - 1))).as("d"))
      .select((col("h2") + col("d")).as("h"), col("v2"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${W - 1} - d AS INT))").as("wt"))
      .crossJoin(broadcast(hMax))
      .filter(col("h") <= col("h1"))
      .groupBy(col("h"))
      .agg(sum(col("v2") * col("wt")).as("num"), sum(col("wt")).as("wsum"))
    val s1 = smoothed(grid, "y")
      .select(col("h"),
        expr("(num DIV wsum) * 1000000 + (num % wsum) * 1000000 DIV wsum")
          .as("s1_micro"))
      .cache() // S2 expansion source + the output join
    val s2 = smoothed(s1, "s1_micro") // already micro: plain quotient
      .select(col("h"), expr("num DIV wsum").as("s2_micro"))
    grid.join(s1, "h").join(s2, "h")
      .select(col("h").as("hour_no"), col("y").as("n_events"),
        col("s1_micro"), col("s2_micro"),
        (lit(2L) * col("s1_micro") - col("s2_micro")).as("level_micro"),
        (col("s1_micro") - col("s2_micro")).as("trend_micro"),
        (lit(3L) * col("s1_micro") - lit(2L) * col("s2_micro"))
          .as("forecast_next_micro"))
      .orderBy(col("hour_no"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_holt_linear" -> (holtLinear _),
    "events_markov_steady" -> (markovSteady _),
    "events_seasonal_anomaly" -> (seasonalAnomaly _),
    "events_time_to_convert" -> (timeToConvert _),
    "events_top_paths" -> (topPaths _),
    "events_seasonal_decomp" -> (seasonalDecomp _),
    "events_theilsen_trend" -> (theilSenTrend _),
    "events_calendar_heatmap" -> (calendarHeatmap _),
    "events_ewma_hourly" -> (ewmaHourly _),
    "events_acf_hourly" -> (autocorrHourly _),
    "events_snaive_backtest" -> (snaiveBacktest _),
    "events_growth_accounting" -> (growthAccounting _),
    "events_ohlc_hourly" -> (ohlcHourly _),
    "events_ewma_anomaly" -> (ewmaAnomaly _),
    "events_cusum_shift" -> (cusumShift _),
    "events_bot_suspects" -> (botSuspects _),
    "agg_bitmap_distinct" -> (bitmapDistinct _),
    "join_interval_chunked" -> (intervalChunked _),
    "events_dau_stickiness" -> (dauStickiness _),
    "events_rate_limiter" -> (rateLimiter _),
    "events_interval_coalesce" -> (intervalCoalesce _),
    "events_peak_concurrency" -> (peakConcurrency _),
    "events_dow_seasonality" -> (dowSeasonality _),
    "win_reset_running_sum" -> (resetRunningSum _),
    "agg_time_weighted_avg" -> (timeWeightedAvg _),
    "events_transition_matrix" -> (transitionMatrix _),
    "events_cumulative_users" -> (cumulativeUsers _),
    "events_rate_anomaly"  -> (rateAnomaly _),
    "events_tumbling_hour" -> (tumblingHour _),
    "events_sliding_3h"    -> (slidingThreeHour _),
    "events_sliding_distinct" -> (slidingDistinctUsers _),
    "events_sliding_hll"   -> (slidingHllUsers _),
    "events_resample_gapfill" -> (resampleGapfill _),
    "events_sessionization" -> (sessionization _),
    "events_session_window" -> (sessionWindowNative _),
    "ml_feature_prep"      -> (featurePrep _),
    "ml_standardize_noleak" -> (standardizeNoLeak _),
    "join_asof_clicks"     -> (asofClicks _),
    "join_asof_forward"    -> (asofForward _),
    "join_asof_tolerance"  -> (asofTolerance _),
    "join_asof_nearest"    -> (asofNearest _),
    "join_asof_custom"     -> (asofClicksCustom _),
    "join_interval_clicks" -> (intervalClicks _),
    "join_interval_left"   -> (intervalClicksLeft _)
  )

  private val asofOracleSql =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS p_ts_us, MAX(event_id) AS p_id
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, epoch_us(ts)),
      |c AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, c.ts_us,
      |  p.p_id AS asof_p_id, p.p_ts_us AS asof_p_ts_us
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND c.ts_us >= p.p_ts_us
      |ORDER BY c.event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "events_time_to_convert" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |lat AS (
        |  SELECT e.user_id,
        |    (MIN(e.ts_us) - MAX(fv.v_us)) // 60000000 AS lat_min
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |  GROUP BY e.user_id),
        |hist AS (
        |  SELECT lat_min, CAST(COUNT(*) AS BIGINT) AS t
        |  FROM lat GROUP BY lat_min),
        |c AS (
        |  SELECT lat_min, t, COALESCE(SUM(t) OVER (ORDER BY lat_min
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM hist),
        |s AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS m,
        |    (CAST(SUM(t) AS BIGINT) + 1) // 2 AS k1,
        |    CAST(SUM(t) AS BIGINT) // 2 + 1 AS k2,
        |    (9 * CAST(SUM(t) AS BIGINT) + 9) // 10 AS k9
        |  FROM hist)
        |SELECT MAX(s.m) AS n_converted,
        |  SUM(CASE WHEN
        |      ((CASE WHEN c.lt < s.k1 AND s.k1 <= c.lt + c.t THEN 1 ELSE 0 END) +
        |       (CASE WHEN c.lt < s.k2 AND s.k2 <= c.lt + c.t THEN 1 ELSE 0 END)) > 0 THEN
        |    CAST(c.lat_min AS DOUBLE) * (((CASE WHEN c.lt < s.k1 AND s.k1 <= c.lt + c.t THEN 1 ELSE 0 END) +
        |       (CASE WHEN c.lt < s.k2 AND s.k2 <= c.lt + c.t THEN 1 ELSE 0 END)))
        |    END) / 2.0 AS median_min,
        |  MAX(CASE WHEN c.lt < s.k9 AND s.k9 <= c.lt + c.t
        |    THEN c.lat_min END) AS p90_min
        |FROM c CROSS JOIN s""".stripMargin,
    "events_seasonal_anomaly" ->
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT UNNEST(generate_series((SELECT MIN(h) FROM hc),
        |    (SELECT MAX(h) FROM hc))) AS h),
        |series AS (
        |  SELECT grid.h, COALESCE(hc.y, 0) AS y
        |  FROM grid LEFT JOIN hc ON grid.h = hc.h),
        |ma AS (
        |  SELECT h, y,
        |    SUM(y) OVER (ORDER BY h
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wsum,
        |    LAG(y, 12) OVER (ORDER BY h) AS y_m12,
        |    LEAD(y, 12) OVER (ORDER BY h) AS y_p12
        |  FROM series),
        |detr AS (
        |  SELECT h % 24 AS hour_of_day, h, y,
        |    CAST(y * 1000000 - (wsum * 2 - y_m12 - y_p12) * 1000000 // 48
        |      AS BIGINT) AS detr
        |  FROM ma WHERE y_m12 IS NOT NULL AND y_p12 IS NOT NULL),
        |prof AS (
        |  SELECT hour_of_day, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(detr) AS BIGINT) AS sd
        |  FROM detr GROUP BY hour_of_day),
        |pm AS (
        |  SELECT hour_of_day,
        |    CASE WHEN sd >= 0 THEN sd // n_obs
        |      ELSE -((-sd + n_obs - 1) // n_obs) END AS smean
        |  FROM prof),
        |cen AS (
        |  SELECT hour_of_day,
        |    smean - (CASE WHEN g.gsum >= 0 THEN g.gsum // g.k
        |      ELSE -((-g.gsum + g.k - 1) // g.k) END) AS seasonal_micro
        |  FROM pm CROSS JOIN (
        |    SELECT CAST(SUM(smean) AS BIGINT) AS gsum,
        |      CAST(COUNT(*) AS BIGINT) AS k FROM pm) g),
        |r AS (
        |  SELECT d.h, d.hour_of_day, d.y,
        |    d.detr - c.seasonal_micro AS resid
        |  FROM detr d JOIN cen c ON d.hour_of_day = c.hour_of_day),
        |thr AS (
        |  SELECT ROUND(3.0 * sqrt(
        |    CAST(SUM(CAST(resid AS HUGEINT) * resid) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE)), 4) AS thr
        |  FROM r)
        |SELECT r.h AS hour_no, r.hour_of_day, r.y,
        |  r.resid AS resid_micro, thr.thr AS thr_micro
        |FROM r CROSS JOIN thr
        |WHERE CAST(ABS(r.resid) AS DOUBLE) > thr.thr
        |ORDER BY ABS(r.resid) DESC, hour_no
        |LIMIT 20""".stripMargin,
    "events_markov_steady" ->
      """WITH tr AS (
        |  SELECT prev_type, event_type AS next_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type, LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |    FROM events)
        |  WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, next_type),
        |rt AS (
        |  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM tr GROUP BY prev_type),
        |kern AS (
        |  SELECT tr.prev_type, tr.next_type, tr.n * 1000000 // rt.tot
        |    AS p_ppm
        |  FROM tr JOIN rt ON tr.prev_type = rt.prev_type),
        |p0 AS (
        |  SELECT prev_type AS state,
        |    1000000 // (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS pi
        |  FROM rt),
        |p1 AS (
        |  SELECT next_type AS state,
        |    CAST(SUM(pi * p_ppm) AS BIGINT) // 1000000 AS pi
        |  FROM kern JOIN p0 ON kern.prev_type = p0.state GROUP BY next_type),
        |p2 AS (
        |  SELECT next_type AS state,
        |    CAST(SUM(pi * p_ppm) AS BIGINT) // 1000000 AS pi
        |  FROM kern JOIN p1 ON kern.prev_type = p1.state GROUP BY next_type),
        |p3 AS (
        |  SELECT next_type AS state,
        |    CAST(SUM(pi * p_ppm) AS BIGINT) // 1000000 AS pi
        |  FROM kern JOIN p2 ON kern.prev_type = p2.state GROUP BY next_type),
        |p4 AS (
        |  SELECT next_type AS state,
        |    CAST(SUM(pi * p_ppm) AS BIGINT) // 1000000 AS pi
        |  FROM kern JOIN p3 ON kern.prev_type = p3.state GROUP BY next_type)
        |SELECT state, pi AS pi_micro FROM p4
        |ORDER BY pi_micro DESC, state""".stripMargin,
    "events_top_paths" ->
      """WITH f AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f),
        |p AS (
        |  SELECT user_id, session_seq,
        |    array_to_string(list_slice(
        |      list(event_type ORDER BY ts_us, event_id), 1, 8), '>') AS path
        |  FROM s GROUP BY user_id, session_seq)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 20""".stripMargin,
    "events_seasonal_decomp" ->
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT UNNEST(generate_series((SELECT MIN(h) FROM hc),
        |    (SELECT MAX(h) FROM hc))) AS h),
        |series AS (
        |  SELECT grid.h, COALESCE(hc.y, 0) AS y
        |  FROM grid LEFT JOIN hc ON grid.h = hc.h),
        |ma AS (
        |  SELECT h, y,
        |    SUM(y) OVER (ORDER BY h
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wsum,
        |    LAG(y, 12) OVER (ORDER BY h) AS y_m12,
        |    LEAD(y, 12) OVER (ORDER BY h) AS y_p12
        |  FROM series),
        |detr AS (
        |  SELECT h % 24 AS hour_of_day,
        |    y * 1000000 - (wsum * 2 - y_m12 - y_p12) * 1000000 // 48 AS detr
        |  FROM ma WHERE y_m12 IS NOT NULL AND y_p12 IS NOT NULL),
        |prof AS (
        |  SELECT hour_of_day, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(detr) AS BIGINT) AS sd
        |  FROM detr GROUP BY hour_of_day),
        |pm AS (
        |  SELECT hour_of_day, n_obs,
        |    CASE WHEN sd >= 0 THEN sd // n_obs
        |      ELSE -((-sd + n_obs - 1) // n_obs) END AS smean
        |  FROM prof),
        |cen AS (
        |  SELECT hour_of_day, n_obs, smean,
        |    smean - (CASE WHEN g.gsum >= 0 THEN g.gsum // g.k
        |      ELSE -((-g.gsum + g.k - 1) // g.k) END) AS seasonal_micro
        |  FROM pm CROSS JOIN (
        |    SELECT CAST(SUM(smean) AS BIGINT) AS gsum,
        |      CAST(COUNT(*) AS BIGINT) AS k FROM pm) g),
        |res AS (
        |  SELECT d.hour_of_day,
        |    CAST(SUM(ABS(d.detr - c.seasonal_micro)) // COUNT(*) AS BIGINT)
        |      AS res_mae_micro
        |  FROM detr d JOIN cen c ON d.hour_of_day = c.hour_of_day
        |  GROUP BY d.hour_of_day)
        |SELECT c.hour_of_day, c.n_obs, c.seasonal_micro, r.res_mae_micro
        |FROM cen c JOIN res r ON c.hour_of_day = r.hour_of_day
        |ORDER BY c.hour_of_day""".stripMargin,
    "events_theilsen_trend" ->
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.h - a.h AS DOUBLE)
        |    AS slope
        |  FROM hc a JOIN hc b ON a.h < b.h),
        |hist AS (
        |  SELECT slope, CAST(COUNT(*) AS BIGINT) AS t FROM p GROUP BY slope),
        |c AS (
        |  SELECT slope, t, COALESCE(SUM(t) OVER (ORDER BY slope
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM hist),
        |stats AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM hc) AS n_hours,
        |    CAST(SUM(t) AS BIGINT) AS m,
        |    (CAST(SUM(t) AS BIGINT) + 1) // 2 AS k1,
        |    CAST(SUM(t) AS BIGINT) // 2 + 1 AS k2
        |  FROM hist)
        |SELECT MAX(stats.n_hours) AS n_hours, MAX(stats.m) AS n_pairs,
        |  SUM(CASE WHEN
        |      (CASE WHEN c.lt < stats.k1 AND stats.k1 <= c.lt + c.t
        |        THEN 1 ELSE 0 END) +
        |      (CASE WHEN c.lt < stats.k2 AND stats.k2 <= c.lt + c.t
        |        THEN 1 ELSE 0 END) > 0 THEN
        |    c.slope * ((CASE WHEN c.lt < stats.k1 AND stats.k1 <= c.lt + c.t
        |        THEN 1 ELSE 0 END) +
        |      (CASE WHEN c.lt < stats.k2 AND stats.k2 <= c.lt + c.t
        |        THEN 1 ELSE 0 END))
        |    END) / 2.0 AS slope
        |FROM c CROSS JOIN stats""".stripMargin,
    "events_calendar_heatmap" ->
      """WITH per AS (
        |  SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hr, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT dow, hr, CAST(SUM(n) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM per GROUP BY dow, hr)
        |SELECT dow, hr, n_events, n_users,
        |  CAST(n_events * 1000000 // SUM(n_events) OVER () AS BIGINT)
        |    AS share_ppm
        |FROM cells ORDER BY dow, hr""".stripMargin,
    "events_ewma_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.h, a.n,
        |    CAST(SUM(b.n * (1::BIGINT << CAST(20 - (a.h - b.h) AS INT))) AS BIGINT) AS num,
        |    CAST(SUM(1::BIGINT << CAST(20 - (a.h - b.h) AS INT)) AS BIGINT) AS wsum
        |  FROM hourly a LEFT JOIN hourly b
        |    ON a.event_type = b.event_type
        |   AND b.h < a.h AND b.h >= a.h - 20
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, h AS hour_no, n AS n_events,
        |  CASE WHEN wsum IS NOT NULL
        |    THEN (num // wsum) * 1000000 + (num % wsum) * 1000000 // wsum
        |  END AS ewma_prev_micro,
        |  CAST(COALESCE(n * wsum > 3 * num, FALSE) AS BIGINT) AS is_spike
        |FROM j
        |ORDER BY event_type, hour_no""".stripMargin,
    "events_growth_accounting" ->
      """WITH act AS (
        |  SELECT DISTINCT epoch_us(ts) // 604800000000 AS m, user_id
        |  FROM events),
        |mk AS (
        |  SELECT m, user_id,
        |    MIN(m) OVER (PARTITION BY user_id) AS f,
        |    LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
        |    LEAD(m) OVER (PARTITION BY user_id ORDER BY m) AS next_m
        |  FROM act),
        |hz AS (SELECT MAX(m) AS m_max FROM mk),
        |st AS (
        |  SELECT m,
        |    CAST(SUM(CASE WHEN m = f THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN m <> f AND prev_m = m - 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN m <> f AND (prev_m IS NULL OR prev_m < m - 1)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM mk GROUP BY m),
        |ch AS (
        |  SELECT mk.m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM mk CROSS JOIN hz
        |  WHERE (mk.next_m IS NULL OR mk.next_m > mk.m + 1)
        |    AND mk.m + 1 <= hz.m_max
        |  GROUP BY mk.m + 1),
        |j AS (
        |  SELECT COALESCE(st.m, ch.m) AS week_no,
        |    COALESCE(st.n_new, 0) AS n_new,
        |    COALESCE(st.n_retained, 0) AS n_retained,
        |    COALESCE(st.n_resurrected, 0) AS n_resurrected,
        |    COALESCE(ch.n_churned, 0) AS n_churned
        |  FROM st FULL OUTER JOIN ch ON st.m = ch.m)
        |SELECT week_no, n_new, n_retained, n_resurrected, n_churned,
        |  CASE WHEN n_churned > 0
        |    THEN (n_new + n_resurrected) * 1000000 // n_churned
        |  END AS quick_ratio_ppm
        |FROM j ORDER BY week_no""".stripMargin,
    "events_ohlc_hourly" ->
      """WITH e AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT h, value,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY ts_us, event_id) AS rn_o,
        |    ROW_NUMBER() OVER (PARTITION BY h
        |      ORDER BY ts_us DESC, event_id DESC) AS rn_c
        |  FROM e)
        |SELECT h AS hour_no,
        |  MAX(CASE WHEN rn_o = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_c = 1 THEN value END) AS close,
        |  COUNT(*) AS n_events
        |FROM r GROUP BY h ORDER BY hour_no""".stripMargin,
    "events_snaive_backtest" ->
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hc),
        |series AS (
        |  SELECT r.h, COALESCE(hc.y, 0) AS y
        |  FROM (SELECT unnest(range(b.h0, b.h1 + 1)) AS h FROM b) r
        |  LEFT JOIN hc ON hc.h = r.h),
        |hm AS (SELECT MAX(h) AS h1 FROM series),
        |audit AS (
        |  SELECT s.h AS hour_no, s.y AS actual, p.y AS forecast,
        |    abs(s.y - p.y) AS abs_err,
        |    CASE WHEN s.y + p.y > 0
        |      THEN abs(s.y - p.y) * 2000000 // (s.y + p.y) ELSE 0 END AS smape_ppm
        |  FROM series s CROSS JOIN hm
        |  JOIN series p ON p.h = s.h - 24
        |  WHERE s.h > hm.h1 - 24),
        |tot AS (
        |  SELECT SUM(abs_err) * 1000000 // COUNT(*) AS mae_micro,
        |    SUM(smape_ppm) // COUNT(*) AS smape_mean_ppm
        |  FROM audit)
        |SELECT hour_no, actual, forecast, CAST(abs_err AS BIGINT) AS abs_err,
        |  CAST(smape_ppm AS BIGINT) AS smape_ppm,
        |  CAST(t.mae_micro AS BIGINT) AS mae_micro,
        |  CAST(t.smape_mean_ppm AS BIGINT) AS smape_mean_ppm
        |FROM audit CROSS JOIN tot t ORDER BY hour_no""".stripMargin,
    "events_acf_hourly" ->
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hc),
        |series AS (
        |  SELECT r.h, COALESCE(hc.y, 0) AS y
        |  FROM (SELECT unnest(range(b.h0, b.h1 + 1)) AS h FROM b) r
        |  LEFT JOIN hc ON hc.h = r.h),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
        |  FROM series),
        |z AS (
        |  SELECT h, (st.n * y - st.s)::HUGEINT AS z
        |  FROM series CROSS JOIN st),
        |den AS (SELECT SUM(z * z) AS den FROM z),
        |lags AS (SELECT unnest(range(1, 25)) AS k),
        |pairs AS (
        |  SELECT lg.k, a.z * p.z AS prod
        |  FROM z a CROSS JOIN lags lg
        |  JOIN z p ON p.h = a.h - lg.k),
        |nums AS (
        |  SELECT k, SUM(prod) AS num, CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM pairs GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS lag, n_terms,
        |  CASE WHEN d.den > 0
        |    THEN ROUND(num::DOUBLE / d.den::DOUBLE, 6) END AS acf
        |FROM nums CROSS JOIN den d ORDER BY lag""".stripMargin,
    "events_holt_linear" ->
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hc),
        |grid AS (
        |  SELECT g.h, COALESCE(hc.y, 0) AS y
        |  FROM (SELECT unnest(generate_series(
        |    (SELECT h0 FROM b), (SELECT h1 FROM b))) AS h) g
        |  LEFT JOIN hc ON g.h = hc.h),
        |e1 AS (
        |  SELECT g.h + d.d AS h,
        |    g.y * (1::BIGINT << CAST(19 - d.d AS INT)) AS c,
        |    (1::BIGINT << CAST(19 - d.d AS INT)) AS wt
        |  FROM grid g CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS d) d),
        |s1 AS (
        |  SELECT h,
        |    CAST((CAST(SUM(c) AS BIGINT) // CAST(SUM(wt) AS BIGINT)) * 1000000
        |      + (CAST(SUM(c) AS BIGINT) % CAST(SUM(wt) AS BIGINT)) * 1000000
        |        // CAST(SUM(wt) AS BIGINT) AS BIGINT) AS s1_micro
        |  FROM e1 WHERE h <= (SELECT h1 FROM b) GROUP BY h),
        |e2 AS (
        |  SELECT s.h + d.d AS h,
        |    s.s1_micro * (1::BIGINT << CAST(19 - d.d AS INT)) AS c,
        |    (1::BIGINT << CAST(19 - d.d AS INT)) AS wt
        |  FROM s1 s CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS d) d),
        |s2 AS (
        |  SELECT h, CAST(CAST(SUM(c) AS BIGINT) // CAST(SUM(wt) AS BIGINT) AS BIGINT)
        |    AS s2_micro
        |  FROM e2 WHERE h <= (SELECT h1 FROM b) GROUP BY h)
        |SELECT grid.h AS hour_no, grid.y AS n_events,
        |  s1.s1_micro, s2.s2_micro,
        |  2 * s1.s1_micro - s2.s2_micro AS level_micro,
        |  s1.s1_micro - s2.s2_micro AS trend_micro,
        |  3 * s1.s1_micro - 2 * s2.s2_micro AS forecast_next_micro
        |FROM grid JOIN s1 ON grid.h = s1.h JOIN s2 ON grid.h = s2.h
        |ORDER BY hour_no""".stripMargin,
    "events_ewma_hourly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.h, a.n,
        |    CAST(SUM(b.n * (1::BIGINT << CAST(19 - (a.h - b.h) AS INT))) AS BIGINT) AS num,
        |    CAST(SUM(1::BIGINT << CAST(19 - (a.h - b.h) AS INT)) AS BIGINT) AS wsum
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type
        |   AND b.h <= a.h AND b.h > a.h - 20
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, h AS hour_no, n AS n_events,
        |  (num // wsum) * 1000000 + (num % wsum) * 1000000 // wsum AS ewma_micro
        |FROM j
        |ORDER BY event_type, hour_no""".stripMargin,
    "events_cusum_shift" ->
      """WITH daily AS (
        |  SELECT epoch_us(date_trunc('day', ts)) AS day_us,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS d,
        |    CAST(SUM(n) AS BIGINT) AS total FROM daily),
        |s AS (
        |  SELECT day_us, tot.d, tot.total,
        |    SUM(n * tot.d - tot.total) OVER (ORDER BY day_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_i
        |  FROM daily CROSS JOIN tot),
        |p AS (
        |  SELECT d, total, abs(s_i) AS a, day_us FROM s
        |  ORDER BY a DESC, day_us ASC LIMIT 1)
        |SELECT d AS n_days, total AS total_events, day_us AS peak_day_us,
        |  CAST(a AS BIGINT) AS cusum_peak,
        |  ROUND(a::DOUBLE / (d::DOUBLE * total), 6) AS shift_score
        |FROM p""".stripMargin,
    "events_bot_suspects" ->
      """WITH g0 AS (
        |  SELECT user_id,
        |    epoch_us(ts) // 1000000 AS ts_s,
        |    LAG(epoch_us(ts) // 1000000) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts_s - prev_s AS gap_s FROM g0
        |  WHERE prev_s IS NOT NULL),
        |s AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(gap_s) AS BIGINT) AS sg,
        |    CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
        |  FROM g GROUP BY user_id
        |  HAVING COUNT(*) >= 5 AND SUM(gap_s) > 0),
        |r AS (
        |  SELECT user_id, n_gaps,
        |    ROUND(sg::DOUBLE / n_gaps, 6) AS mean_gap_s,
        |    ROUND((n_gaps::DOUBLE * sgg - sg::DOUBLE * sg) /
        |      (sg::DOUBLE * sg), 6) AS cv2
        |  FROM s)
        |SELECT user_id, n_gaps, mean_gap_s, cv2,
        |  CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cv2, user_id) AS rn FROM r)
        |WHERE rn <= 10
        |ORDER BY rn""".stripMargin,
    "agg_bitmap_distinct" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS d, user_id FROM events)
        |SELECT CAST(d AS VARCHAR) AS scope, COUNT(DISTINCT user_id) AS n_users
        |FROM e GROUP BY d
        |UNION ALL
        |SELECT 'TOTAL' AS scope, COUNT(DISTINCT user_id) AS n_users FROM e
        |ORDER BY scope""".stripMargin,
    "ml_standardize_noleak" ->
      """WITH m AS (
        |  SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |              WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT s1 / n AS mu, s2 / n - (s1 / n) * (s1 / n) AS v
        |  FROM m WHERE split = 'train')
        |SELECT split, n,
        |  ROUND((s1 / n - mu) / sqrt(v), 6) AS mean_z,
        |  ROUND((s2 / n - (s1 / n) * (s1 / n)) / v, 6) AS var_z
        |FROM m CROSS JOIN t
        |ORDER BY split""".stripMargin,
    "join_interval_chunked" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events),
        |top3 AS (
        |  SELECT us // 3600000000 AS h, COUNT(*) AS n
        |  FROM e GROUP BY 1 ORDER BY n DESC, h LIMIT 3),
        |w AS (
        |  SELECT h * 3600000000 - 1800000000 AS ws,
        |         h * 3600000000 + 5400000000 AS we FROM top3)
        |SELECT ws AS w_start_us, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM w JOIN e ON e.us >= w.ws AND e.us < w.we
        |GROUP BY ws ORDER BY ws""".stripMargin,
    "win_reset_running_sum" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |seg AS (
        |  SELECT *, COUNT(*) FILTER (WHERE event_type = 'purchase')
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg_no
        |  FROM e)
        |SELECT user_id, CAST(seg_no AS BIGINT) AS seg_no, COUNT(*) AS n_events,
        |  CAST(SUM(v) AS DOUBLE) AS seg_value
        |FROM seg GROUP BY user_id, seg_no
        |ORDER BY user_id, seg_no""".stripMargin,
    "events_dau_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
        |dau AS (
        |  SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
        |member AS (
        |  SELECT DISTINCT user_id, d + g AS w
        |  FROM ud, (SELECT unnest(generate_series(0, 6)) AS g)),
        |wau AS (
        |  SELECT w, COUNT(*) AS wau FROM member GROUP BY w)
        |SELECT dau.d AS day_idx, dau.dau, wau.wau,
        |  CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_micro
        |FROM dau JOIN wau ON dau.d = wau.w
        |ORDER BY day_idx""".stripMargin,
    "events_rate_limiter" ->
      """WITH e AS (
        |  -- epoch_us // 1e6, NOT CAST(epoch(ts) AS BIGINT): epoch() is a
        |  -- DOUBLE and the cast ROUNDS the fraction where Spark's
        |  -- cast(ts AS LONG) floors — a half-second event would land in
        |  -- the wrong trailing window on one side only
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s FROM events),
        |c AS (
        |  SELECT user_id,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_s
        |                   RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS trailing_n
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN trailing_n > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
        |  CAST(MAX(trailing_n) AS BIGINT) AS peak_rate
        |FROM c GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_interval_coalesce" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 1000000 AS e_us
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT *, MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |f AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR s_us > prev_max THEN 1 ELSE 0 END AS new_island
        |  FROM m),
        |g AS (
        |  SELECT *, SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f)
        |SELECT user_id, CAST(island AS BIGINT) AS island, MIN(s_us) AS start_us,
        |  MAX(e_us) AS end_us, COUNT(*) AS n_intervals
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,
    "events_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 1000000 AS e_us
        |  FROM events WHERE event_type = 'purchase'),
        |pts AS (
        |  SELECT user_id, s_us AS t, 1::BIGINT AS delta FROM iv
        |  UNION ALL
        |  SELECT user_id, e_us AS t, -1::BIGINT AS delta FROM iv),
        |sw AS (
        |  SELECT user_id, delta,
        |    SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM pts)
        |SELECT user_id, COUNT(*) // 2 AS n_intervals,
        |  CAST(MAX(open) AS BIGINT) AS peak_concurrency
        |FROM sw GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_dow_seasonality" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |d AS (
        |  SELECT dow, COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY dow),
        |g AS (SELECT COUNT(*) AS n_tot, CAST(SUM(v) AS DOUBLE) AS sum_tot FROM e)
        |SELECT dow, n_events, sum_value,
        |  (sum_value / n_events) / (sum_tot / n_tot) AS seasonal_index
        |FROM d, g ORDER BY dow""".stripMargin,
    "agg_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |h AS (
        |  SELECT user_id, cents, ts_us,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt
        |  FROM e),
        |t AS (
        |  SELECT user_id,
        |    SUM(CAST(cents AS DECIMAL(38,0)) * (nxt - ts_us)) AS numer,
        |    SUM(CAST(nxt - ts_us AS DECIMAL(38,0))) AS denom,
        |    COUNT(*) AS n_holds
        |  FROM h WHERE nxt IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_holds, CAST(denom AS BIGINT) AS span_us,
        |  CAST(CAST(numer AS HUGEINT) // CAST(denom AS HUGEINT) AS BIGINT) AS twap_cents
        |FROM t WHERE denom > 0 ORDER BY user_id""".stripMargin,
    "events_transition_matrix" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
        |FROM s WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, next_type""".stripMargin,
    "join_interval_clicks" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, c.click_us, p.purchase_id, p.purchase_us
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND p.purchase_us >= c.click_us - 3600000000
        | AND p.purchase_us <= c.click_us
        |ORDER BY c.click_id, p.purchase_id""".stripMargin,
    "join_interval_left" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, c.click_us, p.purchase_id, p.purchase_us
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        | AND p.purchase_us >= c.click_us - 3600000000
        | AND p.purchase_us <= c.click_us
        |ORDER BY c.click_id, p.purchase_id""".stripMargin,
    "join_asof_custom" -> asofOracleSql,
    "join_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_ts_us, MAX(event_id) AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts)),
        |c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts_us,
        |  p.p_id AS next_p_id, p.p_ts_us AS next_p_ts_us
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us <= p.p_ts_us
        |ORDER BY c.event_id""".stripMargin,
    "join_asof_nearest" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_ts_us, MAX(event_id) AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts)),
        |c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT c.event_id, c.user_id, c.ts_us,
        |    p.p_id AS b_id, p.p_ts_us AS b_ts
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts_us >= p.p_ts_us),
        |f AS (
        |  SELECT c.event_id, p.p_id AS f_id, p.p_ts_us AS f_ts
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts_us <= p.p_ts_us)
        |SELECT b.event_id, b.user_id, b.ts_us,
        |  CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL
        |    AND b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
        |    THEN b.b_id ELSE f.f_id END AS near_p_id,
        |  CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL
        |    AND b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
        |    THEN b.b_ts ELSE f.f_ts END AS near_p_ts_us
        |FROM b JOIN f ON b.event_id = f.event_id
        |ORDER BY b.event_id""".stripMargin,
    "join_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_ts_us, MAX(event_id) AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts)),
        |c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |m AS (
        |  SELECT c.event_id, c.user_id, c.ts_us, p.p_id, p.p_ts_us
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts_us >= p.p_ts_us)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN p_ts_us IS NOT NULL AND ts_us - p_ts_us <= 3600000000
        |       THEN p_id END AS tol_p_id,
        |  CASE WHEN p_ts_us IS NOT NULL AND ts_us - p_ts_us <= 3600000000
        |       THEN p_ts_us END AS tol_p_ts_us
        |FROM m
        |ORDER BY event_id""".stripMargin,
    "join_asof_clicks" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS p_ts_us, MAX(event_id) AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts)),
        |c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts_us,
        |  p.p_id AS asof_p_id, p.p_ts_us AS asof_p_ts_us
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.p_ts_us
        |ORDER BY c.event_id""".stripMargin,
    "events_resample_gapfill" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS hour_start, event_type, value
        |  FROM events),
        |span AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM e),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        |  FROM span),
        |types AS (SELECT DISTINCT event_type FROM e),
        |agg AS (
        |  SELECT hour_start, event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
        |  FROM e GROUP BY 1, 2)
        |SELECT sp.hour_start, t.event_type,
        |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
        |  COALESCE(a.s, 0.0) AS sum_value
        |FROM spine sp
        |CROSS JOIN types t
        |LEFT JOIN agg a ON sp.hour_start = a.hour_start AND t.event_type = a.event_type
        |ORDER BY 1, 2""".stripMargin,
    "events_sliding_3h" ->
      """WITH g AS (SELECT unnest([0, 1, 2]) AS k),
        |w AS (
        |  SELECT date_trunc('hour', e.ts) - g.k * INTERVAL 1 HOUR AS window_start,
        |    e.event_type, e.value
        |  FROM events e CROSS JOIN g)
        |SELECT window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "events_sliding_distinct" ->
      """WITH uh AS (
        |  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events),
        |uw AS (
        |  SELECT DISTINCT h - k * INTERVAL 1 HOUR AS window_start, user_id
        |  FROM uh CROSS JOIN (SELECT unnest([0, 1, 2]) AS k))
        |SELECT window_start, COUNT(*) AS n_distinct_users
        |FROM uw GROUP BY window_start
        |ORDER BY window_start""".stripMargin,
    // invariant oracle: exact sliding distinct + the estimate-sane flag
    // pinned TRUE (the flag is the claim; DuckDB cannot build the sketch)
    "events_sliding_hll" ->
      """WITH uh AS (
        |  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events),
        |uw AS (
        |  SELECT DISTINCT h - k * INTERVAL 1 HOUR AS window_start, user_id
        |  FROM uh CROSS JOIN (SELECT unnest([0, 1, 2]) AS k))
        |SELECT window_start, COUNT(*) AS n_exact, TRUE AS union_ok
        |FROM uw GROUP BY window_start
        |ORDER BY window_start""".stripMargin,
    "events_cumulative_users" ->
      """WITH fd AS (
        |  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
        |  FROM events GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, first_day, COUNT(*) AS n_new_users
        |  FROM fd GROUP BY 1, 2)
        |SELECT event_type, first_day, n_new_users,
        |  CAST(SUM(n_new_users) OVER (
        |    PARTITION BY event_type ORDER BY first_day) AS BIGINT) AS cum_users
        |FROM daily
        |ORDER BY event_type, first_day""".stripMargin,
    "events_rate_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour_start,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n_hours,
        |    CAST(SUM(cnt) AS BIGINT) AS total,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq
        |  FROM hourly GROUP BY 1)
        |SELECT h.event_type, h.hour_start, h.cnt,
        |  (s.n_hours * h.cnt - s.total) * (s.n_hours * h.cnt - s.total)
        |    > 9 * (s.n_hours * s.sumsq - s.total * s.total) AS is_anomaly
        |FROM hourly h JOIN stats s USING (event_type)
        |ORDER BY h.event_type, h.hour_start""".stripMargin,
    "events_tumbling_hour" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "events_sessionization" ->
      """WITH f AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |    LAG(epoch_us(ts), 1) OVER w AS prev_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM f),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq,
        |  COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us,
        |  MAX(ts_us) AS end_us,
        |  MAX(ts_us) - MIN(ts_us) AS duration_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    // boundary rule matched to session_window's strict-merge semantics:
    // a gap of exactly the window size starts a NEW session (>=)
    "events_session_window" ->
      """WITH f AS (
        |  SELECT user_id, value, epoch_us(ts) AS ts_us,
        |    LAG(epoch_us(ts), 1) OVER w AS prev_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM f),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g)
        |SELECT user_id,
        |  MIN(ts_us) AS start_us,
        |  MAX(ts_us) AS end_us,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, start_us""".stripMargin,
    "ml_feature_prep" ->
      """SELECT o_orderkey,
        |  ROUND(ln(1 + o_totalprice), 6) AS log_price,
        |  CAST(CASE WHEN abs((exp(ln(1 + o_totalprice)) - 1) - o_totalprice) < 1e-6
        |       THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok,
        |  month(o_orderdate) AS order_month,
        |  ROUND(ln(1 + o_totalprice), 6) * 2.0 + month(o_orderdate) AS engagement
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin
  )
}
