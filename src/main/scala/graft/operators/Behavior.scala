package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det._

/** Behavioral / warehouse analytics: conversion funnel, cohort retention,
  * and SCD-2 interval compaction — the reporting layer a user of the
  * reference's job-analytics scripts would build next (SURVEY.md §7.5
  * extension). All outputs are integer counts or timestamps, so the DuckDB
  * hash gate applies with no float-determinism caveats.
  *
  * Scale notes: every operator here is one-or-two hash-partitioned passes
  * keyed on the entity id (user_id / o_custkey) — shuffle joins and window
  * functions co-partition on the same key, no broadcast of anything
  * corpus-proportional, output bounded by |entities| (SCD-2) or a few
  * dozen rows (funnel, cohort grid).
  */
object Behavior {

  /** Ordered conversion funnel view → click → purchase: a user counts for
    * stage k only with an event STRICTLY after their stage-(k-1) entry
    * time (min-ts semantics, the standard "ordered funnel"). Three
    * hash-aggs chained by two equi-joins on user_id — each stage's
    * relation shrinks, and every pass is key-partitioned; no windows, no
    * cross products. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s1_us"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id").where(col("ts_us") > col("s1_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s2_us"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("ts_us") > col("s2_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s3_us"))
    def stageCount(df: DataFrame, no: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"), col("n_users"))
    stageCount(s1, 1L, "view")
      .unionByName(stageCount(s2, 2L, "click"))
      .unionByName(stageCount(s3, 3L, "purchase"))
      .orderBy(col("stage_no"))
  }

  /** TIME-CONSTRAINED funnel — `events_funnel` with the step-deadline
    * semantics real product funnels use: a click only counts within 24 h
    * of the user's first view, a purchase within 24 h of that click
    * (unbounded funnels credit conversions that took weeks). Same
    * scale shape as the unbounded twin — three shrinking hash-aggs
    * chained by user_id equi-joins, the deadline as an extra residual
    * predicate on the join — plus the per-stage mean step latency (ONE
    * IEEE division of exact microsecond sums, the module ratio rule). */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val stepUs = 24L * 3600L * 1000000L
    val e = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s1_us"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .where(col("ts_us") > col("s1_us") && col("ts_us") <= col("s1_us") + stepUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s2_us"), min(col("s1_us")).as("s1_us"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .where(col("ts_us") > col("s2_us") && col("ts_us") <= col("s2_us") + stepUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s3_us"), min(col("s2_us")).as("s2_us"))
    def stage(df: DataFrame, no: Long, name: String, delay: Column): DataFrame =
      df.agg(count(lit(1)).as("n_users"),
          (sum(delay).cast("double") / count(lit(1)).cast("double")).as("avg_step_us"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"),
          col("n_users"), col("avg_step_us"))
    stage(s1, 1L, "view", lit(0L))
      .unionByName(stage(s2, 2L, "click", col("s2_us") - col("s1_us")))
      .unionByName(stage(s3, 3L, "purchase", col("s3_us") - col("s2_us")))
      .orderBy(col("stage_no"))
  }

  /** RFM segmentation (Hughes' recency/frequency/monetary coding — the
    * classic CRM stratification): per customer, R = days since last order
    * (to the corpus max date), F = order count, M = total spend; each
    * scored 1–4 by exact quartile cutoffs and combined into the RFM cell
    * code (R·100 + F·10 + M). All NINE cutoffs come from ONE 1-row
    * percentile aggregate broadcast back over the per-customer relation
    * (the `win_ntile_tiers` pattern tripled — no global sort or window
    * anywhere); R scores are inverted (low recency = best = 4), the
    * standard convention. Output is the |cells|-bounded segment audit.
    * Determinism: cutoffs round-6 (the percentile rule), spend compared
    * on exact DECIMAL sums cast once to double. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val perCust = o.groupBy(col("o_custkey")).agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("f"),
        // exact decimal spend kept for the final average; the double twin
        // exists only for percentile/compare (re-casting the double back
        // to decimal would re-round and diverge engines — the module's
        // never-decimal-a-double-product rule)
        sum(col("o_totalprice").cast("decimal(18,2)")).as("m_dec"))
      .withColumn("m", col("m_dec").cast("double"))
      .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("maxd"))))
      .withColumn("r", datediff(col("maxd").cast("date"), col("last_order").cast("date")).cast("long"))
      .cache() // read twice: the 9-cutoff aggregate + the scoring pass
    def cuts(c: Column, n: String) = Seq(
      round(percentile(c, lit(0.25)), 6).as(s"${n}1"),
      round(percentile(c, lit(0.5)), 6).as(s"${n}2"),
      round(percentile(c, lit(0.75)), 6).as(s"${n}3"))
    val allCuts = cuts(col("r"), "r") ++ cuts(col("f"), "f") ++ cuts(col("m"), "m")
    val q = perCust.agg(allCuts.head, allCuts.tail: _*)
    def score(c: Column, n: String) =
      when(c <= col(s"${n}1"), 1L).when(c <= col(s"${n}2"), 2L)
        .when(c <= col(s"${n}3"), 3L).otherwise(4L)
    perCust.crossJoin(broadcast(q))
      .withColumn("r_score", lit(5L) - score(col("r"), "r")) // low recency = best
      .withColumn("f_score", score(col("f"), "f"))
      .withColumn("m_score", score(col("m"), "m"))
      .withColumn("segment", col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("m_dec")).cast("double") /
          count(lit(1))).as("avg_monetary"))
      .orderBy(col("segment"))
  }

  /** Cohort retention: customers grouped by first-order month; for each
    * (cohort month, months-since-first) cell, the count of distinct
    * customers who ordered. The month arithmetic is pure integer
    * (year·12+month), exact in both engines. One groupBy(custkey) for the
    * cohort assignment, one shuffle join back on custkey, one grid
    * hash-agg — the grid is |months|² ≈ 6 400 cells at any corpus size. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderdate"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m_idx"))
    val first = o.groupBy(col("o_custkey")).agg(
      min(col("m_idx")).as("cohort_idx"),
      date_trunc("month", min(col("o_orderdate"))).as("cohort_month"))
    o.join(first, "o_custkey")
      .groupBy(col("cohort_month"),
        (col("m_idx") - col("cohort_idx")).as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  /** Cohort LTV curves — the revenue companion of `cohort_retention`'s
    * activity matrix: for each acquisition cohort (first-order month),
    * cumulative revenue by month offset, absolute and per acquired
    * customer — THE curve payback-period and LTV/CAC decisions read.
    * Revenue stays exact integer cents (floor(price·100), the identical
    * double math both engines run); the cumulative window partitions by
    * cohort over the |cohorts|·|offsets| AGGREGATED relation (the module
    * window stance), and per-user LTV is integer DIV by the acquired
    * headcount — no float anywhere after the cents conversion.
    * Scale: two per-customer/hash aggs on the scan + a time-bounded
    * windowed rollup. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m_idx"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("m_idx")).as("cohort_idx"))
    val sizes = first.groupBy(col("cohort_idx"))
      .agg(count(lit(1)).as("n_cohort_users"))
    val g = o.join(first, "o_custkey")
      .groupBy(col("cohort_idx"), (col("m_idx") - col("cohort_idx")).as("month_offset"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort_idx")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .join(sizes, "cohort_idx")
      .withColumn("ltv_cents_per_user", expr("cum_rev_cents DIV n_cohort_users"))
      .select(col("cohort_idx"), col("month_offset"), col("n_orders"),
        col("rev_cents"), col("cum_rev_cents"), col("n_cohort_users"),
        col("ltv_cents_per_user"))
      .orderBy(col("cohort_idx"), col("month_offset"))
  }

  /** SCD-2 compaction of the per-customer order-status history: collapse
    * consecutive same-status orders into validity intervals
    * [valid_from, valid_to) with NULL valid_to on the open (current) run —
    * the slowly-changing-dimension build ETL pipelines run on change
    * feeds. Gaps-and-islands (lag → change flag → running sum) then one
    * hash-agg per run and a lead() for the interval close; both window
    * passes and the agg share the o_custkey partitioning, so the whole
    * operator is ONE shuffle. Ties broken by o_orderkey for deterministic
    * run boundaries. */
  def scd2StatusHistory(spark: SparkSession, dir: String): DataFrame =
    statusHistory(spark, dir)
      .orderBy(col("o_custkey"), col("version_seq"))

  /** The unordered SCD-2 history relation — shared by the catalog entry
    * (which adds the output ordering) and the point-in-time join below. */
  private def statusHistory(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val runs = o
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
      .withColumn("chg",
        when(col("prev_status").isNull ||
          col("prev_status") =!= col("o_orderstatus"), 1L).otherwise(0L))
      .withColumn("version_seq",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("o_custkey"), col("version_seq"), col("o_orderstatus"))
      .agg(min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    runs
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("version_seq"))))
      .select(col("o_custkey"), col("version_seq"), col("o_orderstatus"),
        col("valid_from"), col("valid_to"), col("n_orders"))
  }

  /** SCD-2 point-in-time lookup — the consuming half of the pattern:
    * attribute every lineitem to the customer-status version in effect at
    * its SHIP date (`valid_from <= d < valid_to`, open-ended current
    * version), then roll revenue up by (status-at-ship, ship year). The
    * classic warehouse question "what did we ship to customers while they
    * were in state X" — answerable only with effective-dated history, not
    * the current snapshot.
    *
    * Plan shape: the version join is an EQUI-join on o_custkey with the
    * interval predicate as a residual filter — co-partitioned SMJ/hash, no
    * non-equi explosion; fan-out before the residual is |versions per
    * customer| (bounded by the handful of status flips a key can have),
    * so the operator stays linear in the fact table. Every lineitem lands
    * in exactly one version interval (ship date >= order date >= first
    * valid_from, and versions tile the timeline). */
  def scd2PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val hist = statusHistory(spark, dir)
      .select(col("o_custkey").as("h_custkey"),
        col("o_orderstatus").as("status_at_ship"),
        col("valid_from"), col("valid_to"))
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    fact.join(hist,
        col("o_custkey") === col("h_custkey") &&
        col("valid_from") <= col("l_shipdate") &&
        (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy(col("status_at_ship"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("status_at_ship"), col("ship_year"))
  }

  /** Typed `KeyValueGroupedDataset.mapGroups` — the batch face of Spark's
    * typed-state surface (flatMapGroupsWithState / transformWithState):
    * per customer, the longest streak of CONSECUTIVE active months,
    * computed imperatively over the group's sorted distinct months. Exactly the kind of run
    * logic that is natural as ~6 lines of Scala and contorted as SQL —
    * and the DuckDB gaps-and-islands oracle (m − row_number() run keys)
    * proves the imperative fold and the relational form are the same
    * function, the AsOfJoinSpec stance applied to typed groups.
    *
    * Scale: state per group = that customer's distinct months (bounded by
    * the calendar, ~80 here), shuffle = one groupByKey on o_custkey —
    * exactly a hash-agg's distribution with per-group imperative freedom. */
  def longestStreak(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val months = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .distinct()
    months.as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (cust, rows) =>
        val ms = rows.map(_._2).toArray.sorted
        var best = 1L; var cur = 1L
        var i = 1
        while (i < ms.length) {
          if (ms(i) == ms(i - 1) + 1) { cur += 1; if (cur > best) best = cur }
          else cur = 1
          i += 1
        }
        (cust, ms.length.toLong, best)
      }
      .toDF("o_custkey", "n_active_months", "longest_streak")
      .orderBy(col("o_custkey"))
  }

  /** Snapshot reconciliation: diff two keyed snapshots (monthly
    * customer-spend rollups for 1998-03 vs 1998-04) and classify every key
    * as added / removed / changed / unchanged — the audit primitive behind
    * "what moved between yesterday's copy and today's" at warehouse scale.
    * Shape: two key-partitioned hash-aggs, one full-outer shuffle join on
    * the SAME key (no broadcast — both sides are |customers|-proportional),
    * then a |classes|-bounded rollup. Spend compares in exact DECIMAL, so
    * 'changed' is bit-meaningful, not float-fuzzy. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def snap(m: Int): DataFrame = o
      .filter(year(col("o_orderdate")) === 1998 && month(col("o_orderdate")) === m)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val a = snap(3).as("a")
    val b = snap(4).as("b")
    val zero = lit(0).cast("decimal(28,2)")
    a.join(b, col("a.o_custkey") === col("b.o_custkey"), "full_outer")
      .select(
        when(col("a.o_custkey").isNull, lit("added"))
          .when(col("b.o_custkey").isNull, lit("removed"))
          .when(col("a.spend") =!= col("b.spend"), lit("changed"))
          .otherwise(lit("unchanged")).as("diff_class"),
        coalesce(col("a.spend").cast("decimal(28,2)"), zero).as("sa"),
        coalesce(col("b.spend").cast("decimal(28,2)"), zero).as("sb"))
      .groupBy(col("diff_class"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("sa")).cast("double").as("spend_a"),
        sum(col("sb")).cast("double").as("spend_b"))
      .orderBy(col("diff_class"))
  }

  /** Kaplan–Meier survival curve (Kaplan & Meier, JASA 1958) — the
    * time-to-event estimator product analytics runs for churn/failure:
    * here "time from a user's first event to their first error", with
    * ADMINISTRATIVE right-censoring at τ = 5 days (first failures beyond
    * the observation window count as at-risk survivors, not deaths — the
    * thing a naive average-time-to-failure gets wrong). Ŝ(t) =
    * Π_{t_i ≤ t} (1 − d_i/n_i) over the failure days, with the at-risk
    * set n_i shrunk by prior deaths AND prior censorings.
    *
    * Shape: one user-keyed hash-agg (first event / first error per user),
    * one ≤τ+1-row day aggregate, and the running product as
    * exp(Σ ln(1−d/n)) over an unpartitioned window on that AGGREGATED
    * day relation (the PlanSpec-sanctioned O(|groups|) window; the
    * corpus-sized pass is only the first agg). Determinism: d/n is one
    * IEEE division of exact longs, ln round-6 → DECIMAL cumsum, exp of
    * the exact sum re-rounded — the module ln()/lattice rule. */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val tau = 5L
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "error", col("ts"))).as("first_err"))
      .withColumn("d_raw",
        datediff(col("first_err").cast("date"), col("first_ts").cast("date")).cast("long"))
      .withColumn("observed", col("d_raw").isNotNull && col("d_raw") < tau)
      .withColumn("t", when(col("observed"), col("d_raw")).otherwise(lit(tau)))
      .cache() // read twice: day histogram + the 1-row total
    val byDay = u.groupBy(col("t")).agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("n_failed"),
      sum(when(col("observed"), 0L).otherwise(1L)).as("n_censored"))
    val total = u.agg(count(lit(1)).as("n_total"))
    val wPrev = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    byDay.crossJoin(broadcast(total))
      .withColumn("left_before",
        coalesce(sum(col("n_failed") + col("n_censored")).over(wPrev), lit(0L)))
      .withColumn("n_at_risk", col("n_total") - col("left_before"))
      .withColumn("ln_term",
        round(log(lit(1.0) - col("n_failed").cast("double") / col("n_at_risk").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .withColumn("survival", round(exp(sum(col("ln_term")).over(wCum).cast("double")), 6))
      .select(col("t").as("t_days"), col("n_at_risk"), col("n_failed"),
        col("n_censored"), col("survival"))
      .orderBy(col("t_days"))
  }

  /** Last-touch attribution — the channel-credit readout marketing runs
    * on every conversion log: each purchase is credited to the user's
    * most recent PRIOR touch (click or view, competing), purchases with
    * no prior touch land in the 'none' bucket, and credit is the
    * purchase value in integer cents (`floor(value·100)`, the
    * `win_forward_fill` cents rule — integer-only output, no float
    * rules). One union-free pass: touches and purchases share the event
    * relation, a per-user IGNORE NULLS running `last(touch_type)` window
    * carries the live channel onto every purchase row (the
    * `win_forward_fill` mechanism applied across event types), then one
    * |channels|-row hash-agg. The sort key (ts_us, is_purchase,
    * event_id) is TOTAL, so same-instant touch/purchase pairs resolve
    * deterministically: the touch sorts first and gets the credit.
    * Unlike `join_asof_clicks` (which pairs each purchase with one click
    * and emits pairs), this is the channel-level rollup with competing
    * touch types and an unattributed bucket.
    *
    * Scale: no self-join at all — one window over events partitioned by
    * user (bounded partitions), one tiny agg. Linear in the log. */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        when(col("event_type") =!= "purchase", col("event_type")).as("touch_type"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).as("cents"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_p"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("channel", last(col("touch_type"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("revenue_cents"))
      .orderBy(col("channel"))
  }

  /** Fixed iteration count for the Markov-attribution absorption fixed
    * point — compile-time constant so the Spark loop and the generated
    * oracle CTE chain can never drift apart. */
  private val MarkovIters = 12

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * data-driven third member of the attribution family. Last-touch
    * (`events_attribution`) and linear (`events_attribution_linear`)
    * impose a credit RULE; this one learns it: per-user journeys over the
    * same click/view touch alphabet become a first-order Markov chain
    * (START → touches → CONV/NULL absorbing), and a channel's credit is
    * its REMOVAL EFFECT — the relative drop in P(conv from START) when
    * every transition through that channel is redirected to the NULL
    * sink. Journey = each user's events up to and including their FIRST
    * purchase (or all events + a terminal →NULL edge if they never
    * convert), ordered by the family's total key (ts_us, is_p, event_id).
    *
    * Cross-engine determinism: the whole computation is exact integer
    * arithmetic — transition probabilities in ppm (`cnt·1e6 div out_total`),
    * absorption probabilities iterated `MarkovIters` times in micro units
    * (`p' = cppm + (Σ ppm·p) div 1e6`, all operands positive so Spark's
    * truncating `div` ≡ DuckDB's flooring `//`), removal and credit shares
    * in ppm — the `graph_pagerank` integer-fixed-point rule; no floats
    * anywhere. A fixed unrolled iteration count (not convergence-to-ε)
    * keeps the plan static and the oracle expressible as a generated CTE
    * chain; truncation is monotone, so removed-variant absorption never
    * exceeds the full chain's and removal effects stay in [0, 1e6].
    *
    * Scale: journey/transition extraction is one window pass over events
    * partitioned by user (the lastTouch shape — bounded partitions, one
    * shuffle); both transition emission paths come out of ONE
    * conditionally-sized `explode` (no self-union, no second scan). The
    * chain itself is |channels+3|² rows — the variant matrices and state
    * base are cached once and reused across all `MarkovIters` joins, so
    * the events table is scanned exactly once no matter the iteration
    * count. Products stay < 1e12·|states| ≪ 2⁶³ up to ~10¹² events. */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_p"), col("event_id"))
    val journeys = e
      .withColumn("prior_p",
        sum(col("is_p")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
          - col("is_p"))
      .filter(col("prior_p") === 0)
      .withColumn("dst",
        when(col("is_p") === 1, lit("CONV")).otherwise(col("event_type")))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(desc("ts_us"), desc("is_p"), desc("event_id"))
    val marked = journeys
      .withColumn("src", coalesce(lag(col("dst"), 1).over(wOrd), lit("START")))
      .withColumn("rn_desc", row_number().over(wDesc))
      .withColumn("has_conv", max(col("is_p")).over(Window.partitionBy(col("user_id"))))
    // non-converting users emit their terminal →NULL edge from the same row
    val transitions = marked.select(explode(
        when(col("rn_desc") === 1 && col("has_conv") === 0,
          array(struct(col("src"), col("dst")),
            struct(col("dst").as("src"), lit("NULL").as("dst"))))
          .otherwise(array(struct(col("src"), col("dst"))))).as("t"))
      .select(col("t.src").as("src"), col("t.dst").as("dst"))
    val ppmAll = transitions.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("src"))))
      .withColumn("ppm", expr("c * 1000000 div tot"))
    // ONE cache point: everything downstream (variant matrices, state base,
    // all MarkovIters iteration joins) derives from this ≲90-row relation,
    // so the events table is scanned exactly once regardless of iterations.
    // repartition(1) (r13, guide §2.2/§6): the kernel is |states|²·3 rows —
    // constant-sized at any corpus scale — but inherited the 32-partition
    // layout of the window stage, so all ~23 downstream iteration stages
    // ran 32 near-empty tasks each. One partition collapses every tiny
    // stage to one task; measured (interleaved 3-rep A/B, min estimator):
    // 2.0-2.9 s → 1.8 s, and the run-to-run spread tightened 3×. Extra
    // caches on the iteration inputs were ALSO tried and measured WORSE
    // (6.2 s — InMemoryRelation materialization barriers dominate at this
    // row count); the lazy-lineage form with one partition wins.
    val variants = ppmAll
      .withColumn("removed", explode(array(lit("_full_"), lit("click"), lit("view"))))
      .filter(col("src") =!= col("removed") && col("dst") =!= col("removed"))
      .repartition(1)
      .cache()
    val moveM = variants.filter(!col("dst").isin("CONV", "NULL"))
      .select(col("removed"), col("src"), col("dst"), col("ppm"))
    val conv = variants.filter(col("dst") === "CONV")
      .select(col("removed"), col("src").as("node"), col("ppm").as("cppm"))
    val base = variants.select(col("removed"), col("src").as("node")).distinct()
      .join(conv, Seq("removed", "node"), "left")
      .select(col("removed"), col("node"),
        coalesce(col("cppm"), lit(0L)).as("cppm"))
    var r = base.select(col("removed"), col("node"), col("cppm").as("p"))
    for (_ <- 2 to MarkovIters) {
      val contrib = moveM
        .join(broadcast(r.select(col("removed"), col("node").as("dst"), col("p"))),
          Seq("removed", "dst"))
        .groupBy(col("removed"), col("src"))
        .agg(expr("sum(ppm * p) div 1000000").as("contrib"))
      r = base
        .join(broadcast(contrib.withColumnRenamed("src", "node")),
          Seq("removed", "node"), "left")
        .select(col("removed"), col("node"),
          (col("cppm") + coalesce(col("contrib"), lit(0L))).as("p"))
    }
    val res = r.filter(col("node") === "START").select(col("removed"), col("p"))
    // r13 readout rewrite: p_full used to come from a self-join of `res`
    // against its own _full_ row, which evaluated the whole 11-iteration
    // chain TWICE in the final plan (once per branch). A grand-total
    // window over the ≤3-row readout pins the same scalar onto every row
    // in ONE evaluation (only the _full_ row matches the `when`, so the
    // max IS that row's p — identical values, W1 pattern). Interleaved
    // A/B, min estimator: 1.94/2.57 → 1.53/1.61 s with repartition(1).
    res.withColumn("p_full",
        max(when(col("removed") === "_full_", col("p")))
          .over(Window.partitionBy(lit(1))))
      .filter(col("removed") =!= "_full_")
      .select(col("removed").as("channel"), col("p_full"),
        when(col("p_full") > 0,
          lit(1000000L) - expr("p * 1000000 div p_full"))
          .otherwise(lit(0L)).as("removal_ppm"))
      .withColumn("sum_r", sum(col("removal_ppm")).over(Window.partitionBy(lit(1))))
      .select(col("channel"), col("p_full").as("p_full_ppm"), col("removal_ppm"),
        when(col("sum_r") > 0, expr("removal_ppm * 1000000 div sum_r"))
          .otherwise(lit(0L)).as("credit_ppm"))
      .orderBy(col("channel"))
  }

  /** DuckDB oracle for `events_attribution_markov`: the same journey →
    * transition-ppm → removal-variant pipeline, with the `MarkovIters`
    * fixed-point unrolled as a generated chain of `it{k}` CTEs (standard
    * SQL forbids aggregation inside a recursive CTE term, and an unrolled
    * chain is bit-identical to the Spark loop by construction). */
  private def markovOracleSql: String = {
    val iters = (2 to MarkovIters).map { k =>
      s"""it$k AS (
         |  SELECT b.removed, b.node, b.cppm,
         |    b.cppm + COALESCE(c.contrib, 0) AS p
         |  FROM base b LEFT JOIN (
         |    SELECT m.removed, m.src, SUM(m.ppm * r.p) // 1000000 AS contrib
         |    FROM mv m JOIN it${k - 1} r ON m.removed = r.removed AND m.dst = r.node
         |    GROUP BY m.removed, m.src) c
         |  ON b.removed = c.removed AND b.node = c.src),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
       |  FROM events
       |  WHERE event_type IN ('click', 'view', 'purchase')),
       |j AS (
       |  SELECT user_id, ts_us, event_id, is_p,
       |    CASE WHEN is_p = 1 THEN 'CONV' ELSE event_type END AS dst,
       |    SUM(is_p) OVER (PARTITION BY user_id ORDER BY ts_us, is_p, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - is_p AS prior_p
       |  FROM e),
       |m0 AS (
       |  SELECT user_id, ts_us, event_id, is_p, dst FROM j WHERE prior_p = 0),
       |mk AS (
       |  SELECT dst,
       |    COALESCE(LAG(dst) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, is_p, event_id), 'START') AS src,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts_us DESC, is_p DESC, event_id DESC) AS rn_desc,
       |    MAX(is_p) OVER (PARTITION BY user_id) AS has_conv
       |  FROM m0),
       |tr AS (
       |  SELECT src, dst FROM mk
       |  UNION ALL
       |  SELECT dst AS src, 'NULL' AS dst FROM mk
       |  WHERE rn_desc = 1 AND has_conv = 0),
       |cnt AS (SELECT src, dst, COUNT(*) AS c FROM tr GROUP BY src, dst),
       |pm AS (
       |  SELECT src, dst, c * 1000000 // SUM(c) OVER (PARTITION BY src) AS ppm
       |  FROM cnt),
       |vm AS (
       |  SELECT v.removed, p.src, p.dst, p.ppm
       |  FROM pm p CROSS JOIN (VALUES ('_full_'), ('click'), ('view')) v(removed)
       |  WHERE p.src <> v.removed AND p.dst <> v.removed),
       |mv AS (SELECT * FROM vm WHERE dst NOT IN ('CONV', 'NULL')),
       |cv AS (SELECT removed, src AS node, ppm AS cppm FROM vm WHERE dst = 'CONV'),
       |base AS (
       |  SELECT s.removed, s.node, COALESCE(cv.cppm, 0) AS cppm
       |  FROM (SELECT DISTINCT removed, src AS node FROM vm) s
       |  LEFT JOIN cv ON s.removed = cv.removed AND s.node = cv.node),
       |it1 AS (SELECT removed, node, cppm, cppm AS p FROM base),
       |$iters
       |res AS (SELECT removed, p FROM it$MarkovIters WHERE node = 'START'),
       |fp AS (SELECT p AS p_full FROM res WHERE removed = '_full_'),
       |ch AS (
       |  SELECT r.removed AS channel, f.p_full,
       |    CASE WHEN f.p_full > 0 THEN 1000000 - (r.p * 1000000 // f.p_full)
       |      ELSE 0 END AS removal_ppm
       |  FROM res r CROSS JOIN fp f WHERE r.removed <> '_full_')
       |SELECT channel, CAST(p_full AS BIGINT) AS p_full_ppm,
       |  CAST(removal_ppm AS BIGINT) AS removal_ppm,
       |  CAST(CASE WHEN SUM(removal_ppm) OVER () > 0
       |    THEN removal_ppm * 1000000 // SUM(removal_ppm) OVER () ELSE 0 END
       |    AS BIGINT) AS credit_ppm
       |FROM ch ORDER BY channel""".stripMargin
  }

  /** The experiment suite's events projection: user, type and event time
    * in epoch micros, plus the event value in whole cents (`withCents`). */
  private def abEvents(spark: SparkSession, dir: String,
      withCents: Boolean = true): DataFrame = {
    val cols = Seq(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    Tables.events(spark, dir).select(
      (if (withCents) cols :+ floor(col("value") * 100).cast("long").as("cents")
       else cols): _*)
  }

  /** Exposure: each user's first 'view', `(user_id, v_us)`. */
  private def firstViews(e: DataFrame): DataFrame =
    e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_us"))

  /** The binary conversion spine: every exposed user left-joined to the
    * marker `c = 1` when a purchase falls strictly after the first view and
    * within 24 h — `(user_id, v_us, c)`, `c` NULL for the unconverted. */
  private def exposedConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = abEvents(spark, dir, withCents = false)
    val firstView = firstViews(e)
    val converted = e.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts_us") > col("v_us") &&
        col("ts_us") <= col("v_us") + lit(86400000000L))
      .select(col("user_id")).distinct().withColumn("c", lit(1L))
    firstView.join(converted, Seq("user_id"), "left")
  }

  /** The continuous-metric spine: every exposed user left-joined to their
    * purchase cents strictly after the first view — `(user_id, v_us, y0)`,
    * `y0` NULL for users who never bought after exposure. */
  private def exposedSpend(spark: SparkSession, dir: String): DataFrame = {
    val e = abEvents(spark, dir)
    val firstView = firstViews(e)
    val spend = e.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts_us") > col("v_us"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y0"))
    firstView.join(spend, Seq("user_id"), "left")
  }

  /** `exposedSpend` split into arms by user parity: `(variant, y)`, with
    * non-buyers at y = 0. */
  private def armSpend(spark: SparkSession, dir: String): DataFrame =
    exposedSpend(spark, dir)
      .select((col("user_id") % 2).as("variant"), coalesce(col("y0"), lit(0L)).as("y"))

  /** The two-arm moment row over `armSpend`: `n`, `Σy` and `Σy²` per arm
    * (`n_a, sy_a, syy_a, n_b, sy_b, syy_b`). The squared-cents sums are
    * lifted to DECIMAL(38,0) (HUGEINT in the oracle): y² passes 2⁶³ once
    * per-user revenue exceeds ~$30B cents-squared territory, i.e. Σy²
    * wraps at ~10⁹ users × $10⁴ — decimal keeps the moment exact at any
    * plausible SF on both engines. */
  private def armMoments(users: DataFrame): DataFrame = {
    def arm(v: Int, s: String) = Seq(
      sum(when(col("variant") === v, 1L).otherwise(0L)).as(s"n_$s"),
      sum(when(col("variant") === v, col("y")).otherwise(0L)).as(s"sy_$s"),
      sum(when(col("variant") === v, col("y").cast("decimal(19,0)") * col("y"))
        .otherwise(lit(0L))).as(s"syy_$s"))
    val aggs = arm(0, "a") ++ arm(1, "b")
    users.agg(aggs.head, aggs.tail: _*)
  }

  /** Arm mean `Σy / n` over an `armMoments` row. */
  private def armMean(arm: String): Column =
    col(s"sy_$arm").cast("double") / col(s"n_$arm")

  /** Arm sample variance over an `armMoments` row, n−1 form:
    * (Σy² − (Σy)²/n) / (n−1). */
  private def armVar(arm: String): Column =
    (col(s"syy_$arm").cast("double") -
      col(s"sy_$arm").cast("double") * col(s"sy_$arm") / col(s"n_$arm")) /
      (col(s"n_$arm") - lit(1L))

  /** Per-arm value histogram over `armSpend`: `(y, t_a, t_b)`. */
  private def armHist(users: DataFrame): DataFrame =
    users.groupBy(col("y"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("t_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("t_b"))

  /** Two-proportion z-test — the A/B experiment readout: users split by
    * `user_id % 2`, exposure = first 'view', conversion = a purchase
    * strictly after that first view and within 24 h (a windowed funnel
    * definition — "any later purchase" converts EVERY exposed user on
    * this log, collapsing the pooled variance to zero), and the
    * pooled-variance z statistic
    * `(p_a−p_b) / √(p̂(1−p̂)(1/n_a+1/n_b))` computed wholly in-plan on a
    * single aggregated row — the A4 no-driver-scalar stance. Counts are
    * exact longs; rates are emitted in integer basis points; z is one
    * IEEE chain on identical operands in both engines, re-rounded to 6
    * (the catalog's proven cross-engine rule).
    *
    * Scale: two bounded hash-aggs (per-user firsts, then the global
    * 1-row rollup) + one key equi-join — linear, no windows over the raw
    * log, nothing grows with data but the per-user agg. */
  def abZtest(spark: SparkSession, dir: String): DataFrame = {
    val users = exposedConversion(spark, dir)
      .select((col("user_id") % 2).as("variant"),
        coalesce(col("c"), lit(0L)).as("converted"))
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("conv_b"))
      // empty-arm guards: a degenerate log (all users on one parity) must
      // yield NULL rates/z identically in both engines — Spark DIV returns
      // NULL on /0 while DuckDB's integer // errors, so the CASE is mirrored
      .withColumn("rate_a_bp", when(col("n_a") > 0, expr("conv_a * 10000 DIV n_a")))
      .withColumn("rate_b_bp", when(col("n_b") > 0, expr("conv_b * 10000 DIV n_b")))
      .withColumn("p_pool",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z", // degenerate experiment (empty arm, all/none convert) → NULL
        when(col("n_a") > 0 && col("n_b") > 0 &&
          col("p_pool") > 0.0 && col("p_pool") < 1.0, round(
          (col("conv_a").cast("double") / col("n_a") -
            col("conv_b").cast("double") / col("n_b")) /
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        col("rate_a_bp"), col("rate_b_bp"), col("z"))
  }

  /** CUPED — variance-reduced experiment readout (Deng et al., WSDM'13),
    * the production companion to `behavior_ab_ztest`: each exposed user's
    * post-exposure purchase cents (y) are adjusted by their PRE-exposure
    * purchase cents (x, the covariate the variant cannot have caused),
    * shrinking variance by the x–y correlation. Everything reduces to ONE
    * global aggregate row of exact integer sums (n, Σx, Σy, Σxy, Σx²,
    * Σy², per-arm n/Σx/Σy — cents are longs, so every sum is exact and
    * < 2⁵³ at any plausible SF; an extreme-scale deployment lifts the
    * moment sums to decimal(38)):
    *   θ = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)   (pooled OLS slope)
    *   diff_cuped = diff_raw − θ·(x̄_a − x̄_b)
    *   var_red_bp = ⌊10000·ρ²⌋, the guaranteed variance-reduction share.
    * All ratios are IEEE arithmetic on identical operands (the proven
    * cross-engine rule), re-rounded to 6; degenerate covariate (zero
    * variance) → θ NULL, CUPED falls back to the raw diff.
    *
    * Scale: one per-user hash-agg over the log, then a 1-row global agg
    * (A4 stance) — no windows, no second pass, nothing driver-side. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val e = abEvents(spark, dir)
    val firstView = firstViews(e)
    val perUser = e.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .groupBy(col("user_id"), col("v_us"))
      .agg(
        sum(when(col("ts_us") < col("v_us"), col("cents")).otherwise(0L)).as("x0"),
        sum(when(col("ts_us") > col("v_us"), col("cents")).otherwise(0L)).as("y0"))
    val users = firstView.join(perUser.drop("v_us"), Seq("user_id"), "left")
      .select((col("user_id") % 2).as("variant"),
        coalesce(col("x0"), lit(0L)).as("x"), coalesce(col("y0"), lit(0L)).as("y"))
    val s = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      // second moments in DECIMAL(38,0) (HUGEINT in the oracle) — exact at
      // any plausible SF; the n·Σxy−ΣxΣy combinations below go IEEE only
      // at the final ratio, same operands both engines
      sum(col("x").cast("decimal(19,0)") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(19,0)") * col("x")).as("sxx"),
      sum(col("y").cast("decimal(19,0)") * col("y")).as("syy"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy_b"))
    val covN = col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")
    val varXN = col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")
    val varYN = col("n").cast("double") * col("syy") - col("sy").cast("double") * col("sy")
    s.withColumn("theta", when(varXN > 0.0, round(covN / varXN, 6)))
      .withColumn("diff_raw", round(
        col("sy_a").cast("double") / col("n_a") -
          col("sy_b").cast("double") / col("n_b"), 6))
      .withColumn("diff_cuped", when(varXN > 0.0, round(
        (col("sy_a").cast("double") / col("n_a") -
          col("sy_b").cast("double") / col("n_b")) -
          (covN / varXN) *
            (col("sx_a").cast("double") / col("n_a") -
              col("sx_b").cast("double") / col("n_b")), 6))
        .otherwise(col("diff_raw")))
      .withColumn("var_red_bp",
        when(varXN > 0.0 && varYN > 0.0,
          floor(lit(10000.0) * covN * covN / (varXN * varYN)).cast("long"))
          .otherwise(lit(0L)))
      .select(col("n_a"), col("n_b"), col("theta"), col("diff_raw"),
        col("diff_cuped"), col("var_red_bp"))
  }

  /** The multi-touch attribution journey: every purchase left-joined to
    * the click/view touches of its user in the 24 h before it, with the
    * per-purchase touch count `k` and the recency rank `rn` (1 = most
    * recent touch). Columns: the purchase's `user_id, p_us, p_eid, cents`,
    * the touch's `t_uid, t_us, t_eid, touch_type` (NULL when none), `k`,
    * `rn`. */
  private def attributionJourney(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_uid"), col("ts_us").as("t_us"),
        col("event_id").as("t_eid"), col("event_type").as("touch_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_us"),
        col("event_id").as("p_eid"), col("cents"))
    // the 24 h lookback lives IN the join condition: a purchase whose user
    // has touches but none in-window must still surface as the null row —
    // a post-join range filter would silently drop it instead
    val cand = purchases.join(touches,
      col("user_id") === col("t_uid") &&
        col("t_us") < col("p_us") &&
        col("t_us") >= col("p_us") - lit(86400000000L),
      "left")
    val wp = Window.partitionBy(col("p_eid"))
    val wr = wp.orderBy(col("t_us").desc, col("t_eid").desc)
    cand
      .withColumn("k", count(col("t_eid")).over(wp))
      .withColumn("rn", row_number().over(wr))
  }

  /** Linear multi-touch attribution — the fairness-minded counterpart of
    * `events_attribution`'s last-touch rule: every click/view in the 24 h
    * BEFORE a purchase shares that purchase's credit equally. Credit is
    * EXACTLY CONSERVED in integer micro-cents: each touch gets
    * `cents·10⁶ DIV k` and the division remainder goes to the most recent
    * touch (a deterministic tie-break, not a float) — so the per-channel
    * rollup sums to precisely the purchased total, the reconciliation
    * property finance asks of an attribution report. Purchases with no
    * in-window touch carry their full credit in the 'none' bucket.
    *
    * Shape: `attributionJourney`'s per-user equi-join (purchases ×
    * touches) with the 24 h lookback as a residual range predicate —
    * per-user blocks bound the candidate volume exactly like the as-of
    * family — and per-purchase count/rank windows, then a |channels|-row
    * hash-agg.
    *
    * Scale: everything keys on user_id; no global window, no self-join
    * beyond the bounded per-user block. */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val credited = attributionJourney(spark, dir).withColumn("credit_micro",
      when(col("k") === 0, col("cents") * lit(1000000L))
        .otherwise(expr("cents * 1000000 DIV k") +
          when(col("rn") === 1, expr("(cents * 1000000) % k")).otherwise(lit(0L))))
    credited
      .groupBy(coalesce(col("touch_type"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit_micro")).as("credit_micro"))
      .orderBy(col("channel"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the fifth
    * standard member of the family (last-touch rule, linear, Markov
    * removal, Shapley + this): the FIRST touch (discovery) and the LAST
    * touch (closer) each take 40% of a purchase's credit, the middles
    * share the remaining 20% — the GA-style 40/20/40 rule. The journey
    * is `attributionJourney` (click/view in the 24 h before the
    * purchase, per-user equi-join with the lookback as a residual range
    * predicate), with the EXACT integer conservation discipline: all shares
    * are positive DIV on micro-cents and every remainder has a
    * deterministic home (k=1 → solo touch takes all; k=2 → half each,
    * remainder to the most recent; k≥3 → first = last = total·2 DIV 5,
    * middle pool = total − 2·that, per-middle pool DIV (k−2), pool
    * remainder to the most recent middle) — so the (channel, position)
    * rollup sums to precisely the purchased total. Purchases with no
    * in-window touch land in ('none', 'none').
    *
    * Scale: `attributionJourney`'s per-user join blocks and per-purchase
    * count/rank windows, then a |channels×positions|-row hash-agg. */
  def positionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val credited = attributionJourney(spark, dir)
      .withColumn("position",
        when(col("k") === 0, lit("none"))
          .when(col("k") === 1, lit("solo"))
          .when(col("rn") === 1, lit("last"))
          .when(col("rn") === col("k"), lit("first"))
          .otherwise(lit("middle")))
      .withColumn("credit_micro",
        when(col("k") <= 1, col("cents") * lit(1000000L))
          .when(col("k") === 2,
            expr("cents * 1000000 DIV 2") +
              when(col("rn") === 1, expr("(cents * 1000000) % 2"))
                .otherwise(lit(0L)))
          .when(col("rn") === 1 || col("rn") === col("k"),
            expr("cents * 1000000 * 2 DIV 5"))
          .otherwise(
            expr("(cents * 1000000 - (cents * 1000000 * 2 DIV 5) * 2)" +
              " DIV (k - 2)") +
              when(col("rn") === 2,
                expr("(cents * 1000000 - (cents * 1000000 * 2 DIV 5) * 2)" +
                  " % (k - 2)")).otherwise(lit(0L))))
    credited
      .groupBy(coalesce(col("touch_type"), lit("none")).as("channel"),
        col("position"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit_micro")).as("credit_micro"))
      .orderBy(col("channel"), col("position"))
  }

  /** Half-sample replication CI for mean exposed-user revenue — the
    * resampling answer when no closed-form variance is trusted (the
    * production cousin of the bootstrap, deterministic by construction):
    * 16 replicates, replicate b keeping the users whose portable 60-bit
    * md5 has bit b set (~half each, independent across b), Var(θ̂) ≈
    * (1/B)·Σ(θ_b−θ̂)² (random-halves replication; balanced BRR needs a
    * design matrix — documented simplification), CI = θ̂ ± 1.96·SE.
    * Emits the 16-row replicate audit with the overall mean/SE/CI on
    * every row.
    *
    * Determinism: per-replicate sums are exact longs off ONE cached
    * per-user relation; each θ_b is one IEEE division round-6, the dev²
    * terms are chains on those round-6 values re-entering the lattice
    * (round-6 → DECIMAL), and the 16-term variance sum is the exact
    * decimal fold — never a float sum across rows. Scale: one per-user
    * hash-agg, a 16× bounded bit-explode collapsing straight back to 16
    * rows, two 1-row broadcasts. */
  def halfsampleCi(spark: SparkSession, dir: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val users = exposedSpend(spark, dir)
      .select(col("user_id"), coalesce(col("y0"), lit(0L)).as("y"),
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .cache() // overall fold + the 16-replicate expansion
    val overall = users.agg(count(lit(1)).as("n_all"), sum(col("y")).as("sy_all"))
      .select(col("n_all"), col("sy_all"),
        round(col("sy_all").cast("double") / col("n_all"), 6).as("mean_all"))
    val reps = users
      .withColumn("b", explode(sequence(lit(0), lit(15))))
      .filter(expr("(h div shiftleft(cast(1 as bigint), b)) % 2 = 1"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("sy_b"))
      .withColumn("mean_b", round(col("sy_b").cast("double") / col("n_b"), 6))
      .crossJoin(broadcast(overall))
      .cache() // audit output + the variance fold
    val varFold = reps.agg(
      sum(round((col("mean_b") - col("mean_all")) * (col("mean_b") - col("mean_all")), 6)
        .cast(dec6)).as("ss"),
      count(lit(1)).as("nb"))
      .select(round(sqrt(col("ss").cast("double") / col("nb")), 6).as("se"))
    reps.crossJoin(broadcast(varFold))
      .select(col("b").cast("long").as("replicate"), col("n_b"), col("sy_b"),
        col("mean_b"), col("n_all"), col("mean_all"), col("se"),
        round(col("mean_all") - lit(1.96) * col("se"), 6).as("ci_lo"),
        round(col("mean_all") + lit(1.96) * col("se"), 6).as("ci_hi"))
      .orderBy(col("replicate"))
  }

  /** Power / MDE calculator off the live exposure relation — the
    * DESIGN-side member of the experimentation suite (SRM/z/t/MW/KS/CUPED
    * read results out; this one says what the NEXT experiment can even
    * detect): from the observed baseline conversion rate p̂ and exposed
    * population, (a) the minimum detectable absolute lift at the current
    * n/2-per-arm allocation, and (b) required per-arm n for target
    * relative lifts {1,2,5,10}% — both from the standard two-proportion
    * normal-approximation identity n = (z_{α/2}+z_β)²·2p̂(1−p̂)/Δ²
    * (α=0.05 two-sided, 80% power; the z constants are literals, no
    * quantile function needed). One exposure hash-agg → a 1-row stats
    * relation → a 4-row bounded explode; every output re-enters the
    * lattice via round-6/ceil-to-long, IEEE chains on exact counts
    * identical in both engines. */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    val st = exposedConversion(spark, dir)
      .agg(count(lit(1)).as("n_exposed"),
        sum(coalesce(col("c"), lit(0L))).as("n_conv"))
      .withColumn("p", col("n_conv").cast("double") / col("n_exposed"))
    // z_{0.025} + z_{0.20} — fixed design constants (α=0.05 two-sided, 80% power)
    val zsum = lit(1.959964) + lit(0.841621)
    st.withColumn("lift_pct", explode(array(lit(1L), lit(2L), lit(5L), lit(10L))))
      .select(col("n_exposed"), col("n_conv"),
        expr("n_conv * 10000 DIV n_exposed").as("p_bp"),
        col("lift_pct"),
        when(col("p") > 0 && col("p") < 1,
          ceil(zsum * zsum * lit(2.0) * col("p") * (lit(1.0) - col("p")) /
            ((col("p") * col("lift_pct") / 100.0) *
             (col("p") * col("lift_pct") / 100.0))).cast("long"))
          .as("n_per_arm_required"),
        when(col("p") > 0 && col("p") < 1 && col("n_exposed") >= 2,
          round(zsum * sqrt(lit(2.0) * col("p") * (lit(1.0) - col("p")) /
            (col("n_exposed").cast("double") / 2.0)), 6)).as("mde_abs"))
      .orderBy(col("lift_pct"))
  }

  /** Welch's t-test on a CONTINUOUS metric — post-exposure revenue cents
    * per exposed user — completing the readout suite: `behavior_ab_ztest`
    * handles the binary conversion metric, this the unequal-variance mean
    * comparison (Welch, the default over Student since arm variances
    * never match in practice), `behavior_cuped` the variance-reduced
    * variant, `behavior_srm_check` the validity gate. t, the per-arm
    * means, and the Welch–Satterthwaite degrees of freedom all derive
    * from one aggregated row of exact integer sums (n, Σy, Σy² per arm);
    * sample variances use the n−1 form; every ratio is IEEE on identical
    * operands re-rounded to 6. Degenerate arms (zero variance in both)
    * → NULL t rather than a division error.
    *
    * Scale: per-user hash-agg + 1-row rollup, the A4 stance. */
  def welchTtest(spark: SparkSession, dir: String): DataFrame = {
    val s = armMoments(armSpend(spark, dir))
    val se2a = armVar("a") / col("n_a")
    val se2b = armVar("b") / col("n_b")
    s.withColumn("mean_a", round(armMean("a"), 6))
      .withColumn("mean_b", round(armMean("b"), 6))
      .withColumn("t", when(se2a + se2b > 0.0, round(
        (armMean("a") - armMean("b")) / sqrt(se2a + se2b), 6)))
      .withColumn("df_welch", when(se2a + se2b > 0.0, round(
        (se2a + se2b) * (se2a + se2b) /
          (se2a * se2a / (col("n_a") - lit(1L)) +
            se2b * se2b / (col("n_b") - lit(1L))), 6)))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("t"), col("df_welch"))
  }

  /** Post-stratified ATE — the observational-causal estimator CUPED's
    * variance reduction doesn't give you: stratify users by PRE-period
    * activity RELATIVE TO THE MEAN (<0.5μ / <μ / <1.5μ / ≥1.5μ pre-
    * midpoint events — scale-free buckets), estimate
    * the treatment effect within each stratum, and weight by stratum
    * size — Σ_s (n_s/n)(ȳ_{s,t} − ȳ_{s,c}), the standard adjustment
    * when assignment correlates with activity. Strata whose treatment
    * OR control arm is empty contribute 0 (documented drop rule, guard
    * mirrored). The stratum domain is FIXED {0,1,2,3}, so like
    * `behavior_anova_f` every per-stratum sum is a column of ONE
    * conditional-aggregation row and the weighted sum is an explicit
    * left-associative IEEE chain — bit-identical, no lattice until the
    * final round-6. Cents exact; the naive unadjusted diff rides along
    * so the output SHOWS the confounding the adjustment removes.
    *
    * Scale: one midpoint fold (A4 broadcast), two user-keyed hash-aggs,
    * one 1-row readout. */
  def postStratAte(spark: SparkSession, dir: String): DataFrame = {
    val e = abEvents(spark, dir)
      .cache() // midpoint fold + pre-activity + post-outcome read it
    val mid = e.agg(
      expr("(min(ts_us) + (max(ts_us) - min(ts_us)) DIV 2)").as("mid_us"))
    val withMid = e.crossJoin(broadcast(mid))
    val pre = withMid.filter(col("ts_us") < col("mid_us"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_pre"))
    val post = withMid
      .filter(col("ts_us") >= col("mid_us") && col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y0"))
    val withPre = e.select(col("user_id")).distinct()
      .join(pre, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("n_pre"), lit(0L)).as("n_pre"))
    // mean-RELATIVE buckets {<0.5μ, [0.5μ,μ), [μ,1.5μ), ≥1.5μ}: scale-free
    // (absolute pre-counts grow with SF and would collapse every user into
    // the top bucket), exact integer micro comparisons; n_pre·2e6 wraps
    // bigint past ~4.6e12 pre-events per user — documented bound
    val mu = withPre.agg(
      expr("sum(n_pre) * 1000000 DIV count(1)").as("mu_micro"))
    val users = withPre.crossJoin(broadcast(mu))
      .join(post, Seq("user_id"), "left")
      .select((col("user_id") % 2).as("v"),
        least(expr("n_pre * 2000000 DIV greatest(mu_micro, 1)"), lit(3L))
          .as("s"),
        coalesce(col("y0"), lit(0L)).as("y"))
    val aggs = (0 to 3).flatMap { s =>
      Seq(0, 1).flatMap { v =>
        Seq(sum(when(col("s") === s.toLong && col("v") === v.toLong, 1L)
            .otherwise(0L)).as(s"n_${s}_$v"),
          sum(when(col("s") === s.toLong && col("v") === v.toLong, col("y"))
            .otherwise(0L)).as(s"y_${s}_$v"))
      }
    } ++ Seq(count(lit(1)).as("n"),
      sum(when(col("v") === 1L, col("y"))).as("y1"),
      sum(when(col("v") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("v") === 0L, col("y"))).as("y0s"),
      sum(when(col("v") === 0L, 1L).otherwise(0L)).as("n0"))
    val g = users.agg(aggs.head, aggs.tail: _*)
    val d = (c: String) => col(c).cast("double")
    val terms = (0 to 3).map { s =>
      when(col(s"n_${s}_0") > 0L && col(s"n_${s}_1") > 0L,
        (d(s"n_${s}_0") + d(s"n_${s}_1")) / d("n") *
          (d(s"y_${s}_1") / d(s"n_${s}_1") - d(s"y_${s}_0") / d(s"n_${s}_0")))
        .otherwise(lit(0.0))
    }
    val used = (0 to 3).map(s =>
      when(col(s"n_${s}_0") > 0L && col(s"n_${s}_1") > 0L, 1L)
        .otherwise(0L)).reduceLeft(_ + _)
    g.select(col("n"), used.as("n_strata_used"),
      round(terms.reduceLeft(_ + _), 6).as("ate_cents"),
      when(col("n1") > 0L && col("n0") > 0L,
        round(d("y1") / d("n1") - d("y0s") / d("n0"), 6)).as("naive_cents"))
  }

  /** Mixture SPRT (Robbins 1970; Johari–Koomen–Pekelis–Walsh 2017 — the
    * "peeking-safe" always-valid test production experiment platforms
    * run): unlike `behavior_ttest_revenue`, whose p-value is only valid
    * at a FIXED n, the mSPRT likelihood ratio Λ may be monitored
    * continuously and 1/Λ is a valid p-value at every look. Normal
    * approximation with a N(0, τ²) effect mixture (τ = $1 = 100 cents,
    * a fixed prior scale):
    * ln Λ = ½·ln(V/(V+τ²)) + θ̂²·τ² / (2·V·(V+τ²)), V = s²_a/n_a +
    * s²_b/n_b, θ̂ = mean_b − mean_a. Moment sums are exact (cents
    * bigint, Σy² decimal-lifted — `armMoments`); ln/exp are libm,
    * so ln Λ and the p-value are round-6 and the ship/hold decision
    * compares the ROUNDED p (identical boundary behavior in both
    * engines).
    *
    * Scale: `armSpend`'s two hash-aggs to per-user, then `armMoments`'
    * 1-row conditional aggregation; the readout is O(1) at any corpus. */
  def msprt(spark: SparkSession, dir: String): DataFrame = {
    val s = armMoments(armSpend(spark, dir))
    val tau2 = lit(10000.0) // τ = 100 cents: the fixed mixture prior scale
    val v = armVar("a") / col("n_a") + armVar("b") / col("n_b")
    val theta = armMean("b") - armMean("a")
    val lnLam = lit(0.5) * log(v / (v + tau2)) +
      theta * theta * tau2 / (lit(2.0) * v * (v + tau2))
    val pAv = round(least(lit(1.0), exp(-lnLam)), 6)
    s.select(col("n_a"), col("n_b"),
      when(v > 0.0, round(theta, 6)).as("theta_cents"),
      when(v > 0.0, round(lnLam, 6)).as("ln_lam"),
      when(v > 0.0, pAv).as("p_always_valid"),
      when(v > 0.0, (pAv < 0.05).cast("long")).otherwise(lit(0L))
        .as("reject_5pct"))
  }

  /** Quantile treatment effects — the distribution-level readout a mean
    * difference hides: how did the experiment move the MEDIAN and the P90
    * of per-user revenue? (A treatment that only fattens the tail shows
    * qte_p90 ≫ qte_median; one that shifts typical users shows the
    * reverse — the standard heavy-tail experimentation companion to
    * `behavior_mann_whitney`'s dominance test on the same substrate.)
    *
    * Exact order statistics, never interpolated approximations: per-arm
    * value histogram → two-pass range-partitioned prefix sums
    * (`rangePrefixSums`, the distributed rank-selection kernel of
    * `events_time_to_convert`) → the k-th value selected by the
    * lt < k ≤ lt + t containment test, median as the average of the two
    * middle order stats. The only IEEE work is that final /2 and the
    * qte subtraction — everything else is exact integer cents.
    *
    * Scale: one hash-agg to the histogram, prefix sums touch |distinct
    * cents values| rows per range partition, ranks via a 1-row broadcast
    * (A4). Degenerate arms (a single-parity log) yield NULL quantiles
    * rather than a wrong zero — the abZtest guard stance. */
  def quantileTreatmentEffect(spark: SparkSession, dir: String): DataFrame = {
    val hist = armHist(armSpend(spark, dir))
    val ranked = rangePrefixSums(hist, "y", Seq("t_a", "t_b"))
    val ks = hist.agg(sum(col("t_a")).as("n_a"), sum(col("t_b")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("(n_a + 1) DIV 2").as("ka1"), expr("n_a DIV 2 + 1").as("ka2"),
        expr("(9 * n_a + 9) DIV 10").as("ka9"),
        expr("(n_b + 1) DIV 2").as("kb1"), expr("n_b DIV 2 + 1").as("kb2"),
        expr("(9 * n_b + 9) DIV 10").as("kb9"))
    def hit(lt: Column, t: Column, k: Column) = lt < k && k <= lt + t
    val indA = when(hit(col("lt_t_a"), col("t_a"), col("ka1")), 1L).otherwise(0L) +
      when(hit(col("lt_t_a"), col("t_a"), col("ka2")), 1L).otherwise(0L)
    val indB = when(hit(col("lt_t_b"), col("t_b"), col("kb1")), 1L).otherwise(0L) +
      when(hit(col("lt_t_b"), col("t_b"), col("kb2")), 1L).otherwise(0L)
    ranked.crossJoin(broadcast(ks))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        (sum(when(indA > 0L, col("y").cast("double") * indA)) / 2.0).as("median_a"),
        (sum(when(indB > 0L, col("y").cast("double") * indB)) / 2.0).as("median_b"),
        max(when(hit(col("lt_t_a"), col("t_a"), col("ka9")), col("y"))).as("p90_a"),
        max(when(hit(col("lt_t_b"), col("t_b"), col("kb9")), col("y"))).as("p90_b"))
      .select(col("n_a"), col("n_b"),
        col("median_a"), col("median_b"),
        (col("median_b") - col("median_a")).as("qte_median"),
        col("p90_a"), col("p90_b"),
        (col("p90_b") - col("p90_a")).as("qte_p90"))
  }

  /** Mann–Whitney U — the rank-based nonparametric twin of
    * `behavior_ttest_revenue`, the test of record when the metric is
    * heavy-tailed (revenue is): does one arm stochastically dominate the
    * other, no normality assumed. Everything stays EXACT integers via the
    * doubled-midrank trick: for value v with `lt` smaller values and `t`
    * ties, 2·midrank = 2·lt + t + 1 — so per-arm rank sums, 2·U, and the
    * tie-correction Σ(t³−t) are all integer arithmetic, and the only IEEE
    * work is the final normal-approximation z (tie-corrected variance),
    * re-rounded to 6. Midranks come from the VALUE HISTOGRAM (one hash-agg
    * collapses users to distinct revenue values), and the cumulative count
    * of smaller values is a TWO-PASS range-partitioned prefix sum (local
    * cumulate per range partition + broadcast partition offsets), so no
    * single task ever sees more than its value range even when distinct
    * cents values approach user count.
    *
    * Output: n_a, n_b, u2_a (= 2·U_a, exact — U itself is half-integer
    * under ties), z. Degenerate (all values tied) → NULL z. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val hist = armSpend(spark, dir).groupBy(col("y"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("t_a"))
    val ranked = rangePrefixSums(hist, "y", Seq("t"))
      .withColumn("lt", col("lt_t"))
      .withColumn("r2", lit(2L) * col("lt") + col("t") + lit(1L)) // 2·midrank
    // tie3 is lifted to DECIMAL(38,0) (HUGEINT in the oracle): the y=0 tie
    // group spans all non-purchasing users, so t³ passes 2⁶³ once a tie
    // group exceeds ~2.1M users — bigint would wrap silently in Spark while
    // DuckDB errors. r2sum_a/u2_a stay bigint by schema contract: their
    // bound is the total rank sum ~n², safe to n ≈ 3×10⁹ exposed users.
    val s = ranked.agg(
      sum(col("t")).as("n"),
      sum(col("t_a")).as("n_a"),
      sum(col("r2") * col("t_a")).as("r2sum_a"), // 2·(rank sum of arm A)
      sum(col("t").cast("decimal(19,0)") * col("t") * col("t") - col("t"))
        .as("tie3")) // Σ(t³−t), exact to 10³⁸
    val nA = col("n_a").cast("double")
    val nB = (col("n") - col("n_a")).cast("double")
    val n = col("n").cast("double")
    // U_a = R_a − n_a(n_a+1)/2, doubled to stay integer
    val u2a = col("r2sum_a") - col("n_a") * (col("n_a") + lit(1L))
    // var(U) with tie correction: (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1)))
    val varU = nA * nB / lit(12.0) *
      ((n + lit(1.0)) - col("tie3").cast("double") / (n * (n - lit(1.0))))
    s.withColumn("u2_a", u2a)
      .withColumn("z", when(varU > 0.0, round(
        (u2a.cast("double") / lit(2.0) - nA * nB / lit(2.0)) / sqrt(varU), 6)))
      .select(col("n_a"), (col("n") - col("n_a")).as("n_b"), col("u2_a"), col("z"))
  }

  /** Spearman rank correlation (Spearman 1904, tie-corrected via the
    * Pearson-on-midranks form) between per-customer order count and total
    * spend — the monotone-association readout that Pearson
    * (`agg_corr_manual`) misses when either margin is heavy-tailed.
    * Midranks stay EXACT integers via the same doubled-midrank trick as
    * `behavior_mann_whitney` (2·midrank = 2·lt + t + 1 from the value
    * histogram), the 2×-scale cancels in the correlation ratio, and every
    * moment sum is lifted to decimal(38,0) (HUGEINT in the oracle):
    * n·Σ(r2x·r2y) ≤ 4n³ passes 2⁶³ at ~1.3M entities, so bigint would
    * wrap silently in Spark while DuckDB errors — the documented
    * overflow-policy trap. Only the final ratio is IEEE, round-6.
    *
    * Scale: one orders hash-agg to per-customer (x, y), two value
    * histograms ranked by the two-pass range-partitioned prefix sum
    * (never an unpartitioned window), rank join-back on the value (equi-
    * shuffle; the histogram side is ≤ distinct values), one 1-row moment
    * agg. Degenerate margins (all x or all y tied) → NULL rho. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
    def ranks(v: String): DataFrame =
      rangePrefixSums(
        per.groupBy(col(v)).agg(count(lit(1)).as("t")), v, Seq("t"))
        .select(col(v),
          (lit(2L) * col("lt_t") + col("t") + lit(1L)).as(s"r2$v"))
    val r = per.join(ranks("x"), "x").join(ranks("y"), "y")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val s = r.agg(
      count(lit(1)).as("n"),
      sum(dec(col("r2x"))).as("sx"),
      sum(dec(col("r2y"))).as("sy"),
      sum(dec(col("r2x")) * dec(col("r2y"))).as("sxy"),
      sum(dec(col("r2x")) * dec(col("r2x"))).as("sxx"),
      sum(dec(col("r2y")) * dec(col("r2y"))).as("syy"))
    val n = dec(col("n"))
    val cxy = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    s.select(col("n"),
      when(vx > 0.0 && vy > 0.0, round(cxy / (sqrt(vx) * sqrt(vy)), 6))
        .as("rho"))
  }

  /** One-way ANOVA F (Fisher) across order priorities on order value —
    * the k-group generalization of `behavior_ttest_revenue`'s two-arm
    * comparison: does ANY priority class have a different mean ticket.
    * Determinism contract: per-group (n_g, Σy) and grand (n, Σy, Σy²)
    * are EXACT (cents bigint; Σy² lifted decimal(19,0)→38 — cents²
    * passes 2⁶³ within ~2.5k rows, the silent-wrap-vs-error trap); the
    * priority alphabet is FIXED, so the groups live as columns of a
    * single conditional-aggregation row and Σ_g Sg²/n_g is an explicit
    * left-associative IEEE expression — same op sequence on the same
    * exact operands in both engines, hence bit-identical with NO
    * rounding (round-to-lattice is a libm absorber; mul/div/add need
    * none, and round(·,4) itself diverges across engines at 1e19
    * magnitude). Only the O(1)-magnitude F is rounded (6).
    *
    * Scale: ONE hash-agg pass over orders producing a 1-row relation —
    * nothing after it is data-sized, no shuffle beyond the partial agg. */
  def anovaPriority(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * 100).cast("long")
    val aggs = AnovaPriorities.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        sum(when(col("grp") === p, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(col("grp") === p, col("y")).otherwise(0L)).as(s"s$i"))
    } ++ Seq(
      count(lit(1)).as("n"), sum(col("y")).as("s"),
      sum(col("y").cast("decimal(19,0)") * col("y")).as("q"))
    val s = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"), cents.as("y"))
      .agg(aggs.head, aggs.tail: _*)
    val idx = AnovaPriorities.indices
    val d = (c: String) => col(c).cast("double")
    val terms = idx.map(i =>
      when(col(s"n$i") > 0L, d(s"s$i") * d(s"s$i") / d(s"n$i"))
        .otherwise(lit(0.0)))
    val a = terms.reduceLeft(_ + _) // left-assoc: fixed IEEE add order
    val k = idx.map(i =>
      when(col(s"n$i") > 0L, 1L).otherwise(0L)).reduceLeft(_ + _)
    val ssb = a - d("s") * d("s") / d("n")
    val ssw = col("q").cast("double") - a
    val df1 = (k - lit(1L)).cast("double")
    val df2 = (col("n") - k).cast("double")
    s.select(k.as("k"), col("n"), ssb.as("ssb"), ssw.as("ssw"),
      when(k > 1L && col("n") > k && ssw > 0.0,
        round((ssb / df1) / (ssw / df2), 6)).as("f"))
  }

  /** Fixed priority alphabet: the per-group ANOVA terms are summed as an
    * EXPLICIT left-associative expression over these (not a float agg
    * whose accumulation order the engine picks), so the double result is
    * bit-identical across engines and partitionings. */
  private val AnovaPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Two-pass range-partitioned EXCLUSIVE prefix sums — the distributed
    * form of `SUM(c) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING AND 1
    * PRECEDING)`: distinct values can approach row count at real scale,
    * so a single unpartitioned cumulative window would funnel everything
    * through one task. Instead: range-shuffle on `ord`, cumulate WITHIN
    * each range partition, and add broadcast per-partition offsets (whose
    * own cumulative window runs over ≤ spark.sql.shuffle.partitions
    * rows — bounded by config, not data). The result is partition-
    * boundary-independent: offset + local prefix is the global prefix
    * wherever the range splits fall. Adds `lt_<col>` per requested
    * column; the input relation is cached for its two reads (the SAME
    * partitioning both times; released by the per-entry
    * `spark.catalog.clearCache()` of `SparkEntry.runEach`, the cache
    * contract every intra-query cache site relies on). Shared by the
    * Mann-Whitney midranks, the KS-test CDFs, and the quality-classifier
    * AUC (`TextAnalysis.qualityAuc`). */
  private[graft] def rangePrefixSums(hist: DataFrame, ord: String,
      cols: Seq[String]): DataFrame = {
    val h = hist.repartitionByRange(col(ord))
      .withColumn("pid", spark_partition_id().cast("long"))
      .cache()
    val wLocal = Window.partitionBy(col("pid")).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs = cols.map(c => sum(col(c)).as(s"pt_$c"))
    val offsets = cols.foldLeft(
      h.groupBy(col("pid")).agg(aggs.head, aggs.tail: _*))((d, c) =>
        d.withColumn(s"off_$c", coalesce(sum(col(s"pt_$c")).over(wOff), lit(0L))))
      .select(col("pid") +: cols.map(c => col(s"off_$c")): _*)
    val local = cols.foldLeft(h)((d, c) =>
      d.withColumn(s"loc_$c", coalesce(sum(col(c)).over(wLocal), lit(0L))))
    cols.foldLeft(local.join(broadcast(offsets), "pid"))((d, c) =>
        d.withColumn(s"lt_$c", col(s"loc_$c") + col(s"off_$c")))
      .drop(cols.map(c => s"loc_$c") ++ cols.map(c => s"off_$c") :+ "pid": _*)
  }

  /** Two-sample Kolmogorov–Smirnov — the DISTRIBUTION-level companion of
    * `behavior_mann_whitney`: MW asks "does one arm stochastically
    * dominate", KS asks "do the two arms' revenue distributions differ
    * ANYWHERE" (location, spread, or shape — the all-purpose A/B
    * distribution check). D = max over values |F_a − F_b|, computed
    * EXACTLY: per-arm inclusive CDF counts from the value histogram via
    * the two-pass range-partitioned prefix sum, deviation kept as the
    * integer |ca·n_b − cb·n_a| (no float CDFs), one max-agg. The only
    * IEEE work is the final D = d_num/(n_a·n_b) and the asymptotic
    * α=0.05 threshold c·√((n_a+n_b)/(n_a·n_b)), c = 1.358 — both single
    * expressions on identical operands (re-rounded / compared
    * identically in both engines). Integer bound: ca·n_b ≤ n_a·n_b
    * overflows bigint past ~3×10⁹ users per arm — the documented
    * experiment-scale bound shared with u2_a.
    *
    * Scale: per-user hash-agg → |distinct values| histogram → two-pass
    * prefix (no unpartitioned data-sized window) → 1-row max. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val cdf = rangePrefixSums(armHist(armSpend(spark, dir)), "y", Seq("t_a", "t_b"))
      .withColumn("ca", col("lt_t_a") + col("t_a")) // inclusive CDF counts
      .withColumn("cb", col("lt_t_b") + col("t_b"))
    // totals from the prefix output's cached base — NOT from hist, whose
    // subtree would re-scan the event log a second time
    val totals = cdf.agg(sum(col("t_a")).as("n_a"), sum(col("t_b")).as("n_b"))
    val nab = col("n_a").cast("double") * col("n_b").cast("double")
    // empty-arm guards, the abZtest stance: a single-parity log must
    // yield NULL ks/reject identically in both engines, not a NaN whose
    // comparison ordering each engine picks for itself
    cdf.crossJoin(broadcast(totals))
      .withColumn("dev", abs(col("ca") * col("n_b") - col("cb") * col("n_a")))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dev")).as("d_num"))
      .withColumn("ks", when(col("n_a") > 0 && col("n_b") > 0,
        round(col("d_num").cast("double") / nab, 6)))
      .withColumn("reject_05", when(col("n_a") > 0 && col("n_b") > 0,
        (col("d_num").cast("double") / nab >
          lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") / nab))
          .cast("long")))
      .select(col("n_a"), col("n_b"), col("d_num"), col("ks"), col("reject_05"))
  }

  /** Sample-ratio mismatch check — the validity gate every experiment
    * platform runs BEFORE reading `behavior_ab_ztest`: a 50/50 split whose
    * realized arm sizes deviate beyond chance means broken bucketing, and
    * every downstream readout is invalid. One-degree chi-square against
    * the designed ratio: χ² = Σ(observed−expected)²/expected over the two
    * arms, flagged at the 3.841 critical value (p < 0.05). Exposure is
    * the same first-'view' relation the z-test reads, so the two entries
    * audit the same population. Counts exact; χ² is IEEE on identical
    * operands, re-rounded to 6; the flag compares that identical double.
    *
    * Scale: one per-user hash-agg + a 1-row global rollup — A4 stance,
    * nothing driver-side. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val firstView = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      .select((col("user_id") % 2).as("variant"))
    val s = firstView.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
    val e = (col("n_a") + col("n_b")).cast("double") / 2.0
    val chi2 = (col("n_a") - e) * (col("n_a") - e) / e +
      (col("n_b") - e) * (col("n_b") - e) / e
    s.withColumn("chi2", round(chi2, 6))
      .withColumn("srm_flag", (chi2 > 3.841).cast("long"))
      .select(col("n_a"), col("n_b"), col("chi2"), col("srm_flag"))
  }

  /** Difference-in-differences — the quasi-experimental estimator for
    * launches WITHOUT randomization (a rollout flipped mid-timeline):
    * arms by `user_id % 2` (the suite's parity convention), periods split
    * at the timeline midpoint, outcome = purchase revenue cents per
    * ACTIVE user (any event in the cell defines membership, so both
    * never-purchasers and the arm's size changes are priced in). The
    * estimate is (treat_post − treat_pre) − (ctrl_post − ctrl_pre) on
    * per-user means — parallel-trends differencing removes both the arm
    * level gap and the secular period shift.
    *
    * Determinism: everything integer — cents are exact, per-cell means in
    * micro-cents via overflow-safe quotient-then-remainder DIV with the
    * empty-cell CASE mirrored (Spark DIV → NULL, DuckDB // errors), the
    * DiD estimate an exact subtraction of four such means (NULL if any
    * cell is empty). Scale: one per-(arm, period, user) hash-agg over
    * the scan, a 4-row rollup, and the A4 broadcast of the 1-row
    * estimate back over the cells — no windows, no second scan. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-16").cast("timestamp")
    val per = Tables.events(spark, dir)
      .select((col("user_id") % 2).as("arm"),
        when(col("ts") < split, "pre").otherwise("post").as("period"),
        col("user_id"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L).as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("arm"), col("period"), col("user_id"))
      .agg(sum(col("cents")).as("cents"), sum(col("p")).as("n_p"))
    val cells = per.groupBy(col("arm"), col("period"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_p")).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
      .withColumn("mean_microcents", when(col("n_users") > 0,
        expr("(revenue_cents DIV n_users) * 1000000 + " +
          "(revenue_cents % n_users) * 1000000 DIV n_users")))
    val est = cells.agg(
      sum(when(col("arm") === 1 && col("period") === "post",
        col("mean_microcents"))).as("tp"),
      sum(when(col("arm") === 1 && col("period") === "pre",
        col("mean_microcents"))).as("tr"),
      sum(when(col("arm") === 0 && col("period") === "post",
        col("mean_microcents"))).as("cp"),
      sum(when(col("arm") === 0 && col("period") === "pre",
        col("mean_microcents"))).as("cr"))
      .select(((col("tp") - col("tr")) - (col("cp") - col("cr")))
        .as("did_microcents"))
    cells.crossJoin(broadcast(est))
      .select(col("arm"), col("period"), col("n_users"), col("n_purchases"),
        col("revenue_cents"), col("mean_microcents"), col("did_microcents"))
      .orderBy(col("arm"), col("period").desc)
  }

  /** Ratio-metric z-test via the delta method — THE trap the rest of the
    * suite can't catch: revenue-per-event (and every per-session /
    * per-pageview metric) is a ratio of two user-level sums, so its
    * variance is NOT the naive per-row variance (rows within a user are
    * correlated); the delta method (Deng et al., KDD'18 practice) expands
    * var(x̄/ȳ) ≈ (vx − 2R·cxy + R²·vy) / (n·ȳ²) from user-level moments.
    * Arms by the suite's parity convention; x = user purchase cents,
    * y = user event count.
    *
    * Determinism: all six per-arm moment sums are exact (second moments
    * DECIMAL(19,0)-seeded → DECIMAL(38,0), HUGEINT in the oracle — the
    * CUPED rule); ratios/variances/z are one IEEE chain on identical
    * operands, structured identically in both engines, round-6 at the
    * three outputs only. Degenerate guards (arm size ≤ 1, empty
    * denominator, zero variance) → NULL, mirrored. Scale: one per-user
    * hash-agg + a 1-row rollup — the ab_ztest shape. */
  def ratioDelta(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("x"), count(lit(1)).as("y"))
      .select((col("user_id") % 2).as("v"), col("x"), col("y"))
    def moments(i: Int, suf: String) = Seq(
      sum(when(col("v") === i, 1L).otherwise(0L)).as(s"n_$suf"),
      sum(when(col("v") === i, col("x")).otherwise(0L)).as(s"sx_$suf"),
      sum(when(col("v") === i, col("y")).otherwise(0L)).as(s"sy_$suf"),
      sum(when(col("v") === i, col("x").cast("decimal(19,0)") * col("x")))
        .as(s"sxx_$suf"),
      sum(when(col("v") === i, col("y").cast("decimal(19,0)") * col("y")))
        .as(s"syy_$suf"),
      sum(when(col("v") === i, col("x").cast("decimal(19,0)") * col("y")))
        .as(s"sxy_$suf"))
    val aggs = moments(0, "a") ++ moments(1, "b")
    val s = per.agg(aggs.head, aggs.tail: _*)
    def d(c: String) = col(c).cast("double")
    def r(suf: String) = d(s"sx_$suf") / d(s"sy_$suf")
    def mv(n: String, s2: String, s1: String) =
      (d(n) * col(s2) - d(s1) * d(s1)) / (d(n) * (d(n) - lit(1.0)))
    def mc(n: String, sxy: String, sx: String, sy: String) =
      (d(n) * col(sxy) - d(sx) * d(sy)) / (d(n) * (d(n) - lit(1.0)))
    def varR(suf: String) = {
      val rr = r(suf)
      (mv(s"n_$suf", s"sxx_$suf", s"sx_$suf")
        - lit(2.0) * rr * mc(s"n_$suf", s"sxy_$suf", s"sx_$suf", s"sy_$suf")
        + rr * rr * mv(s"n_$suf", s"syy_$suf", s"sy_$suf")) /
        (d(s"n_$suf") * (d(s"sy_$suf") / d(s"n_$suf"))
          * (d(s"sy_$suf") / d(s"n_$suf")))
    }
    val ok = col("n_a") > 1 && col("n_b") > 1 &&
      col("sy_a") > 0 && col("sy_b") > 0
    // vsum only under the guard: CaseWhen is lazy, so the inner divisions
    // (by n·(n−1) and sy) never run on a degenerate log where they would
    // trip ANSI divide-by-zero; NULL > 0.0 is NULL → the outer whens fall
    // through to NULL, matching the oracle's CASE chain
    val vsum = when(ok, varR("a") + varR("b"))
    s.select(col("n_a"), col("n_b"),
      when(col("sy_a") > 0, round(r("a"), 6)).as("ratio_a"),
      when(col("sy_b") > 0, round(r("b"), 6)).as("ratio_b"),
      when(vsum > 0.0, round(sqrt(vsum), 6)).as("se"),
      when(vsum > 0.0, round((r("a") - r("b")) / sqrt(vsum), 6)).as("z"))
  }

  /** Shapley channel order is fixed and alphabetical; the coalition
    * lattice below is a pure function of it. */
  private val ShapChannels = Seq("click", "error", "signup", "view")

  /** (channel, S, S∪{channel}, |S|!·(n−|S|−1)!) for every channel and
    * every subset S of the other n−1 channels — 32 literal rows; the
    * Shapley weights sum to n! = 24 per channel. */
  private val shapTriples: Seq[(String, String, String, Long)] = {
    val fact = Array(1L, 1L, 2L, 6L)
    for {
      c <- ShapChannels
      rest = ShapChannels.filterNot(_ == c)
      bits <- 0 until 8
    } yield {
      val s = rest.zipWithIndex.collect {
        case (ch, i) if (bits & (1 << i)) != 0 => ch
      }
      val w = fact(s.size) * fact(ShapChannels.size - s.size - 1)
      (c, s.sorted.mkString(","), (s :+ c).sorted.mkString(","), w)
    }
  }

  private val shapValuesSql: String = shapTriples
    .map { case (c, s, t, w) => s"('$c', '$s', '$t', $w)" }
    .mkString(", ")

  /** Exact Shapley-value attribution (Shapley 1953; the Zhao et al. 2018
    * data-driven MTA formulation) — the game-theoretic third member next
    * to last-touch/linear (rule-based) and Markov removal effects
    * (model-based): each channel's credit is its average marginal lift in
    * conversion rate over every coalition of the other channels,
    * Σ_S |S|!(n−|S|−1)!/n! · [v(S∪c) − v(S)]. With the fixture's 4-channel
    * alphabet the lattice is 16 coalitions / 32 marginals — ENUMERATED
    * EXACTLY as a literal relation, no sampling. v(S) = conversion rate
    * among users whose pre-purchase touch set is exactly S (unobserved
    * coalitions contribute 0 — documented small-sample convention).
    *
    * Determinism: v in exact ppm (positive DIV), marginals and the
    * factorial-weighted sum are pure BIGINT arithmetic in units of
    * ppm×24 (dividing by 24 would be a NEGATIVE integer division — the
    * trunc-vs-floor trap — so the integer column stays ×24 and only the
    * display column divides, one IEEE op round-6). Scale: one distinct
    * (user, channel) projection, one per-user set-fold, a |coalitions|-key
    * hash-agg, and broadcast joins against the 32-row lattice. */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val fp = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val tch = e.filter(col("event_type").isin(ShapChannels: _*))
      .join(fp, Seq("user_id"), "left")
      .filter(col("p_ts").isNull || col("ts") < col("p_ts"))
      .select(col("user_id"), col("event_type")).distinct()
    val sets = tch.groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("s_key"))
    val j = e.select(col("user_id")).distinct()
      .join(sets, Seq("user_id"), "left")
      .join(fp.select(col("user_id"), lit(1L).as("conv")), Seq("user_id"), "left")
      .select(coalesce(col("s_key"), lit("")).as("s_key"),
        coalesce(col("conv"), lit(0L)).as("conv"))
    val coal = j.groupBy(col("s_key"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .withColumn("v_ppm", expr("n_conv * 1000000 DIV n_users"))
    val lat = spark.sql(
      s"SELECT * FROM (VALUES $shapValuesSql) AS t(channel, s_key, t_key, w)")
    lat
      .join(broadcast(coal.select(col("s_key"), col("v_ppm").as("v_s"))),
        Seq("s_key"), "left")
      .join(broadcast(coal.select(col("s_key").as("t_key"), col("v_ppm").as("v_t"))),
        Seq("t_key"), "left")
      .select(col("channel"),
        (col("w") * (coalesce(col("v_t"), lit(0L)) - coalesce(col("v_s"), lit(0L))))
          .as("contrib"))
      .groupBy(col("channel"))
      .agg(sum(col("contrib")).as("shap_x24_ppm"))
      .withColumn("shap_ppm",
        round(col("shap_x24_ppm").cast("double") / lit(24.0), 6))
      .orderBy(col("channel"))
  }

  /** Holm step-down multiple-testing correction applied to anomaly
    * candidates — the MONITORING composition the experimentation family
    * was missing: a fleet that z-scores every hour of traffic raises m
    * simultaneous alerts, and acting on raw per-test α=0.05 fires a
    * false alarm almost surely; Holm (1979) steps down through the
    * ranked |z| with per-rank criticals α/(m−j+1) and stops at the first
    * acceptance, controlling family-wise error with uniformly more power
    * than Bonferroni. Candidates: top-12 hours by |z| against the global
    * hourly-count distribution; the 12 critical z values are FIXED
    * literal micro-integers (metric constants, the rec_eval_ranking
    * discount rule — no inverse-CDF libm in either engine). On this
    * corpus the planted traffic bursts reject (|z| ≥ 3.1) and the noise
    * tail correctly survives — the step-down stops exactly where it
    * should (IRS pin).
    *
    * Determinism: hourly counts and the moment sums are exact longs;
    * mean/variance/z is ONE shared formula string (IEEE on exact
    * operands); ranking ties break on hour_no; the step-down is a
    * running MIN over the rank order — a window over 12 aggregated rows
    * (W1 rule). Scale: one hash-agg over events, a 1-row moment
    * broadcast (A4), TakeOrderedAndProject for the candidate set, then
    * O(m) work. */
  def holmAnomalies(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hrs = Tables.events(spark, dir)
      .select(expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000")
        .as("hour_no"))
      .groupBy(col("hour_no")).agg(count(lit(1)).as("c"))
    val st = hrs.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
      sum(col("c") * col("c")).as("sc2"))
    val zExpr = "(CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))" +
      " / sqrt((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)" +
      " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
    val crit = spark.createDataFrame(Seq(
        (1L, 2865260L), (2L, 2837597L), (3L, 2807034L), (4L, 2772921L),
        (5L, 2734369L), (6L, 2690110L), (7L, 2638257L), (8L, 2575829L),
        (9L, 2497705L), (10L, 2393980L), (11L, 2241403L), (12L, 1959964L)))
      .toDF("rnk", "crit_micro")
    val cand = hrs.crossJoin(broadcast(st))
      .withColumn("z", expr(zExpr))
      .withColumn("zabs", abs(col("z")))
      .orderBy(col("zabs").desc, col("hour_no")).limit(12)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("zabs").desc, col("hour_no"))).cast("long"))
    cand.join(broadcast(crit), "rnk")
      .withColumn("ind",
        (col("zabs") >= col("crit_micro") / lit(1000000.0)).cast("long"))
      .withColumn("rejected", min(col("ind")).over(
        Window.orderBy(col("rnk"))))
      .select(col("rnk"), col("hour_no"), col("c").as("n_events"),
        round(col("z"), 6).as("z"), col("crit_micro"), col("rejected"))
      .orderBy(col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "behavior_holm_anomalies" -> (holmAnomalies _),
    "events_attribution_shapley" -> (shapleyAttribution _),
    "behavior_ratio_delta" -> (ratioDelta _),
    "behavior_diff_in_diff" -> (diffInDiff _),
    "events_attribution_linear" -> (linearAttribution _),
    "events_attribution_markov" -> (markovAttribution _),
    "behavior_ttest_revenue" -> (welchTtest _),
    "behavior_halfsample_ci" -> (halfsampleCi _),
    "behavior_power_mde" -> (powerMde _),
    "behavior_mann_whitney" -> (mannWhitney _),
    "behavior_qte" -> (quantileTreatmentEffect _),
    "behavior_spearman" -> (spearman _),
    "behavior_anova_f" -> (anovaPriority _),
    "behavior_msprt" -> (msprt _),
    "behavior_poststrat_ate" -> (postStratAte _),
    "behavior_ks_test"    -> (ksTest _),
    "behavior_srm_check"  -> (srmCheck _),
    "behavior_cuped"      -> (cuped _),
    "events_attribution"  -> (lastTouchAttribution _),
    "events_attribution_position" -> (positionAttribution _),
    "behavior_ab_ztest"   -> (abZtest _),
    "events_survival_km"  -> (survivalCurve _),
    "events_funnel_windowed" -> (funnelWindowed _),
    "behavior_rfm_segments"  -> (rfmSegments _),
    "etl_snapshot_diff"   -> (snapshotDiff _),
    "typed_longest_streak" -> (longestStreak _),
    "events_funnel"       -> (funnel _),
    "cohort_retention"    -> (cohortRetention _),
    "behavior_cohort_ltv" -> (cohortLtv _),
    "scd2_status_history" -> (scd2StatusHistory _),
    "join_scd2_pointintime" -> (scd2PointInTime _)
  )

  val oracle: Map[String, String] = Map(
    "behavior_holm_anomalies" ->
      """WITH hrs AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour_no,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(c * c) AS BIGINT) AS sc2
        |  FROM hrs),
        |crit(rnk, crit_micro) AS (VALUES
        |  (1, 2865260), (2, 2837597), (3, 2807034), (4, 2772921),
        |  (5, 2734369), (6, 2690110), (7, 2638257), (8, 2575829),
        |  (9, 2497705), (10, 2393980), (11, 2241403), (12, 1959964)),
        |z0 AS (
        |  SELECT hour_no, c,
        |    (CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
        |        * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) AS z
        |  FROM hrs CROSS JOIN st),
        |za AS (SELECT hour_no, c, z, abs(z) AS zabs FROM z0),
        |cand AS (
        |  SELECT hour_no, c, z, zabs
        |  FROM za ORDER BY zabs DESC, hour_no LIMIT 12),
        |rk AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY zabs DESC, hour_no)
        |    AS BIGINT) AS rnk
        |  FROM cand),
        |j AS (
        |  SELECT rk.rnk, rk.hour_no, rk.c, rk.z, rk.zabs,
        |    CAST(crit.crit_micro AS BIGINT) AS crit_micro,
        |    CASE WHEN rk.zabs >= crit.crit_micro / 1000000.0
        |      THEN 1 ELSE 0 END AS ind
        |  FROM rk JOIN crit ON crit.rnk = rk.rnk)
        |SELECT rnk, hour_no, c AS n_events, ROUND(z, 6) AS z, crit_micro,
        |  CAST(MIN(ind) OVER (ORDER BY rnk) AS BIGINT) AS rejected
        |FROM j ORDER BY rnk""".stripMargin,
    "events_attribution_shapley" ->
      s"""WITH fp AS (
        |  SELECT user_id, MIN(ts) AS p_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |tch AS (
        |  SELECT DISTINCT e.user_id, e.event_type
        |  FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
        |  WHERE e.event_type IN ('click', 'error', 'signup', 'view')
        |    AND (fp.p_ts IS NULL OR e.ts < fp.p_ts)),
        |sets AS (
        |  SELECT user_id, string_agg(event_type, ',' ORDER BY event_type)
        |    AS s_key
        |  FROM tch GROUP BY user_id),
        |au AS (SELECT DISTINCT user_id FROM events),
        |j AS (
        |  SELECT COALESCE(s.s_key, '') AS s_key,
        |    CASE WHEN fp.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
        |  FROM au
        |  LEFT JOIN sets s ON au.user_id = s.user_id
        |  LEFT JOIN fp ON au.user_id = fp.user_id),
        |coal AS (
        |  SELECT s_key, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(conv) AS BIGINT) AS n_conv,
        |    CAST(SUM(conv) * 1000000 // COUNT(*) AS BIGINT) AS v_ppm
        |  FROM j GROUP BY s_key),
        |lat AS (
        |  SELECT * FROM (VALUES $shapValuesSql)
        |    AS t(channel, s_key, t_key, w)),
        |d AS (
        |  SELECT lat.channel,
        |    lat.w * (COALESCE(ct.v_ppm, 0) - COALESCE(cs.v_ppm, 0)) AS contrib
        |  FROM lat
        |  LEFT JOIN coal cs ON lat.s_key = cs.s_key
        |  LEFT JOIN coal ct ON lat.t_key = ct.s_key)
        |SELECT channel, CAST(SUM(contrib) AS BIGINT) AS shap_x24_ppm,
        |  ROUND(CAST(SUM(contrib) AS DOUBLE) / 24.0, 6) AS shap_ppm
        |FROM d GROUP BY channel
        |ORDER BY channel""".stripMargin,
    "behavior_ratio_delta" ->
      """WITH per AS (
        |  SELECT user_id % 2 AS v,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |    CAST(SUM(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |    SUM(CASE WHEN v = 0 THEN x::HUGEINT * x END) AS sxx_a,
        |    SUM(CASE WHEN v = 0 THEN y::HUGEINT * y END) AS syy_a,
        |    SUM(CASE WHEN v = 0 THEN x::HUGEINT * y END) AS sxy_a,
        |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
        |    CAST(SUM(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
        |    SUM(CASE WHEN v = 1 THEN x::HUGEINT * x END) AS sxx_b,
        |    SUM(CASE WHEN v = 1 THEN y::HUGEINT * y END) AS syy_b,
        |    SUM(CASE WHEN v = 1 THEN x::HUGEINT * y END) AS sxy_b
        |  FROM per),
        |vv AS (
        |  SELECT *,
        |    CASE WHEN n_a > 1 AND sy_a > 0 THEN
        |    ((n_a::DOUBLE * sxx_a - sx_a::DOUBLE * sx_a)
        |        / (n_a::DOUBLE * (n_a::DOUBLE - 1.0))
        |      - 2.0 * (sx_a::DOUBLE / sy_a)
        |        * ((n_a::DOUBLE * sxy_a - sx_a::DOUBLE * sy_a)
        |          / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)))
        |      + (sx_a::DOUBLE / sy_a) * (sx_a::DOUBLE / sy_a)
        |        * ((n_a::DOUBLE * syy_a - sy_a::DOUBLE * sy_a)
        |          / (n_a::DOUBLE * (n_a::DOUBLE - 1.0))))
        |      / (n_a::DOUBLE * (sy_a::DOUBLE / n_a) * (sy_a::DOUBLE / n_a))
        |      END AS var_a,
        |    CASE WHEN n_b > 1 AND sy_b > 0 THEN
        |    ((n_b::DOUBLE * sxx_b - sx_b::DOUBLE * sx_b)
        |        / (n_b::DOUBLE * (n_b::DOUBLE - 1.0))
        |      - 2.0 * (sx_b::DOUBLE / sy_b)
        |        * ((n_b::DOUBLE * sxy_b - sx_b::DOUBLE * sy_b)
        |          / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)))
        |      + (sx_b::DOUBLE / sy_b) * (sx_b::DOUBLE / sy_b)
        |        * ((n_b::DOUBLE * syy_b - sy_b::DOUBLE * sy_b)
        |          / (n_b::DOUBLE * (n_b::DOUBLE - 1.0))))
        |      / (n_b::DOUBLE * (sy_b::DOUBLE / n_b) * (sy_b::DOUBLE / n_b))
        |      END AS var_b
        |  FROM s)
        |SELECT n_a, n_b,
        |  CASE WHEN sy_a > 0 THEN ROUND(sx_a::DOUBLE / sy_a, 6) END AS ratio_a,
        |  CASE WHEN sy_b > 0 THEN ROUND(sx_b::DOUBLE / sy_b, 6) END AS ratio_b,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND sy_a > 0 AND sy_b > 0
        |      AND var_a + var_b > 0.0
        |    THEN ROUND(sqrt(var_a + var_b), 6) END AS se,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND sy_a > 0 AND sy_b > 0
        |      AND var_a + var_b > 0.0
        |    THEN ROUND((sx_a::DOUBLE / sy_a - sx_b::DOUBLE / sy_b)
        |      / sqrt(var_a + var_b), 6) END AS z
        |FROM vv""".stripMargin,
    "behavior_diff_in_diff" ->
      """WITH per AS (
        |  SELECT user_id % 2 AS arm,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre' ELSE 'post' END
        |      AS period,
        |    user_id,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS cents,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_p
        |  FROM events GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT arm, period, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(n_p) AS BIGINT) AS n_purchases,
        |    CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |    CAST(CASE WHEN COUNT(*) > 0 THEN
        |      (SUM(cents) // COUNT(*)) * 1000000 +
        |        (SUM(cents) % COUNT(*)) * 1000000 // COUNT(*)
        |    END AS BIGINT) AS mean_microcents
        |  FROM per GROUP BY arm, period),
        |est AS (
        |  SELECT CAST(
        |    (SUM(CASE WHEN arm = 1 AND period = 'post' THEN mean_microcents END)
        |     - SUM(CASE WHEN arm = 1 AND period = 'pre' THEN mean_microcents END))
        |    - (SUM(CASE WHEN arm = 0 AND period = 'post' THEN mean_microcents END)
        |       - SUM(CASE WHEN arm = 0 AND period = 'pre' THEN mean_microcents END))
        |    AS BIGINT) AS did_microcents
        |  FROM cells)
        |SELECT arm, period, n_users, n_purchases, revenue_cents,
        |  mean_microcents, did_microcents
        |FROM cells CROSS JOIN est
        |ORDER BY arm, period DESC""".stripMargin,
    "events_attribution_markov" -> markovOracleSql,
    "behavior_halfsample_ci" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |sp AS (
        |  SELECT e.user_id, CAST(SUM(e.cents) AS BIGINT) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT fv.user_id, COALESCE(sp.y0, 0) AS y,
        |    CAST(('0x' || substr(md5(CAST(fv.user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM fv LEFT JOIN sp ON fv.user_id = sp.user_id),
        |ov AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(y) AS BIGINT) AS sy_all,
        |    ROUND(SUM(y)::DOUBLE / COUNT(*), 6) AS mean_all
        |  FROM u),
        |reps AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b,
        |    CAST(SUM(y) AS BIGINT) AS sy_b,
        |    ROUND(SUM(y)::DOUBLE / COUNT(*), 6) AS mean_b
        |  FROM u CROSS JOIN (SELECT unnest(range(0, 16)) AS b) g
        |  WHERE (h // (1::BIGINT << b)) % 2 = 1
        |  GROUP BY b),
        |rv AS (
        |  SELECT ROUND(sqrt(
        |    SUM(CAST(ROUND((r.mean_b - o.mean_all) * (r.mean_b - o.mean_all), 6)
        |      AS DECIMAL(18,6)))::DOUBLE / COUNT(*)), 6) AS se
        |  FROM reps r CROSS JOIN ov o)
        |SELECT CAST(r.b AS BIGINT) AS replicate, r.n_b, r.sy_b, r.mean_b,
        |  o.n_all, o.mean_all, v.se,
        |  ROUND(o.mean_all - 1.96 * v.se, 6) AS ci_lo,
        |  ROUND(o.mean_all + 1.96 * v.se, 6) AS ci_hi
        |FROM reps r CROSS JOIN ov o CROSS JOIN rv v
        |ORDER BY replicate""".stripMargin,
    "behavior_power_mde" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |conv AS (
        |  SELECT DISTINCT e.user_id FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |    AND e.ts_us <= fv.v_us + 86400000000),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exposed,
        |    CAST(SUM(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_conv
        |  FROM fv LEFT JOIN conv c ON fv.user_id = c.user_id),
        |s2 AS (SELECT *, n_conv::DOUBLE / n_exposed AS p FROM st)
        |SELECT n_exposed, n_conv,
        |  CAST(n_conv * 10000 // n_exposed AS BIGINT) AS p_bp,
        |  CAST(g.lift_pct AS BIGINT) AS lift_pct,
        |  CASE WHEN p > 0 AND p < 1 THEN
        |    CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621) * 2.0
        |      * p * (1.0 - p) /
        |      ((p * g.lift_pct / 100.0) * (p * g.lift_pct / 100.0)))
        |      AS BIGINT) END AS n_per_arm_required,
        |  CASE WHEN p > 0 AND p < 1 AND n_exposed >= 2 THEN
        |    ROUND((1.959964 + 0.841621) *
        |      sqrt(2.0 * p * (1.0 - p) / (n_exposed::DOUBLE / 2.0)), 6)
        |    END AS mde_abs
        |FROM s2 CROSS JOIN (SELECT unnest([1, 2, 5, 10]) AS lift_pct) g
        |ORDER BY lift_pct""".stripMargin,
    "events_attribution_position" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |t AS (
        |  SELECT user_id AS t_uid, ts_us AS t_us, event_id AS t_eid,
        |    event_type AS touch_type
        |  FROM e WHERE event_type IN ('click', 'view')),
        |p AS (
        |  SELECT user_id, ts_us AS p_us, event_id AS p_eid, cents
        |  FROM e WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT p.p_eid, p.cents, t.t_eid, t.t_us, t.touch_type
        |  FROM p LEFT JOIN t ON p.user_id = t.t_uid
        |    AND t.t_us < p.p_us AND t.t_us >= p.p_us - 86400000000),
        |ranked AS (
        |  SELECT *, COUNT(t_eid) OVER (PARTITION BY p_eid) AS k,
        |    ROW_NUMBER() OVER (PARTITION BY p_eid
        |      ORDER BY t_us DESC, t_eid DESC) AS rn
        |  FROM cand),
        |credited AS (
        |  SELECT COALESCE(touch_type, 'none') AS channel,
        |    CASE WHEN k = 0 THEN 'none'
        |      WHEN k = 1 THEN 'solo'
        |      WHEN rn = 1 THEN 'last'
        |      WHEN rn = k THEN 'first'
        |      ELSE 'middle' END AS position,
        |    CASE WHEN k <= 1 THEN cents * 1000000
        |      WHEN k = 2 THEN cents * 1000000 // 2
        |        + CASE WHEN rn = 1 THEN (cents * 1000000) % 2 ELSE 0 END
        |      WHEN rn = 1 OR rn = k THEN cents * 1000000 * 2 // 5
        |      ELSE (cents * 1000000 - (cents * 1000000 * 2 // 5) * 2) // (k - 2)
        |        + CASE WHEN rn = 2 THEN
        |            (cents * 1000000 - (cents * 1000000 * 2 // 5) * 2) % (k - 2)
        |          ELSE 0 END
        |    END AS credit_micro
        |  FROM ranked)
        |SELECT channel, position, CAST(COUNT(*) AS BIGINT) AS n_credits,
        |  CAST(SUM(credit_micro) AS BIGINT) AS credit_micro
        |FROM credited GROUP BY channel, position
        |ORDER BY channel, position""".stripMargin,
    "events_attribution_linear" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |t AS (
        |  SELECT user_id AS t_uid, ts_us AS t_us, event_id AS t_eid,
        |    event_type AS touch_type
        |  FROM e WHERE event_type IN ('click', 'view')),
        |p AS (
        |  SELECT user_id, ts_us AS p_us, event_id AS p_eid, cents
        |  FROM e WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT p.p_eid, p.cents, t.t_eid, t.t_us, t.touch_type
        |  FROM p LEFT JOIN t ON p.user_id = t.t_uid
        |    AND t.t_us < p.p_us AND t.t_us >= p.p_us - 86400000000),
        |ranked AS (
        |  SELECT *, COUNT(t_eid) OVER (PARTITION BY p_eid) AS k,
        |    ROW_NUMBER() OVER (PARTITION BY p_eid
        |      ORDER BY t_us DESC, t_eid DESC) AS rn
        |  FROM cand),
        |credited AS (
        |  SELECT COALESCE(touch_type, 'none') AS channel,
        |    CASE WHEN k = 0 THEN cents * 1000000
        |      ELSE cents * 1000000 // k
        |        + CASE WHEN rn = 1 THEN (cents * 1000000) % k ELSE 0 END
        |    END AS credit_micro
        |  FROM ranked)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
        |  CAST(SUM(credit_micro) AS BIGINT) AS credit_micro
        |FROM credited GROUP BY channel
        |ORDER BY channel""".stripMargin,
    "behavior_poststrat_ate" -> {
      val caseCols = (0 to 3).flatMap { s =>
        Seq(0, 1).flatMap { v =>
          Seq(
            s"CAST(SUM(CASE WHEN s = $s AND v = $v THEN 1 ELSE 0 END) AS BIGINT) AS n_${s}_$v",
            s"CAST(SUM(CASE WHEN s = $s AND v = $v THEN y ELSE 0 END) AS BIGINT) AS y_${s}_$v")
        }
      }.mkString(",\n        |    ")
      val terms = (0 to 3).map { s =>
        s"""CASE WHEN n_${s}_0 > 0 AND n_${s}_1 > 0 THEN
           |      (CAST(n_${s}_0 AS DOUBLE) + CAST(n_${s}_1 AS DOUBLE)) /
           |        CAST(n AS DOUBLE) *
           |      (CAST(y_${s}_1 AS DOUBLE) / CAST(n_${s}_1 AS DOUBLE) -
           |       CAST(y_${s}_0 AS DOUBLE) / CAST(n_${s}_0 AS DOUBLE))
           |      ELSE 0.0 END""".stripMargin
      }.mkString(" +\n        |    ")
      val used = (0 to 3)
        .map(s => s"CASE WHEN n_${s}_0 > 0 AND n_${s}_1 > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (
        |  SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid_us
        |  FROM e),
        |pre AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pre
        |  FROM e CROSS JOIN m WHERE ts_us < mid_us GROUP BY user_id),
        |post AS (
        |  SELECT user_id, CAST(SUM(cents) AS BIGINT) AS y0
        |  FROM e CROSS JOIN m
        |  WHERE ts_us >= mid_us AND event_type = 'purchase'
        |  GROUP BY user_id),
        |au AS (SELECT DISTINCT user_id FROM e),
        |wp AS (
        |  SELECT au.user_id, COALESCE(n_pre, 0) AS n_pre
        |  FROM au LEFT JOIN pre ON au.user_id = pre.user_id),
        |mu AS (
        |  SELECT CAST(SUM(n_pre) AS BIGINT) * 1000000 // COUNT(*)
        |    AS mu_micro
        |  FROM wp),
        |u AS (
        |  SELECT wp.user_id % 2 AS v,
        |    LEAST(wp.n_pre * 2000000 // GREATEST(mu.mu_micro, 1), 3) AS s,
        |    COALESCE(y0, 0) AS y
        |  FROM wp CROSS JOIN mu
        |  LEFT JOIN post ON wp.user_id = post.user_id),
        |g AS (
        |  SELECT
        |    $caseCols,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN v = 1 THEN y END) AS BIGINT) AS y1,
        |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN v = 0 THEN y END) AS BIGINT) AS y0s,
        |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM u)
        |SELECT n,
        |  CAST($used AS BIGINT) AS n_strata_used,
        |  ROUND($terms, 6) AS ate_cents,
        |  CASE WHEN n1 > 0 AND n0 > 0 THEN
        |    ROUND(CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |          CAST(y0s AS DOUBLE) / CAST(n0 AS DOUBLE), 6)
        |  END AS naive_cents
        |FROM g""".stripMargin
    },
    "behavior_msprt" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, SUM(cents) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT fv.user_id % 2 AS variant, COALESCE(y0, 0) AS y
        |  FROM fv LEFT JOIN pu ON fv.user_id = pu.user_id),
        |s AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |    SUM(CASE WHEN variant = 0 THEN y::HUGEINT * y ELSE 0 END) AS syy_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
        |    SUM(CASE WHEN variant = 1 THEN y::HUGEINT * y ELSE 0 END) AS syy_b
        |  FROM u),
        |g AS (
        |  SELECT n_a, n_b,
        |    sy_b::DOUBLE / n_b - sy_a::DOUBLE / n_a AS theta,
        |    ((syy_a::DOUBLE - sy_a::DOUBLE * sy_a / n_a) / (n_a - 1)) / n_a +
        |    ((syy_b::DOUBLE - sy_b::DOUBLE * sy_b / n_b) / (n_b - 1)) / n_b
        |      AS v
        |  FROM s),
        |d AS (
        |  SELECT n_a, n_b, theta, v,
        |    0.5 * LN(v / (v + 10000.0)) +
        |      theta * theta * 10000.0 / (2.0 * v * (v + 10000.0)) AS ln_lam
        |  FROM g)
        |SELECT n_a, n_b,
        |  CASE WHEN v > 0 THEN ROUND(theta, 6) END AS theta_cents,
        |  CASE WHEN v > 0 THEN ROUND(ln_lam, 6) END AS ln_lam,
        |  CASE WHEN v > 0 THEN ROUND(LEAST(1.0, EXP(-ln_lam)), 6)
        |  END AS p_always_valid,
        |  CASE WHEN v > 0 THEN
        |    CAST(ROUND(LEAST(1.0, EXP(-ln_lam)), 6) < 0.05 AS BIGINT)
        |    ELSE 0 END AS reject_5pct
        |FROM d""".stripMargin,
    "behavior_anova_f" -> {
      val terms = AnovaPriorities.indices.map(i =>
        s"""CASE WHEN n$i > 0 THEN
           |      CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) /
           |      CAST(n$i AS DOUBLE) ELSE 0.0 END""".stripMargin)
        .mkString(" +\n        |    ")
      val ks = AnovaPriorities.indices
        .map(i => s"CASE WHEN n$i > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      val perGroup = AnovaPriorities.zipWithIndex.map { case (p, i) =>
        s"""CAST(SUM(CASE WHEN grp = '$p' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n$i,
           |    CAST(SUM(CASE WHEN grp = '$p' THEN y ELSE 0 END) AS BIGINT)
           |      AS s$i,""".stripMargin
      }.mkString("\n        |    ")
      s"""WITH o AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |agg AS (
        |  SELECT
        |    $perGroup
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s,
        |    SUM(CAST(y AS HUGEINT) * y) AS q
        |  FROM o),
        |d AS (
        |  SELECT CAST($ks AS BIGINT) AS k, n,
        |    ($terms)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS ssb,
        |    CAST(q AS DOUBLE) - ($terms) AS ssw
        |  FROM agg)
        |SELECT k, n, ssb, ssw,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
        |    ROUND((ssb / CAST(k - 1 AS DOUBLE)) /
        |          (ssw / CAST(n - k AS DOUBLE)), 6)
        |  END AS f
        |FROM d""".stripMargin
    },
    "behavior_spearman" ->
      """WITH per AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY o_custkey),
        |hx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM per GROUP BY x),
        |rx AS (
        |  SELECT x, 2 * COALESCE(SUM(t) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
        |    AS r2x
        |  FROM hx),
        |hy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM per GROUP BY y),
        |ry AS (
        |  SELECT y, 2 * COALESCE(SUM(t) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
        |    AS r2y
        |  FROM hy),
        |j AS (
        |  SELECT CAST(r2x AS HUGEINT) AS r2x, CAST(r2y AS HUGEINT) AS r2y
        |  FROM per JOIN rx USING (x) JOIN ry USING (y)),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(r2x) AS sx,
        |    SUM(r2y) AS sy, SUM(r2x * r2y) AS sxy,
        |    SUM(r2x * r2x) AS sxx, SUM(r2y * r2y) AS syy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0
        |        AND CAST(n AS HUGEINT) * syy - sy * sy > 0 THEN
        |    ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
        |      (SQRT(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)) *
        |       SQRT(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM s""".stripMargin,
    "behavior_qte" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, SUM(cents) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE event_type = 'purchase' AND ts_us > v_us
        |  GROUP BY e.user_id),
        |users AS (
        |  SELECT fv.user_id % 2 AS variant, COALESCE(y0, 0) AS y
        |  FROM fv LEFT JOIN pu ON fv.user_id = pu.user_id),
        |hist AS (
        |  SELECT y,
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t_b
        |  FROM users GROUP BY y),
        |c AS (
        |  SELECT y, t_a, t_b,
        |    COALESCE(SUM(t_a) OVER w, 0) AS lt_a,
        |    COALESCE(SUM(t_b) OVER w, 0) AS lt_b
        |  FROM hist
        |  WINDOW w AS (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT CAST(SUM(t_a) AS BIGINT) AS n_a, CAST(SUM(t_b) AS BIGINT) AS n_b,
        |    (CAST(SUM(t_a) AS BIGINT) + 1) // 2 AS ka1,
        |    CAST(SUM(t_a) AS BIGINT) // 2 + 1 AS ka2,
        |    (9 * CAST(SUM(t_a) AS BIGINT) + 9) // 10 AS ka9,
        |    (CAST(SUM(t_b) AS BIGINT) + 1) // 2 AS kb1,
        |    CAST(SUM(t_b) AS BIGINT) // 2 + 1 AS kb2,
        |    (9 * CAST(SUM(t_b) AS BIGINT) + 9) // 10 AS kb9
        |  FROM hist),
        |m AS (
        |  SELECT MAX(s.n_a) AS n_a, MAX(s.n_b) AS n_b,
        |    SUM(CASE WHEN
        |        ((CASE WHEN c.lt_a < s.ka1 AND s.ka1 <= c.lt_a + c.t_a THEN 1 ELSE 0 END) +
        |         (CASE WHEN c.lt_a < s.ka2 AND s.ka2 <= c.lt_a + c.t_a THEN 1 ELSE 0 END)) > 0 THEN
        |      CAST(c.y AS DOUBLE) * (((CASE WHEN c.lt_a < s.ka1 AND s.ka1 <= c.lt_a + c.t_a THEN 1 ELSE 0 END) +
        |         (CASE WHEN c.lt_a < s.ka2 AND s.ka2 <= c.lt_a + c.t_a THEN 1 ELSE 0 END)))
        |      END) / 2.0 AS median_a,
        |    SUM(CASE WHEN
        |        ((CASE WHEN c.lt_b < s.kb1 AND s.kb1 <= c.lt_b + c.t_b THEN 1 ELSE 0 END) +
        |         (CASE WHEN c.lt_b < s.kb2 AND s.kb2 <= c.lt_b + c.t_b THEN 1 ELSE 0 END)) > 0 THEN
        |      CAST(c.y AS DOUBLE) * (((CASE WHEN c.lt_b < s.kb1 AND s.kb1 <= c.lt_b + c.t_b THEN 1 ELSE 0 END) +
        |         (CASE WHEN c.lt_b < s.kb2 AND s.kb2 <= c.lt_b + c.t_b THEN 1 ELSE 0 END)))
        |      END) / 2.0 AS median_b,
        |    MAX(CASE WHEN c.lt_a < s.ka9 AND s.ka9 <= c.lt_a + c.t_a THEN c.y END) AS p90_a,
        |    MAX(CASE WHEN c.lt_b < s.kb9 AND s.kb9 <= c.lt_b + c.t_b THEN c.y END) AS p90_b
        |  FROM c CROSS JOIN s)
        |SELECT n_a, n_b, median_a, median_b,
        |  median_b - median_a AS qte_median,
        |  CAST(p90_a AS BIGINT) AS p90_a, CAST(p90_b AS BIGINT) AS p90_b,
        |  CAST(p90_b - p90_a AS BIGINT) AS qte_p90
        |FROM m""".stripMargin,
    "behavior_mann_whitney" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, SUM(cents) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT fv.user_id % 2 AS variant, COALESCE(y0, 0) AS y
        |  FROM fv LEFT JOIN pu ON fv.user_id = pu.user_id),
        |hist AS (
        |  SELECT y, CAST(COUNT(*) AS BIGINT) AS t,
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a
        |  FROM u GROUP BY y),
        |ranked AS (
        |  SELECT *, COALESCE(SUM(t) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM hist),
        |s AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t_a) AS BIGINT) AS n_a,
        |    CAST(SUM((2 * lt + t + 1) * t_a) AS BIGINT) AS r2sum_a,
        |    SUM(t::HUGEINT * t * t - t) AS tie3
        |  FROM ranked)
        |SELECT n_a, CAST(n - n_a AS BIGINT) AS n_b,
        |  CAST(r2sum_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
        |  CASE WHEN n_a::DOUBLE * (n - n_a) / 12.0 *
        |      ((n + 1.0) - tie3::DOUBLE / (n::DOUBLE * (n - 1.0))) > 0
        |    THEN ROUND(
        |      ((r2sum_a - n_a * (n_a + 1))::DOUBLE / 2.0
        |        - n_a::DOUBLE * (n - n_a) / 2.0) /
        |      sqrt(n_a::DOUBLE * (n - n_a) / 12.0 *
        |        ((n + 1.0) - tie3::DOUBLE / (n::DOUBLE * (n - 1.0)))), 6)
        |  END AS z
        |FROM s""".stripMargin,
    "behavior_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m_idx,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (
        |  SELECT o_custkey, MIN(m_idx) AS cohort_idx FROM o GROUP BY o_custkey),
        |sz AS (
        |  SELECT cohort_idx, CAST(COUNT(*) AS BIGINT) AS n_cohort_users
        |  FROM f GROUP BY cohort_idx),
        |g AS (
        |  SELECT f.cohort_idx, o.m_idx - f.cohort_idx AS month_offset,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(o.cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN f ON o.o_custkey = f.o_custkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT *, SUM(rev_cents) OVER (PARTITION BY cohort_idx
        |    ORDER BY month_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_cents
        |  FROM g)
        |SELECT c.cohort_idx, c.month_offset, c.n_orders, c.rev_cents,
        |  CAST(c.cum_rev_cents AS BIGINT) AS cum_rev_cents,
        |  sz.n_cohort_users,
        |  CAST(c.cum_rev_cents AS BIGINT) // sz.n_cohort_users AS ltv_cents_per_user
        |FROM c JOIN sz ON c.cohort_idx = sz.cohort_idx
        |ORDER BY c.cohort_idx, c.month_offset""".stripMargin,
    "behavior_ks_test" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, SUM(cents) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT fv.user_id % 2 AS variant, COALESCE(y0, 0) AS y
        |  FROM fv LEFT JOIN pu ON fv.user_id = pu.user_id),
        |hist AS (
        |  SELECT y,
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t_b
        |  FROM u GROUP BY y),
        |cdf AS (
        |  SELECT y, t_a, t_b,
        |    SUM(t_a) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    SUM(t_b) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM hist),
        |tot AS (
        |  SELECT CAST(SUM(t_a) AS BIGINT) AS n_a,
        |    CAST(SUM(t_b) AS BIGINT) AS n_b FROM hist),
        |d AS (
        |  SELECT tot.n_a, tot.n_b,
        |    CAST(MAX(abs(ca * tot.n_b - cb * tot.n_a)) AS BIGINT) AS d_num
        |  FROM cdf CROSS JOIN tot
        |  GROUP BY tot.n_a, tot.n_b)
        |SELECT n_a, n_b, d_num,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ROUND(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE), 6) END AS ks,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(CASE WHEN d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE)
        |        > 1.358 * sqrt((n_a + n_b)::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE))
        |      THEN 1 ELSE 0 END AS BIGINT) END AS reject_05
        |FROM d""".stripMargin,
    "behavior_ttest_revenue" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, SUM(cents) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT fv.user_id % 2 AS variant, COALESCE(y0, 0) AS y
        |  FROM fv LEFT JOIN pu ON fv.user_id = pu.user_id),
        |s AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |    SUM(CASE WHEN variant = 0 THEN y::HUGEINT * y ELSE 0 END) AS syy_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
        |    SUM(CASE WHEN variant = 1 THEN y::HUGEINT * y ELSE 0 END) AS syy_b
        |  FROM u),
        |g AS (
        |  SELECT n_a, n_b,
        |    sy_a::DOUBLE / n_a AS mean_a, sy_b::DOUBLE / n_b AS mean_b,
        |    ((syy_a::DOUBLE - sy_a::DOUBLE * sy_a / n_a) / (n_a - 1)) / n_a AS se2a,
        |    ((syy_b::DOUBLE - sy_b::DOUBLE * sy_b / n_b) / (n_b - 1)) / n_b AS se2b
        |  FROM s)
        |SELECT n_a, n_b,
        |  ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
        |  CASE WHEN se2a + se2b > 0
        |    THEN ROUND((mean_a - mean_b) / sqrt(se2a + se2b), 6) END AS t,
        |  CASE WHEN se2a + se2b > 0
        |    THEN ROUND((se2a + se2b) * (se2a + se2b) /
        |      (se2a * se2a / (n_a - 1) + se2b * se2b / (n_b - 1)), 6)
        |  END AS df_welch
        |FROM g""".stripMargin,
    "behavior_srm_check" ->
      """WITH fv AS (
        |  SELECT user_id % 2 AS variant FROM (
        |    SELECT user_id, MIN(ts) FROM events
        |    WHERE event_type = 'view' GROUP BY user_id)),
        |s AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM fv)
        |SELECT n_a, n_b,
        |  ROUND((n_a - (n_a + n_b)::DOUBLE / 2.0) * (n_a - (n_a + n_b)::DOUBLE / 2.0)
        |      / ((n_a + n_b)::DOUBLE / 2.0)
        |    + (n_b - (n_a + n_b)::DOUBLE / 2.0) * (n_b - (n_a + n_b)::DOUBLE / 2.0)
        |      / ((n_a + n_b)::DOUBLE / 2.0), 6) AS chi2,
        |  CAST(CASE WHEN
        |    (n_a - (n_a + n_b)::DOUBLE / 2.0) * (n_a - (n_a + n_b)::DOUBLE / 2.0)
        |      / ((n_a + n_b)::DOUBLE / 2.0)
        |    + (n_b - (n_a + n_b)::DOUBLE / 2.0) * (n_b - (n_a + n_b)::DOUBLE / 2.0)
        |      / ((n_a + n_b)::DOUBLE / 2.0) > 3.841
        |    THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        |FROM s""".stripMargin,
    "behavior_cuped" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id,
        |    SUM(CASE WHEN e.ts_us < fv.v_us THEN cents ELSE 0 END) AS x0,
        |    SUM(CASE WHEN e.ts_us > fv.v_us THEN cents ELSE 0 END) AS y0
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |u AS (
        |  SELECT fv.user_id % 2 AS variant,
        |    COALESCE(x0, 0) AS x, COALESCE(y0, 0) AS y
        |  FROM fv LEFT JOIN pu ON fv.user_id = pu.user_id),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(x::HUGEINT * y) AS sxy,
        |    SUM(x::HUGEINT * x) AS sxx,
        |    SUM(y::HUGEINT * y) AS syy,
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx) > 0
        |    THEN ROUND((n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |      (n::DOUBLE * sxx - sx::DOUBLE * sx), 6) END AS theta,
        |  ROUND(sy_a::DOUBLE / n_a - sy_b::DOUBLE / n_b, 6) AS diff_raw,
        |  CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx) > 0
        |    THEN ROUND((sy_a::DOUBLE / n_a - sy_b::DOUBLE / n_b) -
        |      ((n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |        (n::DOUBLE * sxx - sx::DOUBLE * sx)) *
        |      (sx_a::DOUBLE / n_a - sx_b::DOUBLE / n_b), 6)
        |    ELSE ROUND(sy_a::DOUBLE / n_a - sy_b::DOUBLE / n_b, 6)
        |  END AS diff_cuped,
        |  CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx) > 0
        |        AND (n::DOUBLE * syy - sy::DOUBLE * sy) > 0
        |    THEN CAST(floor(10000.0 * (n::DOUBLE * sxy - sx::DOUBLE * sy)
        |      * (n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |      ((n::DOUBLE * sxx - sx::DOUBLE * sx)
        |        * (n::DOUBLE * syy - sy::DOUBLE * sy))) AS BIGINT)
        |    ELSE 0 END AS var_red_bp
        |FROM s""".stripMargin,
    "events_attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) END AS cents,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        |  FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |a AS (
        |  SELECT *, last_value(touch_type IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, is_p, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel
        |  FROM e)
        |SELECT COALESCE(channel, 'none') AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM a WHERE is_p = 1
        |GROUP BY COALESCE(channel, 'none')
        |ORDER BY channel""".stripMargin,
    "behavior_ab_ztest" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |conv AS (
        |  SELECT DISTINCT e.user_id FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.v_us
        |    AND e.ts_us <= fv.v_us + 86400000000),
        |u AS (
        |  SELECT fv.user_id % 2 AS variant,
        |    CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END AS converted
        |  FROM fv LEFT JOIN conv ON fv.user_id = conv.user_id),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CASE WHEN n_a > 0 THEN conv_a * 10000 // n_a END AS rate_a_bp,
        |  CASE WHEN n_b > 0 THEN conv_b * 10000 // n_b END AS rate_b_bp,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |      AND (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b)
        |    THEN ROUND((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) /
        |      sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
        |        (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
        |        (1.0 / n_a + 1.0 / n_b)), 6) END AS z
        |FROM agg""".stripMargin,
    "events_funnel_windowed" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT user_id, MIN(ts_us) AS s1_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts_us) AS s2_us, MIN(s1.s1_us) AS s1_us
        |  FROM e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.s1_us
        |    AND e.ts_us <= s1.s1_us + 86400000000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts_us) AS s3_us, MIN(s2.s2_us) AS s2_us
        |  FROM e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.s2_us
        |    AND e.ts_us <= s2.s2_us + 86400000000
        |  GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_no, 'view' AS stage,
        |    COUNT(*) AS n_users,
        |    CAST(SUM(0) AS DOUBLE) / COUNT(*) AS avg_step_us FROM s1
        |  UNION ALL
        |  SELECT 2, 'click', COUNT(*),
        |    CAST(SUM(s2_us - s1_us) AS DOUBLE) / COUNT(*) FROM s2
        |  UNION ALL
        |  SELECT 3, 'purchase', COUNT(*),
        |    CAST(SUM(s3_us - s2_us) AS DOUBLE) / COUNT(*) FROM s3)
        |ORDER BY stage_no""".stripMargin,
    "behavior_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m_dec,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
        |  FROM orders GROUP BY o_custkey),
        |mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        |r AS (
        |  SELECT pc.*, CAST(date_diff('day', CAST(last_order AS DATE),
        |    CAST(maxd AS DATE)) AS BIGINT) AS r
        |  FROM pc, mx),
        |q AS (
        |  SELECT round(quantile_cont(r, 0.25), 6) AS r1,
        |    round(quantile_cont(r, 0.5), 6) AS r2,
        |    round(quantile_cont(r, 0.75), 6) AS r3,
        |    round(quantile_cont(f, 0.25), 6) AS f1,
        |    round(quantile_cont(f, 0.5), 6) AS f2,
        |    round(quantile_cont(f, 0.75), 6) AS f3,
        |    round(quantile_cont(m, 0.25), 6) AS m1,
        |    round(quantile_cont(m, 0.5), 6) AS m2,
        |    round(quantile_cont(m, 0.75), 6) AS m3
        |  FROM r),
        |sc AS (
        |  SELECT r.*,
        |    5 - (CASE WHEN r <= q.r1 THEN 1 WHEN r <= q.r2 THEN 2
        |              WHEN r <= q.r3 THEN 3 ELSE 4 END) AS r_score,
        |    CASE WHEN f <= q.f1 THEN 1 WHEN f <= q.f2 THEN 2
        |         WHEN f <= q.f3 THEN 3 ELSE 4 END AS f_score,
        |    CASE WHEN m <= q.m1 THEN 1 WHEN m <= q.m2 THEN 2
        |         WHEN m <= q.m3 THEN 3 ELSE 4 END AS m_score
        |  FROM r, q)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(m_dec) AS DOUBLE) / COUNT(*) AS avg_monetary
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_survival_km" ->
      """WITH u AS (
        |  SELECT user_id, MIN(ts) AS first_ts,
        |    MIN(CASE WHEN event_type = 'error' THEN ts END) AS first_err
        |  FROM events GROUP BY user_id),
        |lt AS (
        |  SELECT user_id,
        |    date_diff('day', CAST(first_ts AS DATE), CAST(first_err AS DATE)) AS d_raw,
        |    first_err IS NOT NULL AND
        |      date_diff('day', CAST(first_ts AS DATE), CAST(first_err AS DATE)) < 5 AS observed
        |  FROM u),
        |t AS (
        |  SELECT user_id, observed,
        |    CASE WHEN observed THEN d_raw ELSE 5 END AS t FROM lt),
        |byday AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
        |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM t GROUP BY t),
        |tot AS (SELECT COUNT(*) AS n_total FROM t),
        |risk AS (
        |  SELECT byday.*, tot.n_total,
        |    CAST(tot.n_total - COALESCE(SUM(n_failed + n_censored) OVER
        |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
        |  FROM byday, tot),
        |terms AS (
        |  SELECT *, CAST(round(ln(1.0 -
        |      CAST(n_failed AS DOUBLE) / CAST(n_at_risk AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS ln_term
        |  FROM risk)
        |SELECT t AS t_days, n_at_risk, n_failed, n_censored,
        |  round(exp(CAST(SUM(ln_term) OVER
        |    (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS survival
        |FROM terms ORDER BY t_days""".stripMargin,
    "etl_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders WHERE year(o_orderdate)=1998 AND month(o_orderdate)=3
        |  GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders WHERE year(o_orderdate)=1998 AND month(o_orderdate)=4
        |  GROUP BY o_custkey),
        |d AS (
        |  SELECT
        |    CASE WHEN a.o_custkey IS NULL THEN 'added'
        |         WHEN b.o_custkey IS NULL THEN 'removed'
        |         WHEN a.spend <> b.spend THEN 'changed'
        |         ELSE 'unchanged' END AS diff_class,
        |    COALESCE(a.spend, 0) AS sa, COALESCE(b.spend, 0) AS sb
        |  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
        |SELECT diff_class, COUNT(*) AS n_customers,
        |  CAST(SUM(sa) AS DOUBLE) AS spend_a,
        |  CAST(SUM(sb) AS DOUBLE) AS spend_b
        |FROM d GROUP BY diff_class ORDER BY diff_class""".stripMargin,
    "typed_longest_streak" ->
      """WITH m AS (
        |  SELECT DISTINCT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, m,
        |    m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT o_custkey, COUNT(*) AS len FROM g GROUP BY o_custkey, grp),
        |agg AS (
        |  SELECT o_custkey, MAX(len) AS longest_streak
        |  FROM runs GROUP BY o_custkey),
        |cnt AS (
        |  SELECT o_custkey, COUNT(*) AS n_active_months FROM m GROUP BY o_custkey)
        |SELECT c.o_custkey, c.n_active_months, a.longest_streak
        |FROM cnt c JOIN agg a ON c.o_custkey = a.o_custkey
        |ORDER BY c.o_custkey""".stripMargin,
    "events_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT user_id, MIN(ts_us) AS s1_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts_us) AS s2_us
        |  FROM e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.s1_us
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts_us) AS s3_us
        |  FROM e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.s2_us
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage_no, 'view' AS stage,
        |       COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM s3
        |ORDER BY stage_no""".stripMargin,
    "cohort_retention" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m_idx
        |  FROM orders),
        |f AS (
        |  SELECT o_custkey, MIN(m_idx) AS cohort_idx,
        |    date_trunc('month', MIN(o_orderdate)) AS cohort_month
        |  FROM o GROUP BY o_custkey)
        |SELECT f.cohort_month,
        |  CAST(o.m_idx - f.cohort_idx AS BIGINT) AS month_offset,
        |  COUNT(DISTINCT o.o_custkey) AS n_active
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "scd2_status_history" ->
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    LAG(o_orderstatus, 1) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |runs0 AS (
        |  SELECT *, CASE WHEN prev_status IS NULL
        |                   OR prev_status <> o_orderstatus
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM flagged),
        |runs1 AS (
        |  SELECT *, CAST(SUM(chg) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS version_seq
        |  FROM runs0),
        |runs AS (
        |  SELECT o_custkey, version_seq, o_orderstatus,
        |    MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
        |  FROM runs1 GROUP BY 1, 2, 3)
        |SELECT o_custkey, version_seq, o_orderstatus, valid_from,
        |  LEAD(valid_from, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY version_seq) AS valid_to,
        |  n_orders
        |FROM runs
        |ORDER BY o_custkey, version_seq""".stripMargin,
    "join_scd2_pointintime" ->
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    LAG(o_orderstatus, 1) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |runs0 AS (
        |  SELECT *, CASE WHEN prev_status IS NULL
        |                   OR prev_status <> o_orderstatus
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM flagged),
        |runs1 AS (
        |  SELECT *, SUM(chg) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version_seq
        |  FROM runs0),
        |runs AS (
        |  SELECT o_custkey, version_seq, o_orderstatus,
        |    MIN(o_orderdate) AS valid_from
        |  FROM runs1 GROUP BY 1, 2, 3),
        |hist AS (
        |  SELECT o_custkey, o_orderstatus, valid_from,
        |    LEAD(valid_from, 1) OVER (
        |      PARTITION BY o_custkey ORDER BY version_seq) AS valid_to
        |  FROM runs)
        |SELECT h.o_orderstatus AS status_at_ship,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN hist h ON o.o_custkey = h.o_custkey
        |  AND h.valid_from <= l.l_shipdate
        |  AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
  )
}
