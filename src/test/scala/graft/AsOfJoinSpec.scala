package graft

import org.apache.spark.sql.functions._

import graft.operators.Events
import graft.plans.AsOfJoinPlan

/** The custom physical as-of join (plans.AsOfJoinExec, tier (c)) must agree
  * row-for-row with the composed union+window formulation (tier (a),
  * operators.Events.asofClicks) — which is itself DuckDB-oracled against
  * the native ASOF JOIN. Three independent implementations, one answer. */
class AsOfJoinSpec extends SparkSpec {

  private def viaCustomExec(dir: String): Set[(Long, Long, Long, Option[Long], Option[Long])] = {
    val e = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("event_id")).as("p_id"))
      .select(col("p_id"), col("p_user_id"), col("p_ts_us"))
    val joined = AsOfJoinPlan.asofJoin(
      clicks, purchases,
      clicks("user_id"), clicks("ts_us"),
      purchases("p_user_id"), purchases("p_ts_us"))
    joined.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }.toSet
  }

  private def viaComposition(dir: String): Set[(Long, Long, Long, Option[Long], Option[Long])] =
    Events.asofClicks(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }.toSet

  test("custom AsOfJoinExec == composed union+window formulation (sf0.001)") {
    val got = viaCustomExec(sf0001)
    val want = viaComposition(sf0001)
    assert(got.nonEmpty)
    assert(got == want,
      s"diff: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("custom AsOfJoinExec == composed formulation (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    assert(viaCustomExec(dir) == viaComposition(dir))
  }

  test("widened types: raw TIMESTAMP ts == BIGINT-micros formulation") {
    // round-2 verdict item #7: asofJoin inserts unix_micros itself, so the
    // caller can pass the raw timestamp column; answers must be identical
    val e = Tables.events(spark, sf0001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(col("user_id").as("p_user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("event_id")).as("p_id"))
      .select(col("p_id"), col("p_user_id"), col("p_ts_us"))
    // left ts TIMESTAMP vs right ts BIGINT micros — both normalize to micros
    val joined = AsOfJoinPlan.asofJoin(clicks, purchases,
      clicks("user_id"), clicks("ts"),
      purchases("p_user_id"), purchases("p_ts_us"))
    val got = joined.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    val want = viaCustomExec(sf0001).map(t => (t._1, t._4))
    assert(got == want, s"timestamp-normalized answer diverged")
  }

  test("widened types: INT keys are cast, join answer unchanged") {
    val e = Tables.events(spark, sf0001).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").cast("int").as("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").cast("int").as("p_user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("event_id")).as("p_id"))
      .select(col("p_id"), col("p_user_id"), col("p_ts_us"))
    val joined = AsOfJoinPlan.asofJoin(clicks, purchases,
      clicks("user_id"), clicks("ts_us"),
      purchases("p_user_id"), purchases("p_ts_us"))
    val got = joined.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    assert(got == viaCustomExec(sf0001).map(t => (t._1, t._4)))
  }

  test("forward direction: custom exec == composed FOLLOWING-window formulation") {
    val e = Tables.events(spark, sf0001).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("event_id")).as("next_p_id"))
      .select(col("next_p_id"), col("p_user_id"), col("p_ts_us"))
    val joined = AsOfJoinPlan.asofJoin(clicks, purchases,
      clicks("user_id"), clicks("ts_us"),
      purchases("p_user_id"), purchases("p_ts_us"),
      forward = true)
    val got = joined.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    val want = Events.asofForward(spark, sf0001).collect().map { r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    assert(got.nonEmpty && got.exists(_._2.isDefined), "no forward matches — data assumption broken")
    assert(got == want,
      s"diff: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("tolerance: custom exec nulls stale matches == composed tolerance projection") {
    // same 1-hour window as Events.asofTolerance (pandas merge_asof
    // contract: a backward match farther than tolerance emits nulls, the
    // left row survives)
    val e = Tables.events(spark, sf0001).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user_id"), col("ts_us").as("p_ts_us"))
      .agg(max(col("event_id")).as("p_id"))
      .select(col("p_id"), col("p_user_id"), col("p_ts_us"))
    val joined = AsOfJoinPlan.asofJoin(clicks, purchases,
      clicks("user_id"), clicks("ts_us"),
      purchases("p_user_id"), purchases("p_ts_us"),
      tolerance = Some(3600L * 1000000L))
    val got = joined.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    val want = Events.asofTolerance(spark, sf0001).collect().map { r =>
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    assert(got.nonEmpty)
    // the tolerance must actually bite somewhere AND leave matches somewhere
    assert(got.exists(_._2.isEmpty) && got.exists(_._2.isDefined),
      "tolerance test is degenerate on this data")
    assert(got == want,
      s"diff: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("asofJoin rejects non-normalizable key/ts types at call time") {
    val e = Tables.events(spark, sf0001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("string").as("ts_s")) // strings stay rejected
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user_id"),
        col("ts").cast("string").as("p_ts_s"))
    val ex = intercept[IllegalArgumentException] {
      AsOfJoinPlan.asofJoin(clicks, purchases,
        clicks("user_id"), clicks("ts_s"),
        purchases("p_user_id"), purchases("p_ts_s"))
    }
    assert(ex.getMessage.contains("BIGINT"), ex.getMessage)
  }

  test("physical plan shows the custom exec with co-clustered exchanges") {
    val e = Tables.events(spark, sf0001).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user_id"),
        col("ts_us").as("p_ts_us"))
    val joined = AsOfJoinPlan.asofJoin(clicks, purchases,
      clicks("user_id"), clicks("ts_us"),
      purchases("p_user_id"), purchases("p_ts_us"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // nodeName renders without "Exec"
    assert(plan.contains("Sort"), s"no per-partition sort inserted:\n$plan")
    assert(plan.contains("hashpartitioning"), s"no co-clustering exchange:\n$plan")
  }
}
