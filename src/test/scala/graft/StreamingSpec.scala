package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Top-level so Spark can derive an Encoder (inner case classes can't). */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double)

/** Change row for the MergeSink CDC test. */
final case class Chg(k: Long, v: String, seq: Long)

/** Batch ≡ stream equivalence (SURVEY.md §7.5): the streaming shapes in
  * graft.streaming.Streams must produce the same aggregates as batch
  * formulations over the same rows. Streaming can't be DuckDB-hash-checked,
  * so this spec IS its correctness gate.
  *
  * Semantics note: session_window(ts, gap) is half-open [ts, ts+gap), so a
  * successor exactly `gap` later starts a NEW session — the batch twin here
  * uses `diff >= gap` accordingly. (The oracle'd batch catalog entry uses
  * strict `>`, a deliberate, documented difference of definition.)
  */
class StreamingSpec extends SparkSpec {

  private lazy val batchEvents: DataFrame =
    Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .cache()

  private def runStream(name: String, mode: String)
                       (mkQuery: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = batchEvents.as[Ev].collect().toSeq
    val mem = MemoryStream[Ev]
    mem.addData(rows)
    val q = mkQuery(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.table(name).collect().toSeq
  }

  test("tumbling 1h counts: stream == batch") {
    val got = runStream("t_tumbling", "complete")(Streams.tumblingCounts)
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val want = batchEvents
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == want)
  }

  test("sliding 3h/1h counts: stream == batch window()") {
    val got = runStream("t_sliding", "complete")(Streams.slidingCounts)
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val want = batchEvents
      .groupBy(window(col("ts"), "3 hours", "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("win.start"), col("event_type"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == want)
    // each event lands in exactly width/slide = 3 overlapping windows
    assert(got.values.map(_._1).sum == 3 * batchEvents.count())
  }

  test("session windows (30m gap): stream == batch gaps-and-islands") {
    val got = runStream("t_session", "complete")(Streams.sessionWindows)
      .map(r => (r.getLong(0), r.getTimestamp(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val gapUs = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = batchEvents
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val want = flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2)) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got == want)
  }

  test("streaming dedup keeps exactly the distinct event_ids") {
    val got = runStream("t_dedup", "append")(Streams.dedupStream)
    val ids = got.map(_.getAs[Long]("event_id"))
    assert(ids.toSet.size == ids.size, "duplicate event_ids survived")
    assert(ids.toSet == batchEvents.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("stream-static enrichment join == batch left join, nulls preserved") {
    val dim = Tables.customer(spark, sf0001)
      .select(col("c_custkey").as("user_id"),
        when(col("c_acctbal") >= 5000, "gold")
          .when(col("c_acctbal") >= 0, "std").otherwise("debt").as("tier"))
    val got = runStream("t_enrich", "append")(Streams.enrichWithDim(_, dim))
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier")))
      .toSet
    val want = batchEvents.join(dim, Seq("user_id"), "left_outer")
      .select(col("event_id"), col("tier")).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier")))
      .toSet
    assert(got == want)
    // user_id ⊆ custkey in the harness data → every event must enrich
    assert(got.nonEmpty && got.forall(_._2 != null), "expected full dim match")
    assert(got.size == batchEvents.count(), "enrichment dropped or duplicated events")
  }

  test("foreachBatch merge sink: parquet base == last-write-wins over all batches") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the sink creates the base on its first batch, so both paths sit
    // unborn inside a fresh directory
    val tmp = Files.createTempDirectory("graft_merge_sink").toString
    val basePath = s"$tmp/base"
    val cp = s"$tmp/cp"

    val mem = MemoryStream[Chg]
    val q = graft.streaming.MergeSink.start(mem.toDF(), basePath, cp)
    try {
      mem.addData(Chg(1, "a", 1), Chg(2, "b", 2))
      q.processAllAvailable()   // batch 1: creates the base
      mem.addData(Chg(1, "a2", 3), Chg(3, "c", 4))
      q.processAllAvailable()   // batch 2: update + insert
      // same key TWICE within one batch: in-batch compaction must pick seq 6
      mem.addData(Chg(2, "b2", 5), Chg(2, "b3", 6), Chg(4, "d", 7))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(basePath).as[Chg].collect().toSet
    assert(got == Set(Chg(1, "a2", 3), Chg(2, "b3", 6), Chg(3, "c", 4),
      Chg(4, "d", 7)))
  }

  test("stream-stream interval join == batch join on the same rows") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = batchEvents.filter(col("event_type") === "click")
    val purchases = batchEvents.filter(col("event_type") === "purchase")
    val memC = MemoryStream[Ev]
    val memP = MemoryStream[Ev]
    memC.addData(clicks.as[Ev].collect().toSeq)
    memP.addData(purchases.as[Ev].collect().toSeq)
    val q = Streams.clickPurchaseJoin(memC.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("t_ssjoin").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("t_ssjoin")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = clicks.as("c").join(purchases.as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("p.ts") >= col("c.ts") - expr("INTERVAL 1 HOUR") &&
          col("p.ts") <= col("c.ts"))
      .select(col("c.event_id"), col("p.event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "batch join matched nothing — test data assumption broken")
    assert(got == want)
  }

  test("left-outer interval join: matches eager, null-padded at watermark close") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, user: Long, t: String, typ: String) =
      Ev(id, Timestamp.valueOf(t), user, typ, 1.0)
    val memC = MemoryStream[Ev]
    val memP = MemoryStream[Ev]
    val q = Streams.clickPurchaseLeftJoin(memC.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("t_ssleft").outputMode("append")
      .start()
    try {
      // user 1's click has a purchase 30m earlier → matched pair;
      // user 2's click has no purchase at all → must surface null-padded
      memC.addData(Seq(ev(1, 1L, "2024-01-01 12:00:00", "click"),
                       ev(2, 2L, "2024-01-01 12:00:00", "click")))
      memP.addData(Seq(ev(10, 1L, "2024-01-01 11:30:00", "purchase")))
      q.processAllAvailable()
      // push BOTH watermarks (global = min) past the clicks' match
      // intervals so the unmatched click's null row can be emitted …
      memC.addData(Seq(ev(90, 9L, "2024-01-02 12:00:00", "click")))
      memP.addData(Seq(ev(91, 9L, "2024-01-02 12:00:00", "purchase")))
      q.processAllAvailable()
      // … in a subsequent microbatch (outer-join nulls emit one batch
      // after the watermark advance)
      memC.addData(Seq(ev(92, 9L, "2024-01-03 12:00:00", "click")))
      memP.addData(Seq(ev(93, 9L, "2024-01-03 12:00:00", "purchase")))
      q.processAllAvailable()
      val got = spark.table("t_ssleft")
        .filter(col("click_id") < 90) // ignore the watermark-sentinel rows
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(got == Set(1L -> Some(10L), 2L -> None),
        s"expected one match and one null-padded click, got $got")
      // and the streaming answer equals the batch twin on the same rows
      val allRows = Seq(ev(1, 1L, "2024-01-01 12:00:00", "click"),
        ev(2, 2L, "2024-01-01 12:00:00", "click"),
        ev(10, 1L, "2024-01-01 11:30:00", "purchase"))
      val e = allRows.toDF().withColumn("ts_us", unix_micros(col("ts")))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("click_us"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
          col("ts_us").as("purchase_us"))
      val want = c.join(p, col("user_id") === col("p_user_id") &&
          col("purchase_us") >= col("click_us") - lit(3600L * 1000000L) &&
          col("purchase_us") <= col("click_us"), "left_outer")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("chained stateful operators: interval join feeding a windowed agg, one query") {
    // the composition a 24/7 pipeline actually deploys: stream-stream join
    // THEN tumbling aggregation in a single streaming query (multiple
    // stateful operators in append mode — Spark 4 propagates the join's
    // watermark to the downstream window)
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = batchEvents.filter(col("event_type") === "click")
    val purchases = batchEvents.filter(col("event_type") === "purchase")
    val memC = MemoryStream[Ev]
    val memP = MemoryStream[Ev]
    memC.addData(clicks.as[Ev].collect().toSeq)
    memP.addData(purchases.as[Ev].collect().toSeq)
    val joined = Streams.clickPurchaseJoin(memC.toDF(), memP.toDF())
    val agged = joined
      .groupBy(window(col("click_ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("win.start").as("hour_start"), col("n_pairs"))
    val q = agged.writeStream.format("memory").queryName("t_chained")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("t_chained").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // batch oracle: same join + agg over the same rows. A window is only
    // closed once its END ≤ the join-delayed watermark (maxTs − 2h: 1h join
    // delay + 1h window watermark), i.e. its START is strictly before
    // maxTs − 3h; later windows may still be open in state at stream end.
    val maxTs = batchEvents.agg(max(col("ts"))).first().getTimestamp(0)
    val want = clicks.as("c").join(purchases.as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("p.ts") >= col("c.ts") - expr("INTERVAL 1 HOUR") &&
          col("p.ts") <= col("c.ts"))
      .groupBy(date_trunc("hour", col("c.ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("hour_start") < lit(maxTs) - expr("INTERVAL 3 HOURS"))
      .collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty, "batch oracle empty — test data assumption broken")
    want.foreach { case (h, n) =>
      assert(got.get(h).contains(n), s"window $h: stream=${got.get(h)} batch=$n")
    }
  }

  test("parquet sink + checkpoint: restart resumes exactly-once, no duplicate windows") {
    // production lifecycle: stop a streaming query and restart it from its
    // checkpoint — the file-sink commit log plus the offset log must hand
    // the new incarnation the old state (watermark, window contents) and
    // never double-write a finalized window
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val out = Files.createTempDirectory("graft_sink").toString
    def ev(id: Long, t: String, v: Double) =
      Ev(id, Timestamp.valueOf(t), user_id = 1L, event_type = "click", value = v)
    val mem = MemoryStream[Ev]
    def start() = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    // hour 10 gets 2 events; the 13:00 event pushes the watermark to 12:00,
    // finalizing hour 10 into the sink
    mem.addData(Seq(ev(1, "2024-01-01 10:15:00", 1.0),
                    ev(2, "2024-01-01 10:45:00", 2.0),
                    ev(3, "2024-01-01 13:00:00", 4.0)))
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint; a far-future event closes hour 13
    val q2 = start()
    mem.addData(Seq(ev(4, "2024-01-02 10:00:00", 8.0)))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out)
      .select(col("hour_start"), col("n_events"), col("sum_value")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
    // each finalized window appears EXACTLY once across both incarnations
    assert(rows.size == rows.distinct.size, s"duplicate windows after restart: $rows")
    val byHour = rows.map { case (h, n, s) => h -> ((n, s)) }.toMap
    assert(byHour(Timestamp.valueOf("2024-01-01 10:00:00")) == ((2L, 3.0)), byHour)
    assert(byHour(Timestamp.valueOf("2024-01-01 13:00:00")) == ((1L, 4.0)), byHour)
  }

  test("file source + AvailableNow: second run processes only new files") {
    // the daily-ingest pattern: Trigger.AvailableNow drains whatever files
    // exist, commits offsets to the checkpoint, and terminates; the next
    // incarnation discovers ONLY files that landed in between — incremental
    // batch processing with streaming's exactly-once file accounting,
    // zero reprocessing of the (at 100 TB, enormous) already-seen backlog
    val src  = Files.createTempDirectory("graft_inc_src").toString
    val ckpt = Files.createTempDirectory("graft_inc_ckpt").toString
    val out  = Files.createTempDirectory("graft_inc_out").toString
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); q.stop()
    }
    drain()
    val afterFirst = spark.read.parquet(out).count()
    val evens = docs.filter(col("doc_id") % 2 === 0).count()
    assert(afterFirst == evens, s"first drain wrote $afterFirst, want $evens")
    // day 2: new files land; the old backlog must not be re-read
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(src)
    drain()
    val all = spark.read.parquet(out)
    assert(all.count() == docs.count(), "second drain missed new files")
    // exactly-once across incarnations: no doc ingested twice
    assert(all.groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0,
      "a file was reprocessed across AvailableNow incarnations")
  }

  test("watermark drops late data: closed windows ignore stragglers") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, v: Double) =
      Ev(id, Timestamp.valueOf(t), user_id = 1L, event_type = "click", value = v)
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("t_late").outputMode("append")
      .start()
    // batch 1: events in hour 10 and hour 13 → watermark advances to 12:00
    mem.addData(Seq(ev(1, "2024-01-01 10:15:00", 1.0),
                    ev(2, "2024-01-01 10:45:00", 2.0),
                    ev(3, "2024-01-01 13:00:00", 4.0)))
    q.processAllAvailable()
    // batch 2: straggler for hour 10 — BELOW the 12:00 watermark → dropped
    mem.addData(Seq(ev(4, "2024-01-01 10:50:00", 100.0)))
    q.processAllAvailable()
    // batch 3: push event time far forward so every window closes and emits
    mem.addData(Seq(ev(5, "2024-01-02 10:00:00", 8.0)))
    q.processAllAvailable()
    q.stop()
    val hour10 = spark.table("t_late")
      .filter(col("hour_start") === Timestamp.valueOf("2024-01-01 10:00:00"))
      .collect()
    assert(hour10.length == 1)
    // the straggler's value=100.0 must NOT be included
    assert(hour10.head.getAs[Long]("n_events") == 2)
    assert(hour10.head.getAs[Double]("sum_value") == 3.0)
  }
}
