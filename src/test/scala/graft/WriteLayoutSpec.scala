package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Write-side clustering for scan pruning (README scale stance): at 100 TB
  * the cheapest filter is the one that never reads the file. Writing fact
  * data range-partitioned + sorted on the filter key gives every output
  * file a tight min/max envelope, so parquet footer stats (and any
  * catalog-level file index) prune date-ranged scans to a few files.
  * The property that makes this work is DISJOINT per-file key ranges —
  * which is exactly what this spec asserts on a real write.
  */
class WriteLayoutSpec extends SparkSpec {

  // shared fixture: written once on first access, so each test is
  // self-contained (no hidden test-ordering dependency)
  private val layoutDir = Files.createTempDirectory("graft_layout_orders")
  private lazy val layoutPath: String = {
    val out = layoutDir.toString
    Tables.orders(spark, sf0001)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(out)
    out
  }

  override protected def afterAll(): Unit = {
    try TempDirs.remove(layoutDir)
    finally super.afterAll()
  }

  test("repartitionByRange + sortWithinPartitions yields disjoint per-file key ranges") {
    val perFile = spark.read.parquet(layoutPath)
      // epoch micros: timestamp round-trips as NTZ/LocalDateTime, longs
      // compare portably
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("o_orderdate").cast("timestamp"))).as("lo"),
           max(unix_micros(col("o_orderdate").cast("timestamp"))).as("hi"))
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)

    assert(perFile.length > 1, "range write produced a single file — nothing to prune")
    perFile.foreach { case (lo, hi) => assert(lo <= hi) }
    // disjoint envelopes: each file's min is >= the previous file's max
    // (range partitioner boundaries may touch but must not interleave)
    perFile.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(hiA <= loB, s"file ranges interleave: $hiA > $loB")
      case _ =>
    }
  }

  test("a date-ranged filter on the clustered layout pushes into the scan") {
    val scan = spark.read.parquet(layoutPath)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    val plan = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]].*"), s"no pushed filters:\n$plan")
  }

  test("nested-struct schema pruning: selecting one field reads only that field") {
    // wide structs are how multimodal/feature tables nest metadata; at
    // 100 TB reading the whole struct for one field multiplies scan IO —
    // Catalyst's nested-schema pruning must reach the parquet ReadSchema
    val plan = TempDirs.withDir("graft_nested_orders") { d =>
      val out = d.toString
      Tables.orders(spark, sf0001)
        .select(col("o_orderkey"),
          struct(
            col("o_totalprice").as("price"),
            col("o_orderpriority").as("prio"),
            col("o_orderstatus").as("note")).as("info"))
        .write.mode("overwrite").parquet(out)
      val q = spark.read.parquet(out)
        .select(col("o_orderkey"), col("info.price"))
        .filter(col("o_orderkey") > 0)
      q.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("price"), s"pruned away the needed field: $readSchema")
    assert(!readSchema.contains("note") && !readSchema.contains("prio"),
      s"scan reads unneeded struct fields: $readSchema")
  }
}
