package graft

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.functions.Det.dsum
import graft.operators.{Joins, Sources}

/** The scratch-memo protocol of [[Tables.scratchDir]] /
  * [[Tables.scratchRelation]], pinned on a private copy of two input
  * tables (so the spec can change their length and mtime) and a private
  * tag: one build per key, nothing published by a failed build, a rebuild
  * for every key change, whole-or-nothing publication of a multi-part
  * directory, and the memo path's exact name. The last cases rewrite an
  * input of an entry that writes (or once cached) state in place, within
  * one JVM, and require the entry to follow it. */
class ScratchMemoSpec extends SparkSpec {

  private val Tag = "memo_spec"
  private lazy val dir: String = {
    val d = Files.createTempDirectory("scratch_memo_spec_data")
    Seq("region", "nation").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"), d.resolve(s"$t.parquet"))
    }
    d.toString
  }
  private def input(t: String): File = new File(s"$dir/$t.parquet")

  /** Every memo and temp directory this spec left under the scratch root. */
  private def leftovers(): Seq[File] = {
    val prefix = Tables.scratchName(Tag, dir)
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix))
  }

  override protected def afterAll(): Unit = {
    try TempDirs.remove(Paths.get(dir))
    finally super.afterAll()
  }

  private var builds = 0
  private def memo(version: String, srcs: Seq[String] = Seq("region")): DataFrame =
    Tables.scratchRelation(spark, dir, Tag, srcs, version) {
      builds += 1
      spark.range(5).toDF("id")
    }
  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("a build runs once per key and later calls read the published copy") {
    val before = builds
    assert(ids(memo("once")) == (0L until 5L))
    assert(ids(memo("once")) == (0L until 5L))
    assert(builds - before == 1)
  }

  test("a build that throws publishes nothing, and the next call rebuilds") {
    def failing(): DataFrame =
      Tables.scratchRelation(spark, dir, Tag, Seq("region"), "throws") {
        spark.range(3).toDF("id").map { r =>
          if (r.getLong(0) == 2L) throw new IllegalStateException("boom")
          r.getLong(0)
        }(org.apache.spark.sql.Encoders.scalaLong).toDF("id")
      }
    intercept[Exception](failing().collect())
    assert(!leftovers().exists(_.getName.contains("_throws")),
      s"a failed build left ${leftovers().map(_.getName)}")
    val before = builds
    assert(ids(memo("throws")) == (0L until 5L))
    assert(builds - before == 1)
  }

  test("a new version string rebuilds") {
    memo("va")
    val before = builds
    memo("vb")
    assert(builds - before == 1)
    memo("va"); memo("vb")
    assert(builds - before == 1)
  }

  test("changing an input table's mtime or length rebuilds") {
    memo("stamp", Seq("region", "nation"))
    val before = builds
    val nation = input("nation")
    assert(nation.setLastModified(nation.lastModified() - 60000L))
    memo("stamp", Seq("region", "nation"))
    assert(builds - before == 1, "mtime change of the second input")
    // same mtime, different length: the region file's bytes swapped for
    // the (longer) nation file's, then its old mtime restored
    val region = input("region")
    val mtime = region.lastModified()
    Files.copy(nation.toPath, region.toPath, StandardCopyOption.REPLACE_EXISTING)
    assert(region.setLastModified(mtime))
    memo("stamp", Seq("region", "nation"))
    assert(builds - before == 2, "length change of the first input")
    memo("stamp", Seq("region", "nation"))
    assert(builds - before == 2)
  }

  test("a two-part directory build is visible whole or not at all") {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def published(): Seq[File] =
      leftovers().filter(_.getName.endsWith("_epochs"))
    def twoParts(failAfterFirst: Boolean): String =
      Tables.scratchDir(spark, dir, Tag, Seq("region"), "epochs") { out =>
        spark.range(3).toDF("id").write.parquet(s"$out/epoch1")
        // mid-build, nothing is visible at the published name
        assert(published().isEmpty)
        if (failAfterFirst) throw new IllegalStateException("crash between the parts")
        spark.range(3, 6).toDF("id").write.parquet(s"$out/epoch2")
      }
    intercept[IllegalStateException](twoParts(failAfterFirst = true))
    assert(leftovers().forall(!_.getName.contains("_epochs")),
      s"a half-built directory is visible: ${leftovers().map(_.getName)}")
    val path = twoParts(failAfterFirst = false)
    assert(published().map(_.getPath) == Seq(path))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")))
    assert(ids(spark.read.parquet(s"$path/epoch1", s"$path/epoch2")) == (0L until 6L))
    // a second call is a hit: the write does not run again
    assert(Tables.scratchDir(spark, dir, Tag, Seq("region"), "epochs")(_ =>
      fail("a published directory was rebuilt")) == path)
  }

  test("a writer that loses the publish race keeps the winner's copy") {
    val path = Tables.scratchDir(spark, dir, Tag, Seq("region"), "race") { out =>
      spark.range(2).toDF("id").write.parquet(out)
      // a concurrent writer publishes the same key first
      Tables.scratchDir(spark, dir, Tag, Seq("region"), "race") { other =>
        spark.range(2).toDF("id").write.parquet(other)
      }
    }
    assert(ids(spark.read.parquet(path)) == Seq(0L, 1L))
    assert(leftovers().forall(!_.getName.contains("race__tmp_")))
  }

  test("the DataFrame form's path is <scratchPath>_<len>_<mtime>..._<version>") {
    val srcs = Seq("region", "nation")
    val sig = srcs.map(t => s"${input(t).length()}_${input(t).lastModified()}")
    val expected = s"${Tables.scratchPath(Tag, dir)}_${sig.mkString("_")}_named"
    val df = memo("named", srcs)
    assert(df.inputFiles.nonEmpty)
    assert(df.inputFiles.forall(f => new File(new java.net.URI(f)).getParent == expected),
      s"expected files under $expected, got ${df.inputFiles.toSeq}")
    assert(new File(s"$expected/_SUCCESS").exists())
  }

  /** `f` on a private copy of `tables`; afterwards every scratch memo
    * built over the copy and every catalog table named after one are
    * removed. */
  private def onCopy[A](tables: String*)(f: Path => A): A =
    TempDirs.withDir("scratch_memo_spec_rewrite") { d =>
      tables.foreach(t => Files.copy(Paths.get(s"$sf0001/$t.parquet"), d.resolve(s"$t.parquet")))
      try f(d)
      finally spark.catalog.listTables().collect().map(_.name)
        .filter(_.toLowerCase.contains(TempDirs.memoKey(d).toLowerCase))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

  /** Replaces `table` in the copy `d` by `f` of it, as one parquet file
    * under the same name. */
  private def rewrite(d: Path, table: String)(f: DataFrame => DataFrame): Unit = {
    val file = d.resolve(s"$table.parquet")
    val out = d.resolve(s"${table}_rewrite").toString
    f(spark.read.parquet(file.toString)).coalesce(1).write.parquet(out)
    val part = new File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("join_bucketed_revenue follows a rewrite of orders within one JVM") {
    onCopy("orders", "customer") { d =>
      val dir = d.toString
      def plainJoin(): Seq[Row] =
        Tables.orders(spark, dir)
          .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_value"))
          .orderBy(col("c_mktsegment")).collect().toSeq
      val before = Joins.bucketedRevenue(spark, dir).collect().toSeq
      assert(before == plainJoin())
      rewrite(d, "orders")(_.filter(col("o_orderkey") % 7 =!= 0))
      val after = Joins.bucketedRevenue(spark, dir).collect().toSeq
      assert(after != before, "dropping a slice of orders should change the revenue")
      assert(after == Joins.bucketedRevenue(spark.newSession(), dir).collect().toSeq)
      assert(after == plainJoin(), "the bucketed tables served the old orders")
      // the memo-backed tables stay bucketed: without broadcast joins or
      // AQE the sort-merge join reads both sides with no exchange below it
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = Joins.bucketedRevenue(s, dir).queryExecution.executedPlan
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.size == 1 && joins.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"the bucketed join shuffles its inputs:\n$plan")
      // memos removed and rebuilt under the same keys: the session's
      // registered tables must list the new files, not the deleted ones
      TempDirs.memosOver(d).foreach(TempDirs.rm)
      assert(Joins.bucketedRevenue(spark, dir).collect().toSeq == after)
    }
  }

  test("the events loader decodes the same instants after ts is rewritten to raw nanos") {
    onCopy("events") { d =>
      val dir = d.toString
      def instants(): Seq[Row] =
        Tables.events(spark, dir).select(col("event_id"), col("ts"))
          .orderBy(col("event_id")).collect().toSeq
      val before = instants()
      assert(Tables.events(spark, dir).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      rewrite(d, "events")(_.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L))
      assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(instants() == before, "the nanos timeline was not decoded")
    }
  }

  test("src_csv_roundtrip follows a rewrite of supplier under a new memo key") {
    onCopy("supplier") { d =>
      val dir = d.toString
      def plain(): Seq[Row] =
        Tables.supplier(spark, dir).groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("sum_acctbal"),
            min(col("s_name")).as("first_name"))
          .orderBy(col("s_nationkey")).collect().toSeq
      val before = Sources.csvRoundtrip(spark, dir).collect().toSeq
      assert(before == plain())
      rewrite(d, "supplier")(_.filter(col("s_suppkey") % 3 =!= 0))
      val after = Sources.csvRoundtrip(spark, dir).collect().toSeq
      assert(after != before, "dropping a slice of supplier should change the aggregate")
      assert(after == plain(), "the round-trip read the old supplier")
      val src = new File(s"$dir/supplier.parquet")
      val key = s"${Tables.scratchPath("csv", dir)}_${src.length()}_${src.lastModified()}_v1"
      assert(new File(s"$key/_SUCCESS").exists(), s"no memo published at $key")
    }
  }
}
