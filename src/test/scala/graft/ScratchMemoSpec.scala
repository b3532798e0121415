package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** The scratch-memo protocol of [[Tables.scratchDir]] /
  * [[Tables.scratchRelation]], pinned on a private copy of two input
  * tables (so the spec can change their length and mtime) and a private
  * tag: one build per key, nothing published by a failed build, a rebuild
  * for every key change, whole-or-nothing publication of a multi-part
  * directory, and the memo path's exact name. */
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

  private def rm(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  override protected def afterAll(): Unit = {
    try { leftovers().foreach(rm); rm(new File(dir)) }
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
}
