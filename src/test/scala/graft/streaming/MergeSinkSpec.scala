package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Change row (top-level for Encoder derivation). */
final case class MChg(k: Long, v: String, seq: Long)

/** Unit-level pins for MergeSink's swap protocol and compaction
  * determinism — the properties the end-to-end StreamingSpec test can't
  * exercise (it never crashes mid-swap and its seqs are unique). */
class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("recovery restores a complete base after a crash between the swap renames") {
    val basePath = Files.createTempDirectory("graft_merge_recover").toString + "/base"
    val base = new Path(basePath)
    val old = new Path(basePath + ".old")

    MergeSink.applyMerge(Seq(MChg(1, "a", 1), MChg(2, "b", 2)).toDF(),
      basePath, "k", "seq")
    // simulate dying between rename(base, old) and rename(tmp, base):
    // the new table never landed, only .old holds the data
    require(fs.rename(base, old))
    // the replayed batch must roll .old back before merging, losing nothing
    MergeSink.applyMerge(Seq(MChg(3, "c", 3)).toDF(), basePath, "k", "seq")
    val got = spark.read.parquet(basePath).as[MChg].collect().toSet
    assert(got == Set(MChg(1, "a", 1), MChg(2, "b", 2), MChg(3, "c", 3)))
    assert(!fs.exists(old), "recovery left a stale .old behind")
  }

  test("compaction breaks seq ties deterministically (idempotent replay)") {
    val batch = Seq(MChg(1, "x", 5), MChg(1, "y", 5), MChg(2, "only", 1)).toDF()
    val rows = MergeSink.compactBatch(batch, "k", "seq")
      .orderBy(col("k")).as[MChg].collect().toSeq
    // lexicographic struct tiebreak: "y" > "x", independent of row order
    assert(rows == Seq(MChg(1, "y", 5), MChg(2, "only", 1)))
    val reversed = Seq(MChg(2, "only", 1), MChg(1, "y", 5), MChg(1, "x", 5))
      .toDF().repartition(3)
    val rows2 = MergeSink.compactBatch(reversed, "k", "seq")
      .orderBy(col("k")).as[MChg].collect().toSeq
    assert(rows2 == rows)
  }
}
