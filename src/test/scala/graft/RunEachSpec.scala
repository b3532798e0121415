package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** [[SparkEntry.runEach]], the one loop over catalog entries, on a fake
  * catalog: sorted order, the up-front name check, failure capture and
  * the cache contract. */
class RunEachSpec extends SparkSpec {

  /** A fake entry that cache()s and materializes a relation, keeping it
    * in `cached` so the test can ask whether it is still cached. */
  private def caching(cached: ArrayBuffer[DataFrame]): SparkEntry.Query =
    (s: SparkSession, _: String) => {
      val df = s.range(10).toDF("id").cache()
      df.count()
      cached += df
      df
    }

  private def isCached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("entries run in sorted name order, each on the session supplied for it") {
    val ran = ArrayBuffer.empty[String]
    val sessions = ArrayBuffer.empty[SparkSession]
    val fake = Seq("b", "c", "a").map(n => n -> caching(ArrayBuffer.empty)).toMap
    val results = SparkEntry.runEach(() => { sessions += spark.newSession(); sessions.last },
        entries = fake) { (name, s, _) =>
      ran += name
      assert(s eq sessions.last)
      name.toUpperCase
    }
    assert(ran == Seq("a", "b", "c"))
    assert(results == Seq("a" -> Right("A"), "b" -> Right("B"), "c" -> Right("C")))
    assert(sessions.size == 3)
  }

  test("an unknown name fails before any entry runs") {
    val ran = ArrayBuffer.empty[String]
    val fake = Seq("a", "b").map(n => n -> caching(ArrayBuffer.empty)).toMap
    val e = intercept[IllegalArgumentException] {
      SparkEntry.runEach(() => spark, Some(Seq("a", "nope")), fake)((name, _, _) => ran += name)
    }
    assert(e.getMessage.contains("nope"))
    assert(ran.isEmpty)
    val only = SparkEntry.runEach(() => spark, Some(Seq("b")), fake)((name, _, _) => name)
    assert(only == Seq("b" -> Right("b")))
  }

  test("a throwing entry becomes its Left and later entries still run") {
    val boom = new IllegalStateException("boom")
    val fake: Map[String, SparkEntry.Query] = Map(
      "a" -> ((_, _) => throw boom),
      "b" -> ((s, _) => s.range(3).toDF("id")))
    val results = SparkEntry.runEach(() => spark, entries = fake)((_, s, fn) => fn(s, sf0001).count())
    assert(results == Seq("a" -> Left(boom), "b" -> Right(3L)))
  }

  test("the cache is empty before and after every entry, a failing one too") {
    val cached = ArrayBuffer.empty[DataFrame]
    val fake: Map[String, SparkEntry.Query] = Map(
      "a" -> caching(cached),
      "b" -> { (s, d) => caching(cached)(s, d); throw new IllegalStateException("after cache()") },
      "c" -> caching(cached))
    caching(cached)(spark, sf0001) // left cached by whatever ran before the loop
    // the session is asked for after the previous entry's release and
    // before this entry's own clear; the action starts after that clear
    val between = ArrayBuffer.empty[Boolean]
    val before = ArrayBuffer.empty[Boolean]
    val results = SparkEntry.runEach(() => { between += cached.exists(isCached); spark },
        entries = fake) { (_, s, fn) =>
      before += cached.exists(isCached)
      fn(s, sf0001)
      assert(isCached(cached.last))
    }
    assert(results.map(_._2.isRight) == Seq(true, false, true))
    assert(between == Seq(true, false, false))
    assert(before == Seq(false, false, false))
    assert(cached.size == 4 && !cached.exists(isCached))
  }
}
