package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{TopKBuffer, TopKKeysAgg}

/** Buffer algebra of the native TypedImperativeAggregate (pure, no Spark
  * session): bounded heap, serialize/deserialize roundtrip, merge ==
  * sort-take. The class must mirror graft.functions.TopKKeys exactly. */
class TopKAggSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(11)
  private val data = Seq.fill(300)((rnd.nextDouble() * 100, rnd.nextLong().abs))
  private val agg = TopKKeysAgg(
    org.apache.spark.sql.catalyst.expressions.Literal(0.0),
    org.apache.spark.sql.catalyst.expressions.Literal(0L),
    org.apache.spark.sql.catalyst.expressions.Literal(3))

  private def fill(xs: Seq[(Double, Long)]): TopKBuffer = {
    val b = new TopKBuffer(3)
    xs.foreach { case (v, k) => b.insert(v, k) }
    b
  }

  private def keys(b: TopKBuffer): Seq[Long] =
    agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .toLongArray().toSeq

  test("buffer caps at k; merged halves equal single fill equal sort-take") {
    val b = fill(data)
    assert(b.heap.size == 3)
    val (l, r) = data.splitAt(151)
    val merged = agg.merge(fill(l), fill(r))
    val expected = data.sortBy { case (v, k) => (-v, k) }.take(3).map(_._2)
    assert(keys(merged) == expected)
    assert(keys(fill(data)) == expected)
    assert(keys(agg.merge(fill(r), fill(l))) == expected, "merge not commutative")
  }

  test("serialize/deserialize roundtrip preserves the retained set") {
    val b = fill(data)
    val back = agg.deserialize(agg.serialize(b))
    assert(keys(back) == keys(fill(data)))
    // empty buffer roundtrips too (a partition with no rows for a group)
    assert(keys(agg.deserialize(agg.serialize(new TopKBuffer(3)))).isEmpty)
  }

  test("NaN and -0.0 order identically regardless of arrival order") {
    // NaN is WEAKEST and -0.0 < 0.0 (the udaf twin's total order by
    // (-v, key)); primitive ==/> would make retention arrival-dependent
    val vals = Seq((Double.NaN, 1L), (5.0, 2L), (0.0, 3L), (-0.0, 4L), (5.0, 5L))
    val expected = keys(fill(vals))
    vals.permutations.take(60).foreach { p =>
      assert(keys(fill(p)) == expected, s"order-dependent for $p")
    }
    assert(expected == Seq(5.0 -> 2L, 5.0 -> 5L, 0.0 -> 3L).map(_._2))
    // the udaf twin agrees on the same pathological input
    val twin = new graft.functions.TopKKeys(3)
    val viaTwin = twin.finish(vals.foldLeft(twin.zero)(twin.reduce))
    assert(viaTwin == expected, s"twin=$viaTwin native=$expected")
  }

  test("exact-Long keys survive beyond 2^53 (no double packing)") {
    val big = (1L << 60) + 1
    val b = new TopKBuffer(2)
    b.insert(5.0, big)
    b.insert(4.0, big - 1)
    assert(keys(b) == Seq(big, big - 1))
  }
}

/** Engine-level gates for the native aggregate: ObjectHashAggregate
  * planning, distributed partial/merge correctness vs the udaf-wrapped
  * Aggregator, and SQL-text resolution via the functionRegistry. */
class TopKAggEngineSpec extends SparkSpec {

  test("native SQL aggregate agrees with the udaf Aggregator on real data") {
    val native = graft.operators.Aggregates.topkNative(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaUdaf = graft.operators.Aggregates.topkPerGroup(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(native == viaUdaf)
    assert(native.nonEmpty)
  }

  test("native aggregate plans as ObjectHashAggregate with partial aggregation") {
    val plan = graft.operators.Aggregates.topkNative(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregateExec in:\n$plan")
    // partial + final pair proves the serialize/merge path runs
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected two-phase (partial+final) object hash agg in:\n$plan")
  }

  test("update skips null values and keys") {
    val s = spark.newSession() // the view stays out of the shared session
    import s.implicits._
    Seq[(java.lang.Double, java.lang.Long)]((1.0, 1L), (null, 2L), (3.0, null), (2.0, 4L))
      .toDF("v", "k").createOrReplaceTempView("tk_nulls")
    val out = s.sql(
      "SELECT graft_topk_keys(v, k, 3) AS ks FROM tk_nulls")
      .collect().head.getSeq[Long](0)
    assert(out == Seq(4L, 1L))
  }

  test("DECIMAL value and INT key coerce through the registered builder") {
    val s = spark.newSession() // the view stays out of the shared session
    import s.implicits._
    // DECIMAL(10,2) value + INT key — the shapes a SQL user actually has
    // (money columns, surrogate int keys). Builtin aggregates get this
    // coercion from the analyzer; the builder must supply it for the raw
    // TypedImperativeAggregate or analysis fails instead of casting.
    Seq((1, "10.50"), (2, "99.99"), (3, "50.00"), (4, "75.25"))
      .toDF("k", "v")
      .selectExpr("CAST(k AS INT) AS k", "CAST(v AS DECIMAL(10,2)) AS v")
      .createOrReplaceTempView("tk_decimal")
    val out = s.sql(
      "SELECT graft_topk_keys(v, k, 2) AS ks FROM tk_decimal")
      .collect().head.getSeq[Long](0)
    assert(out == Seq(2L, 4L), s"decimal coercion produced $out")
    // agrees with the udaf twin on the double-cast equivalent
    val twin = new graft.functions.TopKKeys(2)
    val pairs = Seq((10.50, 1L), (99.99, 2L), (50.00, 3L), (75.25, 4L))
    val viaTwin = twin.finish(pairs.foldLeft(twin.zero)(twin.reduce))
    assert(out == viaTwin)
  }
}
