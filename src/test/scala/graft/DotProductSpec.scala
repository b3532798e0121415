package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps

/** graft.expressions.DotProduct: codegen'd fold must agree bit-for-bit with
  * the sequential Scala fold it replaced (left-to-right accumulation), and
  * propagate nulls like zip_with padding would. */
class DotProductSpec extends SparkSpec {

  private def run(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): Option[Double] = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(java.util.List.of(Row(a, b)), schema)
    val r = df.select(VectorOps.dot(col("a"), col("b")).as("d")).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("matches sequential left-to-right fold exactly") {
    val a = Seq[java.lang.Double](0.1, 0.2, 0.3, -1.5)
    val b = Seq[java.lang.Double](2.0, -0.7, 1e-3, 0.25)
    val expected = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
    assert(run(a, b).contains(expected))
  }

  test("seeded random vectors: bit-exact vs fold (30 trials, batched)") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 30).map { _ =>
      val xs = Array.fill(16)(rnd.nextDouble() * 20 - 10)
      val ys = Array.fill(16)(rnd.nextDouble() * 20 - 10)
      (xs.toSeq, ys.toSeq)
    }
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
    val data = new java.util.ArrayList[Row]()
    rows.foreach { case (x, y) => data.add(Row(x, y)) }
    val got = spark.createDataFrame(data, schema)
      .select(VectorOps.dot(col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    val expected = rows.map { case (x, y) =>
      x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
    }
    assert(got == expected)
  }

  test("length mismatch yields null (zip_with padding poisons the fold)") {
    assert(run(Seq(1.0, 2.0).map(Double.box), Seq(1.0).map(Double.box)).isEmpty)
  }

  test("null element yields null") {
    assert(run(Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)).isEmpty)
  }

  test("null array yields null") {
    assert(run(null, Seq[java.lang.Double](1.0)).isEmpty)
  }

  test("empty arrays yield 0.0") {
    assert(run(Seq.empty, Seq.empty).contains(0.0))
  }

  test("SQL registration: spark.sql('graft_dot(...)') == Column API") {
    val s = spark.newSession() // the view stays out of the shared session
    Tables.embeddings(s, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .createOrReplaceTempView("emb_dot_test")
    val viaSql = s.sql(
      "SELECT vec_id, graft_dot(v, v) AS d FROM emb_dot_test ORDER BY vec_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCol = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        VectorOps.dot(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaCol)
  }
}
