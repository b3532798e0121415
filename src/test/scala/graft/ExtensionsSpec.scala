package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{DotProduct, PolyHash}
import org.apache.spark.sql.catalyst.expressions.Literal

/** GraftExtensions wiring (pure, no session): injection applies cleanly and
  * the injected builders construct working expressions. (Runtime SQL
  * resolution of graft_dot through the injected function is covered
  * end-to-end in DotProductSpec.) */
class ExtensionsSpec extends AnyFunSuite {

  test("injects all functions into a fresh SparkSessionExtensions") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("generator builder constructs a working NGrams from the injected shape") {
    val g = graft.expressions.NGrams(Literal.create("a b c"), Literal(2))
    val rows = g.eval(null).iterator.map(_.getUTF8String(0).toString).toList
    assert(rows == List("a b", "b c"))
  }

  test("builders construct evaluable expressions") {
    val dot = DotProduct(
      Literal.create(Seq(1.0, 2.0)), Literal.create(Seq(3.0, 4.0)))
    assert(dot.eval(null) == 11.0)
    val ph = PolyHash(Literal.create("ab"))
    assert(ph.eval(null) == (('a'.toLong * 31 + 'b') % PolyHash.Prime))
  }
}

/** The CONFIG PATH end to end, on the shared session — which SparkSpec
  * builds with `spark.sql.extensions=graft.GraftExtensions` (the realistic
  * library-user setup; session extensions resolve from the SparkContext
  * conf, so the setting lives on the context-creating builder — a
  * per-test clear/getOrCreate dance was order-dependent under parallel
  * suites and is gone). */
class ExtensionsConfigPathSpec extends SparkSpec {

  test("config-path session: folded custom-expression comparison pushes into the scan") {
    // The injected rule runs inside the operator-optimization batch, before
    // filter pushdown; FoldGraftExpressions' pushdown claim rests on that, so
    // it gets the assertion: a session built with the extensions config must
    // fold PolyHash(literal) AND push the resulting comparison into the
    // parquet scan.
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashCol = ColumnBridge.column(PolyHash(ColumnBridge.expression(lit("spark"))))
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") <= hashCol % 1000)
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.exists(p => p.expressions.exists(_.exists(_.isInstanceOf[PolyHash]))),
      s"PolyHash survived optimization on the config path:\n$optimized")
    val expected = PolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("spark")) % 1000
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = formatted.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains(s"LessThanOrEqual(doc_id,$expected)"),
      s"folded comparison not pushed into the scan: $pushed\n$formatted")
  }

  test("config-path session: the native aggregate resolves by name from SQL") {
    // injection via the extensions config is the only registration there is
    val s = spark.newSession() // the view stays out of the shared session
    s.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_ext")
    val ks = s.sql(
      "SELECT graft_topk_keys(CAST(n_chars AS DOUBLE), doc_id, 3) AS ks FROM docs_ext")
      .collect().head.getSeq[Long](0)
    assert(ks.length == 3, s"config-path graft_topk_keys returned $ks")
  }

  test("graft_topk_keys coerces numeric arguments like a builtin aggregate") {
    val s = spark.newSession() // the view stays out of the shared session
    s.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_ext2")
    // n_chars is BIGINT, not DOUBLE — the injected builder must insert the
    // cast a SQL user of any builtin aggregate gets for free
    val coerced = s.sql(
      "SELECT graft_topk_keys(n_chars, doc_id, 3) AS ks FROM docs_ext2")
      .collect().head.getSeq[Long](0)
    val explicit = s.sql(
      "SELECT graft_topk_keys(CAST(n_chars AS DOUBLE), doc_id, 3) AS ks FROM docs_ext2")
      .collect().head.getSeq[Long](0)
    assert(coerced == explicit, s"implicit vs explicit cast disagree: $coerced / $explicit")
    // non-numeric children still fail analysis with the precise message
    val err = intercept[Exception](s.sql(
      "SELECT graft_topk_keys(text, doc_id, 3) FROM docs_ext2").collect())
    assert(err.getMessage.contains("graft_topk_keys"), err.getMessage)
  }
}
