package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.Tables

/** SQL-text surface — SURVEY.md §2.10 (the reference's
  * 03_SQLOperations.scala runs every analytical query as `spark.sql` over a
  * temp view, /root/reference/code/03_SQLOperations.scala:16,26-152).
  *
  * These entries exercise the parser→analyzer path end to end: temp-view
  * resolution, chained CTEs, HAVING, window functions over aggregates,
  * NULLIF guards — the same LogicalPlan IR the DataFrame entries produce
  * (SURVEY.md §3.2), so both surfaces ship. The views, session variables
  * and temporary functions the text needs live in a private clone of the
  * caller's session ([[run]]), so an entry leaves the caller's catalog as
  * it found it.
  *
  * The SQL strings double as the oracle (modulo Spark↔DuckDB dialect: both
  * accept this ANSI subset verbatim).
  */
object Sql {

  /** Q4-shape: chained CTEs → multi-agg with countDistinct → HAVING →
    * RANK() OVER → top-k with ties.
    * Ref: /root/reference/code/03_SQLOperations.scala:106-127. */
  private val rankSql =
    """WITH seg_stats AS (
      |  SELECT c_mktsegment,
      |    COUNT(*) AS n_orders,
      |    COUNT(DISTINCT o_custkey) AS n_customers,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment
      |  HAVING COUNT(*) > 10),
      |ranked AS (
      |  SELECT *, CAST(RANK() OVER (ORDER BY total_value DESC) AS BIGINT) AS seg_rank
      |  FROM seg_stats)
      |SELECT c_mktsegment, n_orders, n_customers, total_value, seg_rank
      |FROM ranked
      |WHERE seg_rank <= 5
      |ORDER BY seg_rank, c_mktsegment""".stripMargin

  /** SQL-surface PIVOT clause — the parser-path face of text_pivot_langs'
    * DataFrame `.pivot()`: long→wide per-source language counts with a
    * FIXED value list (an open-ended list would need a driver-side
    * distinct pass — the DataFrame twin documents the same rule). Both
    * engines parse this subquery-PIVOT form verbatim; the COALESCE wrapper
    * normalizes the empty-cell convention (Spark leaves NULL, DuckDB 0),
    * which is exactly the dialect edge a pivot porting guide warns about.
    * Plan-wise Spark lowers PIVOT to the same conditional-aggregate Expand
    * the DataFrame twin produces: one hash-agg, |sources|×|langs| output. */
  private val pivotSql =
    """SELECT source,
      |  COALESCE(en, 0) AS n_en, COALESCE(de, 0) AS n_de,
      |  COALESCE(es, 0) AS n_es, COALESCE(fr, 0) AS n_fr,
      |  COALESCE(zh, 0) AS n_zh
      |FROM (SELECT source, lang FROM documents)
      |PIVOT (COUNT(*) FOR lang IN ('en', 'de', 'es', 'fr', 'zh'))
      |ORDER BY source""".stripMargin

  /** Q5-shape: derived-metric expressions with a NULLIF divide guard.
    * Ref: /root/reference/code/03_SQLOperations.scala:143-152. */
  private val rateSql =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
      |  ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
      |        / NULLIF(COUNT(*), 0) * 100, 4) AS finished_pct
      |FROM orders
      |WHERE o_totalprice IS NOT NULL
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Spark 4 EXECUTE IMMEDIATE (SPARK-44751): SQL-text-as-data — the
    * statement lives in a session variable and runs with POSITIONAL `?`
    * parameters bound at execution, the dynamic-SQL surface BI tools and
    * stored procedures drive. The oracle is the same statement with the
    * parameters textually inlined — exactly the binding the engine
    * performs. Plan-wise the parameterized text compiles to the identical
    * Catalyst plan as the literal query (params are literals after bind),
    * so pushdown/codegen are unaffected. */
  private val executeImmediate = Seq(
    "DECLARE OR REPLACE VARIABLE graft_stmt STRING",
    """SET VAR graft_stmt =
      |  'SELECT o_orderstatus, COUNT(*) AS n_orders,
      |     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |   FROM orders WHERE o_totalprice BETWEEN ? AND ?
      |   GROUP BY o_orderstatus ORDER BY o_orderstatus'""".stripMargin,
    "EXECUTE IMMEDIATE graft_stmt USING 50000.0, 150000.0")

  /** Runs SQL text on a private clone of `spark` (same context and conf, no
    * temp views): registers each view there, loaded through the clone, runs
    * `statements` in order and returns the last one's DataFrame. Whatever
    * the text declares stays in the clone. */
  private[graft] def run(spark: SparkSession, views: Seq[(String, SparkSession => DataFrame)],
                         statements: String*): DataFrame = {
    val s = ColumnBridge.cloneSession(spark)
    views.foreach { case (name, load) => load(s).createTempView(name) }
    statements.map(s.sql).last
  }

  /** `run` over catalog tables, each registered under its own name. */
  private def runOn(tables: String*)(statements: String*): (SparkSession, String) => DataFrame =
    (spark, dir) => run(spark, tables.map(t => t -> ((s: SparkSession) => Tables.table(s, dir, t))),
      statements: _*)

  /** Custom-expression-from-SQL-text: the codegen'd `graft_dot` Expression
    * called by a plain SQL string, resolved through the function
    * GraftExtensions injects at session build. Self-dot of every
    * 20th embedding; the fold is left-to-right, so DuckDB's sequential
    * list_reduce reproduces the doubles bit-for-bit. Proves SQL-text
    * users get the whole extension surface, not just the Column API. */
  private def graftDotSql(spark: SparkSession, dir: String): DataFrame =
    run(spark, Seq("embeddings" -> (s => Tables.embeddings(s, dir))),
      """SELECT vec_id,
        |  graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |            CAST(embedding AS ARRAY<DOUBLE>)) AS self_dot
        |FROM embeddings
        |WHERE vec_id % 20 = 0
        |ORDER BY vec_id""".stripMargin)

  /** LATERAL correlated subquery (Spark 3.2+/ANSI) — top-2 orders PER
    * customer written the way an analyst writes it: an ordered, limited
    * subquery referencing the outer row. The SAME text runs in DuckDB
    * (both implement ANSI lateral derived tables), so the oracle is the
    * query itself — and Catalyst's decorrelation rewrites the per-row
    * subquery into a set-based plan (no N one-row queries at scale).
    * Customer set is capped so the output stays review-sized; the rewrite
    * shape, not the cap, is what scales. */
  private val lateralSql =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |WHERE c.c_custkey <= 100
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  /** The three correlated-subquery forms in one query — EXISTS (→ semi
    * join), NOT EXISTS (→ anti join), and a correlated scalar aggregate
    * (→ aggregate + left join) — written the way an analyst writes them
    * and decorrelated by Catalyst into set-based joins (RewriteSubquery /
    * DecorrelateInnerQuery; per-row execution never happens). Same ANSI
    * text is the DuckDB oracle. Complements the API-level semi/anti
    * entries (`join_semi_active_cust`, `join_anti_unsold_parts`): this is
    * the SQL-text path onto the same plans. */
  private val subqSql =
    """SELECT c.c_custkey,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1997)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1998)
      |ORDER BY c.c_custkey
      |LIMIT 50""".stripMargin

  /** WITH RECURSIVE (new SQL surface in Spark 4.x, SPARK-24497): per-level
    * node counts of the implicit binary tree over customer keys (parent of
    * k = floor(k/2) — heap encoding, root 1). The recursion is a bounded
    * top-down closure: each round joins the frontier against customer once,
    * so the plan is O(tree depth ≈ log₂ n) self-join rounds — the same
    * bounded-rounds contract as `dedup_cc_clusters`, but driven by the
    * engine's recursion operator instead of a driver loop. The SAME text
    * runs in DuckDB, so the oracle is the query itself.
    * Portability note: integer halving is written CAST(FLOOR(k/2) AS
    * BIGINT) — both engines evaluate bare `k/2` on integers as DOUBLE
    * division (integer division is spelled `div` in Spark and `//` in
    * DuckDB, i.e. NOT common syntax), so the explicit floor+cast is the
    * one spelling with identical semantics in both. */
  private val recursiveSql =
    """WITH RECURSIVE walk(custkey, depth) AS (
      |  SELECT CAST(c_custkey AS BIGINT), 1 FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT CAST(c.c_custkey AS BIGINT), w.depth + 1
      |  FROM customer c JOIN walk w
      |    ON CAST(FLOOR(c.c_custkey / 2) AS BIGINT) = w.custkey)
      |SELECT depth, COUNT(*) AS n_nodes,
      |  CAST(MIN(custkey) AS BIGINT) AS min_key,
      |  CAST(MAX(custkey) AS BIGINT) AS max_key
      |FROM walk
      |GROUP BY depth
      |ORDER BY depth""".stripMargin

  /** Spark 4 SQL session variables — the multi-statement scalar-reuse
    * surface SQL scripts and BI tools emit: DECLARE a typed variable, SET
    * it from a one-row subquery, use it in a later statement, all in SQL
    * text. The variable is ONE scalar of session state — constant-size,
    * so the catalog's no-driver-round-trips stance holds (the same O(1)
    * budget as A4's 1-row broadcast-back relation; a data-proportional
    * collect would not). Threshold is the exact percentile ROUNDed to 4
    * decimals on 2-decimal inputs — the `agg_percentiles` portability
    * rule — and the oracle inlines it as a scalar subquery. */
  private val sessionVariable = Seq(
    "DECLARE OR REPLACE VARIABLE graft_qcut DOUBLE",
    "SET VAR graft_qcut = (SELECT ROUND(percentile(o_totalprice, 0.9), 4) FROM orders)",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_top,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_top
      |FROM orders
      |WHERE o_totalprice > graft_qcut
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  /** Spark 4 SQL-language UDF (SPARK-44076): `CREATE FUNCTION … RETURN
    * <expr>` — the ONE user-defined-function form the catalog's no-UDF
    * stance permits, because it is not a JVM closure: the body is SQL
    * text the analyzer INLINES into the plan, so it optimizes, pushes
    * down, and codegens exactly like the hand-written expression (the
    * opaque-blob problem §2.12 bans never arises). The oracle runs the
    * body textually inlined — which is literally what the engine does. */
  private val sqlUdfScalar = Seq(
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(p DOUBLE)
      |RETURNS STRING
      |RETURN CASE WHEN p < 50000 THEN 'low'
      |            WHEN p < 150000 THEN 'mid'
      |            ELSE 'high' END""".stripMargin,
    """SELECT graft_price_band(o_totalprice) AS band,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY graft_price_band(o_totalprice)
      |ORDER BY band""".stripMargin)

  /** GROUP BY ALL / ORDER BY ALL (Spark 3.4+ / DuckDB-originated sugar) —
    * the analyzer infers the grouping set from the non-aggregate select
    * items and the sort from the full select list. One text, zero edits,
    * both engines: the oracle IS the query. Lowered plan is identical to
    * the explicit GROUP BY — partial hash-agg then final, nothing new at
    * runtime; what's covered is the resolution path. */
  private val groupByAllSql =
    """SELECT l_returnflag, l_linestatus,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_groupby_all" -> runOn("lineitem")(groupByAllSql),
    "sql_udf_scalar" -> runOn("orders")(sqlUdfScalar: _*),
    "sql_session_variable" -> runOn("orders")(sessionVariable: _*),
    "sql_execute_immediate" -> runOn("orders")(executeImmediate: _*),
    "sql_recursive_cte" -> runOn("customer")(recursiveSql),
    "sql_subquery_forms" -> runOn("orders", "customer")(subqSql),
    "sql_lateral_topk" -> runOn("orders", "customer")(lateralSql),
    "sql_cte_rank_topk" -> runOn("orders", "customer")(rankSql),
    "sql_rate_nullif" -> runOn("orders")(rateSql),
    "sql_pivot_stmt" -> runOn("documents")(pivotSql),
    "sql_graft_dot" -> (graftDotSql _)
  )

  val oracle: Map[String, String] = Map(
    "sql_groupby_all" -> groupByAllSql,
    "sql_execute_immediate" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_totalprice BETWEEN 50000.0 AND 150000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the UDF body textually inlined — exactly the analyzer's own rewrite
    "sql_udf_scalar" ->
      """WITH b AS (
        |  SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |              WHEN o_totalprice < 150000 THEN 'mid'
        |              ELSE 'high' END AS band,
        |    o_totalprice
        |  FROM orders)
        |SELECT band, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM b GROUP BY band
        |ORDER BY band""".stripMargin,
    "sql_session_variable" ->
      """WITH c AS (
        |  SELECT ROUND(quantile_cont(o_totalprice, 0.9), 4) AS qcut FROM orders)
        |SELECT o_orderpriority,
        |  COUNT(*) AS n_top,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_top
        |FROM orders, c
        |WHERE o_totalprice > qcut
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_recursive_cte" -> recursiveSql,
    "sql_subquery_forms" -> subqSql,
    "sql_lateral_topk"  -> lateralSql,
    "sql_cte_rank_topk" -> rankSql,
    "sql_rate_nullif"   -> rateSql,
    "sql_pivot_stmt"    -> pivotSql,
    "sql_graft_dot" ->
      """SELECT vec_id,
        |  list_reduce(
        |    list_prepend(0.0::DOUBLE,
        |      list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]),
        |                     z -> z[1] * z[2])),
        |    (x, y) -> x + y) AS self_dot
        |FROM embeddings
        |WHERE vec_id % 20 = 0
        |ORDER BY vec_id""".stripMargin
  )
}
