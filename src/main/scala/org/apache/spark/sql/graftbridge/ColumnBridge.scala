package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim for Spark's `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 moved the Column ⇄ Catalyst-Expression bridge behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`;
  * a library shipping custom codegen'd Expressions (graft.expressions.*)
  * needs exactly these two calls and nothing else, so this object lives in a
  * sub-package of `org.apache.spark.sql` to satisfy the access modifier —
  * the established pattern for Spark extension libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session that shares `spark`'s context and starts from a copy of its
    * conf and functions but from no temp views (`cloneSession` is
    * private[sql]). Views, variables and temporary functions created in it
    * stay its own. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    val catalog = s.sessionState.catalog
    catalog.listLocalTempViews("*").foreach(v => catalog.dropTempView(v.table))
    s
  }

  /** Wrap a custom LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * private[sql]) — needed to hand plans containing custom nodes (e.g.
    * graft.plans.AsOfJoin) back to the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan (classic API access). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
}
