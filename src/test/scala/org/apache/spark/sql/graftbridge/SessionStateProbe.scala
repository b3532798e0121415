package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Test-side reads of a session's own catalog state (`sessionState` is
  * private[sql]): its temp views, its temporary function names (the
  * extension-injected ones included) and whether it holds any session
  * variable. */
object SessionStateProbe {
  private def state(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState

  def tempViews(spark: SparkSession): Seq[String] =
    state(spark).catalog.listLocalTempViews("*").map(_.table)

  def tempFunctions(spark: SparkSession): Set[String] =
    state(spark).catalog.listTemporaryFunctions().map(_.funcName).toSet

  def hasVariables(spark: SparkSession): Boolean =
    !state(spark).catalogManager.tempVariableManager.isEmpty
}
