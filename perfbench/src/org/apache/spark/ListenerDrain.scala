package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read right after an entry belong to that entry alone. The bus
  * is `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
