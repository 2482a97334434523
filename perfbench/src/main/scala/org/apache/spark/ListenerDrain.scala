package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * listener's counters are complete when a span closes. The bus is private
  * to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
