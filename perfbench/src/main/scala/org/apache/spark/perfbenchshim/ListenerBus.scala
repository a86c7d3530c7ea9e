package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * traced run's Spark totals include the last op's tasks. The bus is
  * private to Spark's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
