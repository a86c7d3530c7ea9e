package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * spec's listener has seen every job that already ran. The bus is
  * private to Spark's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
