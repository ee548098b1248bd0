package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run must drain it
  * before reading counters that listeners fill asynchronously.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
