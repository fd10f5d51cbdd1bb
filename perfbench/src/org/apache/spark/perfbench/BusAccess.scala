package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: the benchmark drains it after
  * each measured call so every task and stage event of that call has
  * reached its listener before the call's numbers are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
