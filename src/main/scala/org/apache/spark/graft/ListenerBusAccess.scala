package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Accessor for the `private[spark]` listener bus, the one place that
  * drains it. Listener events (stage completions, job starts, and the
  * `QueryExecutionListener` callbacks that ride the same async bus)
  * arrive after the action that caused them returns, so a reader of
  * listener state must drain the bus first; a fixed sleep or a
  * quiescence poll can declare the bus quiet while events are still
  * queued. A drain that does not finish within 30 s throws
  * `TimeoutException`: a silently truncated measurement would read as
  * a complete one.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
