package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Narrow accessor for `SparkContext.listenerBus` (which is
  * `private[spark]`) — same pattern as `org.apache.spark.sql.graft
  * .ColumnBridge`. `graft.Bench` and `graft.ProfileOne` drain the bus
  * before reading their `graft.ops.JobCosts` listener.
  */
object StatusBridge {

  /** Drain the async listener bus so listeners have seen every event posted
    * so far (best-effort: a stuck queue stops waiting after `timeoutMs`).
    */
  def quiesce(sc: SparkContext, timeoutMs: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
