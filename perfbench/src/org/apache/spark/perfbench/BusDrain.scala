package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous and `SparkContext.listenerBus` is
  * `private[spark]`: this accessor lets the benchmark's listener see every
  * event of a finished call before its numbers are read.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
