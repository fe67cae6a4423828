package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener counts are complete when an entry's span closes.
  * Lives in Spark's package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
