package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener counts are complete when it reads them. Lives in
  * Spark's package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
