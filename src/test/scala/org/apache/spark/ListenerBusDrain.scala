package org.apache.spark

/** Test helper: waits until every queued listener event has been
  * delivered, so a listener's counts are complete when an action
  * returns. Lives in this package because the listener bus is
  * Spark-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
