package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced operation's counters are complete before the next one starts.
  * Lives in this package because the listener bus is Spark-private. */
object GraftPerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
