package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Waits until every queued listener event has been delivered, so a
  * listener's counts are complete when an action returns. Lives in this
  * package because the listener bus is Spark-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` with `listener` attached; it has seen every event of
    * `body` when this returns. */
  def listening[A](sc: SparkContext, listener: SparkListener)(body: => A): A = {
    apply(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      apply(sc)
      a
    } finally sc.removeSparkListener(listener)
  }

  /** The number of Spark jobs started while `body` runs. */
  def jobsDuring(sc: SparkContext)(body: => Any): Int = {
    val jobs = new AtomicInteger()
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })(body)
    jobs.get
  }

  /** The number of Spark tasks that ended while `body` runs. */
  def tasksDuring(sc: SparkContext)(body: => Any): Int = {
    val tasks = new AtomicInteger()
    listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    })(body)
    tasks.get
  }
}
