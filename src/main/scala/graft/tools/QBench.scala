package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Dev measurement harness (guide §1): time named queries with
  * repetitions inside one JVM so per-query costs separate into
  * first-run (includes memoized builds + planning + codegen) and
  * steady-state. Counts the Spark jobs, stages and tasks of each run via
  * a listener (every event of the run delivered before it prints).
  * Usage:
  *   sbt "runMain graft.tools.QBench reps=3 corpus_pipeline bm25_indexed"
  * Optional `noop=true` times a noop-sink write instead of count()
  * (guide §1.4). Prints one line per (query, rep).
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val opts = args.filter(_.contains("=")).map { a =>
      val Array(k, v) = a.split("=", 2); (k, v) }.toMap
    val names = args.filterNot(_.contains("="))
    val reps = opts.getOrElse("reps", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); () }
    }
    // same warmup as Bench
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    val useNoop = opts.get("noop").contains("true")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val (j0, s0, k0) = (jobs.get, stages.get, tasks.get)
        val dt = ListenerBusDrain.listening(spark.sparkContext, counter) {
          val t0 = System.nanoTime()
          if (useNoop)
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          else fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"QBENCH $name%-30s rep=$r t=$dt%8.3f jobs=${jobs.get - j0}%4d stages=${stages.get - s0}%4d tasks=${tasks.get - k0}%5d")
      }
    }
    spark.stop()
  }
}
