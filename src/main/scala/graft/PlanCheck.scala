package graft

/** Dev tool: dump formatted physical plans of selected queries so the
  * scan pushdown / broadcast / codegen shape can be reviewed
  * (`sbt "runMain graft.PlanCheck q1_agg q3_topk_join"`). */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // SPARK_GRAFT_EXEC=true: EXECUTE each query first so the printed
    // plan is the AQE FINAL plan (isFinalPlan=true — runtime exchange
    // reuse, AQEShuffleReads and join rewrites visible); the default
    // prints the pre-execution plan, where AQE hides those
    val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("true")
    // same session as the bench (SPARK_GRAFT_CPUS sets the core count the
    // AQE-final plans are audited at); quieter logs
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // run the df's OWN QueryExecution (collect, not a fresh
        // count/noop plan) so its AdaptiveSparkPlan finalizes
        if (exec) { df.collect(); () }
        df.explain("formatted")
      }
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
