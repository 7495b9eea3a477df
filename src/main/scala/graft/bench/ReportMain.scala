package graft.bench

/** Baseline-vs-candidate report job (B12-B16): reads two directories of
  * GridBench JSON outputs, joins on the dataset×params key, writes the
  * delta CSV + JSON and prints the aggregate delta summary.
  * `sbt "runMain graft.bench.ReportMain <baseDir> <candDir> <outPrefix>"` */
object ReportMain {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, candDir, outPrefix) = args.take(3)
    val spark = graft.GraftSession.local()
    val base = GridBench.readResultsDir(spark, baseDir)
    val cand = GridBench.readResultsDir(spark, candDir)
    val (compared, missInBase, missInCand) = GridBench.compare(base, cand)
    GridBench.writeCsv(compared, s"$outPrefix.csv")
    compared.coalesce(1).write.mode("overwrite").json(s"$outPrefix-rows.json")
    println(s"compared=${compared.count()} missingInBase=${missInBase.count()} " +
      s"missingInCandidate=${missInCand.count()}")
    GridBench.deltaSummary(compared).show(truncate = false)
    spark.stop()
  }
}
