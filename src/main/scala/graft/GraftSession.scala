package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's entry points build a session. Code that needs the
  * core count reads `spark.sparkContext.defaultParallelism` (N under
  * `local[N]`). */
object GraftSession {

  /** `local[$SPARK_GRAFT_CPUS]` (default: every core — an unset env var
    * must not quietly run on a fraction of the box), graft's
    * [[GraftExtensions]], shuffle partitions at the same count, AQE on,
    * UTC, no UI, WARN logging. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
