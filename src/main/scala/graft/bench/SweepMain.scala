package graft.bench

import org.apache.spark.sql.functions._

/** Parameterized grid sweep for the A/B driver (B17-lite, reference
  * src/bench/compare.ts:254-311: per-ref bench runs land in separate
  * output dirs which the report join then compares).
  *
  * `runMain graft.bench.SweepMain <sfDir> <outDir> [ms] [efCs] [efSearches]`
  * with comma-separated int lists (defaults 8,16 / 100,200 / 10,50,100).
  * The dataset name is derived from sfDir so A and B runs join on
  * identical keys. */
object SweepMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    def list(i: Int, dflt: Seq[Int]): Seq[Int] =
      if (args.length > i) args(i).split(",").map(_.trim.toInt).toSeq else dflt
    val ms = list(2, Seq(8, 16))
    val efCs = list(3, Seq(100, 200))
    val efs = list(4, Seq(10, 50, 100))
    val spark = graft.GraftSession.local()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    base.count()
    val queries = base.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .cache()
    queries.count()
    val name = new java.io.File(sfDir).getName + "-embeddings"
    val results = GridBench.runGrid(base, queries, name, "cosine",
      ms, efCs, efs, k = 10, numPartitions = 4)
    val path = GridBench.writeResults(spark, results, outDir, name)
    println(s"wrote $path (${results.length} cells)")
    spark.stop()
  }
}
