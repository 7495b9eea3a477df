package graft.bench

import org.apache.spark.sql.functions._

/** Captures the committed BASELINE measurement (BASELINE.md protocol):
  * the recommended sanity sweep over /root/testdata/sf0.1 embeddings,
  * queries = first 100 base vectors, k=10, both metrics, JSON into
  * bench/outputs/. Run: `sbt "runMain graft.bench.BaselineMain"`. */
object BaselineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    base.count()
    val queries = base.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .cache()
    queries.count()
    Seq("cosine", "euclidean").foreach { metric =>
      val results = GridBench.runGrid(base, queries,
        datasetName = s"sf0.1-embeddings", metric = metric,
        ms = Seq(8, 16), efCs = Seq(100, 200), efSearches = Seq(10, 50, 100),
        k = 10, numPartitions = 8)
      val path = GridBench.writeResults(spark, results, "bench/outputs",
        s"sf0.1-embeddings-$metric")
      println(s"wrote $path")
      results.foreach { r =>
        println(f"M=${r.m}%2d efC=${r.efConstruction}%3d ef=${r.efSearch}%3d " +
          f"build=${r.buildMs}%8.1fms search=${r.latencyAvg * r.latencyCount}%8.1fms " +
          f"recall@${r.k}=${r.recallAtK}%.4f [${r.metric}]")
      }
    }
    spark.stop()
  }
}
