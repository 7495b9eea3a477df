package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.operators.KnnJoin

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 expressed as a
  * DataFrame job over the driver-provisioned parquet tables; [[oracleSql]]
  * holds the DuckDB-equivalent SQL for the hash-match correctness gate.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exact top-10 cosine neighbors of the first 5 embedding vectors. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val base = t(spark, dir, "embeddings")
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    KnnJoin.exactKnnJoin(base, queries, k = 10, metric = "cosine")
  }

  /** `++` silently keeps the LAST definition on key collision — a
    * duplicate battery name would quietly shadow an existing query (and
    * could pair one module's query with another's oracle). Fail loudly
    * instead; the spec suite calls [[queries]], so a collision cannot
    * reach the driver. */
  private def merged[V](parts: Seq[(String, Map[String, V])]): Map[String, V] = {
    val dups = parts.flatMap { case (_, m) => m.keys }
      .groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate battery keys across query modules: ${dups.mkString(", ")}")
    parts.map(_._2).reduce(_ ++ _)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(Seq(
      "relational" -> RelationalQueries.queries,
      "vector" -> VectorQueries.queries,
      "text" -> TextQueries.queries,
      "advanced" -> AdvancedQueries.queries))

  /** DuckDB SQL per oracle-checked query over the tables in `dir`. The
    * trained families' SQL carries literals of the model fitted on `dir`
    * (the memoized one, when its queries already ran in this session). */
  def oracleSql(spark: SparkSession, dir: String): Map[String, String] =
    merged(Seq(
      "relational" -> RelationalQueries.oracle,
      "vector" -> VectorQueries.oracle(spark, dir),
      "text" -> TextQueries.oracle(spark, dir),
      "advanced" -> AdvancedQueries.oracle))

  /** One trained family's oracle entries. A fit that throws leaves only
    * that family's keys out and prints one `[verify]` line, so a bad
    * family cannot empty the rest of the dump. */
  private[graft] def fitted(family: String)(
      sql: => Map[String, String]): Map[String, String] =
    try sql catch { case NonFatal(e) =>
      System.err.println(s"[verify] $family oracle failed: ${e.getMessage}")
      Map.empty
    }
}
