package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB hash compare (`tools/compare.py`).
  *
  *   runMain graft.Verify <sfDir> <outDir> [name ...]
  *
  * Names after the two dirs dump only those queries and their oracle
  * SQL (as `Bench` and `PlanCheck` take them); none dumps everything. */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    dump(spark, args(0), args(1), args.drop(2).toSeq)
    spark.stop()
  }

  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    def picked(name: String) = names.isEmpty || names.contains(name)
    names.filterNot(SparkEntry.queries.contains)
      .foreach(n => System.err.println(s"[verify] $n failed: no such query"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (name, _) => picked(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in hand-written SQL would otherwise make the
    // compare's json.load fail and silently empty the correctness gate.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(spark, sfDir)
      .filter { case (k, _) => picked(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
