package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.similarity

/** SemDeDup-style semantic deduplication over an embedding column
  * (Abbas et al. 2023 shape): coarse-cluster the corpus with the IVF
  * quantizer, then drop any vector whose cell contains a SMALLER-ID
  * vector within `threshold` cosine similarity (keep-first — a
  * deterministic, engine-portable stand-in for the paper's
  * keep-farthest-from-centroid rule, which ties on float order).
  *
  * Scale shape (the SemDeDup cost model): the only pairwise work is the
  * within-cell self-join — an equi-join on `cell`, never a corpus
  * cross-join (PlanSpec-guarded). Cost is sum over cells of |cell|²; at
  * 100 TB you scale C with the corpus so cells stay O(10⁴-10⁵) and the
  * join stays shuffle-partitioned by cell. Assignment reuses the fitted
  * [[IvfFlat]] centroids (broadcast literals, whole-stage codegen).
  */
object SemDedup {

  /** All corpus rows with their cell and a `kept` verdict.
    * @param scoreDigits fixed-point rounding of the pair cosine BEFORE the
    *                    threshold compare (cross-engine boundary safety —
    *                    the oracle gate recipe every ANN path here uses) */
  def dedup(model: IvfFlat.Model, threshold: Double,
      scoreDigits: Int = 6): DataFrame = {
    val a = model.assigned.select(col("cell"), col("id"), col("vec"))
    val b = model.assigned.select(col("cell"), col("id").as("bid"),
      col("vec").as("bvec"))
    val sim = graft.Qutil.rnd(
      nanvl(similarity.cosine_sim(col("vec"), col("bvec")), lit(-1.0)),
      scoreDigits)
    val dominated = a.join(b, Seq("cell"))
      .filter(col("bid") < col("id") && sim >= lit(threshold))
      .select(col("id")).distinct()
      .withColumn("dup", lit(1))
    model.assigned.select(col("id").as("vec_id"), col("cell"))
      .join(dominated.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup").isNull.as("kept"))
  }

  /** DuckDB twin of the WHOLE pipeline from trained-centroid literals —
    * same recipe as [[IvfFlat.duckdbTopkCte]]: assignment = argmax cosine
    * (NaN→-1.0, `(s DESC, cell DESC)` greatest-struct tie order), pair
    * cosine rounded to `scoreDigits` before the threshold compare,
    * keep-first on vec_id. */
  def duckdbSql(centroids: Array[(Int, Array[Float])], threshold: Double,
      scoreDigits: Int = 6): String = {
    val p = s"1e$scoreDigits"
    s"""${IvfFlat.duckdbAssignCte("sd_", centroids,
            extraSim = Seq(("e.embedding", "embedding")))},
       | sd_dom AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM sd_assigned a JOIN sd_assigned b USING (cell)
       |  WHERE b.vec_id < a.vec_id
       |    AND floor((${IvfFlat.duckdbGuardedCosine("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")})*$p + 0.5)/$p >= $threshold)
       |SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
       |FROM sd_assigned a LEFT JOIN sd_dom d USING (vec_id)""".stripMargin
  }
}
