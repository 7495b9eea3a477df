package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.similarity

/** SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
  * scaling laws" shape): cluster the corpus with the coarse quantizer,
  * score every example by its cosine similarity to its own cluster
  * centroid (the "prototype"), and KEEP the hardest `keepFrac` per
  * cluster — the most prototypical (easiest, most redundant) examples are
  * the ones pruned. The published result: on large corpora, pruning easy
  * examples beats random pruning at equal kept-budget.
  *
  * Scale shape: assignment reuses the fitted [[IvfFlat]] centroids; the
  * prototype score is a broadcast join against the C-row centroid table +
  * one codegen cosine per row (a pure projection over the corpus — no
  * pairwise work at all, unlike [[SemDedup]]); the per-cluster rank is
  * one window partitioned by cell. At 100 TB: one corpus pass + one
  * cell-partitioned shuffle for the rank window.
  *
  * Determinism: the prototype score is rounded to `scoreDigits` BEFORE
  * ranking and ties break on vec_id, so the kept set is engine-portable —
  * the whole trained pipeline oracle-checks from centroid literals like
  * [[SemDedup]].
  */
object Prune {

  /** All corpus rows with cell, rounded prototype similarity, hardness
    * rank within the cell (1 = hardest = least prototypical), and the
    * keep verdict. `keepFrac` of each cell (ceil) survives. */
  def prototypes(model: IvfFlat.Model, keepFrac: Double,
      scoreDigits: Int = 6): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0)
    val spark = model.assigned.sparkSession
    import spark.implicits._
    val cents = model.centroids.toSeq
      .map { case (c, v) => (c, v) }.toDF("cell", "cvec")
    val sim = graft.Qutil.rnd(
      nanvl(similarity.cosine_sim(col("vec"), col("cvec")), lit(-1.0)),
      scoreDigits)
    val scored = model.assigned.select(col("id"), col("vec"), col("cell"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("id").as("vec_id"), col("cell"), sim.as("proto_sim"))
    val wr = Window.partitionBy("cell")
      .orderBy(col("proto_sim").asc, col("vec_id").asc)
    val wc = Window.partitionBy("cell")
    scored
      .withColumn("hardness_rank", row_number().over(wr))
      .withColumn("cell_n", count(lit(1)).over(wc))
      .select(col("vec_id"), col("cell"), col("proto_sim"),
        col("hardness_rank"),
        (col("hardness_rank") <=
          ceil(lit(keepFrac) * col("cell_n"))).as("kept"))
  }

  /** DuckDB twin of the WHOLE pipeline from trained-centroid literals:
    * assignment = argmax cosine (NaN→-1.0, `(s DESC, cell DESC)` tie
    * order — the [[SemDedup.duckdbSql]] recipe), prototype similarity
    * rounded to `scoreDigits`, per-cell hardness rank ascending with
    * vec_id ties, keep = rank <= ceil(keepFrac · cell size). */
  def duckdbSql(centroids: Array[(Int, Array[Float])], keepFrac: Double,
      scoreDigits: Int = 6): String = {
    val p = s"1e$scoreDigits"
    s"""${IvfFlat.duckdbAssignCte("pr_", centroids,
            extraSim = Seq(("e.embedding", "embedding")), keepCvec = true)},
       | pr_scored AS (
       |  SELECT vec_id, cell,
       |   floor((${IvfFlat.duckdbGuardedCosine("CAST(embedding AS DOUBLE[])", "cvec")})*$p + 0.5)/$p AS proto_sim
       |  FROM pr_assigned),
       | pr_ranked AS (
       |  SELECT vec_id, cell, proto_sim,
       |   CAST(row_number() OVER (PARTITION BY cell
       |     ORDER BY proto_sim ASC, vec_id ASC) AS INT) AS hardness_rank,
       |   count(*) OVER (PARTITION BY cell) AS cell_n
       |  FROM pr_scored)
       |SELECT vec_id, cell, proto_sim, hardness_rank,
       | (hardness_rank <= ceil(CAST($keepFrac AS DOUBLE) * cell_n)) AS kept
       |FROM pr_ranked""".stripMargin
  }
}
