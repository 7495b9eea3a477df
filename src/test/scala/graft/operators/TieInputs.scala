package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Tie-heavy ANN inputs for the recompute specs. */
object TieInputs {

  /** The first `distinct` vectors of `emb` (by vec_id), each `copies`
    * times, as (vec_id, embedding) in one partition whose ids FALL as rows
    * arrive. Every candidate key ties at least `copies` ways, so a cut
    * that is not a multiple of `copies` falls inside a tie, and a scan
    * that breaks ties by arrival keeps the higher ids. */
  def duplicated(emb: DataFrame, distinct: Int = 100,
      copies: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    val vecs = emb.orderBy("vec_id").limit(distinct).select("embedding")
      .collect().map(_.getSeq[Float](0))
    val n = distinct * copies
    val rows = (0 until n).map(i => Row((n - 1 - i).toLong, vecs(i % distinct)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }
}
