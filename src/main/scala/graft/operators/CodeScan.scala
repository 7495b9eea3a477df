package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one candidate stage of the compressed-code ANN families (BQ, SQ,
  * PQ/OPQ, RaBitQ, IVF-PQ, IVF-BQ, IVF-RaBitQ): scan a code table against
  * a broadcast probe set, keep each probe's exact top-`r_q` candidates
  * under the total order `(key ASC, cand_id ASC)`, and cut them globally
  * by the same order. A family brings its routing (which cells each probe
  * reads), its per-(probe, cell) state and a chunk [[Scorer]]; this
  * object owns everything else.
  *
  * Scan shape: rows are buffered in 1024-row chunks, a chunk is grouped
  * by cell, and the probes are walked one by one, each scoring only the
  * chunk rows of its probed cells. One probe's state (LUT, query bits,
  * heap head) stays hot across a chunk, and a row is never checked for
  * membership against probes that do not read its cell. A flat table is
  * one cell, 0. The bounded heap keeps the exact top-`r_q` under the
  * total order, so the kept set does not depend on row arrival order, and
  * the global cut ranks by the same key, so per-partition and global cuts
  * never disagree.
  */
private[operators] object CodeScan {

  /** One probe: its id, the cells it reads (`Array(0)` on a flat table)
    * and its candidate budget `r_q`. */
  final case class Probe(qid: Long, cells: Array[Int], budget: Int)

  /** A family's chunk scorer, built once per partition. `score` writes
    * `out(j)`, for `j` in `[from, until)`, with the key of `rows(j)`
    * against probe `q` in its probed cell `cells(slot)`; a lower key is a
    * better candidate. It is called once per (probe, probed cell, chunk),
    * so the per-row loop stays inside the family's code. */
  trait Scorer[T] {
    def score(q: Int, slot: Int, rows: Array[T], from: Int, until: Int,
        out: Array[Double]): Unit
  }

  private val chunk = 1024

  /** `(query_id, query_vec)` probes collected to the driver. */
  def collectProbes(queries: DataFrame, queryId: String,
      queryVec: String): Array[(Long, Array[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col(queryId).cast("long"), col(queryVec).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
  }

  /** Cosine-family routing (IVF-BQ, IVF-RaBitQ): each probe's `nprobe`
    * nearest cells through the expression that assigns the base rows (ties
    * `(s desc, cell desc)`), then `probeOf` may trim the ranked list. */
  def routeCells(queries: DataFrame, centroids: Array[(Int, Array[Float])],
      metric: String, nprobe: Int, queryId: String, queryVec: String,
      probeOf: Array[Int] => Array[Int]): Array[(Long, Array[Float], Array[Int])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col(queryId).cast("long"),
        col(queryVec).cast("array<float>").as("qv"),
        graft.functions.cells.nearest_cells(col(queryVec).cast("array<float>"),
          centroids, metric, n = nprobe, tieCellDesc = true).as("cells"))
      .as[(Long, Array[Float], Array[Int])].collect()
      .map { case (qid, qv, cells) => (qid, qv, probeOf(cells)) }
  }

  /** Adaptive rerank: a probe's budget is max(`rerankMin`,
    * ceil(`rerankFrac` × Σ population of its probed cells)), so recall
    * holds as cells grow instead of decaying under one global rerank. */
  def populationBudget(cellCounts: Map[Int, Long], rerankFrac: Double,
      rerankMin: Int): Array[Int] => Int = { cells =>
    val pop = cells.map(c => cellCounts.getOrElse(c, 0L)).sum
    math.max(rerankMin.toLong, math.ceil(rerankFrac * pop).toLong)
      .min(Int.MaxValue).toInt
  }

  /** Adaptive nprobe: keep a probe's ranked cells only until their
    * cumulative live population covers `minCandidates`, and at least
    * `minNprobe` cells. */
  def trimToPopulation(cellCounts: Map[Int, Long], minNprobe: Int,
      minCandidates: Int): Array[Int] => Array[Int] = { cells =>
    val keep = mutable.ArrayBuffer.empty[Int]
    var cum = 0L
    var i = 0
    while (i < cells.length && (keep.length < minNprobe || cum < minCandidates)) {
      keep += cells(i)
      cum += cellCounts.getOrElse(cells(i), 0L)
      i += 1
    }
    keep.toArray
  }

  /** The candidate cut: each query's top-`r` rows of `scored` (query_id,
    * cand_id, …) under `(key, cand_id ASC)`. A literal `r` plans as a
    * WindowGroupLimit; a column `r` is a per-query budget. Output:
    * (query_id, cand_id). */
  def cut(scored: DataFrame, key: Column, r: Column): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(key, col("cand_id").asc)
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= r)
      .select("query_id", "cand_id")
  }

  /** Scan `codes` for `probes` and cut: (query_id, cand_id), each probe's
    * top-`budget` by `(key ASC, cand_id ASC)`. `cellOf` is None on a flat
    * table. When every budget is the same the cut is that literal;
    * otherwise it reads the budget from the scan output. */
  def topCandidates[T: ClassTag](codes: Dataset[T], probes: Array[Probe],
      idOf: T => Long, cellOf: Option[T => Int],
      scorer: () => Scorer[T]): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcP = spark.sparkContext.broadcast(probes)
    val nCells = probes.iterator.flatMap(_.cells).foldLeft(0)(_ max _) + 1
    val scanned = codes.mapPartitions { rows =>
      val ps = bcP.value
      val sc = scorer()
      // worst kept candidate on top: greater key, then greater cand_id
      val worstFirst = new Ordering[(Double, Long)] {
        def compare(a: (Double, Long), b: (Double, Long)): Int =
          if (a._1 < b._1) -1 else if (a._1 > b._1) 1
          else java.lang.Long.compare(a._2, b._2)
      }
      val heaps = Array.fill(ps.length)(
        mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
      val rowBuf = new Array[T](chunk)
      val idBuf = new Array[Long](chunk)
      val out = new Array[Double](chunk)
      // cell grouping of a chunk (IVF tables): a counting sort over the
      // cells present, so each (probe, cell) pair scores one contiguous run
      val cellFn = cellOf.orNull
      val cellBuf = if (cellFn == null) null else new Array[Int](chunk)
      val sRows = if (cellBuf == null) rowBuf else new Array[T](chunk)
      val sIds = if (cellBuf == null) idBuf else new Array[Long](chunk)
      val cnt = new Array[Int](nCells)
      val start = new Array[Int](nCells)
      val fill = new Array[Int](nCells)
      val present = new Array[Int](chunk)

      def push(q: Int, from: Int, until: Int): Unit = {
        val h = heaps(q)
        val r = ps(q).budget
        var j = from
        while (j < until) {
          val key = out(j)
          val id = sIds(j)
          if (h.size < r) h.enqueue((key, id))
          else {
            // allocation-free (key, id) < h.head: the reject path runs
            // once per (row × probe)
            val top = h.head
            if (key < top._1 || (key == top._1 && id < top._2)) {
              h.dequeue(); h.enqueue((key, id))
            }
          }
          j += 1
        }
      }

      def flush(n: Int): Unit = {
        var nPresent = 0
        if (cellBuf == null) { cnt(0) = n; start(0) = 0 }
        else {
          var j = 0
          while (j < n) {
            val c = cellBuf(j)
            if (c < nCells) {
              if (cnt(c) == 0) { present(nPresent) = c; nPresent += 1 }
              cnt(c) += 1
            }
            j += 1
          }
          var off = 0
          var p = 0
          while (p < nPresent) {
            val c = present(p)
            start(c) = off; fill(c) = off; off += cnt(c)
            p += 1
          }
          j = 0
          while (j < n) {
            val c = cellBuf(j)
            if (c < nCells) {
              val at = fill(c)
              sRows(at) = rowBuf(j); sIds(at) = idBuf(j); fill(c) = at + 1
            }
            j += 1
          }
        }
        var q = 0
        while (q < ps.length) {
          val cells = ps(q).cells
          var slot = 0
          while (slot < cells.length) {
            val c = cells(slot)
            if (cnt(c) > 0) {
              val from = start(c)
              val until = from + cnt(c)
              sc.score(q, slot, sRows, from, until, out)
              push(q, from, until)
            }
            slot += 1
          }
          q += 1
        }
        var p = 0
        while (p < nPresent) { cnt(present(p)) = 0; p += 1 }
      }

      var nBuf = 0
      rows.foreach { row =>
        rowBuf(nBuf) = row
        idBuf(nBuf) = idOf(row)
        if (cellFn != null) cellBuf(nBuf) = cellFn(row)
        nBuf += 1
        if (nBuf == chunk) { flush(nBuf); nBuf = 0 }
      }
      if (nBuf > 0) flush(nBuf)
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        val p = ps(q)
        h.iterator.map { case (key, id) => (p.qid, id, key, p.budget) }
      }
    }.toDF("query_id", "cand_id", "key", "rq")
    val budgets = probes.map(_.budget).distinct
    cut(scanned, col("key").asc,
      if (budgets.length <= 1) lit(budgets.headOption.getOrElse(1)) else col("rq"))
  }
}
