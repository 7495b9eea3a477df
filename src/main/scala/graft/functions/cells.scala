package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid ranking against a FIXED centroid matrix, held as a
  * codegen reference object instead of C inlined literal expressions.
  *
  * The literal form (`greatest(struct(cosine(vec, lit(c0)), ...), ...)` /
  * `array_sort(array(...))` over one struct per centroid) is correct and
  * oracle-proven, but its generated source grows O(C·d): at C=128,
  * d=64 Janino+JIT pay a ~100 s FIXED compile cost per plan (measured in
  * BASELINE.md round 8, "SemDeDup at 1M vectors"), and every plan that
  * embeds the assignment pays it again. This expression keeps the matrix
  * in one object reference — generated code is a single call into JIT-compiled
  * Scala, so compile cost is O(1) in C and the per-row loop is the same
  * double-accumulation kernel the binary similarity expressions use.
  *
  * Arithmetic and tie semantics are EXACTLY the proven literal forms
  * (the cross-engine oracles depend on them):
  *   - score = metric sim accumulated in double over float elements in
  *     index order; NaN pinned to -1.0 (the nanvl guard);
  *   - order = (score DESC, cell DESC) when `tieCellDesc` (the
  *     `greatest(struct)` / `reverse(array_sort)` order used by
  *     assignment and IVF probes), (score DESC, cell ASC) otherwise
  *     (the `struct(-s, c)` ascending order used by hybrid routing).
  */
final class CellScorer(val cells: Array[Int], flat: Array[Float],
    val dim: Int, metric: String, tieCellDesc: Boolean) extends Serializable {
  require(cells.length * dim == flat.length, "matrix shape mismatch")
  private val nCells = cells.length
  private val mCosine = metric == "cosine"
  private val mEuclid = metric == "euclidean"
  private val mDot = metric == "dot"
  require(mCosine || mEuclid || mDot, s"Invalid metric: $metric")

  /** Top-`n` cell ids by (score desc, cell tie order). */
  def topN(v: ArrayData, n: Int): ArrayData = {
    val len = v.numElements()
    val k = math.min(n, nCells)
    val bestS = new Array[Double](k)
    val bestC = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < nCells) {
      val base = c * dim
      val m = math.min(len, dim)
      var s = 0.0
      if (mCosine) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < m) {
          val xi = v.getFloat(i).toDouble
          val yi = flat(base + i).toDouble
          dot += xi * yi; na += xi * xi; nb += yi * yi
          i += 1
        }
        s = dot / (math.sqrt(na) * math.sqrt(nb))
      } else if (mEuclid) {
        var ss = 0.0
        var i = 0
        while (i < m) {
          val d = v.getFloat(i).toDouble - flat(base + i)
          ss += d * d
          i += 1
        }
        s = 1.0 / (1.0 + math.sqrt(ss))
      } else {
        var dot = 0.0
        var i = 0
        while (i < m) { dot += v.getFloat(i).toDouble * flat(base + i); i += 1 }
        s = dot
      }
      if (s != s) s = -1.0 // the nanvl(-1.0) guard
      val cid = cells(c)
      // insertion position among the current top-k (score desc, cell tie)
      var pos = filled
      while (pos > 0 && wins(s, cid, bestS(pos - 1), bestC(pos - 1))) pos -= 1
      if (pos < k) {
        val end = math.min(filled, k - 1)
        var j = end
        while (j > pos) { bestS(j) = bestS(j - 1); bestC(j) = bestC(j - 1); j -= 1 }
        bestS(pos) = s; bestC(pos) = cid
        if (filled < k) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) { out(i) = bestC(i); i += 1 }
    new GenericArrayData(out)
  }

  /** true iff (s, c) ranks strictly before (s2, c2) — java.lang.Double
    * total order on score (matches Spark's struct ordering incl. -0.0),
    * then the cell tie direction. */
  private def wins(s: Double, c: Int, s2: Double, c2: Int): Boolean = {
    val cmp = java.lang.Double.compare(s, s2)
    if (cmp != 0) cmp > 0
    else if (tieCellDesc) c > c2
    else c < c2
  }
}

/** `array<int>` of the `n` nearest cell ids of a float-vector column —
  * see [[CellScorer]] for semantics. */
case class NearestCellsExpr(child: Expression, scorer: CellScorer, n: Int)
    extends UnaryExpression {
  override def prettyName: String = "nearest_cells"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.catalogString}")
    }
  override def nullSafeEval(a: Any): Any =
    scorer.topN(a.asInstanceOf[ArrayData], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellScorer", scorer,
      classOf[CellScorer].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.topN($a, $n);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object cells {
  /** Builds the flattened scorer from `(cell, vec)` centroid pairs. All
    * centroid vectors must share one dimension. */
  def scorer(centroids: Array[(Int, Array[Float])], metric: String,
      tieCellDesc: Boolean): CellScorer = {
    require(centroids.nonEmpty, "empty centroid set")
    val dim = centroids.head._2.length
    require(centroids.forall(_._2.length == dim), "ragged centroid matrix")
    val flat = new Array[Float](centroids.length * dim)
    var i = 0
    while (i < centroids.length) {
      System.arraycopy(centroids(i)._2, 0, flat, i * dim, dim)
      i += 1
    }
    new CellScorer(centroids.map(_._1), flat, dim, metric, tieCellDesc)
  }

  def nearest_cells(vec: Column, centroids: Array[(Int, Array[Float])],
      metric: String, n: Int, tieCellDesc: Boolean): Column =
    GraftColumnBridge.column(NearestCellsExpr(
      GraftColumnBridge.expression(vec.cast("array<float>")),
      scorer(centroids, metric, tieCellDesc), n))

  /** Probed-cell scan filter: `c.isin(wanted)` (hash-set row
    * evaluation), CONJOINED with an OR of adjacent-coalesced [lo, hi]
    * ranges when there are few enough of them to help — parquet pushes
    * every range to row-group min/max stats, where an IN past the
    * pushdown threshold (10 values) degrades to one envelope spanning
    * all wanted cells. On cell-sorted code files this is the
    * difference between reading a small probe's row groups and reading
    * the whole code table; past `maxRanges` the OR costs more per row
    * than pruning saves (measured at the 100M point: a 150-term OR
    * made a 10-query wave 5× SLOWER), so big waves keep the plain IN
    * (they touch most row groups regardless). Semantics identical to
    * isin either way. */
  def cellPruneFilter(c: Column, wanted: Seq[Int],
      maxRanges: Int = 32): Column = {
    // an empty probe wave matched nothing under isin() and must keep
    // doing so — serving loops pass empty query batches
    if (wanted.isEmpty)
      return org.apache.spark.sql.functions.lit(false)
    val sorted = wanted.distinct.sorted
    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var lo = sorted.head
    var hi = sorted.head
    sorted.tail.foreach { v =>
      if (v == hi + 1) hi = v
      else { ranges += ((lo, hi)); lo = v; hi = v }
    }
    ranges += ((lo, hi))
    val in = c.isin(sorted: _*)
    if (ranges.length > maxRanges) in
    else in && ranges.map { case (l, h) =>
      if (l == h) c === org.apache.spark.sql.functions.lit(l)
      else c >= org.apache.spark.sql.functions.lit(l) &&
        c <= org.apache.spark.sql.functions.lit(h)
    }.reduce(_ || _)
  }

  /** The rerank-base cell marker: an internal column name only the
    * engine's own cell-clustered stores emit (see
    * `IncrementalBqIndex.rerankBase`) — the prune below keys on it, so
    * a CALLER's table that happens to carry a column named `cell` with
    * unrelated meaning can never silently filter rerank candidates. */
  val RerankCellCol = "__graft_cell"

  /** Rerank-base prune: when the base carries the [[RerankCellCol]]
    * marker (the cell-clustered rerank layout), restrict the rerank
    * scan to the probed cells' row groups with [[cellPruneFilter]].
    * Correct by construction: candidates only come from probed cells,
    * and the store's cell column is written from the SAME assignment
    * as the code rows, so the filter can never drop a candidate —
    * pruned ≡ unpruned (spec-pinned). Any other base passes through
    * untouched.
    *
    * When the wave's probed set covers MOST of the store's cells
    * (`totalCells` known and coverage > 1/2), the filter is skipped:
    * probed cells scattered across every row group prune no I/O, so
    * the per-row isin + the extra cell-column read are pure overhead —
    * measured 19% on the 100M 1000-query/rerank=10000 wave, where 1000
    * queries × nprobe 16 touch essentially all 1024 cells. Semantics
    * are unchanged either way (the filter never drops candidates). */
  def pruneRerankBase(base: org.apache.spark.sql.DataFrame,
      probed: Seq[Int], totalCells: Int = -1): org.apache.spark.sql.DataFrame =
    if (!base.columns.contains(RerankCellCol)) base
    else if (totalCells > 0 && probed.distinct.size * 2 > totalCells)
      base.drop(RerankCellCol)
    else
      base.filter(cellPruneFilter(
          org.apache.spark.sql.functions.col(RerankCellCol), probed))
        .drop(RerankCellCol)
}
