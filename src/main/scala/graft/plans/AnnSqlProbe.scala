package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Descending, EmptyRow, Expression, IntegerLiteral, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{CosineSimilarityExpr, EuclideanSimilarityExpr}
import graft.hnsw.{HnswModel, IvfHnsw}

/** SQL-path ANN index probe (SURVEY §4 optional piece; the reference's
  * query surface is the programmatic `searchKNN` call, reference
  * src/main.ts:253-283 — this rule gives the same operation a declarative
  * SQL form).
  *
  * A user registers a fitted [[HnswModel]] against the parquet path of the
  * table it indexes; afterwards the canonical vector-search SQL shape
  *
  * {{{
  * SELECT vec_id, cosine_sim(embedding, <literal vector>) AS score
  * FROM parquet.`/path/embeddings.parquet`
  * ORDER BY score DESC LIMIT k
  * }}}
  *
  * is rewritten by [[AnnProbeRule]] from an O(n) scan + top-k into an
  * index probe (graph descent per shard + global top-k — the same
  * search as `HnswModel.knnJoin`, which is eager: the probe runs while
  * the rule rewrites the plan, and its top-k result takes the scan's
  * place as a local relation). The rewrite fires only when
  * EVERY guard holds: the scanned path has a registered index, the
  * similarity metric matches the index metric, the query vector is a
  * literal, the projection is exactly (id column, similarity alias), and
  * the sort is a single descending order on that alias. An optional
  * WHERE over metadata columns rewrites into the k-GUARANTEED filtered
  * probe ([[graft.operators.FilteredAnn]]); a predicate over the vector
  * column itself, or anything else unsupported, falls through untouched
  * to the exact plan.
  *
  * Opt-in semantics: like any vector-DB ANN index, the probe returns
  * *approximate* top-k — registering the index is the explicit consent to
  * trade exactness for a ~20x scan reduction (recall/ef tradeoffs in
  * BASELINE.md).
  *
  * Install via `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or at runtime with [[AnnSqlProbe.install]] (experimental optimizer
  * batch — no session rebuild needed).
  */
object AnnSqlProbe {

  /** A registered index: plain shard-and-search HNSW, or the cell-routed
    * hybrid (probed at its registered nprobe — sublinear per query, the
    * plan SQL users should get once the corpus outgrows one shard set). */
  sealed trait AnnIndex {
    def metric: String
    def knnJoin(probe: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame
  }
  final case class HnswRef(m: HnswModel) extends AnnIndex {
    def metric: String = m.params.metric
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      m.knnJoin(p, k)
  }
  final case class IvfHnswRef(m: IvfHnsw.Model, nprobe: Int) extends AnnIndex {
    def metric: String = m.hnsw.params.metric
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      IvfHnsw.knnJoin(m, p, k, nprobe)
  }
  /** Compressed-code euclidean path: SQL top-k probes scan nprobe cells of
    * packed PQ codes + exact-rerank against `base` (the indexed table). */
  final case class IvfPqRef(m: graft.operators.IvfPq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      idCol: String, vecCol: String) extends AnnIndex {
    def metric: String = "euclidean"
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      graft.operators.IvfPq.knnJoin(m, base, p, k,
        nprobe, math.max(rerank, k), idCol = idCol, vecCol = vecCol)
  }

  /** Residual-BQ compressed path (the 10M serving winner): cosine SQL
    * top-k probes scan nprobe cells of packed sign codes + exact cosine
    * rerank against `base`. `rerankFrac > 0` switches to the ADAPTIVE
    * per-query rerank — rerank scales with the probed cells' live
    * population (the measured serving law: a fixed rerank silently loses
    * recall as cells grow). */
  final case class IvfBqRef(m: graft.operators.IvfBq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      rerankFrac: Double, idCol: String, vecCol: String) extends AnnIndex {
    def metric: String = "cosine"
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      if (rerankFrac > 0)
        graft.operators.IvfBq.knnJoinAdaptive(m, base, p, k, nprobe,
          rerankFrac, math.max(rerank, k), idCol = idCol, vecCol = vecCol)
      else
        graft.operators.IvfBq.knnJoin(m, base, p, k, nprobe,
          math.max(rerank, k), idCol = idCol, vecCol = vecCol)
  }

  /** MRL prefix path: cosine SQL top-k probes score only the first
    * `prefixDims` vector components for candidates (with a
    * [[graft.operators.Mrl.writePrefixLayout]] table that is a
    * column-pruned p/d-byte scan), then exact full-dim rerank. */
  final case class MrlRef(base: org.apache.spark.sql.DataFrame,
      prefixDims: Int, rerank: Int, idCol: String, vecCol: String)
      extends AnnIndex {
    def metric: String = "cosine"
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      graft.operators.Mrl.knnJoinTruncated(base, p, k, prefixDims,
        math.max(rerank, k), idCol = idCol, vecCol = vecCol)
  }

  /** PCA-projected path: cosine SQL top-k probes score the trained
    * p-dim projections for candidates, then exact full-dim rerank —
    * the MRL serving shape for embeddings with no matryoshka prefix. */
  final case class PcaRef(m: graft.operators.Pca.Model,
      base: org.apache.spark.sql.DataFrame, rerank: Int,
      idCol: String, vecCol: String) extends AnnIndex {
    def metric: String = "cosine"
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      graft.operators.Pca.knnJoin(m, base, p, k, math.max(rerank, k),
        idCol = idCol, vecCol = vecCol)
  }

  /** RaBitQ flat path: cosine SQL top-k probes rank the whole corpus by
    * the bit-sliced u4 estimator kernel (d/8 code bytes + one factor, no
    * per-dimension float work) + exact cosine rerank against `base` — the
    * byte budget of BQ with an estimator whose error SHRINKS with d, so
    * the small rerank survives embedding widths (BASELINE round 10). */
  final case class RabitqRef(m: graft.operators.RabitQ.Model,
      base: org.apache.spark.sql.DataFrame, rerank: Int,
      idCol: String, vecCol: String) extends AnnIndex {
    def metric: String = "cosine"
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      graft.operators.RabitQ.knnJoinU4(m, base, p, k, math.max(rerank, k),
        idCol = idCol, vecCol = vecCol)
  }

  /** Residual RaBitQ behind a coarse quantizer (the SIGMOD-24 deployment
    * shape): cosine SQL top-k probes scan nprobe cells of rotated-residual
    * sign codes with the u4 bit-sliced kernel (scan cost flat in d —
    * BASELINE round 10) + exact rerank against `base`. */
  final case class IvfRabitqRef(m: graft.operators.IvfRabitq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      idCol: String, vecCol: String) extends AnnIndex {
    def metric: String = "cosine"
    def knnJoin(p: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
      graft.operators.IvfRabitq.knnJoinU4(m, base, p, k, nprobe,
        math.max(rerank, k), idCol = idCol, vecCol = vecCol)
  }

  case class Entry(index: AnnIndex, idCol: String, vecCol: String)

  private val catalog = TrieMap.empty[String, Entry]

  private def normalize(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath

  /** Register `model` as the index of the table stored at `path`. */
  def register(path: String, model: HnswModel, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    catalog.put(normalize(path), Entry(HnswRef(model), idCol, vecCol)); ()
  }

  /** Register a hybrid IVF→HNSW index: SQL top-k probes route through
    * `nprobe` cells (the sublinear path) instead of every shard. */
  def register(path: String, model: IvfHnsw.Model, nprobe: Int,
      idCol: String, vecCol: String): Unit = {
    catalog.put(normalize(path), Entry(IvfHnswRef(model, nprobe), idCol, vecCol)); ()
  }

  def register(path: String, model: IvfHnsw.Model, nprobe: Int): Unit =
    register(path, model, nprobe, "vec_id", "embedding")

  /** Register an IVF-PQ index: euclidean SQL top-k probes route through
    * the nprobe-pruned packed-code scan + exact rerank against `base`. */
  def register(path: String, model: graft.operators.IvfPq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      idCol: String, vecCol: String): Unit = {
    catalog.put(normalize(path),
      Entry(IvfPqRef(model, base, nprobe, rerank, idCol, vecCol), idCol, vecCol)); ()
  }

  def register(path: String, model: graft.operators.IvfPq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int): Unit =
    register(path, model, base, nprobe, rerank, "vec_id", "embedding")

  /** Register a residual-BQ index: cosine SQL top-k probes route through
    * the nprobe-pruned packed-sign scan + exact rerank against `base`.
    * `rerankFrac > 0` sizes each query's rerank from its probed cells'
    * population (needs a model built with cellCounts). */
  def register(path: String, model: graft.operators.IvfBq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      rerankFrac: Double, idCol: String, vecCol: String): Unit = {
    catalog.put(normalize(path),
      Entry(IvfBqRef(model, base, nprobe, rerank, rerankFrac, idCol, vecCol),
        idCol, vecCol)); ()
  }

  def register(path: String, model: graft.operators.IvfBq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      rerankFrac: Double): Unit =
    register(path, model, base, nprobe, rerank, rerankFrac, "vec_id", "embedding")

  def register(path: String, model: graft.operators.IvfBq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int): Unit =
    register(path, model, base, nprobe, rerank, 0.0, "vec_id", "embedding")

  /** Register an MRL prefix index: cosine SQL top-k probes generate
    * candidates from the first `prefixDims` components of `base`'s
    * vectors + exact full-dim rerank. */
  def registerMrl(path: String, base: org.apache.spark.sql.DataFrame,
      prefixDims: Int, rerank: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    catalog.put(normalize(path),
      Entry(MrlRef(base, prefixDims, rerank, idCol, vecCol), idCol, vecCol)); ()
  }

  /** Register a PCA-projected index: cosine SQL top-k probes generate
    * candidates from the trained p-dim projection + exact full-dim
    * rerank against `base`. */
  def register(path: String, model: graft.operators.Pca.Model,
      base: org.apache.spark.sql.DataFrame, rerank: Int,
      idCol: String, vecCol: String): Unit = {
    catalog.put(normalize(path),
      Entry(PcaRef(model, base, rerank, idCol, vecCol), idCol, vecCol)); ()
  }

  def register(path: String, model: graft.operators.Pca.Model,
      base: org.apache.spark.sql.DataFrame, rerank: Int): Unit =
    register(path, model, base, rerank, "vec_id", "embedding")

  /** Register a flat RaBitQ index: cosine SQL top-k probes route through
    * the u4 bit-sliced estimator scan + exact rerank against `base`. */
  def register(path: String, model: graft.operators.RabitQ.Model,
      base: org.apache.spark.sql.DataFrame, rerank: Int,
      idCol: String, vecCol: String): Unit = {
    catalog.put(normalize(path),
      Entry(RabitqRef(model, base, rerank, idCol, vecCol), idCol, vecCol)); ()
  }

  def register(path: String, model: graft.operators.RabitQ.Model,
      base: org.apache.spark.sql.DataFrame, rerank: Int): Unit =
    register(path, model, base, rerank, "vec_id", "embedding")

  /** Register an IVF×RaBitQ index: cosine SQL top-k probes route through
    * nprobe cells of rotated-residual codes + exact rerank against `base`. */
  def register(path: String, model: graft.operators.IvfRabitq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int,
      idCol: String, vecCol: String): Unit = {
    catalog.put(normalize(path),
      Entry(IvfRabitqRef(model, base, nprobe, rerank, idCol, vecCol),
        idCol, vecCol)); ()
  }

  def register(path: String, model: graft.operators.IvfRabitq.Model,
      base: org.apache.spark.sql.DataFrame, nprobe: Int, rerank: Int): Unit =
    register(path, model, base, nprobe, rerank, "vec_id", "embedding")

  def unregister(path: String): Unit = { catalog.remove(normalize(path)); () }

  /** Register `model` as the index of a CATALOG table (`db.tbl` or `tbl`):
    * resolves the table's storage location and registers that path, so
    * `SELECT ... FROM tbl ORDER BY sim DESC LIMIT k` rewrites exactly like
    * the `parquet.`path`` form (by optimizer time a datasource table is
    * the same LogicalRelation over its location). */
  def registerTable(spark: SparkSession, table: String, model: HnswModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location
    register(loc.getPath, model, idCol, vecCol)
  }

  /** Catalog-table form of the hybrid registration. */
  def registerTable(spark: SparkSession, table: String, model: IvfHnsw.Model,
      nprobe: Int): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location
    register(loc.getPath, model, nprobe)
  }

  def unregisterTable(spark: SparkSession, table: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location
    unregister(loc.getPath)
  }

  def lookup(paths: Seq[String]): Option[Entry] =
    paths.iterator.map(p => catalog.get(normalize(p))).collectFirst { case Some(e) => e }

  /** Runtime installation into the session's experimental optimizer batch. */
  def install(spark: SparkSession): Unit = {
    val rule = new AnnProbeRule(spark)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[AnnProbeRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
  }
}

class AnnProbeRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import AnnSqlProbe._

  /** Foldable array expression → float vector. */
  private def literalVector(e: Expression): Option[Array[Float]] =
    if (!e.foldable) None
    else e.dataType match {
      case ArrayType(FloatType, _) =>
        Option(e.eval(EmptyRow)).map(_.asInstanceOf[ArrayData].toFloatArray())
      case ArrayType(DoubleType, _) =>
        Option(e.eval(EmptyRow)).map(_.asInstanceOf[ArrayData].toDoubleArray().map(_.toFloat))
      case _ => None
    }

  /** Match sim(vecCol, literal) in either argument order. */
  private def matchSim(e: Expression): Option[(AttributeReference, Array[Float], String)] = {
    def side(a: Expression, b: Expression, m: String) = (a, literalVector(b)) match {
      case (ar: AttributeReference, Some(v)) => Some((ar, v, m))
      case _ => None
    }
    e match {
      case CosineSimilarityExpr(a, b) =>
        side(a, b, "cosine").orElse(side(b, a, "cosine"))
      case EuclideanSimilarityExpr(a, b) =>
        side(a, b, "euclidean").orElse(side(b, a, "euclidean"))
      case _ => None
    }
  }

  /** Project child → (relation, optional id-filter condition). Accepts a
    * pruning Project between the Filter and the relation (ColumnPruning may
    * insert one). */
  private def unwrap(child: LogicalPlan): Option[(LogicalRelation, Option[Expression])] =
    child match {
      case rel: LogicalRelation => Some((rel, None))
      case Filter(cond, rel: LogicalRelation) => Some((rel, Some(cond)))
      case Filter(cond, Project(cols, rel: LogicalRelation))
          if cols.forall(_.isInstanceOf[AttributeReference]) =>
        Some((rel, Some(cond)))
      case _ => None
    }

  /** Filtered probes carry a k-RESULT GUARANTEE: a WHERE on the id column
    * is applied through [[graft.operators.FilteredAnn]] — probe-then-filter
    * with geometric overfetch escalation and an exact filtered-scan
    * fallback — so a selective predicate returns min(k, matches) rows
    * instead of silently fewer (VERDICT round 5). The escalation resolves
    * EAGERLY while this rule rewrites the plan (the filtered form runs
    * bounded Spark jobs at optimization time; an `explain` of such a
    * query pays them too). */
  private val overfetch = 4

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(IntegerLiteral(k),
        ll @ LocalLimit(_,
          s @ Sort(Seq(SortOrder(sref: AttributeReference, Descending, _, _)), true,
            Project(projList, projChild), _))) if k > 0 && k <= 10000 =>
      val rewritten = for {
        (rel, idFilter) <- unwrap(projChild)
        entry <- rel.relation match {
          case fs: HadoopFsRelation => lookup(fs.location.rootPaths.map(_.toString))
          case _ => None
        }
        // exactly one similarity alias, sorted on, metric-matched
        simAlias <- projList.collectFirst {
          case a @ Alias(child, _) if matchSim(child).isDefined => a
        }
        (vecAttr, qvec, metric) <- matchSim(simAlias.child)
        if sref.exprId == simAlias.exprId &&
          metric == entry.index.metric &&
          vecAttr.name == entry.vecCol &&
          projList.forall {
            case a: Alias => a.exprId == simAlias.exprId
            case ar: AttributeReference => ar.name == entry.idCol
            case _ => false
          } &&
          // an optional WHERE may touch any METADATA column (id, label,
          // ...) — FilteredAnn enforces it with the k guarantee. Only a
          // predicate over the vector column itself (or a non-deterministic
          // / subquery one) falls through to the exact plan.
          idFilter.forall(c => c.deterministic &&
            c.references.forall(_.name != entry.vecCol) &&
            !c.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      } yield {
        import spark.implicits._
        val probe = Seq((0L, qvec)).toDF("query_id", "query_vec")
        val knn = idFilter match {
          case None => entry.index.knnJoin(probe, k)
          case Some(cond) =>
            val baseDf = org.apache.spark.sql.GraftColumnBridge.dataset(spark, rel)
            val predCol = org.apache.spark.sql.GraftColumnBridge.column(cond)
            graft.operators.FilteredAnn.knnJoin(baseDf, probe, k, predCol,
              (q, kp, _) => entry.index.knnJoin(q, kp),
              metric = entry.index.metric, overfetch = overfetch,
              idCol = entry.idCol, vecCol = entry.vecCol)
        }
        // inject the OPTIMIZED subtree: an analyzed one may still carry
        // ResolvedHint nodes (e.g. IvfPq's rerank broadcasts), which the
        // main optimizer has already run past — the planner would reject
        // them with INTERNAL_ERROR
        val knnPlan = knn.queryExecution.optimizedPlan
        val nbr = knnPlan.output.find(_.name == "neighbor_id").get
        val score = knnPlan.output.find(_.name == "score").get
        val newProj: Seq[NamedExpression] = projList.map {
          case a: Alias => Alias(score, a.name)(exprId = a.exprId)
          case ar: AttributeReference =>
            val c = if (nbr.dataType == ar.dataType) nbr else Cast(nbr, ar.dataType)
            Alias(c, ar.name)(exprId = ar.exprId)
        }
        val projected = Project(newProj, knnPlan)
        // no post-Filter node: FilteredAnn already enforced the predicate
        // (with the k guarantee) inside the probe plan
        // keep the original sort+limit nodes (attribute ids preserved) so
        // parent operators resolve unchanged
        gl.copy(child = ll.copy(child = s.copy(child = projected)))
      }
      rewritten.getOrElse(gl)
  }
}
