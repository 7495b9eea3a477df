package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CosineSimilarityExpr, DotProductExpr, EuclideanSimilarityExpr}

/** SparkSessionExtensions entry point: makes the vector kernels available
  * to pure-SQL users via
  * `--conf spark.sql.extensions=graft.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * Custom planner pieces:
  *  - one optimizer rule: [[graft.plans.AnnProbeRule]] rewrites
  *    `ORDER BY sim(vec, literal) DESC LIMIT k` over a registered indexed
  *    table into an HNSW index probe (opt-in via `AnnSqlProbe.register`);
  *  - one physical rule: [[graft.plans.DisableUnusedBucketedScan]], a
  *    query-stage preparation rule, reads a bucketed scan non-bucketed
  *    (still bucket-pruned, its files packed into few tasks) when no
  *    operator between it and the nearest exchange needs its
  *    partitioning or order. It is safe because an exchange re-partitions
  *    its input: nothing above one can use the scan's bucketing, so the
  *    rule's walk starts afresh under every exchange.
  * Otherwise the engine deliberately injects only
  * scalar expressions: the bounded per-group top-k for `row_number() <= k`
  * is already planned natively by Spark 4's WindowGroupLimit
  * (partial+final bounded rank), verified in PlanCheck; re-implementing it
  * as a SparkStrategy would be strictly worse (SURVEY §7.3 preference
  * order (a) before (c)).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(session => new graft.plans.AnnProbeRule(session))
    e.injectQueryStagePrepRule(_ => graft.plans.DisableUnusedBucketedScan)
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarityExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("euclidean_sim"),
      new ExpressionInfo(classOf[EuclideanSimilarityExpr].getName, "euclidean_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        EuclideanSimilarityExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductExpr(exprs(0), exprs(1))))
  }
}
