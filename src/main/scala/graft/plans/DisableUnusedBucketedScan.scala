package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange

/** Reads a bucketed table non-bucketed wherever nothing uses its
  * bucketing. A bucketed scan runs one task per bucket, selected or not;
  * a non-bucketed one still drops the files of unselected buckets (the
  * scan's bucket set filters its file list by bucket id) and packs the
  * rest into `maxSplitBytes` splits — a 3-term BM25 probe over a
  * 32-bucket posting table reads its 3 buckets' files in one task
  * instead of 32.
  *
  * Spark's own `DisableUnnecessaryBucketedScan` keeps a scan bucketed
  * whenever an operator above it wants a clustered distribution and
  * anything but Sort, Project, Filter or a partial aggregate stands
  * between the scan and the exchange below that operator — so the BM25
  * serve's posting scan, under a Generate and the qid exchange that feeds
  * the (qid, doc_id) aggregate and window, stays at 32 tasks. This rule
  * walks the physical plan and makes a bucketed scan non-bucketed unless
  * some operator on the path up to the nearest exchange (or the root)
  * requires a distribution or an ordering of the child on that path. An
  * exchange re-partitions its input, so nothing above it can use the
  * scan's partitioning: the walk starts afresh under every exchange.
  * Requirements are read per child, so a broadcast join's build side does
  * not pin its streamed side.
  *
  * Installed by [[graft.GraftExtensions]] as a query-stage preparation
  * rule: it runs after Spark's rules on every adaptive plan; a plan that
  * AQE does not adapt keeps Spark's choice. Honours
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled`. */
object DisableUnusedBucketedScan extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.bucketingEnabled || !conf.autoBucketedScanEnabled) plan
    else walk(plan, pinned = false)

  /** Does `p` need anything of its `i`-th child's partitioning or order? */
  private def needs(p: SparkPlan, i: Int): Boolean =
    p.requiredChildDistribution.lift(i).exists(_ != UnspecifiedDistribution) ||
      p.requiredChildOrdering.lift(i).exists(_.nonEmpty)

  private def walk(plan: SparkPlan, pinned: Boolean): SparkPlan = plan match {
    case e: Exchange => e.mapChildren(walk(_, pinned = false))
    case s: FileSourceScanExec if s.bucketedScan && !pinned =>
      val flat = s.copy(disableBucketedScan = true)
      s.logicalLink.foreach(flat.setLogicalLink)
      flat
    case p => p.withNewChildren(p.children.zipWithIndex.map {
      case (c, i) => walk(c, pinned || needs(p, i))
    })
  }
}
