package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small input in one task: an AQE query-stage preparation rule
  * that turns
  * `SortExec(global) ← ShuffleExchangeExec(RangePartitioning, child, ENSURE_REQUIREMENTS)`
  * into `SortExec(global) ← CoalesceExec(1, child)`.
  *
  * A global sort is planned as a range exchange, and the exchange's
  * `RangePartitioner` runs a sampling job before its map job. On an input
  * of at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * bytes, `CoalesceShufflePartitions` then merges the whole shuffle
  * output back into one partition. So the sort's output is the same
  * either way, one globally ordered partition, and the rule only drops
  * the sampling job, the range shuffle and its map job. It acts only
  * while `spark.sql.adaptive.coalescePartitions.enabled` is on.
  *
  * The input's size is `child.logicalLink.stats.sizeInBytes`, trusted
  * only where it is an upper bound built from measured sizes: the leaves
  * are file and local relations, loaded caches and materialized query
  * stages (their runtime bytes), every operator above them is one whose
  * size-only estimate cannot under-count rows ([[bounded]]), and the
  * cost-based optimizer, whose estimates can, is off. AQE runs the rule
  * again after each stage it materializes; a plan with one shuffle fewer
  * is adopted, so an input that proves small at run time is caught there.
  *
  * A user's `repartitionByRange` (not an `ENSURE_REQUIREMENTS` shuffle),
  * `orderBy(...).limit(n)` (`TakeOrderedAndProject`, no exchange) and
  * local sorts are never touched.
  */
object SmallGlobalSort extends Rule[SparkPlan] {

  /** Registers the rule: the one injector of `Engine.session`,
    * `GraftExtensions` and the test session. A query-stage preparation
    * rule can only be injected while a session is built.
    */
  def inject(e: SparkSessionExtensions): Unit = e.injectQueryStagePrepRule(_ => this)

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled || conf.cboEnabled) plan
    else plan.transform {
      case s @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, None), _)
          if small(child) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }

  private def small(child: SparkPlan): Boolean =
    child.logicalLink.exists { l =>
      bounded(l) && l.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    }

  /** True if `p`'s size estimate bounds its output from above. A
    * materialized stage carries its runtime bytes; `Generate`, `Expand`,
    * typed object and Python operators are left out, because their
    * estimates ignore row multiplication.
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.isMaterialized
    case _: LogicalRelation | _: LocalRelation => true
    case m: InMemoryRelation => m.cacheBuilder.isCachedColumnBuffersLoaded
    case _: Project | _: Filter | _: Aggregate | _: Window | _: WindowGroupLimit | _: Sort | _: Union |
        _: GlobalLimit | _: LocalLimit | _: Join => p.children.forall(bounded)
    case _ => false
  }
}
