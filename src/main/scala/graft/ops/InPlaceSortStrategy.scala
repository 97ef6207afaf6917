package graft.ops

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf
import graft.stream.SessionStrategy

/** Sorts a small, already-materialized input in one task instead of
  * range-shuffling it: plans `Sort(order, global = true, child)` as
  * `SortExec(order, true, CoalesceExec(1, child))`. A global sort
  * otherwise costs two jobs beyond its input: one that samples the
  * range bounds and one that writes the range shuffle. For the few
  * rows a registry aggregate ends in, both are pure round-trips.
  *
  * It fires only when all of these hold:
  *  1. `child` is a `LogicalQueryStage` under nothing but `Project` and
  *     `Filter` nodes, and every query stage inside it has run. That
  *     node exists only while adaptive execution re-plans after a stage
  *     has run, so the size below is a runtime measurement, not an
  *     estimate. So the strategy never fires at initial planning (the
  *     pre-execution plan is unchanged), never without AQE (and so
  *     never in streaming), and never over a Join or Generate, whose
  *     size estimates are not upper bounds.
  *  2. AQE partition coalescing is on, and the stage's runtime size is
  *     at most what `CoalesceShufflePartitions` reads back as ONE
  *     partition: `coalescePartitions.minPartitionSize` under
  *     `parallelismFirst`, `advisoryPartitionSizeInBytes` otherwise.
  *     The stage's size stands in for the sort input's, which only
  *     `Project` and `Filter` separate from it. Under this bound the
  *     range shuffle it replaces would have been coalesced into a
  *     single partition anyway, so the rows, their order and the final
  *     one-task sort are the same; only the bounds-sampling job and the
  *     range-map job go.
  *  3. The stage is not the sort's own range shuffle: once that has
  *     run, its output already satisfies the sort, and there is
  *     nothing left to save.
  *
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * sort's `OrderedDistribution`, so EnsureRequirements adds no
  * exchange. The bound is Spark's own coalescing target; the strategy
  * adds no setting. Installed idempotently by [[Tables.read]] (every
  * registry query reads through it) and registered through
  * [[graft.GraftExtensions]]. */
object InPlaceSortStrategy extends SessionStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if smallMaterialized(child, order) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def smallMaterialized(p: LogicalPlan, order: Seq[SortOrder]): Boolean = p match {
    case Project(_, child) => smallMaterialized(child, order)
    case Filter(_, child) => smallMaterialized(child, order)
    // the sort's own range stage, once run, already satisfies it
    case q: LogicalQueryStage
        if q.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order)) => false
    case q: LogicalQueryStage =>
      val conf = SQLConf.get
      val stages = q.physicalPlan.collect { case st: QueryStageExec => st }
      val oneResult =
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      conf.coalesceShufflePartitionsEnabled && stages.nonEmpty &&
        stages.forall(_.isMaterialized) && q.stats.sizeInBytes <= oneResult
    case _ => false
  }
}
