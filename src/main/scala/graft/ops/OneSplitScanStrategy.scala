package graft.ops

import org.apache.spark.sql.catalyst.expressions.DynamicPruning
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy}
import graft.stream.SessionStrategy

/** Plans a file scan that Spark will read as ONE input partition as
  * `CoalesceExec(1, scan)`, so everything above it runs in that one
  * task: the aggregate, window, sort or join that would otherwise
  * shuffle the one map task's output into `spark.sql.shuffle.partitions`
  * reducers (which AQE then coalesces back into one) plans no exchange.
  * The shuffle-map job and the job boundary it costs go.
  *
  * The scan subtree is Spark's own: the strategy asks
  * `FileSourceStrategy` for it and only decides whether to wrap it. It
  * wraps it only when all of these hold:
  *  1. the plan is a batch plan (a streaming micro-batch is left
  *     alone);
  *  2. the scan is not bucketed (a bucketed scan already reports its
  *     hash partitioning);
  *  3. no partition filter is a dynamic-pruning filter (the partitions
  *     it reads are known only at run time);
  *  4. the selected files fit one `FilePartition`. This is decided from
  *     the listing alone, by the packing rule of
  *     `FilePartition.getFilePartitions`: with `n` files of `total`
  *     bytes, the files share one partition when
  *     `total + (n - 1) * filesOpenCostInBytes <= maxSplitBytes`, where
  *     `maxSplitBytes` is Spark's own `FilePartition.maxSplitBytes` of
  *     the listing. Counting every file as one split errs only towards
  *     "more than one" (a file larger than `maxSplitBytes` fails the
  *     test whether or not it is splittable), so a scan that would read
  *     several partitions is never wrapped. Building the scan's input
  *     RDD would answer exactly, but it builds the reader and
  *     broadcasts the Hadoop configuration at planning time, which
  *     costs more than the shuffle it saves.
  *
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies every
  * `ClusteredDistribution`, `AllTuples` and `OrderedDistribution`, so
  * EnsureRequirements adds no exchange above the scan. A join with a
  * side of many partitions still shuffles both sides to the shuffle
  * width (`SinglePartition`'s shuffle spec cannot create a
  * partitioning), and an explicit `repartition` is planned above the
  * scan as before. The strategy only merges a reduce side into the one
  * map task that already produced all of its input. A scan it does not
  * wrap it returns as `FileSourceStrategy` planned it, so the file
  * listing the check reads is the one the executed scan uses.
  * Installed idempotently by [[Tables.read]] and registered through
  * [[graft.GraftExtensions]]. It adds no setting. */
object OneSplitScanStrategy extends SessionStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (plan.isStreaming) Nil
    else FileSourceStrategy(plan) match {
      case Seq(p) if p.collectFirst { case s: FileSourceScanExec => s }.exists(oneSplit) =>
        CoalesceExec(1, p) :: Nil
      case planned => planned
    }

  private def oneSplit(scan: FileSourceScanExec): Boolean =
    !scan.bucketedScan &&
      !scan.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruning])) && {
        val s = scan.relation.sparkSession
        val files = scan.selectedPartitions
        val n = files.totalNumberOfFiles
        n == 0 || files.totalFileSize + (n - 1) * s.sessionState.conf.filesOpenCostInBytes <=
          FilePartition.maxSplitBytes(s, files)
      }
}
