package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Kernels
import graft.ops.{InPlaceSortStrategy, OneSplitScanStrategy}
import graft.stream.PartitionPreviewStrategy

/** Session-extension hook: registers the engine's native expressions
  * into the SQL function registry, so `spark.sql("SELECT
  * cosine_similarity(a, b) ...")` works cluster-wide via
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * The function list is [[graft.functions.Kernels.all]] — the ONE
  * kernel manifest the fallback-disabled compile gate also consumes,
  * so a kernel cannot be SQL-registered without being compile-gated
  * or vice versa. Builder validation throws AnalysisException (via
  * the bridge — the message constructor is private[sql]) so SQL
  * callers get a positioned analysis error, not a raw
  * IllegalArgumentException escaping function resolution.
  *
  * It also injects three planner strategies: the one of the ordered
  * family's [[graft.stream.PartitionPreview]] node,
  * [[graft.ops.InPlaceSortStrategy]], which sorts a small materialized
  * input in one task, and [[graft.ops.OneSplitScanStrategy]], which
  * runs what sits above a one-partition file scan in that scan's task.
  * The code that builds the node, and the table reader, install the
  * same strategies themselves, so sessions without the extension plan
  * with them too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Kernels.all.foreach { k =>
      ext.injectFunction((
        FunctionIdentifier(k.sqlName),
        new ExpressionInfo(k.exprClass.getName, k.sqlName),
        k.build))
    }
    ext.injectPlannerStrategy(_ => PartitionPreviewStrategy)
    ext.injectPlannerStrategy(_ => InPlaceSortStrategy)
    ext.injectPlannerStrategy(_ => OneSplitScanStrategy)
  }
}

object GraftExtensions {
  /** Register into an already-running session (tests, spark-shell). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernels.all.foreach { k =>
      org.apache.spark.sql.GraftBridge.registerFunction(
        spark, k.sqlName, k.build)
    }
}
