package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 split the public `Column` API
  * from Catalyst (Spark Connect); libraries adding native expressions
  * use this package-private seam (`ExpressionUtils` is
  * `private[sql]`). Kept to one-liners so the dependency surface
  * on Spark internals stays minimal and auditable.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a hand-built logical plan (graft's own
    * [[graft.stream.PartitionPreview]] node); `Dataset.ofRows` is
    * `private[sql]`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a native function into an EXISTING session's registry
    * (the `spark.sql.extensions` config path only applies at session
    * build). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The width `repartition(cols)` gives a shuffle in this session:
    * `spark.sql.shuffle.partitions`, or AQE's initial partition
    * number when one is set. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** A positioned analysis error for function-builder validation
    * (arity / literal-ness checks in [[graft.GraftExtensions]]): SQL
    * callers get an `AnalysisException` with query context instead of
    * a raw `IllegalArgumentException` escaping resolution. The
    * message-only constructor is `private[sql]`, hence bridged here. */
  def analysisException(message: String): AnalysisException =
    new AnalysisException(
      message, None, None, None, None, Map.empty, Array.empty)
}
