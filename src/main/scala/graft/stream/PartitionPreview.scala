package graft.stream

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, BoundReference, Expression,
  GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution,
  OrderedDistribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** The one Catalyst operator behind the ordered family: a two-pass
  * partition preview over rows in `ordering` (or, with an empty
  * `ordering`, in partition order).
  *
  *  - pass 1 summarises every partition but the last: its row count
  *    (row index) or its last key value (consecutive dedup). A child
  *    with a single partition needs no pass 1 at all.
  *  - pass 2 maps each partition on `InternalRow`, seeded by the
  *    summaries of the partitions before it (empty ones skipped).
  *
  * Exactly one of `index` (append a dense 0-based row index under that
  * attribute) and `key` (keep a row iff its key differs from the
  * previous row's; consecutive nulls collapse) is set. The node asks
  * for `OrderedDistribution(ordering)` plus `ordering` within
  * partitions, so `EnsureRequirements` adds the range exchange and
  * sort only when the child is not already ordered — the plan Spark
  * gives its own global `Sort`. The shape follows Pathling's
  * `MapWithPartitionPreview` + `SqlStrategy`.
  */
case class PartitionPreview(
    ordering: Seq[SortOrder],
    key: Option[Expression],
    index: Option[Attribute],
    child: LogicalPlan) extends UnaryNode {
  require(key.isDefined != index.isDefined, "exactly one of key and index")
  override def output: Seq[Attribute] = child.output ++ index
  override def producedAttributes: AttributeSet = AttributeSet(index)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionPreview =
    copy(child = newChild)
}

object PartitionPreview {

  /** `df` plus a dense 0-based `name` column in `ord` order (partition
    * order when `ord` is empty — `zipWithIndex` semantics). */
  def rowIndex(df: DataFrame, ord: Seq[Column], name: String): DataFrame = {
    val (order, _, child) = resolve(df, ord, None)
    val idx = AttributeReference(name, LongType, nullable = false)()
    build(df.sparkSession, PartitionPreview(order, None, Some(idx), child))
  }

  /** The rows of `df` whose `key` differs from the previous row's in
    * `ord` order. Keys compare with Spark's ordering equality: nulls
    * equal nulls, NaN equals NaN, -0.0 equals 0.0. */
  def distinctConsecutive(df: DataFrame, ord: Seq[Column], key: Column): DataFrame = {
    val (order, k, child) = resolve(df, ord, Some(key))
    require(RowOrdering.isOrderable(k.get.dataType),
      s"distinctConsecutive needs an orderable key, got ${k.get.dataType.simpleString}")
    build(df.sparkSession, PartitionPreview(order, k, None, child))
  }

  /** Resolve `ord` (and `key`) against `df` the way
    * `sortWithinPartitions` does, so `.desc`/nulls-last orders keep
    * their meaning. */
  private def resolve(df: DataFrame, ord: Seq[Column], key: Option[Column])
      : (Seq[SortOrder], Option[Expression], LogicalPlan) =
    if (ord.isEmpty && key.isEmpty) (Nil, None, df.queryExecution.analyzed)
    else df.sortWithinPartitions(ord ++ key: _*).queryExecution.analyzed match {
      case Sort(order, false, child, _) =>
        (order.take(ord.size), key.map(_ => order.last.child), child)
      case other => throw new IllegalArgumentException(
        s"ordering must be expressions over the frame's own columns; got plan:\n$other")
    }

  private def build(spark: SparkSession, node: PartitionPreview): DataFrame = {
    PartitionPreviewStrategy.install(spark)
    GraftBridge.ofRows(spark, node)
  }
}

case class PartitionPreviewExec(
    ordering: Seq[SortOrder],
    key: Option[Expression],
    index: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] = child.output ++ index
  override def producedAttributes: AttributeSet = AttributeSet(index)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    (if (ordering.isEmpty) UnspecifiedDistribution else OrderedDistribution(ordering)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    val numOut = longMetric("numOutputRows")
    key.fold(withIndex(rows, numOut))(distinctConsecutive(rows, _, numOut))
  }

  /** Pass 1: `summarize` over every partition but the last. */
  private def preview[S: ClassTag](rows: RDD[InternalRow],
      summarize: Iterator[InternalRow] => S): Array[S] = {
    val n = rows.getNumPartitions
    if (n <= 1) Array.empty[S]
    else sparkContext.runJob(rows, summarize, 0 until n - 1)
  }

  private def withIndex(rows: RDD[InternalRow], numOut: SQLMetric): RDD[InternalRow] = {
    val counts = preview(rows, it => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n })
    val offsets = counts.scanLeft(0L)(_ + _)
    val out = output
    rows.mapPartitionsWithIndex({ (i, it) =>
      val proj = UnsafeProjection.create(out, out)
      val idx = new GenericInternalRow(1)
      val joined = new JoinedRow
      var next = offsets(i)
      it.map { r =>
        idx.setLong(0, next); next += 1; numOut += 1
        proj(joined(r, idx))
      }
    }, preservesPartitioning = true)
  }

  private def distinctConsecutive(rows: RDD[InternalRow], k: Expression,
      numOut: SQLMetric): RDD[InternalRow] = {
    val keyExpr = Seq(k)
    val in = child.output
    // the projection's own buffer holds the last key once the
    // iterator is spent, so only that one row is copied
    val last = preview(rows, it => {
      val proj = UnsafeProjection.create(keyExpr, in)
      var l: UnsafeRow = null
      while (it.hasNext) l = proj(it.next())
      Option(l).map(_.copy())
    })
    // partition i compares its head with the nearest non-empty predecessor
    val before = last.scanLeft(Option.empty[UnsafeRow])((acc, l) => l.orElse(acc))
    val same = new LazilyGeneratedOrdering(
      Seq(SortOrder(BoundReference(0, k.dataType, nullable = true), Ascending)))
    rows.mapPartitionsWithIndex({ (i, it) =>
      val proj = UnsafeProjection.create(keyExpr, in)
      var prev: UnsafeRow = before(i).orNull
      it.filter { r =>
        val cur = proj(r)
        val keep = prev == null || same.compare(cur, prev) != 0
        // an equal key leaves `prev` equal, so only a change copies
        if (keep) { prev = cur.copy(); numOut += 1 }
        keep
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionPreviewExec =
    copy(child = newChild)
}

/** Plans [[PartitionPreview]]. Installed into a session by the code
  * that builds the node ([[install]], as Pathling's
  * `SqlStrategy.setup`), and registered through
  * [[graft.GraftExtensions]] for sessions built with the extension. */
object PartitionPreviewStrategy extends SessionStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionPreview(ordering, key, index, child) =>
      PartitionPreviewExec(ordering, key, index, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** A planner strategy that the code depending on it installs into the
  * session itself, so sessions built without [[graft.GraftExtensions]]
  * plan with it too. */
trait SessionStrategy extends SparkStrategy {
  /** Idempotent: adds this strategy to the session's extra strategies
    * once. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(this)) x.extraStrategies = x.extraStrategies :+ this
    }
  }
}
