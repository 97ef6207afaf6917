package graft.ops

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k state: ids/scores kept sorted by (score desc, id
  * asc), capped at k, over primitive arrays so the aggregate below
  * reads `InternalRow`s directly. The kept set (top-k by that total
  * order) and its emitted order are unique regardless of arrival
  * order. It replaced a typed `Aggregator` (a sorted-`List` reduce),
  * which now lives in the tests as the model TopKRowsSpec pins it
  * against. */
private[graft] final class TopKState(val k: Int) {
  var n = 0
  val ids = new Array[Long](k)
  val scores = new Array[Double](k)

  // "a beats b": score desc, id asc — the window's
  // `ORDER BY score DESC, id` contract
  @inline private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(id: Long, score: Double): Unit = {
    if (n >= k && !beats(score, id, scores(n - 1), ids(n - 1))) return
    var pos = 0
    while (pos < n && beats(scores(pos), ids(pos), score, id)) pos += 1
    var j = math.min(n, k - 1)
    while (j > pos) { ids(j) = ids(j - 1); scores(j) = scores(j - 1); j -= 1 }
    ids(pos) = id; scores(pos) = score
    if (n < k) n += 1
  }
}

/** Native bounded-heap top-k aggregate — `TypedImperativeAggregate`
  * over [[TopKState]], the kernel form of the typed top-k
  * `Aggregator` it replaced. Input: (id LONG, score DOUBLE)
  * child expressions; output: `array<struct<id,score>>` sorted
  * (score desc, id asc), capped at k.
  *
  * Why it exists (r19 verdict item 3): the typed `Aggregator` runs
  * under `DeserializeToObject`/`AppendColumns`/`MapElements`/
  * `SerializeFromObject` — every candidate row on every ANN ranking
  * path (~25 consumers) is converted from Tungsten rows to Scala
  * tuples and back, the ONE non-codegen stage left on the s-family
  * hot path. This aggregate reads the unsafe row directly (children
  * eval'd per input row), keeps the same O(k) state on both the
  * partial (map) and final (reduce) sides, and ships as compact
  * serialized bytes across the exchange — the surrounding stages stay
  * whole-stage-codegen end to end.
  *
  * Placement note: this lives in `graft.ops`, not `graft.functions`
  * — the functions package's manifest + CODEGEN_ONLY compile gate
  * guards Janino-compiled scalar kernels against silent interpreted
  * fallback; a TypedImperativeAggregate has no generated body to
  * guard (its update loop is plain JVM code under
  * `ObjectHashAggregate`). Its gates are instead the PlanSpec pin
  * (ObjectHashAggregate + no object-conversion nodes on the ranking
  * paths) and the TopKRowsSpec bit-identity matrix vs the typed
  * aggregator.
  *
  * Production note: like the typed Aggregator it replaces, this runs
  * under `ObjectHashAggregate`, which falls back to sort-based
  * aggregation past `spark.sql.objectHashAggregate.sortBased.
  * fallbackThreshold` (default 128) distinct groups per task — state
  * stays O(k) either way, but a deployment ranking millions of
  * queries per task should raise the threshold or pre-partition by
  * q_id. Not a regression: the conversion-node removal is orthogonal
  * to the aggregation strategy.
  *
  * Null contract: a null id or score RAISES — identical to the typed
  * path, whose `as[(Long, Long, Double)]` encoder raised on null
  * fields; a null similarity reaching the ranker is a corrupt
  * upstream kernel, not a rankable candidate. */
private[graft] case class TopKRowsAgg(
    k: Int,
    left: Expression,
    right: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] with BinaryLike[Expression] {
  require(k >= 1)

  override def prettyName: String = "topk_rows"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val id = left.eval(input)
    val sc = right.eval(input)
    if (id == null || sc == null)
      throw new IllegalStateException(
        "topk_rows: null id/score reached the ranker (corrupt upstream row)")
    buf.insert(id.asInstanceOf[Long], sc.asInstanceOf[Double])
    buf
  }

  override def merge(buf: TopKState, other: TopKState): TopKState = {
    var i = 0
    while (i < other.n) { buf.insert(other.ids(i), other.scores(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKState): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = InternalRow(buf.ids(i), buf.scores(i)); i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ids(i)); bb.putDouble(buf.scores(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new TopKState(k)
    // entries arrive already sorted and n <= k: bulk-restore instead
    // of re-inserting (insert would be O(n·k) for an already-ordered
    // stream)
    var i = 0
    while (i < n) { st.ids(i) = bb.getLong; st.scores(i) = bb.getDouble; i += 1 }
    st.n = n
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKRowsAgg =
    copy(left = newLeft, right = newRight)
}

private[graft] object TopKRows {
  /** Column API: `TopKRows(k, $"id", $"score")` — an aggregate column
    * for `groupBy(...).agg(...)`. */
  def apply(k: Int, id: Column, score: Column): Column =
    GraftBridge.column(TopKRowsAgg(k,
      GraftBridge.expression(id),
      GraftBridge.expression(score)).toAggregateExpression())
}
