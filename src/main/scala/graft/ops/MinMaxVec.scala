package graft.ops

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-dimension min/max state over vector rows, growing to the
  * widest row seen. Replicates the posexplode + groupBy(dim) melt's
  * semantics exactly: a shorter row contributes to its own dims only,
  * null elements are ignored per dim (min/max aggregate semantics),
  * a null array row contributes nothing, and a dimension that never
  * saw a non-null value emits null. Values compare in Spark's order,
  * where NaN is above every other double: a NaN is the maximum of any
  * dim it appears in and the minimum only of an all-NaN dim. */
private[graft] final class MinMaxState {
  var n = 0
  var mins: Array[Double] = Array.emptyDoubleArray
  var maxs: Array[Double] = Array.emptyDoubleArray
  var seen: Array[Boolean] = Array.emptyBooleanArray

  private def grow(d: Int): Unit = if (d > n) {
    mins = java.util.Arrays.copyOf(mins, d)
    maxs = java.util.Arrays.copyOf(maxs, d)
    seen = java.util.Arrays.copyOf(seen, d)
    n = d
  }

  /** `a` sorts strictly before `b` in Spark's order (NaN last). */
  private def before(a: Double, b: Double): Boolean = a < b || (b.isNaN && !a.isNaN)

  def put(i: Int, v: Double): Unit = {
    grow(i + 1)
    if (!seen(i)) { seen(i) = true; mins(i) = v; maxs(i) = v }
    else {
      if (before(v, mins(i))) mins(i) = v
      if (before(maxs(i), v)) maxs(i) = v
    }
  }

  def mergeFrom(o: MinMaxState): Unit = {
    grow(o.n)
    var i = 0
    while (i < o.n) {
      if (o.seen(i)) {
        if (!seen(i)) { seen(i) = true; mins(i) = o.mins(i); maxs(i) = o.maxs(i) }
        else {
          if (before(o.mins(i), mins(i))) mins(i) = o.mins(i)
          if (before(maxs(i), o.maxs(i))) maxs(i) = o.maxs(i)
        }
      }
      i += 1
    }
  }
}

/** Native per-dimension min/max aggregate over an array<float|double>
  * column: struct(mins array<double>, maxs array<double>), one pass,
  * O(dim) state per partition — the kernel form of the
  * `posexplode → groupBy(dim) → collect_list` melt, which
  * materialized corpus×dim rows and paid two aggregation rounds
  * (s08's quantization-parameter derivation; measured ~30% of the
  * query at sf0.1). A flat 2·dim-scalar-aggregate formulation was
  * tried first and REGRESSED (~1.4×): 128 aggregate buffer fields
  * push HashAggregate past the whole-stage-codegen field limit.
  *
  * Placement and gating follow [[TopKRowsAgg]]: an imperative
  * aggregate has no Janino body for the functions-package manifest
  * gate to guard; its gates are MinMaxVecSpec's melt-equivalence
  * matrix and the s08/s12 oracles. */
private[graft] case class MinMaxVecAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinMaxState] with UnaryLike[Expression] {

  override def prettyName: String = "minmax_vec"
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("mins", ArrayType(DoubleType, containsNull = true)),
    StructField("maxs", ArrayType(DoubleType, containsNull = true))))

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def createAggregationBuffer(): MinMaxState = new MinMaxState

  override def update(buf: MinMaxState, input: InternalRow): MinMaxState = {
    val arr = child.eval(input)
    if (arr != null) {
      val a = arr.asInstanceOf[ArrayData]
      val d = a.numElements()
      var i = 0
      while (i < d) {
        if (!a.isNullAt(i))
          buf.put(i, if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: MinMaxState, other: MinMaxState): MinMaxState = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: MinMaxState): Any = {
    val mins = new Array[Any](buf.n)
    val maxs = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      if (buf.seen(i)) { mins(i) = buf.mins(i); maxs(i) = buf.maxs(i) }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(mins), new GenericArrayData(maxs)))
  }

  override def serialize(buf: MinMaxState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 17 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.put(if (buf.seen(i)) 1.toByte else 0.toByte)
      bb.putDouble(buf.mins(i)); bb.putDouble(buf.maxs(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MinMaxState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new MinMaxState
    st.n = n
    st.mins = new Array[Double](n)
    st.maxs = new Array[Double](n)
    st.seen = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      st.seen(i) = bb.get() == 1
      st.mins(i) = bb.getDouble; st.maxs(i) = bb.getDouble
      i += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinMaxVecAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinMaxVecAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinMaxVecAgg =
    copy(child = newChild)
}

private[graft] object MinMaxVec {
  /** Column API: `MinMaxVec($"emb")` → struct(mins, maxs). */
  def apply(emb: Column): Column =
    GraftBridge.column(MinMaxVecAgg(
      GraftBridge.expression(emb)).toAggregateExpression())
}
