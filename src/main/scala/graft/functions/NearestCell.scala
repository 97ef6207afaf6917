package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expression: the in-row nearest-cell argmax,
  * `nearest_cell(cents, emb)`, where `cents` is an
  * `array<struct<cell, cemb>>` codebook and `emb` one vector.
  *
  * It replaces the higher-order-function column
  * `array_max(transform(cents, c =>
  *   struct(r4(cosine(emb, c.cemb)) AS s, -c.cell AS nc)))`
  * and is equal to it for every input:
  *  - per centroid, `s = r4(cosine(emb, cemb))` with
  *    [[CosineSimilarityExpr]]'s arithmetic: double accumulation left
  *    to right, a `sqrt·sqrt` denominator, null on a zero norm or a
  *    null element, the common prefix when the lengths differ;
  *  - `r4` is `floor(x·10000 + 0.5) / 10000` ([[graft.ops.Relational.r4]]);
  *    Spark's `floor` of a double is a BIGINT, so a NaN cosine
  *    rounds to 0.0;
  *  - `nc = -cell` in the type of `cell` (int or long), negated
  *    exactly under ANSI mode as `UnaryMinus` is;
  *  - the winner is the `array_max` of `struct(s, nc)` under Spark's
  *    struct ordering: a null `s` sorts below every number, and a tie
  *    goes to the highest `nc`, i.e. the lowest cell. A null element
  *    of `cents` competes as `struct(null, null)`;
  *  - a null or empty `cents` gives null;
  *  - a null `emb` gives null: a row with no vector has no nearest
  *    cell. This is where the kernel departs from the higher-order
  *    form, which scores every centroid null for it and returns
  *    `struct(null, -min cell)`; the twin is
  *    `when(emb.isNull, null).otherwise(<the HOF>)`.
  *
  * `cemb` and `emb` may each be float or double arrays; `cell` int or
  * long. The fields are found by their exact names. Any other input
  * type fails analysis.
  *
  * The higher-order form is interpreted: one lambda binding, one
  * struct and one ordering call per centroid. This is one loop over
  * the raw `ArrayData` that allocates nothing per centroid beyond
  * what reading the codebook row needs; generated code calls the same
  * [[NearestCell.best]] helper the interpreted path runs, so the two
  * paths cannot differ.
  */
case class NearestCellExpr(left: Expression, right: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends BinaryExpression {

  private def floatArray(dt: DataType): Option[Boolean] = dt match {
    case ArrayType(FloatType, _)  => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _                        => None
  }

  /** (cell ordinal, cell is long, cemb ordinal, cemb is float, fields) */
  private lazy val layout: Option[(Int, Boolean, Int, Boolean, Int)] =
    left.dataType match {
      case ArrayType(st: StructType, _) =>
        def field(name: String) = Some(st.fieldNames.indexOf(name)).filter(_ >= 0)
        for {
          ci <- field("cell")
          long <- st(ci).dataType match {
            case IntegerType => Some(false)
            case LongType    => Some(true)
            case _           => None
          }
          ei <- field("cemb")
          ef <- floatArray(st(ei).dataType)
        } yield (ci, long, ei, ef, st.length)
      case _ => None
    }

  override def checkInputDataTypes(): TypeCheckResult =
    if (layout.isDefined && floatArray(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_cell expects (array<struct<cell: int|bigint, " +
        "cemb: array<float|double>>>, array<float|double>), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  private lazy val embIsFloat: Boolean = floatArray(right.dataType).get

  /** The HOF's element type: `s` is a division, always nullable; `nc`
    * is as nullable as `c.cell` read through a possibly-null element. */
  override def dataType: DataType = {
    val ArrayType(st: StructType, containsNull) = left.dataType
    StructType(Seq(
      StructField("s", DoubleType, nullable = true),
      StructField("nc", if (layout.get._2) LongType else IntegerType,
        nullable = containsNull || st(layout.get._1).nullable)))
  }
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cell"
  override def flatArguments: Iterator[Any] = Iterator(left, right)

  override def eval(input: InternalRow): Any = {
    val cents = left.eval(input).asInstanceOf[ArrayData]
    if (cents == null || cents.numElements() == 0) null
    else {
      val emb = right.eval(input).asInstanceOf[ArrayData]
      if (emb == null) null
      else {
        val (ci, long, ei, ef, n) = layout.get
        NearestCell.best(cents, n, ci, long, ei, ef, emb, embIsFloat, failOnError)
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ci, long, ei, ef, n) = layout.get
    val c = left.genCode(ctx)
    val e = right.genCode(ctx)
    val helper = NearestCell.getClass.getName.stripSuffix("$")
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
${c.code}
boolean ${ev.isNull} = true;
$row ${ev.value} = null;
if (!${c.isNull} && ${c.value}.numElements() > 0) {
  ${e.code}
  if (!${e.isNull}) {
    ${ev.value} = $helper.best(${c.value}, $n, $ci, $long, $ei, $ef,
      ${e.value}, $embIsFloat, $failOnError);
    ${ev.isNull} = false;
  }
}
""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCellExpr =
    copy(left = newLeft, right = newRight)
}

object NearestCell {
  /** Column API: `NearestCell($"cents", $"emb")`. */
  def apply(cents: Column, emb: Column): Column =
    GraftBridge.column(NearestCellExpr(
      GraftBridge.expression(cents), GraftBridge.expression(emb)))

  /** The one loop behind both execution paths of [[NearestCellExpr]]:
    * `cents` is non-null and non-empty, `emb` non-null. */
  def best(cents: ArrayData, numFields: Int, cellIdx: Int, cellIsLong: Boolean,
      cembIdx: Int, cembIsFloat: Boolean, emb: ArrayData, embIsFloat: Boolean,
      failOnError: Boolean): InternalRow = {
    var bestSNull = true; var bestS = 0.0
    var bestNcNull = true; var bestNc = 0L
    var i = 0
    while (i < cents.numElements()) {
      var sNull = true; var s = 0.0
      var ncNull = true; var nc = 0L
      if (!cents.isNullAt(i)) {
        val c = cents.getStruct(i, numFields)
        if (!c.isNullAt(cellIdx)) {
          ncNull = false
          nc =
            if (cellIsLong) {
              val v = c.getLong(cellIdx)
              if (failOnError) MathUtils.negateExact(v) else -v
            } else {
              val v = c.getInt(cellIdx)
              (if (failOnError) MathUtils.negateExact(v) else -v).toLong
            }
        }
        if (!c.isNullAt(cembIdx)) {
          // CosineSimilarityExpr's arithmetic, then r4's floor → long
          val y = c.getArray(cembIdx)
          val len = math.min(emb.numElements(), y.numElements())
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var bad = false
          var k = 0
          while (k < len && !bad) {
            if (emb.isNullAt(k) || y.isNullAt(k)) bad = true
            else {
              val xv = if (embIsFloat) emb.getFloat(k).toDouble else emb.getDouble(k)
              val yv = if (cembIsFloat) y.getFloat(k).toDouble else y.getDouble(k)
              dot += xv * yv; nx += xv * xv; ny += yv * yv
            }
            k += 1
          }
          val denom = math.sqrt(nx) * math.sqrt(ny)
          if (!bad && denom != 0.0) {
            sNull = false
            s = math.floor(dot / denom * 10000.0 + 0.5).toLong / 10000.0
          }
        }
      }
      // struct(s, nc) ordering: ascending fields, nulls first
      val bySim =
        if (sNull || bestSNull) java.lang.Boolean.compare(!sNull, !bestSNull)
        else SQLOrderingUtil.compareDoubles(s, bestS)
      val greater = i == 0 || bySim > 0 || (bySim == 0 && (
        if (ncNull || bestNcNull) !ncNull && bestNcNull else nc > bestNc))
      if (greater) {
        bestSNull = sNull; bestS = s; bestNcNull = ncNull; bestNc = nc
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      if (bestSNull) null else bestS,
      if (bestNcNull) null else if (cellIsLong) bestNc else bestNc.toInt))
  }
}
