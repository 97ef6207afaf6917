package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: the order-16 THREE-dimensional Hilbert
  * curve index of a point on the 65536³ grid (inputs are the
  * [[graft.ops.Layout]] 16-bit quantized dimensions) — the no-jump
  * key the l05 cube-pruning measurement motivates: a 3-d MORTON
  * segment cut at an arbitrary (non-dyadic) position straddles
  * high-bit boundaries in all three dimensions at once, while a
  * Hilbert segment of length L keeps O(L^(1/3)) diameter, so its
  * file statistics stay tight on every axis at real file cuts.
  *
  * Algorithm: Skilling's transpose form ("Programming the Hilbert
  * Curve", AIP Conf. Proc. 707, 2004 — the standard public n-d
  * construction): an inverse-undo sweep from the top bit plane
  * (per plane, per axis: reflect X[0] or exchange low bits with
  * X[i], driven by the plane's bit), a Gray encode across axes, a
  * parity-driven low-bit flip, then the Hilbert index is the
  * bit-plane interleave of the transpose coordinates (X[0] most
  * significant within each plane). Like the 2-d kernel this is a
  * register loop over three longs — chained `when()` columns would
  * re-materialize the triple per stage — and the plain-Scala
  * `nullSafeEval` and the generated Java are the same statements.
  *
  * Certification: the kernel is live in the l06 registry query
  * (a [[graft.ops.Layout.Segments]] value keyed by
  * [[graft.ops.Layout.Hilbert]]), whose DuckDB oracle
  * replays Skilling's plane sweeps as 42 generated MATERIALIZED
  * CTE stages — one engine certifying the other's kernel
  * bit-for-bit — and in the 3-d [[graft.ops.Layout.curveWrite]]
  * write path. Spec-side, OpsSpec enumerates full
  * sub-lattices at orders 2..4 through the COLUMN path and asserts
  * the two properties only a genuine 3-d Hilbert curve satisfies —
  * the indices are a permutation of 0..8^order−1 and consecutive
  * indices are ALWAYS grid neighbors (zero Manhattan-distance>1
  * steps; 3-d Morton provably jumps on the same lattice) — plus
  * equality with an independent plain-Scala transcription on random
  * 16-bit triples and the published corner fact h(0,0,0)=0.
  *
  * Inputs outside [0, 65535] are masked to their low 16 bits (the
  * quantizer never produces them; masking keeps the kernel total).
  */
case class HilbertIndex3Expr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == LongType && second.dataType == LongType &&
      third.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hilbert_index3 expects (bigint, bigint, bigint), got " +
        s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index3"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    var x0 = a.asInstanceOf[Long] & 0xFFFFL
    var x1 = b.asInstanceOf[Long] & 0xFFFFL
    var x2 = c.asInstanceOf[Long] & 0xFFFFL
    // inverse undo, top bit plane downward (axis 0's exchange branch
    // is a structural no-op — (x0^x0)&p == 0 — so only its reflect
    // branch remains; the codegen below mirrors these statements
    // exactly)
    var q = 1L << 15
    while (q > 1L) {
      val p = q - 1L
      if ((x0 & q) != 0L) x0 ^= p
      if ((x1 & q) != 0L) x0 ^= p
      else { val t = (x0 ^ x1) & p; x0 ^= t; x1 ^= t }
      if ((x2 & q) != 0L) x0 ^= p
      else { val t = (x0 ^ x2) & p; x0 ^= t; x2 ^= t }
      q >>= 1
    }
    // Gray encode across axes
    x1 ^= x0
    x2 ^= x1
    // parity-driven low-bit flip
    var t2 = 0L
    q = 1L << 15
    while (q > 1L) {
      if ((x2 & q) != 0L) t2 ^= q - 1L
      q >>= 1
    }
    x0 ^= t2; x1 ^= t2; x2 ^= t2
    // bit-plane interleave of the transpose (X0 most significant)
    var h = 0L
    var k = 15
    while (k >= 0) {
      h = (h << 3) | (((x0 >> k) & 1L) << 2) |
        (((x1 >> k) & 1L) << 1) | ((x2 >> k) & 1L)
      k -= 1
    }
    h
  }

  // CONSTRAINT: no generated line's first non-space character may be
  // `|` — the emitted snippet is interpolated into WholeStageCodegen's
  // outer template, whose own stripMargin pass eats a line-leading `|`
  // and hands Janino `(expr) (expr)`, which it rejects as a cast of a
  // non-type. Continuation lines must carry trailing operators.
  // Pinned by FunctionsSpec "hilbert3 kernel compiles" (fallback off)
  // and PlanSpec's l06 codegen-span test.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val x0 = ctx.freshName("h3x0")
      val x1 = ctx.freshName("h3x1")
      val x2 = ctx.freshName("h3x2")
      val q = ctx.freshName("h3q")
      val p = ctx.freshName("h3p")
      val t = ctx.freshName("h3t")
      val h = ctx.freshName("h3h")
      val k = ctx.freshName("h3k")
      s"""
         |long $x0 = $a & 0xFFFFL;
         |long $x1 = $b & 0xFFFFL;
         |long $x2 = $c & 0xFFFFL;
         |for (long $q = 1L << 15; $q > 1L; $q >>= 1) {
         |  long $p = $q - 1L;
         |  if (($x0 & $q) != 0L) $x0 ^= $p;
         |  if (($x1 & $q) != 0L) $x0 ^= $p;
         |  else { long $t = ($x0 ^ $x1) & $p; $x0 ^= $t; $x1 ^= $t; }
         |  if (($x2 & $q) != 0L) $x0 ^= $p;
         |  else { long $t = ($x0 ^ $x2) & $p; $x0 ^= $t; $x2 ^= $t; }
         |}
         |$x1 ^= $x0;
         |$x2 ^= $x1;
         |{
         |  long $t = 0L;
         |  for (long $q = 1L << 15; $q > 1L; $q >>= 1)
         |    if (($x2 & $q) != 0L) $t ^= $q - 1L;
         |  $x0 ^= $t; $x1 ^= $t; $x2 ^= $t;
         |}
         |long $h = 0L;
         |for (int $k = 15; $k >= 0; $k--) {
         |  $h = ($h << 3) | ((($x0 >> $k) & 1L) << 2) |
         |    ((($x1 >> $k) & 1L) << 1) | (($x2 >> $k) & 1L);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): HilbertIndex3Expr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object HilbertIndex3 {
  /** Column API: `HilbertIndex3($"qa", $"qb", $"qc")`. */
  def apply(a: Column, b: Column, c: Column): Column =
    GraftBridge.column(HilbertIndex3Expr(
      GraftBridge.expression(a), GraftBridge.expression(b),
      GraftBridge.expression(c)))
}
