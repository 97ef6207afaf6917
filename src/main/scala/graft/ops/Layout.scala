package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HilbertIndex, HilbertIndex3}
import graft.ops.Relational.t

/** Space-filling-curve data layout — the multi-dimensional clustering
  * axis (Delta/Iceberg `OPTIMIZE ZORDER BY`, Bayer 1996's UB-tree
  * ordering). A single sort key can make parquet row-group min/max
  * statistics selective for ONE dimension only; interleaving the bits
  * of two or three range-quantized dimensions yields a key whose
  * contiguous ranges are axis-aligned RECTANGLES (boxes), so a layout
  * sorted by it gives file-skipping on EVERY predicate column. At
  * 100 TB this is the difference between "queries filtering on
  * customer prune 99% of files, queries filtering on date read
  * everything" and both pruning — the layout is written once
  * ([[curveWrite]]: one range exchange on the curve key, an
  * in-partition sort) and every downstream scan collects the benefit
  * via plain static/dynamic file pruning, no new operator needed at
  * read time.
  *
  * Three decisions, one value each: which curve ([[Curve]]: Morton or
  * Hilbert, over 2 or 3 dimensions), the one write ([[curveWrite]]),
  * and the two measurement bodies behind the l01–l07 registry entries
  * ([[Locality]], [[Segments]]). All of them quantize through ONE
  * bounds → broadcast → [[quant16]] block.
  *
  * Everything is exact integer arithmetic (quantize = floor-div
  * min-max scaling to 16 bits, spread = the binary-magic-numbers bit
  * interleave), built from codegen'd builtins (`shiftleft`,
  * `bitwiseAND/OR`) or the two native Hilbert kernels — no UDF,
  * whole-stage codegen keeps the key computation inside the scan's
  * project. Reference analog: the reference has no layout layer at
  * all (a single-process iterator never re-reads); this extends the
  * engine the way its `map` chains extend per-element transforms
  * (streamable/stream.py:230-326).
  */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions of a
    * 32-bit value (0babcd → 0b0a0b0c0d), the classic magic-number
    * cascade. Input must be in [0, 65535]. */
  def spread16(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, shift)).bitwiseAND(lit(mask))
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = step(x0, 8, 0x00FF00FFL)
    val x2 = step(x1, 4, 0x0F0F0F0FL)
    val x3 = step(x2, 2, 0x33333333L)
    step(x3, 1, 0x55555555L)
  }

  /** floor of the double quotient in [[quant16]] equals integer
    * floor-div only while (v-lo)*65535 < 2^53, i.e. while the
    * dimension span stays below this bound (~1.37e11 ≈ 2^37). */
  val maxExactSpan: Long = ((1L << 53) - 1) / 65535L

  /** Min-max quantization of `v` to [0, 65535] given the dimension's
    * observed bounds — exact floor-div integer arithmetic (the
    * degenerate all-one-value dimension maps to 0 via the
    * greatest(,1) guard). Total over ALL long inputs: a span beyond
    * [[maxExactSpan]] would silently diverge from floor-div (the
    * double quotient loses ulps past 2^53), so it raises instead —
    * and so does a span whose `hi - lo` itself leaves Long range (lo
    * near Long.MinValue with hi positive): the span is computed with
    * `try_subtract`, whose NULL-on-overflow falls through the guard
    * into the raise branch instead of wrapping negative and
    * quantizing garbage (under ANSI mode a plain subtraction would
    * throw a generic ARITHMETIC_OVERFLOW; this raises the same
    * actionable message on every config). Both guards live inside
    * the consumed column, not a droppable side check, so Catalyst
    * cannot prune them. */
  def quant16(v: Column, lo: Column, hi: Column): Column = {
    val span = try_subtract(hi, lo)
    when(span >= lit(0L) && span <= lit(maxExactSpan),
      floor(((v - lo) * lit(65535L)) / greatest(span, lit(1L)))
        .cast("long"))
      .otherwise(raise_error(format_string(
        "quant16: dimension span %s (negative/overflow means hi - lo " +
          "left Long range) exceeds the exact floor-div range " +
          "(max %d) — pre-bucket or rescale the dimension",
        coalesce(span.cast("string"), lit("overflow")),
        lit(maxExactSpan))).cast("long"))
  }

  /** The 32-bit Morton key of two 16-bit quantized dimensions. */
  def morton(qa: Column, qb: Column): Column =
    spread16(qa).bitwiseOR(shiftleft(spread16(qb), 1))

  /** Spread the low 16 bits of `c` to every THIRD bit position of a
    * 48-bit value — the classic 3-d Morton magic-number cascade (the
    * published 21-bit-capable constants; 16-bit inputs occupy their
    * low subset). Input must be in [0, 65535]. */
  def spread3(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, shift)).bitwiseAND(lit(mask))
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = step(x0, 32, 0x1f00000000ffffL)
    val x2 = step(x1, 16, 0x1f0000ff0000ffL)
    val x3 = step(x2, 8, 0x100f00f00f00f00fL)
    val x4 = step(x3, 4, 0x10c30c30c30c30c3L)
    step(x4, 2, 0x1249249249249249L)
  }

  /** The 48-bit Morton key of THREE 16-bit quantized dimensions —
    * the layout generalizes past two axes with zero new machinery:
    * quantize each dimension ([[quant16]]), interleave bits every
    * third position, sort. Still pure codegen'd builtins inside the
    * scan's project. */
  def morton3(qa: Column, qb: Column, qc: Column): Column =
    spread3(qa).bitwiseOR(shiftleft(spread3(qb), 1))
      .bitwiseOR(shiftleft(spread3(qc), 2))

  /** A space-filling curve over 2 or 3 dimensions already quantized
    * to 16 bits; [[key]] is its 32- or 48-bit index.
    *
    *  - [[Morton]] interleaves the bits ([[morton]], [[morton3]]).
    *  - [[Hilbert]] is the no-jump curve: consecutive indices are
    *    always grid neighbors (the property the OpsSpec adjacency
    *    tests pin on full sub-lattices, where Morton provably jumps).
    *    The keys are native codegen kernels
    *    ([[graft.functions.HilbertIndex]]: sixteen register-loop
    *    levels; [[graft.functions.HilbertIndex3]]: Skilling's
    *    transpose construction), no UDF and no chained projections;
    *    the oracles replay them as generated CTE stages, one engine
    *    certifying the other's kernel.
    *
    * At a DYADIC grain (a 2^(16·dims − bits)-aligned index range) the
    * top curve bits are a quadrant-descent prefix for BOTH curves, so
    * they induce the identical cell partition and their boxes are
    * equally tight (l01 vs l02). The no-jump property pays at
    * NON-dyadic cuts, where real files are cut (arbitrary row counts):
    * a Hilbert segment of length L keeps O(L^(1/dims)) diameter while
    * a Morton segment straddling a high-bit boundary leaps across the
    * space — measured by l03/l05/l06 ([[Segments]]) and on real
    * parquet footers by the OpsSpec write tests. */
  sealed abstract class Curve(k2: (Column, Column) => Column,
      k3: (Column, Column, Column) => Column) {
    def key(q: Seq[Column]): Column = q match {
      case Seq(a, b) => k2(a, b)
      case Seq(a, b, c) => k3(a, b, c)
    }
  }
  case object Morton extends Curve(morton, morton3)
  case object Hilbert extends Curve(HilbertIndex(_, _), HilbertIndex3(_, _, _))

  /** The quantized dimensions [[quantized]] adds, in `dims` order. */
  private def q(n: Int): Seq[Column] = (0 until n).map(i => col(s"__z_q$i"))

  /** The ONE bounds → broadcast → quantize block: every dimension's
    * min/max in one tiny aggregate job, broadcast as a one-row frame
    * into the scan, and each dimension mapped onto 16 bits by
    * [[quant16]] as its own projected column ([[q]]). Internal names
    * carry the reserved `__z_` prefix so any user column — "a_min",
    * or "__z" itself — survives the cross join and the drops; a frame
    * already carrying the prefix would be silently overwritten and
    * lost from the output, so it is refused loudly. */
  private def quantized(df: DataFrame, dims: Seq[String]): DataFrame = {
    val clash = df.columns.filter(_.startsWith("__z"))
    require(clash.isEmpty,
      s"Layout: column name(s) ${clash.mkString(", ")} collide with " +
        "the reserved __z internal prefix — rename them first")
    require(dims.length == 2 || dims.length == 3,
      s"Layout: a curve key interleaves 2 or 3 dimensions, got " +
        s"${dims.length} (${dims.mkString(", ")})")
    val stats = dims.zipWithIndex.flatMap { case (d, i) =>
      Seq(min(d).as(s"__z_lo$i"), max(d).as(s"__z_hi$i"))
    }
    val rng = df.agg(stats.head, stats.tail: _*)
    df.crossJoin(broadcast(rng))
      .select(col("*") +: dims.zipWithIndex.map { case (d, i) =>
        quant16(col(d), col(s"__z_lo$i"), col(s"__z_hi$i")).as(s"__z_q$i")
      }: _*)
      .drop(rng.columns: _*)
  }

  /** Write `df` clustered by a `curve` over 2 or 3 long columns: one
    * bounds job, ONE range exchange on the curve key (range
    * partitioning keeps curve segments contiguous across files), an
    * in-partition sort (no second shuffle), and the key itself — like
    * the quantized dimensions — dropped from the stored schema: layout
    * is a property of row order, not a column the reader pays for.
    * Every written file's min/max statistics bound ALL the dimensions
    * (the physical twin of [[Locality]]'s boxes). Measured on disk
    * (OpsSpec, sf0.001 orders, 17 equal-frequency files, identical
    * cuts both curves, 3-d): summed normalized box volume 1.60 for
    * Hilbert vs Morton's 2.89, and 18 vs 39 rect-file intersections
    * over six unaligned triple-dim query boxes — the fraction of files
    * a reader's min/max skip decision actually opens. For Morton-only
    * deployments, cell-aligned file counts are the practical answer to
    * the straddle finding ([[Segments]]). */
  def curveWrite(df: DataFrame, curve: Curve, dims: Seq[String],
      path: String, files: Int): Unit = {
    quantized(df, dims)
      .withColumn("__z_curve_key", curve.key(q(dims.length)))
      .drop(dims.indices.map(i => s"__z_q$i"): _*)
      .repartitionByRange(files, col("__z_curve_key"))
      .sortWithinPartitions("__z_curve_key")
      .drop("__z_curve_key")
      .write.mode("overwrite").parquet(path)
  }

  /** Offline compaction across [[graft.streaming.Streams
    * .zorderedIngest]] increments — the other half of the ingest
    * contract: union every `batch=*` increment under `baseDir` and
    * relayout as a single curve-clustered table. The per-batch
    * quantizers (each increment's curve spans only its own bounds)
    * are replaced by ONE global quantizer over the whole horizon, so
    * file statistics become comparable ACROSS increments again — the
    * reader prunes the compacted table with the same dual-dim
    * selectivity the per-batch files had individually. Cost shape is
    * identical to a fresh [[curveWrite]]: one bounds job, one range
    * exchange. */
  def compactIncrements(s: SparkSession, baseDir: String,
      dimA: String, dimB: String, outPath: String, files: Int,
      curve: Curve = Morton): Unit =
    curveWrite(s.read.parquet(s"$baseDir/batch=*"), curve, Seq(dimA, dimB),
      outPath, files)

  /** The orders dimensions the l01–l07 reports cluster: customer,
    * order day, and price at integer cents (an identically-associated
    * floor(×100) on both engines). */
  private val ordersDims: Map[String, Column] = Map(
    "ck" -> col("o_custkey").cast("long"),
    "day" -> datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"),
    "cents" -> floor(col("o_totalprice") * lit(100)).cast("long"))

  private def orders(s: SparkSession, dir: String, dims: Seq[String]) =
    t(s, dir, "orders").select(dims.map(d => ordersDims(d).as(d)): _*)

  /** Curve locality report: orders keyed by `curve` over `dims`,
    * bucketed by the key's top `keepBits` bits — 2^keepBits contiguous
    * curve segments, the file grain a curve-sorted layout would
    * produce — with each bucket's row count and bounding box in the
    * ORIGINAL dimensions (`bucket, n, <dim>_lo, <dim>_hi, …`). The
    * curve's guarantee made measurable: every bucket's ranges are
    * narrow on EVERY axis (a single-key sort bounds one), which is
    * exactly the min/max-statistics selectivity a scan planner prunes
    * with. One bounds job, the key in-scan, one hash shuffle for the
    * bucket aggregate; the oracles replay the quantize/spread/
    * interleave cascade (or the Hilbert stages) verbatim.
    *
    * | entry | curve | dims | keepBits | cells |
    * |---|---|---|---|---|
    * | l01_zorder | Morton | ck, day | 8 | 256 rectangles, each 1/16 × 1/16 of the plane |
    * | l02_hilbert | Hilbert | ck, day | 8 | the same 256 cells (dyadic grain, see [[Curve]]) |
    * | l04_zorder3d | Morton | ck, day, cents | 12 | 4096 boxes, 1/16 of EVERY axis |
    */
  final case class Locality(curve: Curve, dims: Seq[String], keepBits: Int)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, dir: String): DataFrame = {
      val shift = 16 * dims.length - keepBits
      val stats = dims.flatMap(d => Seq(min(d).as(s"${d}_lo"), max(d).as(s"${d}_hi")))
      quantized(orders(s, dir, dims), dims)
        .withColumn("bucket",
          floor(curve.key(q(dims.length)) / lit(1L << shift)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), stats: _*)
        .orderBy("bucket")
    }
  }

  /** How one layout of [[Segments]] cuts the rows into file-grain
    * segments. */
  sealed trait SegmentKey
  /** `curve` over the first `dims` quantized dimensions, cut every
    * `grain` indices. */
  final case class CurveCut(curve: Curve, dims: Int, grain: Long)
      extends SegmentKey
  /** The first quantized dimension alone — a single-key sort — cut
    * every `grain` values. */
  final case class FirstDimCut(grain: Long) extends SegmentKey

  /** Read-side pruning simulation: what fraction of a layout's
    * file-grain units would a multi-dim predicate actually touch?
    * Orders quantized over `dims` are cut into segments under each
    * named layout of `keys`; each segment's min/max statistics box —
    * exactly what parquet stores per row group — is intersected with
    * the fixed query `box` (quantized coordinates, one (lo, hi) per
    * dim), the reader's skip decision. Output: the per-layout rollup
    * `layout, buckets_total, buckets_touched, rows_matched`, or with
    * `perSegment` the table behind it — `layout, bucket, a_lo, a_hi,
    * b_lo, …, n_rows, rows_in, volume, touched` per segment, the box
    * a parquet footer would store, its integer volume and the skip
    * verdict, segment-sized (≤ keys·258 rows) at any corpus scale.
    *
    * Plan shape: ONE pass over orders, each layout key its OWN
    * projected column upstream of ONE `explode` of tiny (layout,
    * bucket) structs, then one map-side-combined shuffle onto the
    * segments. Inlining the curve kernels into the explode fuses them
    * into one generated method past HotSpot's 8000-byte JIT ceiling,
    * and the scan stage silently runs in the bytecode interpreter —
    * measured 11.6 s vs 0.13 s at ×16 for identical rows (PlanSpec
    * pins the pre-projected shape). The oracles replay every cascade
    * in integer arithmetic.
    *
    * The grain must be NON-dyadic (see [[pruneGrain]]): at dyadic
    * grain Morton and Hilbert induce the identical partition and the
    * comparison degenerates to a renumbering.
    *
    * | entry | dims | keys | box | perSegment |
    * |---|---|---|---|---|
    * | l03_curve_pruning | ck, day | zorder, hilbert (2-d, [[pruneGrain]]), single_ck (256) | ck × day | false |
    * | l05_cube_pruning | ck, day, cents | zorder3d ([[pruneGrain3]]), zorder2d_ck_day (Morton over ck, day, [[pruneGrain]]), single_ck (256) | ck × day × cents | false |
    * | l06_cube_hilbert | ck, day, cents | hilbert3d, zorder3d ([[pruneGrain3]]) | ck × day × cents | false |
    * | l07_cube_file_boxes | as l06 | as l06 | as l06 | true |
    *
    * Measured findings. l03: single_ck touches ~33 of 256 buckets (its
    * day statistics span everything), zorder about the rectangle's
    * area share plus straddle cells, hilbert fewest. l05: the strict
    * ordering zorder3d < zorder2d < single_ck holds — the 2-d curve's
    * cents statistics span everything — but at arbitrary-cut grain
    * the 3-d MORTON segment straddles high-bit boundaries in all three
    * dims at once, so the third dimension's pruning is MARGINAL over
    * 2-d (sf0.01: 12 vs 13 of ~257; sf0.001: 4 vs 8), whereas at
    * dyadic aligned grain (l04's 4096 cells) all three dims prune
    * fully. l06 is that straddle finding's fix: the no-jump 3-d
    * Hilbert key on the identical cuts touches strictly fewer (sf0.01:
    * 5 vs Morton's 12). l07 puts the data behind l06 under the
    * cross-engine gate: Hilbert's summed boxes are ~half of Morton's
    * volume at identical cuts, the quantity the OpsSpec 3-d write test
    * measures on real footers. */
  final case class Segments(dims: Seq[String], keys: Seq[(String, SegmentKey)],
      box: Seq[(Long, Long)], perSegment: Boolean)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, dir: String): DataFrame = {
      val qs = q(dims.length)
      val inBox = qs.zip(box).map { case (c, (lo, hi)) => c.between(lo, hi) }
        .reduce(_ && _)
      val keyed = keys.zipWithIndex.foldLeft(
        quantized(orders(s, dir, dims), dims)
          .select(qs :+ inBox.cast("long").as("__z_in"): _*)) {
        case (df, ((_, k), i)) => df.withColumn(s"__z_k$i", k match {
          case CurveCut(curve, n, grain) =>
            floor(curve.key(qs.take(n)) / lit(grain)).cast("long")
          case FirstDimCut(grain) => floor(qs.head / lit(grain)).cast("long")
        })
      }
      val tagged = keyed.select(explode(array(keys.zipWithIndex.map {
        case ((name, _), i) =>
          struct(lit(name).as("layout"), col(s"__z_k$i").as("bucket"))
      }: _*)).as("t") +: qs :+ col("__z_in"): _*)
      val letters = Seq("a", "b", "c").take(dims.length)
      val stats = letters.zip(qs).flatMap { case (p, c) =>
        Seq(min(c).as(s"${p}_lo"), max(c).as(s"${p}_hi"))
      }
      val perBucket = tagged
        .groupBy(col("t.layout").as("layout"), col("t.bucket").as("bucket"))
        .agg(stats.head, stats.tail ++ Seq(count(lit(1)).as("n_rows"),
          sum("__z_in").as("rows_in")): _*)
      val touched = letters.zip(box).flatMap { case (p, (lo, hi)) =>
        Seq(col(s"${p}_hi") >= lo, col(s"${p}_lo") <= hi)
      }.reduce(_ && _)
      if (perSegment)
        perBucket.select(col("*"), letters.map(p =>
            col(s"${p}_hi") - col(s"${p}_lo") + 1L).reduce(_ * _).as("volume"),
          touched.cast("long").as("touched"))
          .orderBy("layout", "bucket")
      else
        perBucket.groupBy("layout")
          .agg(count(lit(1)).as("buckets_total"),
            sum(touched.cast("long")).as("buckets_touched"),
            sum("rows_in").as("rows_matched"))
          .orderBy("layout")
    }
  }

  /** The fixed query box of [[Segments]], in quantized coordinates of
    * (ck, day, cents): a 1/8-wide window of each 16-bit axis,
    * deliberately UNALIGNED with any dyadic cell boundary (ck ∈
    * [9000, 17191], day ∈ [25000, 33191], cents ∈ [41000, 49191]) so
    * partial-cell intersections are genuinely exercised. The oracle
    * SQL reads the constants. */
  val rectCkLo = 9000L; val rectCkHi = 17191L
  val rectDayLo = 25000L; val rectDayHi = 33191L
  val rectCentsLo = 41000L; val rectCentsHi = 49191L
  val queryBox: Seq[(Long, Long)] = Seq((rectCkLo, rectCkHi),
    (rectDayLo, rectDayHi), (rectCentsLo, rectCentsHi))

  /** The 2-d segment grain of [[Segments]]: 16,712,070 = 2 × 8,356,035,
    * just above 2^32 / 257 ≈ 16,711,935.004, so it cuts the 32-bit
    * curve index range into 257 segments (256 full, a short last one).
    * It is deliberately NOT a power of four: at dyadic grain (e.g.
    * 2^24) the top curve bits are a quadrant-descent prefix for BOTH
    * curves, so Morton and Hilbert induce the IDENTICAL 4096×4096 cell
    * partition and the comparison degenerates to a renumbering. Real
    * files cut the curve at arbitrary row-count positions, and there
    * the curves differ: a Hilbert segment of length L has O(√L)
    * diameter (no jumps), while a Morton segment straddling a high-bit
    * boundary leaps across the plane and its bounding rectangle
    * explodes. Being twice an odd number, a cut m × grain (m ≤ 257) is
    * divisible by at most 2^9, so no cut lands on the boundary of a
    * curve quadrant larger than 4^4 cells: the grain models those
    * arbitrary cuts declaratively. l03's oracle reads the value. */
  val pruneGrain = 16712070L

  /** The 3-d segment grain of [[Segments]]: ceil(2^48 / 257), ~1/257
    * of the 48-bit curve index range, non-dyadic for the same reason
    * as [[pruneGrain]]. */
  val pruneGrain3 = 1095233372416L
}
