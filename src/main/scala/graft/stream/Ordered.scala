package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Order-dependent operators re-grounded on explicit ordering columns.
  *
  * The reference is a Python iterator and is inherently ordered; its
  * skip/truncate/consecutive-distinct ops (streamable/stream.py:432-493,
  * iterators.py:283-348, :117-133) consume that order. Spark datasets
  * are unordered, so each op here takes the ordering columns
  * explicitly.
  *
  * Scale note (100 TB): `Window.orderBy(ord)` with no partitionBy
  * collapses to a single task. The global-order primitives here
  * ([[withRowIndex]], [[distinctConsecutive]]) instead run one
  * [[PartitionPreview]] node: it requires its child range-distributed
  * and sorted on `ord`, so the planner adds a range exchange and a
  * sort only when the child is not ordered already (the plan of
  * Spark's own global sort), then one job over all partitions but the
  * last (row counts, or last keys) seeds a per-partition map — fully
  * parallel, no single-task bottleneck. An already-ordered
  * single-partition child (`orderBy(...).limit(k)`) gets no exchange
  * and no such job.
  * Key-partitioned ops ([[firstWins]], [[distinctConsecutivePerKey]])
  * use partitioned windows and need no global pass at all.
  */
object Ordered {

  /** Global 0-based row index by `ord` — the scalable replacement for
    * `row_number() OVER (ORDER BY ord)`. Rows are range-partitioned
    * and sorted by `ord` (only if the child is not already), then
    * indexed with per-partition offsets on `InternalRow`. Ties in
    * `ord` get distinct indices in an unspecified order; the index is
    * dense either way.
    */
  def withRowIndex(df: DataFrame, ord: Seq[Column],
      idxCol: String = "_ord_idx"): DataFrame =
    PartitionPreview.rowIndex(df, ord, idxCol)

  /** Drop the first `n` rows in `ord` order; reference `skip(count=n)`
    * (streamable/stream.py:432-446, iterators.py:283-299). */
  def skip(df: DataFrame, ord: Seq[Column], n: Long): DataFrame = {
    val idx = "_ord_idx"
    withRowIndex(df, ord, idx).filter(col(idx) >= n).drop(idx)
  }

  /** The lexicographic boundary of the first `p`-satisfying row: the
    * minimum ord-tuple among matching rows, re-materialized as a
    * literal struct so the returned frame filters on *values*, not on
    * a derived row index. Value-based cuts are deterministic under
    * plan re-execution (a row index assigned under a non-total `ord`
    * is not: shuffle fetch order can permute ties between the
    * bound-finding pass and the consuming pass), need no cache, no
    * sort and no shuffle — both passes are embarrassingly parallel
    * scans, and the bound-finding filter pushes down to the source. */
  private def minOrdWhere(df: DataFrame, ord: Seq[Column], p: Column): Option[Column] = {
    // value-based cuts compare struct(ord) tuples, which only works
    // for plain ascending, non-null expressions — a SortOrder (.desc /
    // .asc_nulls_last) cannot be wrapped in a struct. Fail fast with
    // guidance instead of a confusing analysis error. (skip/truncate
    // route ord through a sort and do accept SortOrder; descending
    // cuts here: pass a descending-encoded expression, e.g. negate.)
    ord.foreach { c =>
      require(!c.toString.matches("(?s).*(ASC|DESC) NULLS (FIRST|LAST)$"),
        "skipUntil/takeWhile require plain ascending ord expressions " +
          s"(got sort order '$c'); encode descending order in the value, e.g. -col")
    }
    val hit = df.filter(p).agg(min(struct(ord: _*))).head()
    if (hit.isNullAt(0)) None
    else {
      val boundary = hit.getStruct(0)
      // a NULL ord field on the boundary row would become lit(null):
      // the struct comparison below then yields NULL for EVERY row and
      // the cut silently selects nothing/everything. min(struct) puts
      // nulls first, so the min row is exactly where a null surfaces —
      // fail loudly instead. (Same root as the SortOrder guard above:
      // value-based cuts need total, non-null ord values.)
      require(!boundary.anyNull,
        "skipUntil/takeWhile boundary row has a NULL ord value; " +
          s"ord expressions must be non-null (boundary = $boundary) — " +
          "coalesce() the ord columns to totalize the order")
      Some(struct(boundary.toSeq.map(lit): _*))
    }
  }

  /** Drop rows until the first one satisfying `p` (that row is kept);
    * reference `skip(until=p)` (iterators.py:302-315). Keeps every row
    * whose ord-tuple is >= the first satisfying row's — for a total
    * `ord` this is exactly the reference semantics; rows *tied* with
    * the boundary are all kept (deterministic, unlike any
    * index-assignment tiebreak). No match ⇒ empty (the reference
    * drops everything when `until` never fires). */
  def skipUntil(df: DataFrame, ord: Seq[Column], p: Column): DataFrame =
    minOrdWhere(df, ord, p) match {
      case None      => df.filter(lit(false))
      case Some(cut) => df.filter(struct(ord: _*) >= cut)
    }

  /** Keep only the first `n` rows in `ord` order; reference
    * `truncate(count=n)` (streamable/stream.py:479-493). */
  def truncate(df: DataFrame, ord: Seq[Column], n: Long): DataFrame = {
    val idx = "_ord_idx"
    withRowIndex(df, ord, idx).filter(col(idx) < n).drop(idx)
  }

  /** skip(from) + truncate(until-from) fused into one indexing pass:
    * rows with index in [from, until). */
  def slice(df: DataFrame, ord: Seq[Column], from: Long, until: Long): DataFrame = {
    val idx = "_ord_idx"
    withRowIndex(df, ord, idx)
      .filter(col(idx) >= from && col(idx) < until).drop(idx)
  }

  /** Stop at the first row satisfying `p`, exclusive — the triggering
    * row is NOT kept; reference `truncate(when=p)`
    * (iterators.py:334-348). Keeps rows with ord-tuple strictly below
    * the first satisfying row's (boundary ties are all cut — the
    * deterministic dual of [[skipUntil]]). No match ⇒ everything. */
  def takeWhileNot(df: DataFrame, ord: Seq[Column], p: Column): DataFrame =
    minOrdWhere(df, ord, p) match {
      case None      => df
      case Some(cut) => df.filter(struct(ord: _*) < cut)
    }

  /** takeWhile(p) == takeWhileNot(!p). */
  def takeWhile(df: DataFrame, ord: Seq[Column], p: Column): DataFrame =
    takeWhileNot(df, ord, !p)

  /** Reference `truncate(count=, when=)` with BOTH bounds allowed —
    * truncation happens at whichever is satisfied first
    * (stream.py:479-493; tests/test_stream.py:937-947:
    * `truncate(6, when = _ == 5)` ≡ `truncate(5, when = _ == 6)` ≡
    * first 5). The count bound is one [[withRowIndex]] pass; the
    * `when` bound stays value-based ([[minOrdWhere]]) so it is
    * deterministic under plan re-execution even when `ord` ties at
    * the boundary — the two filters compose conjunctively, which IS
    * "first satisfied wins" (each alone keeps a prefix; the
    * intersection of two prefixes is the shorter one). */
  def truncate(df: DataFrame, ord: Seq[Column], count: Option[Long],
      when: Option[Column]): DataFrame = {
    require(count.nonEmpty || when.nonEmpty,
      "`count` and `when` cannot both be None")
    (count, when) match {
      case (Some(n), None)    => truncate(df, ord, n)
      case (None, Some(p))    => takeWhileNot(df, ord, p)
      case (Some(n), Some(p)) =>
        val cut = minOrdWhere(df, ord, p)
        val base = truncate(df, ord, n)
        cut.fold(base)(c => base.filter(struct(ord: _*) < c))
      case (None, None)       => df // unreachable (require above)
    }
  }

  /** Reference `skip(count=, until=)` dispatch: the reference REJECTS
    * both bounds set at once (util/validationtools.py:70-79 raises
    * ValueError) — mirror that contract instead of inventing a fused
    * semantics the reference doesn't have. */
  def skip(df: DataFrame, ord: Seq[Column], count: Option[Long],
      until: Option[Column]): DataFrame = {
    require(count.isEmpty || until.isEmpty,
      "`count` and `until` cannot both be set")
    require(count.nonEmpty || until.nonEmpty,
      "`count` and `until` cannot both be None")
    count.fold(skipUntil(df, ord, until.get))(n => skip(df, ord, n))
  }

  /** First-occurrence-wins dedup by `keys` in `ord` order — the
    * reference `distinct()` contract (first seen survives,
    * iterators.py:98-114). Key-partitioned window: fully parallel.
    */
  def firstWins(df: DataFrame, keys: Seq[Column], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(ord.map(_.asc): _*)
    val rn = "_rn"
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** Consecutive-only dedup: keep a row iff its key differs from the
    * previous row's key in `ord` order; reference
    * `distinct(consecutive_only=True)` (iterators.py:117-133, O(1)
    * state). NOT a global `Window.orderBy` (that collapses to one
    * task): one [[PartitionPreview]] pass takes the last key of every
    * partition but the last, then each partition filters its rows
    * against its own previous key, its head against the nearest
    * non-empty predecessor's last key. Consecutive nulls collapse. */
  def distinctConsecutive(df: DataFrame, ord: Seq[Column], key: Column): DataFrame =
    PartitionPreview.distinctConsecutive(df, ord, key)

  /** Consecutive dedup within `part` (runs never span partitions) —
    * the shuffle-parallel variant. */
  def distinctConsecutivePerKey(df: DataFrame, part: Seq[Column],
      ord: Seq[Column], key: Column): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(ord.map(_.asc): _*)
    val prev = "_prev"
    df.withColumn(prev, lag(key, 1).over(w))
      .filter(col(prev).isNull || col(prev) =!= key)
      .drop(prev)
  }

  /** Fixed-size chunking in global `ord` order: adds a `_chunk` id so
    * each chunk holds `size` consecutive rows; reference
    * `group(size=n)` (iterators.py:183-210). */
  def chunkBySize(df: DataFrame, ord: Seq[Column], size: Int,
      chunkCol: String = "_chunk"): DataFrame = {
    require(size >= 1)
    val idx = "_ord_idx"
    withRowIndex(df, ord, idx)
      .withColumn(chunkCol, (col(idx) / size).cast(LongType))
      .drop(idx)
  }
}
