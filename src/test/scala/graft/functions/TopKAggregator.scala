package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Scored candidate for top-k aggregation. */
final case class Scored(id: Long, score: Double)

/** Bounded-heap top-k typed aggregate (`Aggregator[IN, BUF, OUT]`,
  * the SURVEY §2.10 extension rung). No query runs it any more: the
  * native [[graft.ops.TopKRowsAgg]] replaced it, and it stays here as
  * the model TopKRowsSpec and FunctionsSpec pin that kernel against.
  *
  * The window formulation (`row_number over (partition by q order by
  * score desc)`) must SORT every candidate of a group before cutting
  * at k; this aggregator keeps only k elements of state per group on
  * both the map side (partial aggregation) and the reduce side —
  * O(n log k) work, O(k) shuffle bytes per group instead of O(n).
  * At 100 TB ANN scoring (millions of candidates per query) this is
  * the difference between a spilling sort and a pipeline.
  *
  * Ordering ties break on ascending id so results are deterministic —
  * identical to the window's `ORDER BY score DESC, id` contract.
  */
final class TopKAggregator(k: Int)
  extends Aggregator[Scored, List[Scored], Seq[Scored]] {
  require(k >= 1)

  private def lt(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: List[Scored] = Nil

  // sorted descending list capped at k (k is small; list beats heap
  // constants and is trivially serializable)
  override def reduce(buf: List[Scored], in: Scored): List[Scored] = {
    if (buf.sizeIs >= k && !lt(in, buf.last)) buf
    else {
      val (hi, lo) = buf.span(lt(_, in))
      (hi ::: in :: lo).take(k)
    }
  }

  override def merge(a: List[Scored], b: List[Scored]): List[Scored] =
    b.foldLeft(a)(reduce)

  override def finish(buf: List[Scored]): Seq[Scored] = buf

  override def bufferEncoder: Encoder[List[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}
