package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

/** The recall-curve sweep: one (point, q_id) ranking gives every
  * point's top-k, and the recall tally keeps a row for every point. */
class SweepSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Row] =
    df.select("point", "q_id", "rnk", "c_id", "sim").collect().toSet

  test("sweepTopK equals one topKPerQuery per point over level <= p, ties included") {
    val rnd = new Random(11)
    (1 to 6).foreach { trial =>
      val k = 1 + rnd.nextInt(5)
      // few distinct sims, so most top-k cuts fall inside a tie
      val cands = (for {
        q <- 0L until (1 + rnd.nextInt(4)).toLong
        c <- rnd.shuffle((0L until 40L).toList).take(rnd.nextInt(25))
      } yield (q, c, 1 + rnd.nextInt(8), (1 + rnd.nextInt(3)) / 4.0))
        .toDF("q_id", "c_id", "level", "sim")
      val points = rnd.shuffle((1 to 8).toList).take(1 + rnd.nextInt(4))
      val swept = Similarity.sweepTopK(cands, k,
        points.map(p => lit(p.toLong) -> (col("level") <= p)))
      val model = points.map { p =>
        Similarity.topKPerQuery(spark, cands.filter(col("level") <= p), k,
            sorted = false)
          .select(lit(p.toLong).as("point"), col("q_id"), col("rnk"),
            col("c_id"), col("sim"))
      }.reduce(_ union _)
      assert(rows(swept) == rows(model), s"trial $trial, k $k, points $points")
    }
  }

  test("recallTally keeps a row, with zero sums, for a point that sees no " +
    "candidate and for one whose top-k misses the truth") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("q_id", "c_id")
    val cands = Seq(
      (1L, 10L, 1, 0.9), (1L, 12L, 1, 0.8), (1L, 11L, 1, 0.7),
      (2L, 20L, 1, 0.9), (1L, 99L, 2, 0.95), (1L, 98L, 2, 0.94),
      (1L, 97L, 2, 0.93)).toDF("q_id", "c_id", "level", "sim")
    // point 1 ranks the level-1 rows; point 2 only the three misses
    // (the top 3 of q1 at that point); point 3 sees nothing
    val ranked = Similarity.sweepTopK(cands, 3, Seq(
      lit(1L) -> (col("level") === 1),
      lit(2L) -> (col("level") === 2),
      lit(3L) -> lit(false)))
    val gains = Similarity.ndcgGainsMicro(3)
    val got = Similarity.recallTally(truth, ranked,
        Seq(1L, 2L, 3L).map(lit), 3)
      .select("point", "n_hits", "n_truth", "recall_milli", "rr_sum", "dcg_sum")
      .collect().map(r => r.getLong(0) -> (1 until 6).map(r.getLong)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"a point lost its row: $got")
    // q1 hits at ranks 1 and 3, q2 at rank 1
    assert(got(1L) == Seq(3L, 3L, 1000L, 2000000L,
      gains(0) + gains(2) + gains(0)))
    Seq(2L, 3L).foreach(p => assert(got(p) == Seq(0L, 3L, 0L, 0L, 0L), s"point $p"))
  }
}
