package graft.ops

import graft.SparkSpec
import graft.functions.{Scored, TopKAggregator}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The TopKRowsAgg kernel's certification: bit-identity against BOTH
  * the typed [[TopKAggregator]] it replaced and the plain sort-take
  * model, the behavior matrix (ties, k=1, under-full groups, null
  * input), and the plan gate (ObjectHashAggregate, no row↔object
  * conversion nodes). */
class TopKRowsSpec extends SparkSpec {
  import spark.implicits._

  // randomized corpus with deliberate score ties (coarse grid) and
  // multiple partitions so partial/merge/serialize all exercise
  private def mkData(seed: Int, groups: Int, perGroup: Int): Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    for (q <- 0 until groups; c <- 0 until perGroup)
      yield (q.toLong, c.toLong, math.floor(rnd.nextDouble() * 50) / 50)
  }

  private def kernelTopK(data: Seq[(Long, Long, Double)], k: Int): Map[(Long, Long), (Long, Double)] =
    data.toDF("q_id", "c_id", "sim")
      .repartition(7)
      .groupBy("q_id")
      .agg(TopKRows(k, col("c_id"), col("sim")).as("tops"))
      .select(col("q_id"), posexplode(col("tops")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id"), col("col.score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  test("bit-identity with the typed TopKAggregator on randomized tied data") {
    for (seed <- Seq(1, 2, 3)) {
      val data = mkData(seed, groups = 6, perGroup = 300)
      val k = 5
      val typed = data.toDF("q_id", "c_id", "sim")
        .as[(Long, Long, Double)]
        .repartition(7)
        .groupByKey(_._1)
        .mapValues(r => Scored(r._2, r._3))
        .agg(new TopKAggregator(k).toColumn)
        .collect().toMap
      val kernel = kernelTopK(data, k)
      typed.foreach { case (q, tops) =>
        tops.zipWithIndex.foreach { case (sc, i) =>
          assert(kernel((q, i + 1L)) == (sc.id, sc.score),
            s"seed=$seed q=$q rnk=${i + 1}")
        }
      }
      assert(kernel.size == typed.valuesIterator.map(_.size).sum)
    }
  }

  test("matches the sort-then-take model: score desc, id asc, cut at k") {
    val data = mkData(11, groups = 4, perGroup = 120)
    val k = 7
    val kernel = kernelTopK(data, k)
    val model = data.groupBy(_._1).flatMap { case (q, vs) =>
      vs.map(v => (v._2, v._3)).sortBy(v => (-v._2, v._1)).take(k)
        .zipWithIndex.map { case ((id, sc), i) => (q, i + 1L) -> (id, sc) }
    }
    assert(kernel == model.toMap)
  }

  test("behavior matrix: k=1, groups smaller than k, all-tied scores") {
    // k=1 keeps the single best; a 3-row group under k=10 emits 3 rows;
    // fully tied scores order by ascending id
    val data = Seq(
      (1L, 9L, 2.0), (1L, 3L, 2.0), (1L, 5L, 2.0),
      (2L, 42L, 1.0))
    val k1 = kernelTopK(data, 1)
    assert(k1 == Map((1L, 1L) -> (3L, 2.0), (2L, 1L) -> (42L, 1.0)))
    val k10 = kernelTopK(data, 10)
    assert(k10((1L, 1L)) == (3L, 2.0) && k10((1L, 2L)) == (5L, 2.0) &&
      k10((1L, 3L)) == (9L, 2.0) && k10.size == 4)
  }

  test("null score raises instead of silently ranking a corrupt row") {
    val df = Seq((1L, 1L, Some(1.0)), (1L, 2L, None))
      .toDF("q_id", "c_id", "sim")
      .groupBy("q_id").agg(TopKRows(3, col("c_id"), col("sim")))
    val e = intercept[Exception](df.collect())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("topk_rows")),
      s"expected the topk_rows null contract error, got: $e")
  }

  test("plan: ObjectHashAggregate kernel, zero row-object conversion nodes") {
    val df = Similarity.nativeTopK(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      "topk_rows must run under ObjectHashAggregate")
    for (node <- Seq("DeserializeToObject", "AppendColumns",
        "MapElements", "SerializeFromObject"))
      assert(!p.contains(node),
        s"the ranking path must not pay the $node object conversion")
  }

  test("wrong-typed id or score fails analysis, not a task") {
    // an int id and a float score would each reach `update`'s unboxing
    // cast as a ClassCastException inside a task; the kernel's type
    // check rejects both while the plan is analyzed
    Seq(Seq((1L, 7, 0.5)).toDF("q_id", "c_id", "sim"),
        Seq((1L, 7L, 0.5f)).toDF("q_id", "c_id", "sim")).foreach { df =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.groupBy("q_id").agg(TopKRows(3, col("c_id"), col("sim"))))
      assert(e.getMessage.contains("topk_rows"), e.getMessage)
    }
  }
}
