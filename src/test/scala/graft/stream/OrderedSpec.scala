package graft.stream

import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-dependent ops vs list-slicing oracles (reference
  * tests/test_stream.py:830-845 skip/truncate-vs-slicing,
  * :1268-1299 distinct goldens). The ordering column re-grounds the
  * reference's implicit iterator order (SURVEY §2.5). */
class OrderedSpec extends SparkSpec {

  private def df(n: Int) = {
    val s = spark
    import s.implicits._
    // shuffled input: the ops must order by `v`, not partition luck
    scala.util.Random.shuffle((0 until n).toList).toDF("v")
  }

  /** Rows per partition of the frame's physical output. */
  private def partitionSizes(d: DataFrame): Seq[Int] =
    d.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  /** Some empty partition precedes a non-empty one in what the ordered
    * ops see of `d` (the row index keeps its child's partitions). */
  private def hasInnerGap(d: DataFrame): Boolean =
    partitionSizes(Ordered.withRowIndex(d, Seq(col("id")))).dropWhile(_ > 0).exists(_ > 0)

  /** `range(0, 40)` in 8 partitions of 5, already in `id` order (no
    * exchange under the ordered ops); `drop` removes whole partitions
    * so empty ones sit between non-empty ones. */
  private def ranged(drop: Set[Int] = Set.empty) =
    spark.range(0, 40, 1, 8).toDF()
      .filter(!(col("id") / 5).cast("int").isin(drop.toSeq: _*))

  test("withRowIndex assigns a dense 0-based index in order") {
    val s = spark; import s.implicits._
    def indexed(d: DataFrame, ord: String): Seq[(Long, Long)] =
      Ordered.withRowIndex(d.select(col(ord).cast("long")), Seq(col(ord)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2)
    assert(indexed(df(100), "v").map(_._1) == (0L until 100L))
    // more shuffle partitions than rows (the range partitioner then
    // cuts fewer), and more child partitions than rows: empty ones
    withConf("spark.sql.shuffle.partitions" -> "16") {
      assert(indexed(df(5), "v") == (0L until 5L).map(i => (i, i)))
    }
    val sparse = spark.range(0, 5, 1, 16).toDF()
    assert(partitionSizes(Ordered.withRowIndex(sparse, Seq(col("id")))).count(_ == 0) == 11)
    assert(indexed(sparse, "id") == (0L until 5L).map(i => (i, i)))
    // empty partitions between non-empty ones
    val gappy = ranged(drop = Set(1, 2, 3, 4, 5))
    assert(hasInnerGap(gappy))
    val kept = (0L until 5L) ++ (30L until 40L)
    assert(indexed(gappy, "id") == kept.zipWithIndex.map { case (v, i) => (v, i.toLong) })
    // ties in ord: the index stays dense, every row is kept exactly
    // once, and ord never decreases along the index
    val tied = scala.util.Random.shuffle((0 until 60).toList).map(i => (i % 7, i)).toDF("v", "id")
    val t = Ordered.withRowIndex(tied, Seq(col("v")), "i")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sortBy(_._3)
    assert(t.map(_._3).toList == (0L until 60L).toList)
    assert(t.map(_._2).sorted.toList == (0 until 60).toList)
    assert(t.map(_._1).toList == t.map(_._1).sorted.toList)
  }

  test("an ordered single-partition child runs no count or sampling job") {
    // orderBy.limit plans TakeOrderedAndProject: one partition, already
    // in `ord` order, so the index needs no exchange and no count pass
    val top = df(100).orderBy(col("v").desc).limit(10)
    val out = Ordered.withRowIndex(top, Seq(col("v").desc), "i")
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("single-partition-index", "withRowIndex over orderBy.limit")
      val rows = try out.collect() finally sc.clearJobGroup()
      assert(rows.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._2).toList ==
        (99 to 90 by -1).zipWithIndex.map { case (v, i) => (v, i.toLong) }.toList)
      // the listener bus is async: wait for a later sentinel job
      sc.setJobGroup("sentinel", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!groups.contains("sentinel") && System.nanoTime < deadline) Thread.sleep(20)
      assert(groups.contains("sentinel"), "sentinel job event never arrived")
      val jobs = groups.toArray(Array.empty[String]).count(_ == "single-partition-index")
      assert(jobs == 1, s"expected only the collect job, saw $jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("skip(n) drops the first n in order (list-slicing oracle)") {
    val got = Ordered.skip(df(50), Seq(col("v")), 10)
      .collect().map(_.getInt(0)).sorted.toList
    assert(got == (0 until 50).drop(10))
  }

  test("truncate(n) keeps the first n in order") {
    val got = Ordered.truncate(df(50), Seq(col("v")), 7)
      .collect().map(_.getInt(0)).sorted.toList
    assert(got == (0 until 50).take(7))
  }

  test("truncate(count, when) both set: first satisfied wins (reference golden)") {
    // mirrors tests/test_stream.py:937-947 on src = range(10)
    val a = Ordered.truncate(df(10), Seq(col("v")), Some(6L), Some(col("v") === 5))
      .collect().map(_.getInt(0)).sorted.toList
    assert(a == (0 until 5).toList, "when fires first")
    val b = Ordered.truncate(df(10), Seq(col("v")), Some(5L), Some(col("v") === 6))
      .collect().map(_.getInt(0)).sorted.toList
    assert(b == (0 until 5).toList, "count fires first")
    // single-bound dispatch still matches the dedicated ops
    val c = Ordered.truncate(df(10), Seq(col("v")), Some(3L), None)
      .collect().map(_.getInt(0)).sorted.toList
    assert(c == List(0, 1, 2))
    val d = Ordered.truncate(df(10), Seq(col("v")), None, Some(col("v") === 3))
      .collect().map(_.getInt(0)).sorted.toList
    assert(d == List(0, 1, 2))
    intercept[IllegalArgumentException] {
      Ordered.truncate(df(10), Seq(col("v")), None, None)
    }
  }

  test("skip(count, until) rejects both bounds like the reference") {
    // validate_skip_args raises ValueError when both are set
    // (util/validationtools.py:70-79)
    intercept[IllegalArgumentException] {
      Ordered.skip(df(10), Seq(col("v")), Some(2L), Some(col("v") === 5))
    }
    val a = Ordered.skip(df(10), Seq(col("v")), Some(4L), None)
      .collect().map(_.getInt(0)).sorted.toList
    assert(a == (4 until 10).toList)
    val b = Ordered.skip(df(10), Seq(col("v")), None, Some(col("v") === 4))
      .collect().map(_.getInt(0)).sorted.toList
    assert(b == (4 until 10).toList)
  }

  test("skipUntil keeps from the first satisfying element (inclusive)") {
    val got = Ordered.skipUntil(df(30), Seq(col("v")), col("v") >= 12)
      .collect().map(_.getInt(0)).sorted.toList
    assert(got == (12 until 30).toList)
  }

  test("takeWhileNot stops exclusive at first trigger") {
    // reference truncate(when=p): triggering element NOT yielded
    // (iterators.py:334-348)
    val got = Ordered.takeWhileNot(df(30), Seq(col("v")), col("v") >= 12)
      .collect().map(_.getInt(0)).sorted.toList
    assert(got == (0 until 12).toList)
  }

  test("takeWhileNot with never-satisfied predicate keeps everything") {
    assert(Ordered.takeWhileNot(df(20), Seq(col("v")), col("v") > 100).count() == 20)
  }

  test("firstWins keeps the first occurrence per key") {
    val s = spark; import s.implicits._
    // golden from the reference distinct test shape
    // (tests/test_stream.py:1280-1288: ["a","foo","bar","z"] by len)
    val in = Seq((0, "a"), (1, "foo"), (2, "bar"), (3, "z"))
      .toDF("ord", "s").withColumn("len", length(col("s")))
    val got = Ordered.firstWins(in, Seq(col("len")), Seq(col("ord")))
      .collect().map(_.getString(1)).sorted.toList
    assert(got == List("a", "foo"))
  }

  test("distinctConsecutive dedups runs only (golden: aabbcccaabbcccc)") {
    val s = spark; import s.implicits._
    // reference golden tests/test_stream.py:1270-1278:
    // "aabbcccaabbcccc" -> "abcabc"
    val chars = "aabbcccaabbcccc".zipWithIndex.map { case (c, i) => (i, c.toString) }
    val in = chars.toDF("ord", "c")
    val got = Ordered.distinctConsecutive(in, Seq(col("ord")), col("c"))
      .orderBy("ord").collect().map(_.getString(1)).mkString
    assert(got == "abcabc")
    // runs that span partition boundaries, null keys included, over
    // partitions of 5: consecutive nulls collapse like equal keys
    val nul: String = null
    val keys = Seq("a" -> 7, nul -> 6, "b" -> 2, nul -> 1, "a" -> 9, "b" -> 5, nul -> 10)
      .flatMap { case (k, n) => Seq.fill(n)(k) }
    def heads(ids: Seq[Int]): Seq[Long] =
      ids.indices.filter(j => j == 0 || keys(ids(j)) != keys(ids(j - 1))).map(ids(_).toLong)
    def survivors(d: DataFrame): Seq[Long] =
      Ordered.distinctConsecutive(
          d.withColumn("k", element_at(typedLit(keys), (col("id") + 1).cast("int"))),
          Seq(col("id")), col("k"))
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors(ranged()) == Seq(0L, 7L, 13L, 15L, 16L, 25L, 30L))
    // the same rows through the planner's range exchange and sort
    assert(survivors(ranged().repartition(3)) == heads(0 until 40))
    // empty partitions in between: the null run 7..9 continues at 30
    val gappy = ranged(drop = Set(2, 3, 4, 5))
    assert(hasInnerGap(gappy))
    assert(survivors(gappy) == Seq(0L, 7L))
  }

  test("chunkBySize yields consecutive fixed chunks") {
    val out = Ordered.chunkBySize(df(25), Seq(col("v")), 10, "chunk")
      .groupBy("chunk").count().orderBy("chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(out == List((0L, 10L), (1L, 10L), (2L, 5L)))
  }
}
