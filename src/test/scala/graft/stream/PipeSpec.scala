package graft.stream

import graft.SparkSpec

/** Pipe algebra vs Scala-collection oracles — the Spark analog of the
  * reference's "builtin as oracle" style (tests/test_stream.py:376-381
  * map-vs-map, :793-806 filter-vs-filter, etc.). */
class PipeSpec extends SparkSpec {

  private def pipe(n: Int): Pipe[Long] = {
    val s = spark
    import s.implicits._
    Pipe(s.range(n.toLong).as[Long])
  }

  test("map mirrors builtin map") {
    val s = spark; import s.implicits._
    assert(pipe(256).map(_ * 2).ds.collect().sorted.toList ==
      (0L until 256L).map(_ * 2).toList)
  }

  test("filter mirrors builtin filter") {
    val s = spark; import s.implicits._
    assert(pipe(256).filter(_ % 2 == 0).ds.collect().sorted.toList ==
      (0L until 256L).filter(_ % 2 == 0).toList)
  }

  test("flatMap + flatten un-nest one level") {
    val s = spark; import s.implicits._
    val nested = Pipe(s.createDataset(Seq(Seq(0, 0), Seq(1, 1, 1), Seq.empty[Int])))
    assert(nested.flatMap(identity).ds.collect().sorted.toList == List(0, 0, 1, 1, 1))
  }

  test("concat (++) is unionAll") {
    val s = spark; import s.implicits._
    assert((pipe(3) ++ pipe(3)).ds.collect().sorted.toList ==
      List(0L, 0L, 1L, 1L, 2L, 2L))
  }

  test("distinct and distinctBy dedup") {
    val s = spark; import s.implicits._
    val p = Pipe(s.createDataset(Seq("a", "a", "bb", "cc", "bb")))
    assert(p.distinct.ds.collect().sorted.toList == List("a", "bb", "cc"))
    // keyed dedup by length: one survivor per length
    assert(p.distinctBy(_.length).ds.collect().map(_.length).sorted.toList == List(1, 2))
  }

  test("grouped batches per partition with exact sizes") {
    val s = spark; import s.implicits._
    val groups = pipe(100).grouped(7).ds.collect()
    assert(groups.map(_.size).sum == 100)
    assert(groups.forall(_.size <= 7))
  }

  test("groupByKey collects per-key groups (reference groupby)") {
    val s = spark; import s.implicits._
    val got = pipe(10).groupByKey(_ % 3).ds.collect()
      .map { case (k, vs) => k -> vs.sorted.toList }.toMap
    assert(got == Map(0L -> List(0L, 3L, 6L, 9L), 1L -> List(1L, 4L, 7L),
      2L -> List(2L, 5L, 8L)))
  }

  test("count and truncate") {
    assert(pipe(42).count() == 42)
    assert(pipe(100).truncate(5).count() == 5)
  }

  test("skip drops the first n; composes with truncate like the reference") {
    assert(pipe(100).skip(30).count() == 70)
    assert(pipe(100).skip(120).count() == 0)
    assert(pipe(100).skip(10).truncate(5).count() == 5)
  }

  test("display logs the chain and returns the pipe unchanged") {
    val p = pipe(10).truncate(4)
    val ret = p.display()
    assert((ret eq p) && ret.count() == 4)
  }

  test("observe passes elements through and renders in the chain") {
    val p = pipe(25).observe("rows")
    assert(p.count() == 25)
    assert(p.describe.contains(".observe(rows)"))
  }

  test("runForeachThrottled delivers every element exactly once") {
    val acc = spark.sparkContext.longAccumulator("thr")
    pipe(150).runForeachThrottled(1e6)(_ => acc.add(1))
    assert(acc.value == 150L)
  }

  test("full fluent chain: transform → observe → throttled sink, all reference bounds reachable") {
    // the reference ETL shape end to end: map/filter → observe →
    // rate-capped foreach with per-minute + interval bounds composed
    // (most restrictive wins inside each partition's RateLimiter);
    // wall-clock is deliberately not asserted (SURVEY §7.3) — the
    // bucket math has its own deterministic FlowSpec contracts
    val s = spark; import s.implicits._
    val acc = spark.sparkContext.longAccumulator("chain")
    pipe(60)
      .map(_ * 2)
      .filter(_ % 4 == 0)
      .observe("kept")
      .runForeachThrottled(1e6, maxConcurrent = 4,
        globalPerMinute = 6e7, globalPerHour = 3.6e9,
        globalIntervalMs = 0)(_ => acc.add(1))
    assert(acc.value == 30L)
    // a pure-interval bound (no rate) is also a valid fluent config
    val acc2 = spark.sparkContext.longAccumulator("chain2")
    pipe(8).runForeachThrottled(0, globalIntervalMs = 1)(_ => acc2.add(1))
    assert(acc2.value == 8L)
  }

  test("mapConcurrent produces identical results to map") {
    val s = spark; import s.implicits._
    assert(pipe(64).mapConcurrent(_ + 1, concurrency = 4).ds.collect().sorted.toList ==
      (1L to 64L).toList)
    assert(pipe(64).mapConcurrent(_ + 1, concurrency = 4, ordered = false)
      .ds.collect().sorted.toList == (1L to 64L).toList)
  }

  test("mapAsync produces identical results to map") {
    val s = spark; import s.implicits._
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    assert(pipe(32).mapAsync(x => Future(x * 3), concurrency = 4)
      .ds.collect().sorted.toList == (0L until 32L).map(_ * 3).toList)
  }

  test("tap passes elements through unchanged") {
    val s = spark; import s.implicits._
    assert(pipe(10).tap(_ => ()).ds.collect().sorted.toList == (0L until 10L).toList)
  }

  test("iterator pulls lazily (toLocalIterator)") {
    val it = pipe(10).iterator
    assert(it.take(3).toList == List(0L, 1L, 2L))
  }

  test("tapAsync passes elements through (aforeach analog)") {
    val s = spark; import s.implicits._
    import scala.concurrent.Future
    assert(pipe(20).tapAsync(_ => Future.successful(()), concurrency = 4)
      .ds.collect().sorted.toList == (0L until 20L).toList)
  }

  test("zipByIndex pairs elements positionally") {
    val s = spark; import s.implicits._
    val a = Pipe(s.createDataset(Seq(1, 2, 3)).repartition(1).sortWithinPartitions("value").as[Int])
    val b = Pipe(s.createDataset(Seq("a", "b", "c")).repartition(1).sortWithinPartitions("value").as[String])
    val got = a.zipByIndex(b).ds.collect().sortBy(_._1).toList
    assert(got == List((1, "a"), (2, "b"), (3, "c")))
    // unequal lengths and partition counts: positions follow partition
    // order, the longer side is cut at the shorter; 8 slices over 3
    // rows leave partitions empty
    val long = Pipe(s.range(0, 10, 1, 3).as[Long])
    val short = Pipe(s.range(0, 4, 1, 2).map(i => "abcd".substring(i.toInt, i.toInt + 1)))
    val sparse = Pipe(s.range(0, 3, 1, 8).as[Long])
    assert(long.zipByIndex(short).ds.collect().sortBy(_._1).toList ==
      List((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")))
    assert(short.zipByIndex(long).ds.collect().sortBy(_._2).toList ==
      List(("a", 0L), ("b", 1L), ("c", 2L), ("d", 3L)))
    assert(sparse.zipByIndex(long).ds.collect().sortBy(_._1).toList ==
      List((0L, 0L), (1L, 1L), (2L, 2L)))
    // a pipe zipped with itself pairs each element with itself
    assert(long.zipByIndex(long).ds.collect().sortBy(_._1).toList ==
      (0L until 10L).map(i => (i, i)).toList)
    // struct-encoded elements ride through as structs
    val pairs = Pipe(s.range(0, 3, 1, 2).map(i => (i, i * 10)))
    assert(pairs.zipByIndex(short).ds.collect().sortBy(_._1._1).toList ==
      List(((0L, 0L), "a"), ((1L, 10L), "b"), ((2L, 20L), "c")))
  }

  test("explain renders the plan") {
    val s = spark; import s.implicits._
    assert(pipe(5).map(_ + 1).explain().contains("Physical Plan"))
  }

  test("fluent catch chain: mapAttempt → catchDrop/catchReplace") {
    val s = spark; import s.implicits._
    val risky = Pipe(s.createDataset(Seq(1, 2, 0, 4))).mapAttempt(12 / _)
    assert(risky.catchDrop().ds.collect().sorted.toList == List(3, 6, 12))
    assert(risky.catchReplace(-1).ds.collect().sorted.toList == List(-1, 3, 6, 12))
  }

  test("re-iteration: every action re-executes the source (thunk semantics)") {
    // reference: a () => Iterable source is re-called per iteration
    // (streamable/stream.py:54-66); Spark re-runs the plan per action
    val s = spark; import s.implicits._
    val passes = s.sparkContext.longAccumulator("passes")
    val p = pipe(10).tap(_ => passes.add(1))
    p.count(); p.count()
    assert(passes.value == 20L)
  }

  test("describe renders the fluent chain in reference repr style (golden)") {
    val s = spark; import s.implicits._
    val p = pipe(4)
      .map(_ * 2)
      .filter(_ > 2)
      .mapConcurrent(identity, concurrency = 2, ordered = false)
      .grouped(3)
      .flatten[Long]
      .distinct
      .truncate(10)
    // mirrors the reference golden-string contract
    // (tests/test_stream.py:242-285): one line per op, source->sink
    assert(p.describe ==
      """Pipe(source)
        |  .map(<function>)
        |  .filter(<function>)
        |  .map(<function>, concurrency=2, ordered=false)
        |  .group(size=3)
        |  .flatten()
        |  .distinct()
        |  .truncate(count=10)""".stripMargin)
    // and the catch chain renders through the implicit extension
    val c = pipe(3).mapAttempt(x => 6 / x).catchReplace(-1)
    assert(c.describe.endsWith(".catch(<function>, replacement=-1)"))
    // desugared ops re-label as the single op the user wrote
    assert(pipe(3).groupedBy(_ % 2).describe.endsWith(".group(by=<function>)"))
    assert(pipe(3).tapAsync(_ => scala.concurrent.Future.unit, concurrency = 2)
      .describe.endsWith(".aforeach(<function>, concurrency=2, ordered=true)"))
  }

  test("queries are also runnable through the spark.sql entry point") {
    val s = spark
    graft.ops.Relational.registerViews(s, sf0001)
    val viaSql = s.sql(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toList
    val viaDf = graft.ops.Relational.t(s, sf0001, "lineitem")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toList
    assert(viaSql == viaDf)
  }
}
