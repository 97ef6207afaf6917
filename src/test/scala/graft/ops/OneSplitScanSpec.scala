package graft.ops

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** A file scan read as one input partition runs everything above it in
  * its one task: no shuffle, one job, the same rows. Anything else
  * plans as it did. */
class OneSplitScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  private def shuffles(p: SparkPlan) = collect(p) { case e: ShuffleExchangeExec => e }
  private def coalesced(p: SparkPlan) = collect(p) { case c: CoalesceExec => c }
  private def scans(p: SparkPlan) = collect(p) { case s: FileSourceScanExec => s }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Jobs started while `body` runs (listener plus one sentinel RDD
    * action that flushes the asynchronous listener bus). */
  private def jobsDuring(body: => Unit): Int = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        names.add(js.stageInfos.map(_.name).mkString(";")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.parallelize(Seq(1), 1).count()
      def sentinelSeen() =
        names.toArray(Array.empty[String]).exists(_.contains("OneSplitScanSpec"))
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen() && System.nanoTime < deadline) Thread.sleep(20)
      assert(sentinelSeen(), "sentinel job event never arrived")
      names.size - 1
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The rows `name` gives with the strategy out of the planner, which
    * then plans at least one shuffle. */
  private def rowsWithout(name: String): Seq[Row] = withoutStrategy(OneSplitScanStrategy) {
    val df = query(name)
    val rows = df.collect().toSeq
    assert(shuffles(df.queryExecution.executedPlan).nonEmpty)
    rows
  }

  for (name <- Seq("e03_top_users", "m01_media_meta"))
    test(s"$name at sf0.001: no shuffle, one job, the rows planned without the strategy") {
      val df = query(name)
      var rows = Seq.empty[Row]
      val jobs = jobsDuring { rows = df.collect().toSeq }
      val plan = df.queryExecution.executedPlan
      assert(shuffles(plan).isEmpty, plan)
      assert(coalesced(plan).nonEmpty, plan)
      assert(scans(plan).forall(_.inputRDD.getNumPartitions == 1), plan)
      assert(jobs == 1, s"expected one job, saw $jobs")
      assert(rows.nonEmpty && rows == rowsWithout(name))
    }

  test("a multi-split input keeps its exchange") {
    withConf("spark.sql.files.maxPartitionBytes" -> "16k") {
      val df = query("e03_top_users")
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan
      assert(scans(plan).exists(_.inputRDD.getNumPartitions > 1), plan)
      assert(shuffles(plan).nonEmpty && coalesced(plan).isEmpty, plan)
      assert(rows == rowsWithout("e03_top_users"))
    }
  }

  test("a one-split side joined to a multi-split side shuffles both to the shuffle width") {
    withConf("spark.sql.files.maxPartitionBytes" -> "16k",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      def joined = Relational.t(spark, sf0001, "lineitem")
        .join(Relational.t(spark, sf0001, "part"), col("l_partkey") === col("p_partkey"))
      val df = joined
      val n = df.count()
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case j: SortMergeJoinExec => j }.size == 1, plan)
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val ex = shuffles(plan)
      assert(ex.size == 2 && ex.forall(_.outputPartitioning.numPartitions == width), plan)
      // the strategy did fire on the one-split side: its Coalesce 1
      // sits below that side's exchange
      assert(coalesced(plan).size == 1, plan)
      assert(n == withoutStrategy(OneSplitScanStrategy)(joined.count()))
    }
  }

  test("with AQE off the one-split plan has no shuffle and the same rows") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = query("e03_top_users")
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan
      assert(shuffles(plan).isEmpty && coalesced(plan).nonEmpty, plan)
      assert(rows.nonEmpty && rows == rowsWithout("e03_top_users"))
    }
  }

  test("a streaming file read is left alone") {
    OneSplitScanStrategy.install(spark)
    val dir = Files.createTempDirectory("one_split_stream").toString
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    nation.write.mode("overwrite").parquet(s"$dir/in")
    val q = spark.readStream.schema(nation.schema).parquet(s"$dir/in")
      .groupBy("n_regionkey").count()
      .writeStream.format("memory").queryName("one_split_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(scans(plan).nonEmpty && coalesced(plan).isEmpty, plan)
      assert(spark.table("one_split_stream").count() == 5)
    } finally q.stop()
  }
}
