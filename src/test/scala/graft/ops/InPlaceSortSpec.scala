package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The in-place sort: a global sort over a small materialized stage
  * runs in one task with no range shuffle, and only then. Each case
  * runs with [[OneSplitScanStrategy]] out of the planner: every
  * sf0.001 input is one split, which that strategy already sorts in
  * its scan task, so no stage would run for this one to act on. */
class InPlaceSortSpec extends SparkSpec {

  private def m01(): DataFrame = SparkEntry.queries("m01_media_meta")(spark, sf0001)

  /** The plan that ran: AQE's final plan after an action, without the
    * initial plan AdaptiveSparkPlanExec also prints. */
  private def finalPlan(df: DataFrame): String = (df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }).toString.toLowerCase

  testWithout(OneSplitScanStrategy)(
    "m01: the final plan sorts in one task with no range exchange, in " +
    "2 jobs, with the rows the range-shuffled sort gives") {
    val df = m01()
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    val jobs = jobsDuring { rows = df.collect().toSeq }.size
    val plan = finalPlan(df)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("coalesce 1"), plan)
    assert(jobs == 2, s"expected the stage job and the result job, saw $jobs")
    val ref = m01()
    val expected = withoutStrategy(InPlaceSortStrategy) {
      val r = ref.collect().toSeq
      assert(finalPlan(ref).contains("rangepartitioning"), finalPlan(ref))
      r
    }
    assert(rows.nonEmpty && rows == expected)
  }

  testWithout(OneSplitScanStrategy)(
    "an input above the one-partition size keeps its range exchange") {
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      val df = m01()
      df.collect()
      val plan = finalPlan(df)
      assert(plan.contains("rangepartitioning") && !plan.contains("coalesce 1"), plan)
    }
  }

  testWithout(OneSplitScanStrategy)(
    "the pre-execution plan is the one planned without the strategy") {
    val df = m01()
    val norm = (p: String) => p.replaceAll("plan_id=\\d+", "plan_id=N")
    val withIt = norm(df.queryExecution.executedPlan.toString)
    assert(withIt.toLowerCase.contains("rangepartitioning"), withIt)
    val without = withoutStrategy(InPlaceSortStrategy) {
      val qe = df.queryExecution.sparkSession.sessionState
        .executePlan(df.queryExecution.logical)
      norm(qe.executedPlan.toString)
    }
    assert(withIt == without)
  }

  testWithout(OneSplitScanStrategy)(
    "with AQE off the strategy never fires") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = m01()
      df.collect()
      val plan = finalPlan(df)
      assert(plan.contains("rangepartitioning") && !plan.contains("coalesce 1"), plan)
    }
  }

  testWithout(OneSplitScanStrategy)(
    "a sort over a Generate keeps its exchange") {
    val df = Relational.t(spark, sf0001, "nation")
      .groupBy("n_regionkey").agg(collect_list("n_name").as("names"))
      .select(explode(col("names")).as("n_name"))
      .orderBy("n_name")
    val rows = df.collect().map(_.getString(0)).toSeq
    assert(rows == rows.sorted && rows.size == 25)
    val plan = finalPlan(df)
    assert(plan.contains("rangepartitioning") && !plan.contains("coalesce 1"), plan)
  }
}
