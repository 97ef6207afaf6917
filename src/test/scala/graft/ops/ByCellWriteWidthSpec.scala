package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** The by-cell layout is written at the session's shuffle width: AQE
  * does not coalesce the write's exchange by bytes, so the cell files
  * are created by `min(cells, shuffle partitions)` tasks, not one. */
class ByCellWriteWidthSpec extends SparkSpec {

  test("buildIvfIndex writes its layout with min(cells, shuffle partitions) tasks") {
    val writeStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        if (info.taskMetrics != null &&
            info.taskMetrics.outputMetrics.recordsWritten > 0)
          writeStages.add(info.numTasks)
        ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name).mkString(";")); ()
      }
    }
    val out = Files.createTempDirectory("graft-bycell-width").toString + "/index"
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.buildIvfIndex(spark, sf0001, out)
      // a sentinel job: once its start event has arrived, every
      // earlier stage-completed event has too
      spark.sparkContext.parallelize(Seq(1), 1).count()
      def sentinelSeen() =
        jobs.toArray(Array.empty[String]).exists(_.contains("ByCellWriteWidthSpec"))
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen() && System.nanoTime < deadline) Thread.sleep(20)
      assert(sentinelSeen(), "sentinel job event never arrived")
    } finally spark.sparkContext.removeSparkListener(listener)
    val cells = new java.io.File(out).listFiles
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(cells == 32 && width == 4)
    assert(writeStages.toArray.toSeq == Seq(math.min(cells, width)),
      s"write stages' task counts: ${writeStages.toArray.toSeq}")
  }
}
