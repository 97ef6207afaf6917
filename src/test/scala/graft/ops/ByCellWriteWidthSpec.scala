package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The by-cell layout is written at the session's shuffle width: AQE
  * does not coalesce the write's exchange by bytes, so the cell files
  * are created by `min(cells, shuffle partitions)` tasks, not one. */
class ByCellWriteWidthSpec extends SparkSpec {

  test("buildIvfIndex writes its layout with min(cells, shuffle partitions) tasks") {
    val writeStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        if (info.taskMetrics != null &&
            info.taskMetrics.outputMetrics.recordsWritten > 0)
          writeStages.add(info.numTasks)
        ()
      }
    }
    val out = Files.createTempDirectory("graft-bycell-width").toString + "/index"
    // jobsDuring's sentinel flushes the listener bus: once it returns,
    // every earlier stage-completed event has arrived here too
    spark.sparkContext.addSparkListener(listener)
    try jobsDuring(Similarity.buildIvfIndex(spark, sf0001, out))
    finally spark.sparkContext.removeSparkListener(listener)
    val cells = new java.io.File(out).listFiles
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(cells == 32 && width == 4)
    assert(writeStages.toArray.toSeq == Seq(math.min(cells, width)),
      s"write stages' task counts: ${writeStages.toArray.toSeq}")
  }
}
