package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for flat records (numbers, strings, booleans,
  * nested maps and sequences). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

final case class Span(id: Int, parent: Int, pipeline: String, name: String,
    start: Double, var end: Double = Double.NaN)

/** Spans in epoch milliseconds (nanoTime-resolved), kept in memory and
  * written out when the run ends. Pipeline spans are always recorded —
  * they are the end-to-end walls. With tracing on, the job group of
  * every Spark job names the pipeline and phase that submitted it, so
  * the listener's job, stage and task records attach to their span. */
final class Tracer(val enabled: Boolean) {

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile var spark: SparkSession = _

  def span[T](name: String, pipeline: String = null)(body: => T): T = {
    val parent = stack.headOption
    val pid = Option(pipeline).orElse(parent.map(_.pipeline)).getOrElse("")
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), pid, name, now())
    spans += s
    stack = s :: stack
    val group = if (enabled && spark != null) Some(s"pb|$pid|$name") else None
    group.foreach(g => spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false))
    try body
    finally {
      s.end = now()
      stack = stack.tail
      if (group.isDefined) {
        stack.headOption match {
          case Some(p) if spark != null =>
            val g = s"pb|${p.pipeline}|${p.name}"
            spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
          case _ => spark.sparkContext.clearJobGroup()
        }
      }
    }
  }

  /** Jobs submitted under a job group Spark sets itself (a streaming
    * query's run id) belong to the innermost open span. */
  private val aliases = ArrayBuffer[(String, String)]()
  def alias(group: String): Unit =
    stack.headOption.foreach(s => aliases += group -> s"pb|${s.pipeline}|${s.name}")

  def write(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try {
      spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "pipeline" -> s.pipeline,
          "name" -> s.name, "start" -> s.start, "end" -> s.end)))
        w.newLine()
      }
      aliases.foreach { case (g, to) =>
        w.write(Json(Map("alias" -> g, "group" -> to)))
        w.newLine()
      }
    } finally w.close()
  }
}

/** Scheduler and executor records from Spark's public listener API:
  * one line per job, stage and task, tagged with the job group. */
final class SchedListener extends SparkListener {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def group(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    e.stageIds.foreach(id => stageGroup.put(id, g))
    lines.add(Json(Map("kind" -> "job", "job" -> e.jobId, "group" -> g,
      "start" -> e.time, "stages" -> e.stageIds)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lines.add(Json(Map("kind" -> "job_end", "job" -> e.jobId, "end" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    lines.add(Json(Map("kind" -> "stage", "stage" -> s.stageId,
      "group" -> stageGroup.getOrDefault(s.stageId, ""),
      "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val base = Map[String, Any]("kind" -> "task", "stage" -> e.stageId,
      "group" -> stageGroup.getOrDefault(e.stageId, ""),
      "start" -> i.launchTime, "end" -> i.finishTime)
    val metrics: Map[String, Any] = if (m == null) Map.empty else Map(
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
      "ser_ms" -> m.resultSerializationTime, "get_ms" -> i.gettingResultTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input" -> m.inputMetrics.bytesRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_rows" -> m.outputMetrics.recordsWritten)
    lines.add(Json(base ++ metrics))
  }

  def drainTo(w: BufferedWriter): Unit = {
    var l = lines.poll()
    while (l != null) { w.write(l); w.newLine(); l = lines.poll() }
  }
}

/** Catalyst phase times (QueryExecution.tracker) and named observed
  * metrics of every action. */
final class PlanListener extends QueryExecutionListener {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs) }
    val observed = qe.observedMetrics.map { case (k, row) =>
      k -> row.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap }
    lines.add(Json(Map("kind" -> "qe", "func" -> funcName, "phases" -> phases,
      "observed" -> observed)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drainTo(w: BufferedWriter): Unit = {
    var l = lines.poll()
    while (l != null) { w.write(l); w.newLine(); l = lines.poll() }
  }
}
