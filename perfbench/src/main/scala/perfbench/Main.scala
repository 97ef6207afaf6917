package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --out DIR --seconds S
  *   --trace 0|1 --cpus N
  *
  * Sets the session up three to nine times (each in a fresh SparkContext
  * with its own warehouse, so the artifact builds really run) and keeps
  * the last one,
  * runs one cold pass, then steady passes until S seconds have been
  * measured and the workload's minimum number of them has run, and
  * writes `result.json` (plus `spans.jsonl` and `events.jsonl` when
  * tracing) and the outputs the checker compares under the output
  * directory. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus").toInt
    val tracer = new Tracer(opt("trace") == "1")
    new File(out).mkdirs()
    val workload = Workload(opt("workload"), opt("inputs"), out, cpus, tracer)

    var spark: SparkSession = null
    val sched = new SchedListener
    val plans = new PlanListener
    // At least three set-ups, more while the warm ones (all but the
    // first) have taken under a second in all: a set-up of a tenth of a
    // second needs more samples for a steady median.
    val setupS = ArrayBuffer[Double]()
    while (setupS.size < 3 || (setupS.size < 9 && setupS.drop(1).sum < 1.0)) {
      val rep = setupS.size + 1
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("setup", s"setup$rep") {
        val s = session(s"$out/warehouse$rep", cpus)
        if (tracer.enabled) {
          s.sparkContext.addSparkListener(sched)
          s.listenerManager.register(plans)
        }
        tracer.spark = s
        workload.setup(s)
        s
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val passes = ArrayBuffer[PassRecord]()
    passes += workload.pass(spark, 0)
    val tSteady = System.nanoTime()
    while (passes.size < 1 + workload.minSteadyPasses ||
        (System.nanoTime() - tSteady) / 1e9 < seconds)
      passes += workload.pass(spark, passes.size)
    val extra = workload.finish(spark, passes.toSeq)

    if (tracer.enabled) {
      org.apache.spark.BusDrain(spark.sparkContext)
      tracer.write(s"$out/spans.jsonl")
      val w = new BufferedWriter(new FileWriter(s"$out/events.jsonl"))
      try { sched.drainTo(w); plans.drainTo(w) } finally w.close()
    }
    val result = Map(
      "workload" -> workload.name,
      "cpus" -> cpus,
      "setup_s" -> setupS.toSeq,
      "passes" -> passes.map(_.toMap),
      "peak_rss_mb" -> peakRssMb(),
      "extra" -> extra)
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    spark.stop()
  }

  def session(warehouse: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** One pass over a workload: its wall, the wall of each pipeline in it,
  * the unit latencies it produced (pipelines, elements or events) and
  * whatever else the workload reports about it. */
final case class PassRecord(index: Int, wallS: Double, pipelines: Seq[(String, Double)],
    failed: Seq[String], extra: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("index" -> index, "wall_s" -> wallS,
    "pipelines" -> pipelines.map { case (n, w) => Map("name" -> n, "wall_s" -> w) },
    "failed" -> failed) ++ extra
}
