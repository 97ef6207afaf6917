package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Future, Promise}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.stream.{Attempt, Pipe}
import graft.streaming.Streams

trait Workload {
  def name: String
  def setup(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int): PassRecord
  /** Steady passes a run makes at least, even past the measured seconds:
    * every steady figure is a minimum over passes. */
  def minSteadyPasses: Int = 2
  /** Runs after the last pass: saves what the checker compares and
    * returns workload-level figures for result.json. */
  def finish(spark: SparkSession, passes: Seq[PassRecord]): Map[String, Any]
}

object Workload {
  def apply(name: String, inputs: String, out: String, cpus: Int, tracer: Tracer): Workload =
    name match {
      case "registry-sf0.1" => new QueryWorkload(name, inputs, out, tracer, sink = false)
      case "scale-write" => new QueryWorkload(name, inputs, out, tracer, sink = true)
      case "io-enrich" => new IoEnrich(inputs, out, cpus, tracer)
      case "ingest-stream" => new IngestStream(inputs, out, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Little-endian float32 file of unit latencies (ms) for one pass. */
  def writeUnits(out: String, index: Int, xs: Array[Float]): Unit = {
    val buf = ByteBuffer.allocate(4 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(buf.putFloat)
    Files.createDirectories(Paths.get(s"$out/units"))
    Files.write(Paths.get(s"$out/units/p$index.f32"), buf.array())
  }

  def saveRows(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
}

/** Registry pipelines in the order listed in `queries.txt` (the seeded
  * order), each consumed by `collect()` or, with `sink`, by a parquet
  * write that overwrites its own directory. Artifact builds the
  * registry reads run in setup. */
final class QueryWorkload(val name: String, inputs: String, out: String, tracer: Tracer,
    sink: Boolean) extends Workload {
  private val corpus = s"$inputs/corpus"
  private val queries = Files.readAllLines(Paths.get(s"$inputs/queries.txt")).asScala
    .map(_.trim).filter(_.nonEmpty).toSeq
  private val artifacts = Files.readAllLines(Paths.get(s"$inputs/artifacts.txt")).asScala
    .map(_.trim).filter(_.nonEmpty).toSeq
  private val kept = mutable.Map[String, (Array[Row], StructType)]()
  // the executor-heavy pipelines keep getting faster for three passes as
  // their code is compiled: the minimum needs the third
  override def minSteadyPasses: Int = if (sink) 3 else 2

  def setup(spark: SparkSession): Unit = artifacts.foreach { a =>
    tracer.span(s"artifact.$a") {
      a match {
        case "ensureIvfIndex" => graft.ops.Similarity.ensureIvfIndex(spark, corpus)
        case "ensureSemanticIndex" => graft.ops.Similarity.ensureSemanticIndex(spark, corpus)
        case "ensureCodebook" => graft.ops.Similarity.ensureCodebook(spark, corpus)
        case "ensureTrainedIvfIndex" => graft.ops.Similarity.ensureTrainedIvfIndex(spark, corpus)
        case "ensureBpeModel" => graft.ops.TextAnalysis.ensureBpeModel(spark, corpus)
        case other => throw new IllegalArgumentException(s"unknown artifact $other")
      }
    }
  }

  def pass(spark: SparkSession, index: Int): PassRecord = {
    val failed = ArrayBuffer[String]()
    val t0 = System.nanoTime()
    val walls = queries.map { q =>
      val fn = SparkEntry.queries(q)
      val p0 = System.nanoTime()
      try tracer.span("pipeline", s"$q#$index") {
        val df = tracer.span("construct")(fn(spark, corpus))
        // a parquet write plans its own command inside execute
        if (tracer.enabled && !sink) tracer.span("plan")(df.queryExecution.executedPlan)
        tracer.span("execute") {
          if (sink) df.write.mode("overwrite").parquet(s"$out/sink/$q")
          else kept(q) = (df.collect(), df.schema)
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $q failed: $e")
          failed += q
      }
      val wall = (System.nanoTime() - p0) / 1e9
      spark.catalog.clearCache()
      q -> wall
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Workload.writeUnits(out, index, walls.map(w => (w._2 * 1000).toFloat).toArray)
    PassRecord(index, wall, walls, failed.toSeq)
  }

  def finish(spark: SparkSession, passes: Seq[PassRecord]): Map[String, Any] = {
    kept.foreach { case (q, (rows, schema)) =>
      Workload.saveRows(spark, rows.toSeq, schema, s"$out/results/$q") }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    Map("queries" -> queries, "sink" -> sink)
  }
}

final case class EvIn(event_id: Long, props: String, part: Int, seq: Long)
final case class Enriched(event_id: Long, k: Long, score: Long, part: Int, seq: Long,
    t_start: Long, t_end: Long)
final case class Emitted(event_id: Long, k: Long, score: Long, part: Int, seq: Long,
    t_start: Long, t_end: Long, t_emit: Long)
final class FetchFailed(id: Long) extends RuntimeException(s"fetch failed for event $id")

/** The simulated enrichment service: per event a latency and a failure
  * flag from the generated fetch table, and the props JSON parse. */
final case class FetchTable(latencyUs: Array[Long], fail: Array[Boolean], score: Array[Long])

object Fetch {
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  lazy val timer: ScheduledExecutorService = Executors.newScheduledThreadPool(2, r => {
    val t = new Thread(r, "perfbench-fetch-timer"); t.setDaemon(true); t })

  def complete(t: FetchTable, e: EvIn, t0: Long): Enriched = {
    val i = e.event_id.toInt
    if (t.fail(i)) throw new FetchFailed(e.event_id)
    val k = mapper.readTree(e.props).get("k").asLong()
    Enriched(e.event_id, k, t.score(i), e.part, e.seq, t0, System.nanoTime())
  }

  def blocking(t: FetchTable, e: EvIn): Enriched = {
    val t0 = System.nanoTime()
    val due = t0 + t.latencyUs(e.event_id.toInt) * 1000L
    var left = due - System.nanoTime()
    while (left > 0) { LockSupport.parkNanos(left); left = due - System.nanoTime() }
    complete(t, e, t0)
  }

  def async(t: FetchTable, e: EvIn): Future[Attempt[Enriched]] = {
    val t0 = System.nanoTime()
    val p = Promise[Attempt[Enriched]]()
    timer.schedule(new Runnable {
      def run(): Unit = p.success(Attempt.of(complete(t, e, t0)))
    }, t.latencyUs(e.event_id.toInt), TimeUnit.MICROSECONDS)
    p.future
  }

  def emit(x: Enriched): Emitted =
    Emitted(x.event_id, x.k, x.score, x.part, x.seq, x.t_start, x.t_end, System.nanoTime())
}

/** The reference's I/O-bound ETL shape as a Pipe over the events rows:
  * fetch (simulated latency, seeded failures) then props parse, errors
  * through the Attempt channel and dropped by catchDrop, observe on
  * the result. Three pipelines: mapConcurrent ordered, mapConcurrent
  * unordered, mapAsync ordered. */
final class IoEnrich(inputs: String, out: String, cpus: Int, tracer: Tracer) extends Workload {
  val name = "io-enrich"
  val window = 32
  private val modes = Seq("concurrent_ordered", "concurrent_unordered", "async_ordered")
  private var events: Dataset[EvIn] = _
  private var table: Broadcast[FetchTable] = _
  private var inputRows = 0L
  private val kept = mutable.Map[String, Array[Emitted]]()

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    def longs(col: String): Array[Long] = {
      val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$inputs/fetch_$col.bin")))
        .order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.remaining / 8)(b.getLong())
    }
    val lat = longs("latency_us")
    val score = longs("score")
    val fail = Files.readAllBytes(Paths.get(s"$inputs/fetch_fail.bin")).map(_ != 0)
    table = spark.sparkContext.broadcast(FetchTable(lat, fail, score))
    events = tracer.span("artifact.eventsCache") {
      val ev = spark.read.parquet(s"$inputs/corpus/events.parquet")
        .select("event_id", "props").repartition(cpus)
        .as[(Long, String)]
        .mapPartitions { it =>
          val part = TaskContext.getPartitionId()
          it.zipWithIndex.map { case ((id, props), i) => EvIn(id, props, part, i.toLong) }
        }.persist()
      inputRows = ev.count()
      ev
    }
  }

  private def pipeline(spark: SparkSession, mode: String): Pipe[Emitted] = {
    import spark.implicits._
    val t = table
    val src = Pipe(events)
    val attempts = mode match {
      case "concurrent_ordered" =>
        src.mapConcurrent(e => Attempt.of(Fetch.blocking(t.value, e)), window, ordered = true)
      case "concurrent_unordered" =>
        src.mapConcurrent(e => Attempt.of(Fetch.blocking(t.value, e)), window, ordered = false)
      case "async_ordered" =>
        src.mapAsync(e => Fetch.async(t.value, e), window, ordered = true)
    }
    attempts.observeAttempts(s"io_$mode").catchDrop().map(Fetch.emit)
  }

  def pass(spark: SparkSession, index: Int): PassRecord = {
    val failed = ArrayBuffer[String]()
    val lat = ArrayBuffer[Float]()
    val caught = mutable.Map[String, Long]()
    val t0 = System.nanoTime()
    val walls = modes.map { m =>
      // Each pipeline starts from a collected heap: a young-generation
      // pause delays every element in flight, so otherwise the element
      // tail would follow where the previous pipeline left the heap.
      System.gc()
      val p0 = System.nanoTime()
      try tracer.span("pipeline", s"$m#$index") {
        val p = tracer.span("construct")(pipeline(spark, m))
        if (tracer.enabled) tracer.span("plan")(p.ds.queryExecution.executedPlan)
        val rows = tracer.span("execute")(p.ds.collect())
        rows.foreach(r => lat += ((r.t_emit - r.t_start) / 1e6).toFloat)
        caught(m) = inputRows - rows.length
        kept(m) = rows
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $m failed: $e")
          failed += m
      }
      m -> (System.nanoTime() - p0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Workload.writeUnits(out, index, lat.toArray)
    PassRecord(index, wall, walls, failed.toSeq,
      Map("caught" -> caught, "elements" -> lat.size))
  }

  def finish(spark: SparkSession, passes: Seq[PassRecord]): Map[String, Any] = {
    import spark.implicits._
    kept.foreach { case (m, rows) =>
      rows.toSeq.zipWithIndex.map { case (r, pos) => (pos, r) }.toDS()
        .select($"_1".as("pos"), $"_2.*").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$m")
    }
    Map("window" -> window, "input_rows" -> inputRows, "modes" -> modes)
  }
}

/** Open-loop document ingest: the driver thread offers documents at a
  * fixed rate whatever the stream's progress, each stamped with the
  * time it was due, into a MemoryStream read by
  * curatedDocStream → nearDupProbeStreamIndexed against a band index
  * built in setup. Each pass runs the nominal rate; after the passes a
  * ladder of rates runs in one query. */
final class IngestStream(inputs: String, out: String, tracer: Tracer) extends Workload {
  val name = "ingest-stream"
  val nominalRate = 100.0
  val passSeconds = 2.0
  val ladder = Seq(50.0, 100.0, 200.0, 400.0)
  val stepSeconds = 1.5

  private var index: DataFrame = _
  private var feed: Array[(String, String)] = _
  private var next = 0L
  private val sent = ArrayBuffer[Streams.Doc]()
  private val pairs = ArrayBuffer[Row]()
  private var pairSchema: StructType = _

  def setup(spark: SparkSession): Unit = {
    feed = spark.read.parquet(s"$inputs/stream.parquet").select("text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)))
    index = tracer.span("artifact.nearDupBandIndex") {
      val ix = Streams.nearDupBandIndex(spark.read.parquet(s"$inputs/corpus/documents.parquet"))
        .persist()
      ix.count()
      ix
    }
  }

  private case class Offered(offset: Long, due: Array[Double], lateMs: Double)
  private case class Batch(start: Long, end: Long, endMs: Double, durMs: Double, rows: Long,
      stateRows: Long)

  /** Offers `steps` (rate, seconds) back to back in one query. Returns,
    * per step, the event latencies (ms), the backlog at the step's end
    * (documents offered but not yet processed) and how late the
    * generator ran; then the query's batches, its wall (first offer to
    * last batch end, s) and the number of documents offered. */
  private def run(spark: SparkSession, tag: String, steps: Seq[(Double, Double)])
      : (Seq[(Array[Float], Long, Double)], Seq[Batch], Double, Long) = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Streams.Doc]
    val sinkName = s"pairs_${tag.replaceAll("[^A-Za-z0-9]", "_")}"
    val q = Streams.nearDupProbeStreamIndexed(Streams.curatedDocStream(mem.toDF()), index)
      .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
    tracer.alias(q.runId.toString)
    val offered = ArrayBuffer[(Int, Offered)]()
    val stepEnds = ArrayBuffer[Double]()
    val t0 = tracer.now()
    var stepStart = t0
    steps.zipWithIndex.foreach { case ((rate, secs), si) =>
      val n = math.round(rate * secs).toInt
      var i = 0
      while (i < n) {
        val due = stepStart + i * 1000.0 / rate
        val wait = due - tracer.now()
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        val now = tracer.now()
        val dues = ArrayBuffer[Double]()
        val docs = ArrayBuffer[Streams.Doc]()
        while (i < n && stepStart + i * 1000.0 / rate <= now) {
          val d = stepStart + i * 1000.0 / rate
          val (text, lang) = feed((next % feed.length).toInt)
          docs += Streams.Doc(100000000L + next, new Timestamp(d.toLong), lang, text)
          dues += d
          next += 1; i += 1
        }
        val off = mem.addData(docs.toSeq).asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
        sent ++= docs
        offered += si -> Offered(off, dues.toArray, now - dues.head)
      }
      stepStart += secs * 1000.0
      stepEnds += stepStart
      val wait = stepStart - tracer.now()
      if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
    }
    q.processAllAvailable()
    val batches = q.recentProgress.filter(_.numInputRows >= 0).map { p =>
      val src = p.sources.head
      def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
      Batch(off(src.startOffset), off(src.endOffset), startMs + dur, dur, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum)
    }.filter(b => b.end > b.start).toSeq
    q.stop()
    val got = spark.table(sinkName).collect()
    if (pairSchema == null) pairSchema = spark.table(sinkName).schema
    pairs ++= got
    def endOf(off: Long): Double =
      batches.find(b => off > b.start && off <= b.end).map(_.endMs).getOrElse(Double.NaN)
    val perStep = steps.indices.map { si =>
      val mine = offered.filter(_._1 == si).map(_._2)
      val lat = mine.flatMap(o => o.due.map(d => (endOf(o.offset) - d).toFloat)).toArray
      val stepEnd = stepEnds(si)
      val processed = offered.filter { case (_, o) => endOf(o.offset) <= stepEnd }
        .map(_._2.due.length).sum
      val offeredByEnd = offered.filter(_._1 <= si).map(_._2.due.length).sum
      val late = if (mine.isEmpty) 0.0 else mine.map(_.lateMs).max
      (lat, (offeredByEnd - processed).toLong, late)
    }
    val lastEnd = batches.map(_.endMs).foldLeft(t0)(math.max)
    (perStep, batches, (lastEnd - t0) / 1000.0, offered.map(_._2.due.length).sum.toLong)
  }

  def pass(spark: SparkSession, index: Int): PassRecord = {
    val (steps, batches, wall, n) = tracer.span("pipeline", s"nominal#$index") {
      run(spark, s"p$index", Seq(nominalRate -> passSeconds))
    }
    val (lat, backlog, late) = steps.head
    Workload.writeUnits(out, index, lat)
    PassRecord(index, wall, Seq(s"nominal" -> wall), Nil, Map(
      "events" -> n, "backlog_end" -> backlog, "generator_late_ms" -> late,
      "batches" -> batches.map(b => Map("dur_ms" -> b.durMs, "rows" -> b.rows,
        "state_rows" -> b.stateRows))))
  }

  def finish(spark: SparkSession, passes: Seq[PassRecord]): Map[String, Any] = {
    val (steps, batches, wall, n) = tracer.span("pipeline", "ladder") {
      run(spark, "ladder", ladder.map(_ -> stepSeconds))
    }
    Files.createDirectories(Paths.get(s"$out/units"))
    steps.zipWithIndex.foreach { case ((lat, _, _), i) =>
      val buf = ByteBuffer.allocate(4 * lat.length).order(ByteOrder.LITTLE_ENDIAN)
      lat.foreach(buf.putFloat)
      Files.write(Paths.get(s"$out/units/ladder$i.f32"), buf.array())
    }
    // the stream ≡ batch contract: the same probe run as a batch over
    // every document the stream was sent
    import spark.implicits._
    val allSent = sent.toSeq.toDF()
    val batch = Streams.nearDupProbeStreamIndexed(allSent, index).collect()
    Workload.saveRows(spark, pairs.toSeq, pairSchema, s"$out/results/stream_pairs")
    Workload.saveRows(spark, batch.toSeq, pairSchema, s"$out/results/batch_pairs")
    Map("sent" -> sent.size, "ladder" -> ladder.zip(steps).map { case (rate, (_, backlog, late)) =>
      Map("rate" -> rate, "backlog_end" -> backlog, "generator_late_ms" -> late) },
      "ladder_wall_s" -> wall, "ladder_events" -> n,
      "ladder_batches" -> batches.map(b => Map("dur_ms" -> b.durMs, "rows" -> b.rows,
        "state_rows" -> b.stateRows)),
      "nominal_rate" -> nominalRate, "step_seconds" -> stepSeconds)
  }
}
