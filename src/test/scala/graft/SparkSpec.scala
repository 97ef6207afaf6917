package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.scalactic.source.Position
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.stream.SessionStrategy

/** Shared local SparkSession for specs (one JVM-wide session — Spark
  * getOrCreate caches it, so suites share safely). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with `strategy` out of the session's planner. A
    * placeholder that plans nothing and equals `strategy` holds its
    * place, so a table read inside `body`, which installs the
    * strategy, finds it already there; afterwards the strategy is back
    * where it was, or absent if it was. */
  protected def withoutStrategy[A](strategy: SessionStrategy)(body: => A): A = {
    val off = new SparkStrategy {
      override def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
      override def equals(o: Any): Boolean = o == strategy
      override def hashCode: Int = strategy.hashCode
    }
    val x = spark.experimental
    val had = x.synchronized {
      val had = x.extraStrategies.contains(strategy)
      x.extraStrategies =
        if (had) x.extraStrategies.map(s => if (s eq strategy) off else s)
        else x.extraStrategies :+ off
      had
    }
    try body
    finally x.synchronized {
      x.extraStrategies =
        if (had) x.extraStrategies.map(s => if (s eq off) strategy else s)
        else x.extraStrategies.filterNot(_ eq off)
    }
  }

  /** Runs `body` with each `kv` conf set; afterwards each key is back
    * to its earlier value, or unset if it had none. */
  protected def withConf[A](kv: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    try { kv.foreach { case (k, v) => conf.set(k, v) }; body }
    finally prev.foreach { case (k, p) => p.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** The jobs started while `body` runs, each as its stage names joined
    * by ';'. A listener records every job start; one sentinel RDD
    * action then flushes the asynchronous listener bus (events arrive
    * in order, so once the sentinel's start has landed every earlier
    * event has too, on every listener), and its own job is left out. */
  protected def jobsDuring(body: => Unit): Seq[String] = {
    val sentinel = s"jobsDuring-sentinel-${java.util.UUID.randomUUID}"
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        names.add(js.stageInfos.map(_.name).mkString(";")); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setCallSite(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      def seen = names.toArray(Array.empty[String]).toSeq
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.exists(_.contains(sentinel)) && System.nanoTime < deadline)
        Thread.sleep(20)
      assert(seen.exists(_.contains(sentinel)), "sentinel job event never arrived")
      seen.filterNot(_.contains(sentinel))
    } finally sc.removeSparkListener(listener)
  }

  /** A case that runs with `strategy` out of the session's planner. */
  protected def testWithout(strategy: SessionStrategy)(name: String)(body: => Any)(
      implicit pos: Position): Unit =
    test(name)(withoutStrategy(strategy)(body))

  /** ONE driver-side definition of the kernel cosine arithmetic
    * (left-to-right double accumulation, sqrt·sqrt denominator) and
    * the r3/r4 floor-roundings — the reference model several specs
    * pin operators against; a single copy so the specs cannot pin
    * divergent models. */
  protected def modelCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  protected def modelCosD(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  protected def modelR4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
  protected def modelR3(x: Double): Double = math.floor(x * 1000 + 0.5) / 1000
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
