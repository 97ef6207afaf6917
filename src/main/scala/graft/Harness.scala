package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
import graft.ops.{Similarity, TextAnalysis}

/** Set-up shared by the harness mains (Bench, Verify, Plans,
  * ScaleCheck): the one session, the one registry filter, and the
  * persisted artifacts the registry's artifact-served queries read,
  * built before any query runs so the queries stay pure readers.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` (default 4): the local core count and the
    * shuffle partition count of every harness session. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one harness session: `local[cpus]`,
    * `spark.sql.shuffle.partitions = cpus`, UI off, log level WARN.
    * UTC is set explicitly, not via build.sbt's forked -D flag: the
    * NTZ events cast (Relational.events) is value-preserving only under
    * a UTC session, so an entry point launched outside the sbt fork
    * (spark-submit) must not silently shift event time. `nanosAsLong`
    * reads the testdata generations that shipped `ts` as
    * TIMESTAMP(NANOS). */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A comma-separated name list, empty items dropped. */
  def names(csv: String): Set[String] = csv.split(",").filter(_.nonEmpty).toSet

  /** The registry queries a harness run covers, sorted by name: `only`
    * (when given) restricts, `skip` excludes. A name in either that the
    * registry does not know is rejected — a typo'd filter would
    * otherwise run nothing (or the query it meant to skip) and exit 0. */
  def select(only: Option[Set[String]], skip: Set[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val registry = SparkEntry.queries
    val unknown = (only.getOrElse(Set.empty) ++ skip) -- registry.keySet
    require(unknown.isEmpty,
      s"unknown registry queries: ${unknown.toSeq.sorted.mkString(",")}")
    registry.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.contains(n)) && !skip.contains(n)
    }
  }

  /** One persisted artifact: its ensure call and the registry queries
    * that read it (named in the set-up warning). */
  final case class Artifact(name: String, queries: String,
      build: (SparkSession, String) => Any)

  val artifacts: Seq[Artifact] = Seq(
    Artifact("ensureIvfIndex", "s11/s22/s26-s30",
      Similarity.ensureIvfIndex(_, _)),
    Artifact("ensureSemanticIndex", "d18",
      Similarity.ensureSemanticIndex(_, _)),
    Artifact("ensureCodebook",
      "the trained-codebook families (s06/s07/s31-s37/d12/d13/s13/c13)",
      Similarity.ensureCodebook(_, _)),
    Artifact("ensureTrainedIvfIndex", "s33-s37",
      Similarity.ensureTrainedIvfIndex(_, _)),
    Artifact("ensureBpeModel",
      "the tokenizer families (t18/t19/t20/c20/c22)",
      TextAnalysis.ensureBpeModel(_, _)))

  /** Build every artifact for `dir`, each under its own guard. A failed
    * build is survivable (the affected queries rebuild inline), so it
    * degrades to a WARN line naming those queries and what the failure
    * costs them (`effect`) — never to an aborted run: in r19 one
    * unguarded set-up failure zeroed a whole correctness round. */
  def ensureArtifacts(s: SparkSession, dir: String, tag: String,
      effect: String): Unit =
    artifacts.foreach { a =>
      try a.build(s, dir) catch { case NonFatal(e) =>
        System.err.println(
          s"[$tag] WARN ${a.name} failed — ${a.queries} $effect: $e")
      }
    }
}
