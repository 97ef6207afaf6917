package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import graft.ops.{Similarity, TextAnalysis}

/** Set-up shared by the harness mains (Bench, Verify, Plans): the
  * persisted artifacts the registry's artifact-served queries read,
  * built before any query runs so the queries stay pure readers.
  */
object Harness {

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
