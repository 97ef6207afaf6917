package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Plan dump for the optimization rounds: writes `.explain("formatted")`
  * output for named registry queries to files, one per query, under the
  * same session config the bench uses — so the committed before/after
  * plan artifacts (plans/rNN/<query>_{before,after}.txt) describe the
  * exact plans the bench times. Usage:
  *   sbt "runMain graft.Plans <outDir> <suffix> [name,name,...]"
  * (no names = every registry query). A query that reads a persisted
  * artifact builds it while its DataFrame is built, before the plan is
  * taken, so the dump shows the artifact-served read the bench times;
  * a run builds only the artifacts its selected queries read.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (outDir, suffix, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(Harness.names(f)))
      case _ =>
        System.err.println(
          "usage: graft.Plans <outDir> <suffix> [name,name,...]")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Harness.select(only, Set.empty)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      } catch { case NonFatal(e) =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
