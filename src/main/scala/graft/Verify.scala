package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each selected SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the selected queries' oracle SQL), for the
  * DuckDB compare in tools/compare.py. A query that reads a persisted
  * artifact builds it on first use, inside its own try. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names — dev-loop
    // filter for verifying a new operator without the full dump
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(Harness.names(f)))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [name,name,...]")
        sys.exit(2)
    }
    val queries = Harness.select(only, Set.empty)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the selected queries' oracles only: tools/compare.py counts an
    // oracle with no output directory (a query that threw) as MISSING
    val selected = queries.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
