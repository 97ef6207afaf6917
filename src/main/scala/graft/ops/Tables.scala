package graft.ops

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet table reader: every plain-path table or artifact
  * read in `graft.ops` goes through [[Tables.read]] (a glob such as
  * Layout's `batch=*` has no content stamp and reads directly).
  *
  * `s.read.parquet(path)` infers the schema by reading a footer in a
  * Spark job, so each read used to cost a job while the DataFrame was
  * still being built. This reader infers once per table content and
  * then hands Spark the schema it inferred, so a repeated read runs no
  * job.
  *
  * '''Key.''' One entry per qualified path, holding the key it was
  * inferred under:
  *  - the path's [[Artifacts.contentStamp]] (max data-file mtime and
  *    total bytes): a rewrite of the table, e.g. with an added column,
  *    moves it;
  *  - the session's explicitly set `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` values: they change what inference
  *    returns (`nanosAsLong` turns a TIMESTAMP(NANOS) column into a
  *    Long, or into an error when off).
  * A read whose key differs from the entry's infers again and replaces
  * the entry, so the cache holds at most one schema per path.
  *
  * '''Hit.''' `s.read.schema(cached).parquet(path)`: Spark skips
  * inference. The cached schema is the one Spark itself inferred, so
  * the relation and its plan are the ones an inferring read gives, and
  * each call still builds a new relation with fresh attribute ids
  * (self-joins behave as before).
  *
  * '''Missing path.''' No stamp can be taken, so the read falls through
  * to `s.read.parquet(path)` and raises Spark's own AnalysisException.
  *
  * Each read also installs [[InPlaceSortStrategy]] into the session:
  * every registry query reads through here, so every registry session
  * plans with it. */
object Tables {
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  def read(s: SparkSession, path: String): DataFrame = {
    InPlaceSortStrategy.install(s)
    val stamp =
      try Some(Artifacts.contentStamp(s, path))
      catch { case _: FileNotFoundException => None }
    stamp match {
      case None => s.read.parquet(path)
      case Some(st) =>
        val p = new org.apache.hadoop.fs.Path(path)
        val qualified =
          p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p).toString
        val key = s"$st|${parquetConf(s)}"
        schemas.get(qualified) match {
          case (k, schema) if k == key => s.read.schema(schema).parquet(path)
          case _ =>
            val df = s.read.parquet(path)
            schemas.put(qualified, (key, df.schema))
            df
        }
    }
  }

  private def parquetConf(s: SparkSession): String =
    s.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted.mkString(",")
}
