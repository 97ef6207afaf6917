package graft.ops

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
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
  * the entry, so the cache holds at most one entry per path.
  *
  * '''Hit.''' `s.read.schema(cached).parquet(path)`: Spark skips
  * inference. The cached schema is the one Spark itself inferred, so
  * the relation and its plan are the ones an inferring read gives.
  *
  * '''Same session.''' Resolving even a schema-given read costs driver
  * time on every call: Spark looks the format up, builds a Hadoop
  * configuration and lists the files into a new file index. So the
  * entry also keeps the relation the last read resolved, with its
  * session, and a hit by that same session is
  * `s.baseRelationToDataFrame(relation)`: a new `LogicalRelation` over
  * the kept relation, as Spark's catalog serves a table's cached
  * relation. A relation reads with its own session's conf, so a hit by
  * another session resolves again and the entry then keeps that
  * session's relation. The key vouches for the kept file listing as it
  * does for the schema: a rewrite moves the stamp, and the next read
  * lists again. An entry holds its session until another session or
  * key replaces it.
  *
  * Every read gets fresh attribute ids, so self-joins behave as before.
  *
  * '''Missing path.''' No stamp can be taken, so the read falls through
  * to `s.read.parquet(path)` and raises Spark's own AnalysisException.
  *
  * Each read also installs [[InPlaceSortStrategy]] and
  * [[OneSplitScanStrategy]] into the session: every registry query
  * reads through here, so every registry session plans with both. */
object Tables {
  private final case class Entry(key: String, schema: StructType, session: SparkSession,
      relation: Option[BaseRelation])
  private val entries = new ConcurrentHashMap[String, Entry]()

  def read(s: SparkSession, path: String): DataFrame = {
    InPlaceSortStrategy.install(s)
    OneSplitScanStrategy.install(s)
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
        val hit = Option(entries.get(qualified)).filter(_.key == key)
        hit match {
          case Some(Entry(_, _, session, Some(rel))) if session eq s =>
            s.baseRelationToDataFrame(rel)
          case _ =>
            val df = hit.fold(s.read.parquet(path))(e => s.read.schema(e.schema).parquet(path))
            val rel = df.queryExecution.analyzed match {
              case l: LogicalRelation => Some(l.relation)
              case _ => None
            }
            entries.put(qualified, Entry(key, df.schema, s, rel))
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
