package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Set-up shared by the harness mains (Bench, Verify, Plans,
  * ScaleCheck): the one session and the one registry filter. There is
  * no artifact set-up step: a registry entry that reads a persisted
  * artifact calls its `ensure*` while it builds its DataFrame, so a
  * run builds exactly the artifacts its selected queries read.
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
}
