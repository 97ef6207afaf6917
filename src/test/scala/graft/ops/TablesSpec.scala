package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The table reader: one schema inference per table content and
  * parquet conf, one resolved relation per table content, parquet conf
  * and session, the same answers and errors as an inferring read. */
class TablesSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-tables").toString

  /** A one-row events table whose `ts` is TIMESTAMP(NANOS), written
    * with the parquet writer directly (Spark writes no NANOS). */
  private def writeNanosEvents(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val file = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"), conf)
    val w = ExampleParquetWriter.builder(file).withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
  }

  test("a second read of an unchanged table runs no Spark job") {
    Relational.t(spark, sf0001, "nation").schema
    val jobs = jobsDuring {
      val df = Relational.t(spark, sf0001, "nation")
      assert(df.schema.fieldNames.contains("n_name"))
    }
    assert(jobs.isEmpty, s"expected no job, saw ${jobs.mkString(" // ")}")
    // a fresh relation per read: a self-join resolves as before
    val a = Relational.t(spark, sf0001, "nation")
    val b = Relational.t(spark, sf0001, "nation")
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() ==
      spark.read.parquet(s"$sf0001/nation.parquet").as("x")
        .join(spark.read.parquet(s"$sf0001/nation.parquet").as("y"),
          col("x.n_nationkey") === col("y.n_regionkey")).count())
  }

  test("a repeated read in one session reuses the resolved relation under " +
    "fresh attribute ids; a rewrite or another session resolves its own") {
    def relation(df: DataFrame): LogicalRelation = df.queryExecution.analyzed match {
      case l: LogicalRelation => l
      case other => fail(s"expected a bare LogicalRelation, got\n$other")
    }
    val a = relation(Relational.t(spark, sf0001, "nation"))
    val b = relation(Relational.t(spark, sf0001, "nation"))
    assert(a.relation eq b.relation)
    assert(a.output.map(_.exprId).intersect(b.output.map(_.exprId)).isEmpty)

    val other = spark.newSession()
    val c = relation(Relational.t(other, sf0001, "nation")).relation
    assert(c.asInstanceOf[HadoopFsRelation].sparkSession eq other)
    assert(relation(Relational.t(spark, sf0001, "nation")).relation ne c)

    val dir = s"$tmp/relist"
    val region = Relational.t(spark, sf0001, "region")
    region.write.mode("overwrite").parquet(s"$dir/r.parquet")
    val first = Relational.t(spark, dir, "r")
    assert(first.count() == 5)
    region.union(region).write.mode("overwrite").parquet(s"$dir/r.parquet")
    val second = Relational.t(spark, dir, "r")
    assert(relation(second).relation ne relation(first).relation)
    assert(second.count() == 10)
  }

  test("a table rewritten with an added column reads with the new schema") {
    val dir = s"$tmp/evolve"
    val region = Relational.t(spark, sf0001, "region")
    region.write.mode("overwrite").parquet(s"$dir/r.parquet")
    assert(!Relational.t(spark, dir, "r").columns.contains("r_tier"))
    region.withColumn("r_tier", col("r_regionkey") % 2)
      .write.mode("overwrite").parquet(s"$dir/r.parquet")
    val back = Relational.t(spark, dir, "r")
    assert(back.columns.contains("r_tier"))
    assert(back.filter(col("r_tier").isNotNull).count() == region.count())
  }

  test("nanosAsLong off: a NANOS table fails to read as it does without " +
    "the reader, instead of being served the schema cached under it on") {
    val dir = s"$tmp/nanos"
    writeNanosEvents(dir)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(Relational.t(spark, dir, "events").schema("ts").dataType == LongType)
    spark.conf.set(key, "false")
    try {
      val direct = intercept[AnalysisException](
        spark.read.parquet(s"$dir/events.parquet"))
      val viaReader = intercept[AnalysisException](Relational.t(spark, dir, "events"))
      assert(viaReader.getClass == direct.getClass)
      assert(viaReader.getCondition == direct.getCondition)
    } finally spark.conf.set(key, "true")
    assert(Relational.t(spark, dir, "events").schema("ts").dataType == LongType)
  }

  test("a missing table raises the exception an inferring read raises") {
    val direct = intercept[Exception](spark.read.parquet(s"$tmp/absent/x.parquet"))
    val viaReader = intercept[Exception](Relational.t(spark, s"$tmp/absent", "x"))
    assert(viaReader.getClass == direct.getClass)
    assert(viaReader.isInstanceOf[AnalysisException])
  }
}
