package graft

import org.scalatest.funsuite.AnyFunSuite

/** Native expressions exposed through the SQL function registry —
  * `GraftExtensions.register` for live sessions, the
  * `spark.sql.extensions=graft.GraftExtensions` config for cluster
  * submit (same builder underneath). */
class GraftExtensionsSpec extends AnyFunSuite {

  test("cosine_similarity is callable from SQL after registration") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_ext")
    val rows = s.sql(
      "SELECT cosine_similarity(embedding, embedding) AS self FROM emb_ext LIMIT 5")
      .collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("SQL cosine matches the Column API cosine") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
      .createOrReplaceTempView("emb_ext2")
    val sql = s.sql(
      """SELECT a.vec_id, b.vec_id, cosine_similarity(a.embedding, b.embedding) AS c
        |FROM emb_ext2 a JOIN emb_ext2 b ON a.vec_id < b.vec_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    import org.apache.spark.sql.functions._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val api = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        graft.functions.CosineSimilarity(col("ea"), col("eb")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(sql.length == api.length)
    sql.zip(api).foreach { case (x, y) =>
      assert(x._1 == y._1 && x._2 == y._2 && math.abs(x._3 - y._3) < 1e-12)
    }
  }

  test("sorted_lookup is callable from SQL and matches the Column API") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    val sql = s.sql(
      """SELECT sorted_lookup(array('aa', 'mm', 'zz'),
        |  array(id, id * 10, id * 100), 'mm') AS v,
        |  sorted_lookup(array('aa', 'mm', 'zz'),
        |  array(id, id * 10, id * 100), 'qq') AS miss
        |FROM range(5)""".stripMargin).collect()
    assert(sql.length == 5)
    sql.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i * 10L, "SQL lookup value wrong")
      assert(r.isNullAt(1), "SQL miss must be null")
    }
    // arity misuse is a positioned analysis error, not a runtime blowup
    val ex = intercept[Exception] {
      s.sql("SELECT sorted_lookup(array('a'), array(1))").collect()
    }
    assert(ex.getMessage.contains("sorted_lookup"), s"got: ${ex.getMessage}")
  }

  test("hyperplane_buckets is callable from SQL and matches the Column API") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
      .createOrReplaceTempView("emb_ext3")
    val sql = s.sql(
      "SELECT vec_id, hyperplane_buckets(embedding, 4, 8) AS bk FROM emb_ext3")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    import org.apache.spark.sql.functions._
    val api = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
      .select(col("vec_id"),
        graft.functions.HyperplaneBuckets(col("embedding"), 4, 8).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(sql == api && sql.size == 20)
    sql.values.foreach(bks => assert(bks.length == 8 && bks.forall(b => b >= 0 && b < 16)))
  }

  test("minhash_sig and simhash are callable from SQL and match the Column API") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    import org.apache.spark.sql.functions._
    // orderBy before limit: the view's plan re-executes per query
    // below, and an unordered GlobalLimit may pick different rows per
    // execution once the file splits into multiple partitions
    graft.ops.Dedup.shingleHashSets(
        s.read.parquet("/root/testdata/sf0.001/documents.parquet"), 5)
      .orderBy("doc_id").limit(20).createOrReplaceTempView("sh_ext")
    val sql = s.sql(
      "SELECT doc_id, minhash_sig(hs, 16) AS mh, simhash(hs) AS sh FROM sh_ext")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1).toList, r.getLong(2)))).toMap
    val api = s.sql("SELECT doc_id, hs FROM sh_ext")
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("hs"), 16).as("mh"),
        graft.functions.SimHash(col("hs")).as("sh"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1).toList, r.getLong(2)))).toMap
    assert(sql == api && sql.nonEmpty)
  }

  test("builder misuse surfaces as AnalysisException, not a raw runtime error") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(1)
      .createOrReplaceTempView("emb_ext4")
    import org.apache.spark.sql.AnalysisException
    // wrong arity
    val e1 = intercept[AnalysisException](
      s.sql("SELECT hyperplane_buckets(embedding, 4) FROM emb_ext4").collect())
    assert(e1.getMessage.contains("takes 3 arguments"))
    // non-literal bits argument
    val e2 = intercept[AnalysisException](
      s.sql("SELECT hyperplane_buckets(embedding, CAST(vec_id AS INT), 8) FROM emb_ext4").collect())
    assert(e2.getMessage.contains("integer literal"))
    // out-of-range bits
    val e3 = intercept[AnalysisException](
      s.sql("SELECT hyperplane_buckets(embedding, 64, 8) FROM emb_ext4").collect())
    assert(e3.getMessage.contains("[1, 63]"))
    val e4 = intercept[AnalysisException](
      s.sql("SELECT cosine_similarity(embedding) FROM emb_ext4").collect())
    assert(e4.getMessage.contains("takes 2 arguments"))
  }

  test("hilbert_index / hilbert_index3 are callable from SQL and match " +
    "the Column API (the manifest's free rider)") {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    import org.apache.spark.sql.functions._
    s.range(64).select(col("id"),
        pmod(xxhash64(col("id"), lit(1)), lit(65536L)).as("a"),
        pmod(xxhash64(col("id"), lit(2)), lit(65536L)).as("b"),
        pmod(xxhash64(col("id"), lit(3)), lit(65536L)).as("c"))
      .createOrReplaceTempView("hx_ext")
    val sql = s.sql(
      "SELECT id, hilbert_index(a, b) AS h2, hilbert_index3(a, b, c) AS h3 " +
        "FROM hx_ext")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val api = s.sql("SELECT id, a, b, c FROM hx_ext")
      .select(col("id"),
        graft.functions.HilbertIndex(col("a"), col("b")).as("h2"),
        graft.functions.HilbertIndex3(col("a"), col("b"), col("c")).as("h3"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sql == api && sql.size == 64)
  }

  test("the extension injects both planner strategies") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // buildPlannerStrategies is private[sql]; the planner calls it
    val built = ext.getClass
      .getMethod("buildPlannerStrategies", classOf[org.apache.spark.sql.SparkSession])
      .invoke(ext, SparkSpec.session).asInstanceOf[Seq[AnyRef]]
    assert(built.contains(graft.stream.PartitionPreviewStrategy))
    assert(built.contains(graft.ops.InPlaceSortStrategy))
  }

  test("the extension injects the one-split scan strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val built = ext.getClass
      .getMethod("buildPlannerStrategies", classOf[org.apache.spark.sql.SparkSession])
      .invoke(ext, SparkSpec.session).asInstanceOf[Seq[AnyRef]]
    assert(built.contains(graft.ops.OneSplitScanStrategy))
  }
}
