package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("native cosine expression matches the composable formulation") {
    val s = spark
    val emb = s.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val both = a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("fast", CosineSimilarity(col("ea"), col("eb")))
      .withColumn("slow", Similarity.cosine(col("ea"), col("eb")))
      .select("fast", "slow").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("sorted_lookup: hit at both bisection ends, miss -> null, null " +
    "value slot -> null, and the two loud guards — identical in " +
    "interpreted and codegen-only execution") {
    val s = spark
    import org.apache.spark.sql.functions._
    // spark.range input so the projection lands in WholeStageCodegen
    // under CODEGEN_ONLY (the compile-gate discipline)
    def frame = s.range(8).select(col("id"),
      // keys sorted in UTF8 binary order; values carry a per-row term
      array(lit("aa"), lit("mm"), lit("zz")).as("ks"),
      array(col("id"), col("id") * 10, col("id") * 100).as("vs"))
    def runCases(): Seq[(Long, Any, Any, Any, Any)] = frame.select(col("id"),
        SortedLookup(col("ks"), col("vs"), lit("aa")).as("first"),
        SortedLookup(col("ks"), col("vs"), lit("zz")).as("last"),
        SortedLookup(col("ks"), col("vs"), lit("mm")).as("mid"),
        SortedLookup(col("ks"), col("vs"), lit("qq")).as("miss"))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3),
        r.get(4))).toSeq
    def expect(rows: Seq[(Long, Any, Any, Any, Any)]): Unit =
      rows.foreach { case (id, f, l, m, miss) =>
        assert(f == id && l == id * 100 && m == id * 10,
          s"row $id: hit values wrong: $f/$m/$l")
        assert(miss == null, s"row $id: a miss must be null, got $miss")
      }
    // default conf (whole-stage codegen on the range input)
    expect(runCases())
    // a null VALUE slot returns null; the key still resolves
    val nv = s.range(2).select(
      SortedLookup(array(lit("a"), lit("b")),
        array(lit(null).cast("long"), lit(7L)), lit("a")).as("x"),
      SortedLookup(array(lit("a"), lit("b")),
        array(lit(null).cast("long"), lit(7L)), lit("b")).as("y"))
      .collect()
    nv.foreach(r => { assert(r.isNullAt(0)); assert(r.getLong(1) == 7L) })
    // the guard exceptions surface wrapped (SparkException → cause);
    // pin the guard's OWN message through the chain — a bare
    // "some exception was thrown" assert is vacuous (any OOB would
    // pass it, so removing the guard would not fail the test)
    def msgChain(e: Throwable): String =
      Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString(" | ")
    // guard 1: parallel-array length mismatch raises LOUDLY. The
    // arrays cross an exchange so the kernel probes UnsafeArrayData —
    // the representation where a removed guard returns SILENT GARBAGE
    // instead of throwing: only the guard's own message can pass here
    val mm = s.range(1).select(
      array(lit("a"), lit("b"), lit("c")).as("ks"),
      array(col("id") + 1L, col("id") + 2L).as("vs"))
      .repartition(1)
    val exLen = intercept[Exception] {
      mm.select(SortedLookup(col("ks"), col("vs"), lit("c"))).collect()
    }
    assert(msgChain(exLen).contains("parallel arrays"),
      s"length guard must fire with its own message, got: ${msgChain(exLen)}")
    // guard 2: a null KEY slot raises identically in both paths (it
    // NPE'd interpreted but compared as "" under codegen pre-guard);
    // non-foldable null slot + exchange for the same unsafe-row reason
    val nk = s.range(1).select(
      array(lit("a"), when(col("id") < 0L, lit("x"))).as("ks"),
      array(col("id") + 1L, col("id") + 2L).as("vs"))
      .repartition(1)
    val exKey = intercept[Exception] {
      nk.select(SortedLookup(col("ks"), col("vs"), lit("b"))).collect()
    }
    assert(msgChain(exKey).contains("null key element"),
      s"null-key guard must fire with its own message, got: ${msgChain(exKey)}")
    // the same value matrix under CODEGEN_ONLY and NO_CODEGEN — the
    // two engine paths may not disagree on any case
    val conf = s.conf
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.fallback", "false")
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val forced = runCases()
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      conf.set("spark.sql.codegen.fallback", "true")
      val interp = runCases()
      expect(forced); expect(interp)
      assert(forced == interp, "codegen and interpreted eval diverged")
    } finally {
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("native cosine participates in codegen (no fallback)") {
    val s = spark
    val emb = s.read.parquet(s"$sf0001/embeddings.parquet").limit(5)
    val df = emb.select(CosineSimilarity(col("embedding"), col("embedding")).as("self"))
    val rows = df.collect()
    // self-similarity is exactly 1 (same buffer both sides)
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
    df.queryExecution.executedPlan // planning must not throw
  }

  test("cosine expression rejects non-float-array inputs at analysis") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "x")).toDF("i", "t")
    val ex = intercept[Exception] {
      df.select(CosineSimilarity(col("i"), col("t"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("cosine") ||
      ex.getMessage.toLowerCase.contains("data type"))
  }

  test("MinHashSig kernel is bit-identical to the composable xxhash64 formulation") {
    import org.apache.spark.sql.functions._
    val sets = graft.ops.Dedup.shingleHashSets(
      graft.ops.Relational.t(spark, "/root/testdata/sf0.001", "documents"), 5)
    val n = 32
    val kernel = sets.select(col("doc_id"), MinHashSig(col("hs"), n).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val composable = sets.select(col("doc_id") +: (0 until n).map { i =>
        array_min(transform(col("hs"), h => xxhash64(lit(i), h))).as(s"h$i")
      }: _*)
      .collect().map(r => r.getLong(0) -> (1 to n).map(r.getLong).toList).toMap
    assert(kernel.nonEmpty && kernel == composable)
  }

  test("SimHash kernel is bit-identical to the composable fold formulation") {
    import org.apache.spark.sql.functions._
    val hashed = graft.ops.Relational.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        transform(split(trim(col("text")), "\\s+"), t => xxhash64(t)).as("hs"))
    val kernel = hashed.select(col("doc_id"), SimHash(col("hs")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bitSums = (0 until 64).map { i =>
      aggregate(col("hs"), lit(0L),
        (acc, h) => acc + shiftright(h, i).bitwiseAND(1)).as(s"b$i")
    } :+ size(col("hs")).cast("long").as("total")
    val sim = (0 until 64).map { i =>
      when(col(s"b$i") * 2 > col("total"), shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val composable = hashed.select(col("doc_id") +: bitSums: _*)
      .select(col("doc_id"), sim.as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel.nonEmpty && kernel == composable)
  }

  test("kernel/composable equality holds on randomized inputs, not just the corpus") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(20260812L)
    // varied lengths incl. singletons; values span the full Long range
    val hsRows = (1 to 40).map { i =>
      (i.toLong, Array.fill(1 + rnd.nextInt(50))(rnd.nextLong()))
    }
    val hsDf = hsRows.toDF("id", "hs")
    val mhKernel = hsDf.select($"id", MinHashSig($"hs", 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val mhComposable = hsDf.select($"id" +: (0 until 16).map { i =>
        array_min(transform($"hs", h => xxhash64(lit(i), h))).as(s"h$i")
      }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toList).toMap
    assert(mhKernel == mhComposable)

    val shKernel = hsDf.select($"id", SimHash($"hs").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bitSums = (0 until 64).map { i =>
      aggregate($"hs", lit(0L), (acc, h) => acc + shiftright(h, i).bitwiseAND(1)).as(s"b$i")
    } :+ size($"hs").cast("long").as("total")
    val vote = (0 until 64).map { i =>
      when(col(s"b$i") * 2 > col("total"), shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val shComposable = hsDf.select($"id" +: bitSums: _*).select($"id", vote.as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shKernel == shComposable)

    val embRows = (1 to 40).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 2 - 1),
        Array.fill(32)(rnd.nextFloat() * 2 - 1))
    }
    val embDf = embRows.toDF("id", "a", "b")
    val cosKernel = embDf.select($"id", CosineSimilarity($"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cosComposable = embDf
      .select($"id", graft.ops.Similarity.cosineComposable($"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same left-to-right accumulation order: EXACT equality, no epsilon
    assert(cosKernel == cosComposable)
  }

  test("kernels surface corrupt rows as null (empty arrays, null elements)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("emb", ArrayType(FloatType, containsNull = true)),
      StructField("hs", ArrayType(LongType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(1L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Long](3L, 4L)),
      Row(2L, Array[java.lang.Float](1.0f, null), Array[java.lang.Long](3L, null)),
      Row(3L, Array.empty[java.lang.Float], Array.empty[java.lang.Long]))
    val df = s.createDataFrame(rows, schema)
    val out = df.select(col("id"),
      HyperplaneBuckets(col("emb"), 4, 2).as("bk"),
      MinHashSig(col("hs"), 4).as("sig"),
      SimHash(col("hs")).as("sim"),
      CosineSimilarity(col("emb"), col("emb")).as("cos"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // clean row: everything defined
    assert(!out(1L).isNullAt(1) && !out(1L).isNullAt(2) && !out(1L).isNullAt(3) && !out(1L).isNullAt(4))
    // null element: every kernel surfaces null, none hashes garbage
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2) && out(2L).isNullAt(3) && out(2L).isNullAt(4))
    // empty arrays: buckets/minhash null (no minimum to take), simhash
    // is the all-zero vote word (composable-identical), cosine null
    // (zero norm)
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2))
    assert(!out(3L).isNullAt(3) && out(3L).getLong(3) == 0L)
    assert(out(3L).isNullAt(4))
  }

  test("every codegen kernel COMPILES — fallback disabled, so a Janino " +
    "failure aborts instead of silently running interpreted") {
    // The r15 lesson (HilbertIndex3): three independent VALUE
    // certifications all passed while the kernel never codegen'd once —
    // Spark logs the Janino error and silently falls back to
    // interpreted eval, so value tests cannot see the regression. Only
    // a run with the fallback knobs OFF can: with
    // spark.sql.codegen.fallback=false a whole-stage compile failure
    // throws, and with factoryMode=CODEGEN_ONLY the non-whole-stage
    // projection paths throw too. Values are still asserted against a
    // default-conf run, so this test pins compile AND semantics.
    val s = spark
    import org.apache.spark.sql.functions._
    // inputs derive from spark.range, NOT a local relation: a
    // LocalTableScan projection compiles through a different template
    // than the WholeStageCodegen stage the r15 defect broke, and only
    // the latter applies the line-leading-`|`-eating stripMargin. Range
    // is whole-stage codegen'd, so every kernel below lands in the
    // defective template (verified: this test fails on the r15 kernel).
    val df = s.range(64).select(col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(65536L)).as("a"),
      pmod(xxhash64(col("id"), lit(2)), lit(65536L)).as("b"),
      pmod(xxhash64(col("id"), lit(3)), lit(65536L)).as("c"),
      transform(sequence(lit(0), lit(15)), i =>
        (pmod(xxhash64(col("id"), i), lit(1000L)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("emb"),
      transform(sequence(lit(0), lit(7)), i =>
        xxhash64(col("id"), i, lit("hs"))).as("hs"))
    // the projection ENUMERATES THE MANIFEST (Kernels.all — the same
    // list GraftExtensions registers), each kernel instantiated
    // through its own SQL builder over typed sample args: a kernel
    // enrolled in the manifest is compile-gated by construction, and
    // the completeness spec below makes enrollment itself mandatory
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    // int args go in as catalyst Literals — what the SQL parser hands
    // the builder (a Column-wrapped lit() arrives as an unresolved
    // node the literal-extraction check rightly rejects)
    def e(c: org.apache.spark.sql.Column): Expression =
      GraftBridge.expression(c)
    val sampleArgs: Map[String, Seq[Expression]] = Map(
      "cosine_similarity" -> Seq(e(col("emb")), e(col("emb"))),
      // a two-centroid codebook built per row, so the argmax is data-
      // dependent and lands in the WholeStageCodegen template
      "nearest_cell" -> Seq(
        e(array(struct(lit(0L).as("cell"), col("emb").as("cemb")),
          struct((col("id") % 3).as("cell"), reverse(col("emb")).as("cemb")))),
        e(col("emb"))),
      "hyperplane_buckets" -> Seq(e(col("emb")), Literal(4), Literal(2)),
      "minhash_sig" -> Seq(e(col("hs")), Literal(4)),
      "simhash" -> Seq(e(col("hs"))),
      "hilbert_index" -> Seq(e(col("a")), e(col("b"))),
      "hilbert_index3" -> Seq(e(col("a")), e(col("b")), e(col("c"))),
      // sorted keys + per-row long values; the key always hits (a
      // miss RAISES by contract, which would abort the gate)
      "sorted_lookup" -> Seq(
        e(array(lit("ka"), lit("kb"), lit("kc"))),
        e(array(col("a"), col("b"), col("c"))),
        e(lit("kb"))),
      // m=4 subspaces × 2 codewords over the 16-dim emb (w=4):
      // cwflat 4·2·4 = 32 doubles, norm2s 8 doubles, data-dependent
      // so the kernel lands in the WholeStageCodegen template
      "pq_encode" -> Seq(
        e(col("emb")),
        e(transform(sequence(lit(0), lit(31)), i =>
          pmod(xxhash64(col("id"), i, lit("cw")), lit(1000L)).cast("double")
            / 500.0 - 1.0)),
        e(transform(sequence(lit(0), lit(7)), i =>
          pmod(xxhash64(col("id"), i, lit("n2")), lit(1000L)).cast("double")
            / 100.0)),
        Literal(4), Literal(2)))
    assert(sampleArgs.keySet == Kernels.all.map(_.sqlName).toSet,
      "every manifest kernel needs sample args here (and no strays)")
    def allKernels = df.select(col("id") +: Kernels.all.map(k =>
      GraftBridge.column(k.build(sampleArgs(k.sqlName)))
        .as(k.sqlName)): _*)
    val baseline = allKernels.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val conf = s.conf
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.fallback", "false")
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val forced = allKernels.collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(forced == baseline)
    } finally {
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("kernel manifest is COMPLETE: every concrete Expression class in " +
    "graft.functions is enrolled in Kernels.all") {
    // the enrollment gate: a 7th kernel dropped into this package
    // without a manifest entry must fail HERE, not silently escape
    // the CODEGEN_ONLY compile gate (and SQL registration) that only
    // manifest members receive. Scan the package's class files off
    // the classloader and keep concrete Expression subclasses.
    import scala.jdk.CollectionConverters._
    val urls = java.util.Collections
      .list(getClass.getClassLoader.getResources("graft/functions")).asScala
    val fileUrls = urls.filter(_.getProtocol == "file")
    // this gate only knows how to scan a directory classpath (the
    // sbt test layout); a jar-packaged run has no file: URL — CANCEL
    // loudly rather than fail or silently pass, so the gate's
    // coverage status is always visible
    assume(fileUrls.nonEmpty,
      "graft/functions resolves to no directory URL (jar-packaged run) — " +
        "completeness scan unavailable here")
    val classNames = fileUrls.flatMap { u =>
      Option(new java.io.File(u.toURI).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".class"))
    }
    assert(classNames.nonEmpty,
      "classpath scan found no classes — the completeness gate went blind")
    val exprClasses = classNames
      .map(_.stripSuffix(".class"))
      .filterNot(_.contains("$")) // companions, lambdas, inner classes
      .map(n => Class.forName(s"graft.functions.$n"))
      .filter(c =>
        classOf[org.apache.spark.sql.catalyst.expressions.Expression]
          .isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet
    val enrolled: Set[Class[_]] = Kernels.all.map(_.exprClass).toSet
    assert(exprClasses.map(c => c: Class[_]) == enrolled,
      s"manifest drift — on classpath but not enrolled: " +
        s"${(exprClasses.map(c => c: Class[_]) -- enrolled).map(_.getName)}; " +
        s"enrolled but not on classpath: " +
        s"${(enrolled -- exprClasses.map(c => c: Class[_])).map(_.getName)}")
    // and the manifest itself is well-formed: distinct SQL names,
    // distinct classes
    assert(Kernels.all.map(_.sqlName).distinct.size == Kernels.all.size)
    assert(Kernels.all.map(_.exprClass).distinct.size == Kernels.all.size)
  }

  test("TopKAggregator matches the sort-then-take model exactly") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // coarse scores force ties → exercises the deterministic tiebreak
    val data = for (q <- 0 until 8; c <- 0 until 200)
      yield (q.toLong, Scored(c.toLong, math.floor(rnd.nextDouble() * 100) / 100))
    val ds = s.createDataset(data)
    val aggRes = ds.groupByKey(_._1).mapValues(_._2)
      .agg(new TopKAggregator(5).toColumn)
      .collect().toMap
    val model = data.groupBy(_._1).view.mapValues { vs =>
      vs.map(_._2).sortBy(sc => (-sc.score, sc.id)).take(5).toList
    }.toMap
    assert(aggRes.keySet == model.keySet)
    model.foreach { case (q, exp) => assert(aggRes(q).toList == exp, s"q=$q") }
  }
}
