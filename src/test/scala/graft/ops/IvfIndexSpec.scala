package graft.ops

import graft.SparkSpec
import graft.ops.Similarity.AnnRead
import graft.ops.Similarity.AnnRead.{At, Current, Router, Trained}
import org.apache.spark.sql.functions.{col, lit}

/** Persisted IVF index: layout-as-inverted-file. The value claim is
  * twofold — (a) results are byte-identical to the per-query plan
  * (same codebook, probes, exact re-rank), (b) the probe join prunes
  * the scan to the probed cell PARTITIONS (dynamic partition
  * pruning), which is the nprobe/nlist selectivity that makes a
  * persisted index pay at corpus scale. */
class IvfIndexSpec extends SparkSpec {

  test("indexed IVF equals the per-query IVF result exactly") {
    val idxPath = "/tmp/graft_ivf_index_spec"
    Similarity.buildIvfIndex(spark, sf0001, idxPath)
    val direct = AnnRead()(spark, sf0001).collect().map(_.toSeq).toList
    val viaIdx = AnnRead(layout = At(idxPath))(spark, sf0001)
      .collect().map(_.toSeq).toList
    assert(viaIdx == direct)
  }

  test("a row with a null embedding is in no cell of the built index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_null_emb").toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val noVector = emb.limit(1).select(emb.schema.fields.toSeq.map {
      case f if f.name == "vec_id" => lit(-1).cast(f.dataType).as(f.name)
      case f if f.name == "embedding" => lit(null).cast(f.dataType).as(f.name)
      case f => col(f.name)
    }: _*)
    emb.unionByName(noVector).write.parquet(s"$dir/embeddings.parquet")
    Similarity.buildIvfIndex(spark, dir, s"$dir/index")
    val index = spark.read.parquet(s"$dir/index")
    assert(index.filter(col("c_id") === -1).isEmpty)
    assert(index.count() == emb.count())
  }

  test("ensureIvfIndex is idempotent and addressable from the corpus dir alone") {
    val path = Similarity.ensureIvfIndex(spark, sf0001)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker))
    val mtime = fs.getFileStatus(marker).getModificationTime
    // second call is a no-op read of the marker, not a rebuild
    assert(Similarity.ensureIvfIndex(spark, sf0001) == path)
    assert(fs.getFileStatus(marker).getModificationTime == mtime)
    // the s11 registration shape: pure-reader query over the layout
    val viaIdx = AnnRead(layout = At(path))(spark, sf0001)
      .collect().map(_.toSeq).toList
    val direct = AnnRead()(spark, sf0001).collect().map(_.toSeq).toList
    assert(viaIdx == direct)
  }

  test("probe join prunes the index scan to probed cell partitions") {
    val idxPath = "/tmp/graft_ivf_index_spec"
    Similarity.buildIvfIndex(spark, sf0001, idxPath)
    val df = AnnRead(layout = At(idxPath))(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the index scan:\n$p")
  }

  test("routed indexed IVF (s22) equals per-query s20 exactly and still prunes") {
    val idxPath = "/tmp/graft_ivf_index_spec"
    Similarity.buildIvfIndex(spark, sf0001, idxPath)
    val direct = AnnRead(router = Some(Router()))(spark, sf0001)
      .collect().map(_.toSeq).toList
    val df = AnnRead(layout = At(idxPath), router = Some(Router()))(spark, sf0001)
    val viaIdx = df.collect().map(_.toSeq).toList
    assert(viaIdx == direct,
      "persisted-path routed IVF must equal the per-query routed plan row-for-row")
    // the composed claim: the ROUTER picked the probes AND the index
    // scan is partition-pruned to them
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the routed index scan:\n$p")
  }

  test("tombstoned reads (s26): deleted ids vanish, ranks re-close, the " +
    "delete genuinely bit, and the index scan still prunes") {
    val idxPath = "/tmp/graft_ivf_index_spec"
    Similarity.buildIvfIndex(spark, sf0001, idxPath)
    val live = AnnRead(layout = At(idxPath))(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val df = AnnRead(layout = At(idxPath), tombstones = true)(spark, sf0001)
    val tomb = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no deleted id survives anywhere in any top-k
    assert(tomb.forall { case (_, _, cId) => cId % 7 != 3 },
      "a tombstoned candidate appeared in a top-k list")
    // the tombstone pass must actually DELETE something that was live
    // (a no-op delete set certifies nothing)
    assert(live.exists { case (_, _, cId) => cId % 7 == 3 },
      "test premise broken: no live top-k entry carries a tombstoned id")
    assert(tomb.toSeq != live.toSeq, "results must differ from s11's")
    // ranks re-close densely per query: 1..k with no holes
    tomb.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong),
        s"query $q ranks must re-close after deletes")
    }
    // untouched queries (no tombstone in their candidate set) are
    // bit-identical to the live path
    val touched = live.collect { case (q, _, cId) if cId % 7 == 3 => q }.toSet
    val liveBy = live.groupBy(_._1); val tombBy = tomb.groupBy(_._1)
    (liveBy.keySet -- touched).foreach { q =>
      assert(tombBy(q).toSeq == liveBy(q).toSeq,
        s"query $q had no deleted candidate in its top-k but changed")
    }
    // the freshness join must not cost the pruning
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the tombstoned scan:\n$p")
  }

  test("compaction (s27): folded layout equals tombstoned reads exactly, " +
    "holds zero deleted rows, keeps the one-file-per-cell shape and DPP") {
    val idxPath = "/tmp/graft_ivf_index_spec"
    Similarity.buildIvfIndex(spark, sf0001, idxPath)
    val outPath = "/tmp/graft_ivf_index_spec_compact"
    Similarity.compactIvfIndex(spark, sf0001, idxPath, outPath)
    // identical results through the PLAIN s11 read path — no per-query
    // tombstone join anymore
    val viaTomb = AnnRead(layout = At(idxPath), tombstones = true)(spark, sf0001)
      .collect().map(_.toSeq).toList
    val df = AnnRead(layout = At(outPath))(spark, sf0001)
    assert(df.collect().map(_.toSeq).toList == viaTomb,
      "compacted reads must equal tombstoned reads row-for-row")
    // the layout physically dropped every tombstoned row
    import org.apache.spark.sql.functions.{col, pmod, lit}
    assert(spark.read.parquet(outPath)
      .filter(pmod(col("c_id"), lit(7)) === 3).count() == 0,
      "a tombstoned row survived compaction on disk")
    // row accounting: live rows minus deletes, nothing else lost
    val before = spark.read.parquet(idxPath).count()
    val deleted = spark.read.parquet(idxPath)
      .filter(pmod(col("c_id"), lit(7)) === 3).count()
    assert(spark.read.parquet(outPath).count() == before - deleted)
    // writePartitionedByCell's shape claim holds through compaction:
    // exactly one data file per surviving cell directory
    val cells = new java.io.File(outPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cells.nonEmpty)
    cells.foreach { c =>
      val files = c.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"cell ${c.getName} has ${files.length} files — compaction must yield one")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the compacted scan:\n$p")
  }

  test("epoch switch (s28): CURRENT resolves tombstoned-over-main before " +
    "the flip and PLAIN-over-compact after — identical rows, the anti-join " +
    "leaves the plan, DPP intact on both sides") {
    import org.apache.hadoop.fs.Path
    // clean slate for the GENERATION (the warehouse outlives sbt runs):
    // drop the pointer and the compacted layout so THIS run exercises
    // the pre-flip side first
    val main = Similarity.ensureIvfIndex(spark, sf0001)
    val genDir = new Path(main).getParent
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(genDir, "CURRENT_v2_nl32"), false)
    fs.delete(new Path(genDir, "compact_v2_nl32"), true)
    assert(Similarity.ivfCurrentEpoch(spark, sf0001) == "main",
      "an absent pointer must resolve to the main epoch")
    val pre = AnnRead(layout = Current)(spark, sf0001)
    val preRows = pre.collect().map(_.toSeq).toList
    val pPre = pre.queryExecution.executedPlan.toString
    assert(pPre.contains("LeftAnti"),
      s"pre-flip reads must apply the tombstone anti-join:\n$pPre")
    assert(pPre.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the pre-flip scan:\n$pPre")
    assert(preRows == AnnRead(layout = At(main), tombstones = true)(spark, sf0001)
      .collect().map(_.toSeq).toList,
      "pre-flip resolver must equal the explicit tombstoned read")
    // compact → the ensure flips the pointer
    Similarity.ensureCompactedIvfIndex(spark, sf0001)
    assert(Similarity.ivfCurrentEpoch(spark, sf0001) == "compact",
      "ensureCompactedIvfIndex must flip CURRENT")
    val post = AnnRead(layout = Current)(spark, sf0001)
    val postRows = post.collect().map(_.toSeq).toList
    val pPost = post.queryExecution.executedPlan.toString
    assert(!pPost.contains("LeftAnti"),
      s"post-flip reads must take the PLAIN path — the tombstone join " +
        s"must leave the PLAN, not just the result:\n$pPost")
    assert(pPost.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the post-flip scan:\n$pPost")
    assert(postRows == preRows,
      "the switch must be invisible in results — identical rows on both sides")
    // idempotent flip: a second ensure neither rebuilds nor unflips
    assert(Similarity.ensureCompactedIvfIndex(spark, sf0001) ==
      s"$genDir/compact_v2_nl32")
    assert(Similarity.ivfCurrentEpoch(spark, sf0001) == "compact")
  }

  test("epoch switch (s29): the ROUTED production read resolves " +
    "tombstoned-over-main before the flip and PLAIN-over-compact after — " +
    "identical rows, the anti-join leaves the plan, DPP intact, and the " +
    "tombstones genuinely bite") {
    import org.apache.hadoop.fs.Path
    // clean slate for the generation, pre-flip side first (s28's drill)
    val main = Similarity.ensureIvfIndex(spark, sf0001)
    val genDir = new Path(main).getParent
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(genDir, "CURRENT_v2_nl32"), false)
    fs.delete(new Path(genDir, "compact_v2_nl32"), true)
    val pre = AnnRead(layout = Current, router = Some(Router()))(spark, sf0001)
    val preRows = pre.collect().map(_.toSeq).toList
    val pPre = pre.queryExecution.executedPlan.toString
    assert(pPre.contains("LeftAnti"),
      s"pre-flip routed reads must apply the tombstone anti-join:\n$pPre")
    assert(pPre.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the pre-flip routed scan:\n$pPre")
    // a delete pass that deletes nothing certifies nothing: the
    // lifecycle result must genuinely differ from the raw s22 read
    val raw = AnnRead(layout = At(main), router = Some(Router()))(spark, sf0001)
      .collect().map(_.toSeq).toList
    assert(preRows != raw,
      "tombstones must hit live routed top-k lists on this corpus")
    Similarity.ensureCompactedIvfIndex(spark, sf0001)
    val post = AnnRead(layout = Current, router = Some(Router()))(spark, sf0001)
    val postRows = post.collect().map(_.toSeq).toList
    val pPost = post.queryExecution.executedPlan.toString
    assert(!pPost.contains("LeftAnti"),
      s"post-flip routed reads must take the PLAIN path — the tombstone " +
        s"join must leave the PLAN, not just the result:\n$pPost")
    assert(pPost.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the post-flip routed scan:\n$pPost")
    assert(postRows == preRows,
      "the switch must be invisible in routed results — identical rows")
  }

  test("filtered routed read (s30): the label pre-filter holds across the " +
    "epoch flip — identical rows both sides, predicate pushed into the " +
    "index scan, candidates filtered BEFORE the ranking heap, tombstones " +
    "and DPP intact") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    // clean slate for the generation, pre-flip side first (s28's drill)
    val main = Similarity.ensureIvfIndex(spark, sf0001)
    val genDir = new Path(main).getParent
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(genDir, "CURRENT_v2_nl32"), false)
    fs.delete(new Path(genDir, "compact_v2_nl32"), true)
    val pre = AnnRead(layout = Current, router = Some(Router()),
      filter = Some(col("label") === 2))(spark, sf0001)
    val preRows = pre.collect().map(_.toSeq).toList
    assert(preRows.nonEmpty, "the filtered read must return candidates")
    val pPre = pre.queryExecution.executedPlan.toString
    assert(pPre.contains("LeftAnti"),
      s"pre-flip filtered reads must keep the tombstone anti-join:\n$pPre")
    assert(pPre.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the pre-flip filtered scan:\n$pPre")
    assert(pPre.contains("EqualTo(label,2)"),
      s"the label predicate must be PUSHED into the index parquet scan:\n$pPre")
    // every survivor genuinely matches the predicate AND the tombstone
    val labelOf = Relational.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    preRows.foreach { r =>
      val cId = r(2).asInstanceOf[Long]
      assert(labelOf(cId) == 2, s"candidate $cId has label ${labelOf(cId)}")
      assert(cId % 7 != 3, s"tombstoned candidate $cId survived the filter path")
    }
    // filter-BEFORE-heap, not post-filtering a fixed-k result: the
    // filtered read must surface label-2 candidates the unfiltered
    // top-k never ranked (post-filtering s29's k rows could only ever
    // SHRINK per-query lists — never introduce a new candidate)
    val unfiltered =
      AnnRead(layout = Current, router = Some(Router()))(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val introduced = preRows.map(r =>
      (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))
      .filterNot(unfiltered.contains)
    assert(introduced.nonEmpty,
      "the filtered heap must rank candidates the unfiltered top-k cut — " +
        "a result explainable by post-filtering certifies nothing")
    // THE FLIP — the filtered production read survives it unchanged
    Similarity.ensureCompactedIvfIndex(spark, sf0001)
    val post = AnnRead(layout = Current, router = Some(Router()),
      filter = Some(col("label") === 2))(spark, sf0001)
    val postRows = post.collect().map(_.toSeq).toList
    val pPost = post.queryExecution.executedPlan.toString
    assert(!pPost.contains("LeftAnti"),
      s"post-flip filtered reads must take the PLAIN path:\n$pPost")
    assert(pPost.contains("EqualTo(label,2)"),
      s"the pushed label predicate must survive the flip:\n$pPost")
    assert(pPost.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the post-flip filtered scan:\n$pPost")
    assert(postRows == preRows,
      "the epoch switch must be invisible to the filtered read")
  }

  test("trained-indexed routed IVF (s33): equals per-query s31 exactly, " +
    "the layout's cells are the per-query assignment, and the trained " +
    "index scan still DPP-prunes") {
    val direct =
      AnnRead(codebook = Trained(), router = Some(Router()))(spark, sf0001)
        .collect().map(_.toSeq).toList
    val df = AnnRead(codebook = Trained(),
      layout = At(Similarity.ensureTrainedIvfIndex(spark, sf0001)),
      router = Some(Router()))(spark, sf0001)
    val viaIdx = df.collect().map(_.toSeq).toList
    assert(viaIdx == direct,
      "persisted trained-cell layout must equal the per-query trained " +
        "routed plan row-for-row — one assignment body, one codebook")
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the trained index scan:\n$p")
    // one file per cell directory — the writePartitionedByCell shape
    // (hadoop FS listing: the warehouse address is a file: URI)
    val root = new org.apache.hadoop.fs.Path(
      Similarity.ensureTrainedIvfIndex(spark, sf0001))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cells = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    assert(cells.nonEmpty)
    cells.foreach { c =>
      val files = fs.listStatus(c.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"cell ${c.getPath.getName} has ${files.length} files — the " +
          "layout contract is one splittable file per cell")
    }
  }

  test("filtered trained read (s34): label predicate pushed into the " +
    "trained layout's scan, candidates filtered BEFORE the heap, every " +
    "survivor matches, DPP intact") {
    import org.apache.spark.sql.functions.col
    val df = AnnRead(codebook = Trained(),
      layout = At(Similarity.ensureTrainedIvfIndex(spark, sf0001)),
      router = Some(Router()), filter = Some(col("label") === 2))(spark, sf0001)
    val rows = df.collect().map(_.toSeq).toList
    assert(rows.nonEmpty, "the filtered trained read must return candidates")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(label,2)"),
      s"the label predicate must be PUSHED into the trained index scan:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the filtered trained scan:\n$p")
    val labelOf = Relational.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val cId = r(2).asInstanceOf[Long]
      assert(labelOf(cId) == 2, s"candidate $cId has label ${labelOf(cId)}")
    }
    // filter-BEFORE-heap: the filtered read must surface label-2
    // candidates the unfiltered trained top-k never ranked
    val unfiltered = AnnRead(codebook = Trained(),
      layout = At(Similarity.ensureTrainedIvfIndex(spark, sf0001)),
      router = Some(Router()))(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val introduced = rows.map(r =>
      (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))
      .filterNot(unfiltered.contains)
    assert(introduced.nonEmpty,
      "the filtered heap must rank candidates the unfiltered top-k cut")
  }

  test("trained-family epoch switch (s35/s36): tombstoned-over-main before " +
    "the flip, PLAIN-over-compact after, identical rows, independent of " +
    "the seeded family's pointer, and the production read (filter + " +
    "fresh) holds parity across the flip") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    // clean slate for the TRAINED family's lifecycle (its own pointer)
    val main = Similarity.ensureTrainedIvfIndex(spark, sf0001)
    val genDir = new Path(main).getParent
    val leaf = new Path(main).getName
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(genDir, s"${leaf}_CURRENT"), false)
    fs.delete(new Path(genDir, s"${leaf}_compact"), true)
    assert(Similarity.trainedIvfEpoch(spark, sf0001) == "main",
      "an absent trained pointer must resolve to the main epoch")
    val pre = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()))(spark, sf0001)
    val preRows = pre.collect().map(_.toSeq).toList
    val pPre = pre.queryExecution.executedPlan.toString
    assert(pPre.contains("LeftAnti"),
      s"pre-flip trained reads must apply the tombstone anti-join:\n$pPre")
    assert(pPre.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the pre-flip trained scan:\n$pPre")
    // tombstones must genuinely bite vs the raw s33 read
    val raw = AnnRead(codebook = Trained(),
      layout = At(Similarity.ensureTrainedIvfIndex(spark, sf0001)),
      router = Some(Router()))(spark, sf0001)
      .collect().map(_.toSeq).toList
    assert(preRows != raw,
      "tombstones must hit live trained top-k lists on this corpus")
    val prodPre = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()), filter = Some(col("label") === 2))(spark, sf0001)
      .collect().map(_.toSeq).toList
    // THE FLIP — the trained family's own pointer
    Similarity.ensureCompactedTrainedIvfIndex(spark, sf0001)
    assert(Similarity.trainedIvfEpoch(spark, sf0001) == "compact")
    val post = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()))(spark, sf0001)
    val postRows = post.collect().map(_.toSeq).toList
    val pPost = post.queryExecution.executedPlan.toString
    assert(!pPost.contains("LeftAnti"),
      s"post-flip trained reads must take the PLAIN path:\n$pPost")
    assert(pPost.toLowerCase.contains("dynamicpruning"),
      s"no DPP on the post-flip trained scan:\n$pPost")
    assert(postRows == preRows,
      "the trained flip must be invisible in results")
    // the full production read: parity across the flip, filter pushed,
    // every survivor matches predicate AND tombstone
    val prodPost = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()), filter = Some(col("label") === 2))(spark, sf0001)
    val prodPostRows = prodPost.collect().map(_.toSeq).toList
    assert(prodPostRows == prodPre,
      "the production read must hold parity across the trained flip")
    val pProd = prodPost.queryExecution.executedPlan.toString
    assert(pProd.contains("EqualTo(label,2)"),
      s"the production read's filter must stay pushed:\n$pProd")
    val labelOf = Relational.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    prodPostRows.foreach { r =>
      val cId = r(2).asInstanceOf[Long]
      assert(labelOf(cId) == 2 && cId % 7 != 3,
        s"production survivor $cId violates filter or tombstone")
    }
    // family independence: the trained flip writes the trained
    // family's OWN pointer file and leaves the seeded family's marker
    // state untouched (each family resolves through its own file)
    assert(fs.exists(new Path(genDir, s"${leaf}_CURRENT")),
      "the trained family must own its own pointer file")
    val seededBefore = Similarity.ivfCurrentEpoch(spark, sf0001)
    fs.delete(new Path(genDir, s"${leaf}_CURRENT"), false)
    assert(Similarity.trainedIvfEpoch(spark, sf0001) == "main",
      "deleting the trained pointer must re-resolve ONLY that family")
    assert(Similarity.ivfCurrentEpoch(spark, sf0001) == seededBefore,
      "the seeded family's epoch must be unaffected by the trained marker")
    // restore the flipped state for suite-order hygiene
    Similarity.ensureCompactedTrainedIvfIndex(spark, sf0001)
  }

  test("shadowed read (s37): the fresh-ingest buffer shadows the index " +
    "candidate stream (anti-join + brute union into ONE heap), " +
    "delete-then-reingest resolves to the buffer, and parity holds " +
    "across the trained epoch flip") {
    import org.apache.hadoop.fs.Path
    // clean slate at the main epoch (the trained-family drill pattern)
    val main = Similarity.ensureTrainedIvfIndex(spark, sf0001)
    val genDir = new Path(main).getParent
    val leaf = new Path(main).getName
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(genDir, s"${leaf}_CURRENT"), false)
    fs.delete(new Path(genDir, s"${leaf}_compact"), true)
    val pre = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()),
      shadow = Some(Similarity.freshBuffer(spark, sf0001)))(spark, sf0001)
    val preRows = pre.collect().map(_.toSeq).toList
    // AQE's toString prints the Final AND Initial plans — count
    // anti-joins in the final section only
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val pPre = finalPlan(pre)
    // pre-flip plan: TWO anti-joins (tombstone + shadow) and the
    // buffer union feeding one ranking aggregation
    assert("LeftAnti".r.findAllIn(pPre).size == 2,
      s"pre-flip shadowed reads need tombstone AND shadow anti-joins:\n$pPre")
    assert(pPre.contains("Union"),
      s"the buffer brute branch must union into the heap:\n$pPre")
    // the shadow genuinely bites: results differ from the unshadowed
    // epoch read, buffer ids are SERVED, and an id in both slices
    // (deleted AND re-ingested, vec_id ≡ 59 mod 91) resolves to the
    // buffer — the ordering contract visible in results
    val unshadowed = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()))(spark, sf0001)
      .collect().map(_.toSeq).toList
    assert(preRows != unshadowed,
      "the buffer must change top-k on this corpus")
    val servedBuf = preRows.filter(r => r(2).asInstanceOf[Long] % 13 == 7)
    assert(servedBuf.nonEmpty,
      "updated buffer rows must reach top-k on this corpus")
    assert(preRows.exists(r => r(2).asInstanceOf[Long] % 91 == 59),
      "a delete-then-reingest id must be served from the buffer here")
    // THE FLIP — tombstones fold into the layout; the buffer does not
    Similarity.ensureCompactedTrainedIvfIndex(spark, sf0001)
    val post = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()),
      shadow = Some(Similarity.freshBuffer(spark, sf0001)))(spark, sf0001)
    val postRows = post.collect().map(_.toSeq).toList
    val pPost = finalPlan(post)
    assert("LeftAnti".r.findAllIn(pPost).size == 1,
      s"post-flip only the SHADOW anti-join may remain:\n$pPost")
    assert(pPost.contains("Union"),
      s"the buffer branch must survive the flip:\n$pPost")
    assert(postRows == preRows,
      "the epoch flip must be invisible in shadowed results")
    // the seam COMPOSES: the filtered shadow read (the shadowed
    // production shape) must never serve a predicate-violating row
    // from EITHER provenance — buffer rows failing the filter stay
    // out while their stale indexed versions stay shadowed; buffer
    // rows passing it may be served even when tombstoned (buffer wins)
    import org.apache.spark.sql.functions.col
    val composed = AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()), filter = Some(col("label") === 2),
      shadow = Some(Similarity.freshBuffer(spark, sf0001)))(spark, sf0001)
      .collect().map(_.toSeq).toList
    val labelOf = Relational.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(composed.nonEmpty)
    composed.foreach { r =>
      val cId = r(2).asInstanceOf[Long]
      assert(labelOf(cId) == 2,
        s"filtered shadow survivor $cId violates the predicate")
      assert(cId % 7 != 3 || cId % 13 == 7,
        s"tombstoned non-buffer id $cId must not be served")
    }
  }

  test("v2 layout migration: ensureIvfIndex deletes superseded-format " +
    "entries inside the live generation (the unsuffixed pre-r18 trio and " +
    "the r18 nl-only family) and leaves current-format trees alone") {
    import org.apache.hadoop.fs.Path
    val main = Similarity.ensureIvfIndex(spark, sf0001)
    val genDir = new Path(main).getParent
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant every legacy shape a real warehouse could hold: pre-r18
    // unsuffixed, r18 nl-suffixed (marker + tree + stale tmp)
    Seq("main", "compact", "CURRENT", "main_nl32", "compact_nl64")
      .foreach(n => fs.mkdirs(new Path(genDir, n)))
    Seq("CURRENT_nl32", "CURRENT_nl32.tmp").foreach { n =>
      val out = fs.create(new Path(genDir, n), true)
      out.write("compact".getBytes("UTF-8")); out.close()
    }
    Similarity.ensureIvfIndex(spark, sf0001)
    Seq("main", "compact", "CURRENT", "main_nl32", "compact_nl64",
      "CURRENT_nl32", "CURRENT_nl32.tmp").foreach { n =>
      assert(!fs.exists(new Path(genDir, n)),
        s"legacy entry $n must be swept — stale formats leak disk and " +
          "an r18 CURRENT would silently re-point readers at 'main'")
    }
    // the live v2 tree is untouched and still serves
    assert(fs.exists(new Path(s"$main/_SUCCESS")))
    assert(AnnRead(layout = At(main))(spark, sf0001).collect().nonEmpty)
  }

  test("AnnRead rejects non-positive k, nlist and nprobe") {
    Seq(() => AnnRead(k = 0), () => AnnRead(nlist = 0),
        () => AnnRead(nprobe = 0)).foreach { mk =>
      val e = intercept[IllegalArgumentException](mk())
      assert(e.getMessage.contains("k, nlist and nprobe must be >= 1"),
        e.getMessage)
    }
  }

  test("AnnRead rejects tombstones on a Current layout") {
    val e = intercept[IllegalArgumentException](
      AnnRead(layout = Current, tombstones = true))
    assert(e.getMessage.contains("epoch pointer"), e.getMessage)
  }

  test("AnnRead rejects a filter on the Inline layout") {
    val e = intercept[IllegalArgumentException](
      AnnRead(filter = Some(col("label") === 2)))
    assert(e.getMessage.contains("filter needs a persisted layout"),
      e.getMessage)
  }

  test("AnnRead.Router rejects cprobe outside [1, ncoarse]") {
    Seq(() => Router(cprobe = 0), () => Router(ncoarse = 4, cprobe = 5),
        () => Router(ncoarse = 0, cprobe = 0)).foreach { mk =>
      val e = intercept[IllegalArgumentException](mk())
      assert(e.getMessage.contains("1 <= cprobe <= ncoarse"), e.getMessage)
    }
  }

  test("AnnRead.Trained rejects iters < 1") {
    val e = intercept[IllegalArgumentException](Trained(iters = 0))
    assert(e.getMessage.contains("iters must be >= 1"), e.getMessage)
  }

  test("field combinations no registry entry uses run through the one " +
    "body: Inline agrees with the persisted layout under tombstones and " +
    "under a shadow buffer") {
    val main = Similarity.ensureIvfIndex(spark, sf0001)
    val buffer = Similarity.freshBuffer(spark, sf0001)
    def rows(r: AnnRead) = r(spark, sf0001).collect().map(_.toSeq).toList
    val inlineTomb = rows(AnnRead(tombstones = true))
    assert(inlineTomb.nonEmpty)
    assert(inlineTomb.forall(r => r(2).asInstanceOf[Long] % 7 != 3),
      "a tombstoned candidate survived the Inline read")
    assert(inlineTomb == rows(AnnRead(layout = At(main), tombstones = true)),
      "Inline + tombstones must equal the s26 read row-for-row")
    val inlineShadow = rows(AnnRead(shadow = Some(buffer)))
    assert(inlineShadow != rows(AnnRead()),
      "the buffer must change top-k on this corpus")
    assert(inlineShadow == rows(AnnRead(layout = At(main), shadow = Some(buffer))),
      "Inline + shadow must equal the persisted-layout shadow read")
  }
}
