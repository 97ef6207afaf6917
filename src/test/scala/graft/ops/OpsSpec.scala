package graft.ops

import graft.SparkSpec
import graft.ops.Similarity.AnnRead
import graft.ops.Similarity.AnnRead.{At, Current, Router, Trained}
import org.apache.spark.sql.functions.{col, unix_millis}

/** Sanity checks on the judge-visible query set at sf0.001 (full
  * value-level correctness is the driver's DuckDB gate at sf0.01 —
  * mirrored locally by tools/compare.py). */
class OpsSpec extends SparkSpec {

  test("pricing summary: 6 flag/status groups, positive sums") {
    val rows = Relational.pricingSummary(spark, sf0001).collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getAs[Double]("sum_qty") > 0))
  }

  test("region revenue: one row per ASIA nation") {
    val rows = Relational.regionNationRevenue(spark, sf0001).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("skip+take slices the global order") {
    val rows = Relational.skipTakeOrders(spark, sf0001).collect()
    assert(rows.length == 50)
    val keys = rows.map(_.getAs[Long]("o_orderkey"))
    assert(keys.toList == keys.sorted.toList)
  }

  test("takewhile output is a prefix: all below first trigger") {
    val rows = Relational.takeWhileCheap(spark, sf0001).collect()
    assert(rows.forall(_.getAs[Double]("o_totalprice") <= 490000))
  }

  test("first-order-per-customer has one row per ordering customer") {
    val n = Relational.firstOrderPerCustomer(spark, sf0001).count()
    val customers = Relational.t(spark, sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(n == customers)
  }

  test("ngram jaccard pairs are high-similarity and deduped") {
    val rows = Dedup.ngramJaccardPairs(spark, sf0001).collect()
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.6))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
  }

  test("minhash LSH recalls the exact-jaccard pairs on this corpus") {
    val exact = Dedup.ngramJaccardPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash emits EVERY pair at hamming <= maxHamming (pigeonhole completeness)") {
    val sim = Dedup.simhashPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.simhashes(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Dedup.ngramJaccardPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.nonEmpty)
    // 8 bands x 8 bits guarantee: every hamming<=6 pair band-collides,
    // so no close exact pair may be missing (the 4x16 banding this
    // replaced dropped hamming-4 pairs)
    val close = exact.filter { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 6
    }
    assert(close.nonEmpty && close.forall(sim.contains),
      s"simhash missed close pairs: ${close.filterNot(sim.contains).toList}")
  }

  test("d05b oracle precondition: verified simhash pairs == exact answer at gate SF") {
    // the d05b DuckDB oracle is d03's exact-Jaccard SQL; that is only
    // sound if, at the gate's sf0.01, every J>=0.6 pair sits at
    // hamming<=6 so the sketch funnel admits it — assert exactly that
    val sf = "/root/testdata/sf0.01"
    val ver = Dedup.simhashVerifiedPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ver == exact,
      s"missed=${(exact -- ver).toList} spurious=${(ver -- exact).toList}")
  }

  test("connected components: chain, clique, pair — isolated vertex absent") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle {10,11,12}, pair {20,21};
    // vertex 30 never appears in an edge so it has no label row
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("src", "dst")
    val labels = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(!labels.contains(30L))
  }

  test("connected components: pointer doubling crosses a 200-chain in O(log d) rounds") {
    import spark.implicits._
    // plain min-label propagation needs ~200 rounds for a 200-vertex
    // chain; doubling compresses label chains geometrically, so 12
    // rounds must suffice (measured: 9) — maxIter enforces the bound
    val chain = (1 until 200).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val labels = Dedup.connectedComponents(chain, maxIter = 12).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(labels.size == 200 && labels.values.forall(_ == 1L))
  }

  test("connected components run ONE action per round (driver-chattiness contract)") {
    import spark.implicits._
    // the convergence sum rides each round's checkpoint job via
    // observe(); a regression to per-round .head/.count actions would
    // push the count back toward 3/round (old shape: 3r+3)
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val chain = (1 until 200).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
      Dedup.connectedComponents(chain, maxIter = 12)
      // the final round's Observation.get blocks on the same ordered
      // listener bus, so all prior action events have been delivered;
      // one short stabilization poll guards the straggler
      var last = -1
      var stable = 0
      while (stable < 3 && last < 20) {
        val now = actions.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      // bi checkpoint + init checkpoint + one checkpoint per round
      // (≤ 12 rounds for the 200-chain, measured 9) = rounds + 2
      assert(actions.get() <= 14, s"${actions.get()} actions — loop is chatty again")
      assert(actions.get() >= 5)
    } finally spark.listenerManager.unregister(listener)
  }

  test("connected components: empty edge set yields empty labels (no dup pairs case)") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Dedup.connectedComponents(none).collect().isEmpty)
  }

  test("connected components: maxIter bound fails loudly before convergence") {
    import spark.implicits._
    // min-label needs ~4 rounds to cross a 5-edge chain; 1 is too few
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
  }

  test("dedup survivors: total docs minus non-canonical cluster members") {
    val survivors = Dedup.dedupSurvivors(spark, sf0001).collect()
      .map(_.getAs[Long]("n_docs")).sum
    val total = Relational.t(spark, sf0001, "documents").count()
    val droppedExpected = Dedup.dupClusters(spark, sf0001).collect()
      .map(_.getAs[Long]("n_members") - 1).sum
    assert(survivors == total - droppedExpected)
  }

  test("dup clusters: >=2 members, labeled by min doc_id, members sorted") {
    val clusters = Dedup.dupClusters(spark, sf0001).collect()
    assert(clusters.nonEmpty)
    assert(clusters.forall(_.getAs[Long]("n_members") >= 2))
    assert(clusters.forall { r =>
      val ids = r.getAs[String]("doc_ids").split(",").map(_.toLong)
      ids.head == r.getAs[Long]("cluster") && ids.sameElements(ids.sorted)
    })
    // clusters partition the near-dup vertices: members appear once
    val all = clusters.flatMap(_.getAs[String]("doc_ids").split(",").map(_.toLong))
    assert(all.distinct.length == all.length)
  }

  test("brute-force topk returns k neighbors per query, sim in [-1,1]") {
    val rows = Similarity.bruteForceTopK(spark, sf0001, nQueries = 5, k = 3).collect()
    assert(rows.length == 15)
    assert(rows.forall { r =>
      val s = r.getAs[Double]("sim"); s >= -1.0001 && s <= 1.0001
    })
  }

  test("LSH topk neighbors are a subset of scored corpus with decent recall@1") {
    val brute = Similarity.bruteForceTopK(spark, sf0001, nQueries = 10, k = 1)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toMap
    val lsh = Similarity.lshTopK(spark, sf0001, nQueries = 10, k = 1)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toMap
    // 8 tables x 4 bits: expected recall@1 ~0.8 even for weakly
    // clustered vectors (per-bit agreement ~0.67 at cosine 0.5)
    val hits = brute.count { case (q, c) => lsh.get(q).contains(c) }
    assert(hits >= 4, s"recall@1 too low: $hits/10")
  }

  test("multimodal decode: one row per image, real codec output") {
    val rows = Multimodal.decodeFeatures(spark, sf0001).collect()
    // image kind = doc_id % 3 == 0 over 500 docs
    assert(rows.length == 167)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("width") == (id % 29 + 4).toInt)
      assert(r.getAs[Int]("height") == (id % 19 + 4).toInt)
      assert(r.getAs[Int]("channels") == (if (id % 2 == 0) 1 else 3))
      assert(r.getAs[Long]("pixel_sum") > 0)
    }
  }

  test("multimodal blobs are real image files (PNG/BMP magic numbers)") {
    val blobs = Multimodal.imageTable(spark, sf0001).take(20)
    assert(blobs.nonEmpty)
    blobs.foreach { m =>
      val b = m.blob
      m.fmt match {
        case "png" =>
          assert((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G',
            s"media ${m.media_id}: not a PNG header")
        case "bmp" =>
          assert(b(0) == 'B' && b(1) == 'M', s"media ${m.media_id}: not a BMP header")
      }
    }
    // decode-side golden row: doc 0 is a 4x4 grayscale PNG whose
    // formula pixel sum is 480 (hand-computed; also the oracle's value)
    val d0 = Multimodal.decodeFeatures(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("media_id") === 0L).head
    assert((d0.getInt(2), d0.getInt(3), d0.getInt(4), d0.getLong(5)) == ((4, 4, 1, 480L)))
  }

  test("gif frames: multi-frame round-trip decodes count, dims, and every sample") {
    val rows = Multimodal.decodeFrames(spark, sf0001).collect()
    // video kind = doc_id % 3 == 2 over 500 docs, 2..5 frames each
    val byMedia = rows.groupBy(_.getAs[Long]("media_id"))
    assert(byMedia.size == 166)
    byMedia.foreach { case (id, frames) =>
      // frame count comes from the CODEC's container parse — it must
      // equal what the encoder wrote
      assert(frames.length == (id % 4 + 2).toInt, s"media $id")
      frames.foreach { r =>
        val f = r.getAs[Long]("frame_no").toInt
        val w = (id % 15 + 4).toInt
        val h = (id % 9 + 4).toInt
        assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
        // decoded-sample sum equals the encode formula: the palette
        // round-trip is byte-exact
        val expected = (for { y <- 0 until h; x <- 0 until w }
          yield ((7 * x + 13 * y + 23 * f + id) % 256)).sum
        assert(r.getAs[Long]("pixel_sum") == expected, s"media $id frame $f")
      }
    }
  }

  test("scene deltas: temporal frame diffs match the formula, one row per adjacent pair") {
    val rows = Multimodal.sceneDeltas(spark, sf0001).collect()
    val byMedia = rows.groupBy(_.getAs[Long]("media_id"))
    assert(byMedia.size == 166)
    byMedia.foreach { case (id, deltas) =>
      // nf frames → nf-1 adjacent pairs
      assert(deltas.length == (id % 4 + 2).toInt - 1, s"media $id")
      deltas.foreach { r =>
        val f = r.getAs[Long]("frame_no").toInt
        assert(f >= 1)
        val w = (id % 15 + 4).toInt
        val h = (id % 9 + 4).toInt
        val expected = (for { y <- 0 until h; x <- 0 until w } yield math.abs(
          ((7 * x + 13 * y + 23 * f + id) % 256) -
            ((7 * x + 13 * y + 23 * (f - 1) + id) % 256))).sum
        assert(r.getAs[Long]("delta_sum") == expected, s"media $id frame $f")
      }
    }
  }

  test("avi frames: the RIFF demux path reproduces the GIF path bit-for-bit") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("media_id"), r.getAs[Long]("frame_no"),
        r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Long]("pixel_sum"))
    val gif = Multimodal.decodeFrames(spark, sf0001).collect().map(key).toSeq
    val avi = Multimodal.decodeAviFrames(spark, sf0001).collect().map(key).toSeq
    // same docs, same formula, two independent container paths: the
    // m10 oracle is m06's verbatim, so the engines must agree first
    assert(avi == gif)
    // the blobs are spec-shaped AVI: RIFF magic, AVI form, frame data
    // list, index — all present
    val blob = Multimodal.aviTable(spark, sf0001).head().blob
    assert(new String(blob.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(blob.slice(8, 12), "US-ASCII") == "AVI ")
    val ascii = new String(blob.map(b => if (b >= 32 && b < 127) b else '.'.toByte), "US-ASCII")
    assert(ascii.contains("movi") && ascii.contains("idx1") &&
      ascii.contains("vids") && ascii.contains("DIB "))
  }

  test("avi demux cross-checks the container's structural claims") {
    val blob = Multimodal.muxAvi(7L)
    val (w, h, frames) = Multimodal.demuxAvi(blob)
    // dimensions come from BITMAPINFOHEADER, count from the movi walk
    assert((w, h, frames.length) == ((7 % 15 + 4, 7 % 9 + 4, 7 % 4 + 2)))
    assert(frames(0)(0) == ((7 * 0 + 13 * 0 + 23 * 0 + 7) % 256))
    // a header that lies about the frame count must fail loudly, not
    // return partial frames: dwTotalFrames lives at byte 48
    val bad = blob.clone(); bad(48) = (bad(48) + 1).toByte
    intercept[IllegalArgumentException] { Multimodal.demuxAvi(bad) }
    // non-RIFF bytes are rejected at the first magic check
    intercept[IllegalArgumentException] {
      Multimodal.demuxAvi("nope".getBytes("US-ASCII") ++ new Array[Byte](64))
    }
  }

  test("m11: PNG chunk walk validates every CRC and rejects tampered bytes") {
    val rows = Multimodal.pngMetadata(spark, sf0001).collect()
    // png subset: doc_id % 3 == 0 AND doc_id % 4 < 2 over 500 docs
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("width") == (id % 29 + 4).toInt, s"media $id")
      assert(r.getAs[Int]("height") == (id % 19 + 4).toInt, s"media $id")
      assert(r.getAs[Long]("bit_depth") == 8L)
      assert(r.getAs[Long]("color_type") == (if (id % 2 == 0) 0L else 2L))
      // IHDR + ≥1 IDAT + IEND at minimum, every CRC verified in-kernel
      assert(r.getAs[Long]("n_chunks") >= 3L)
    }
    // flipping one payload byte must break that chunk's CRC and fail
    // the walk loudly — integrity is checked, not assumed
    val blob = Multimodal.imageTable(spark, sf0001)
      .filter(col("fmt") === "png").head().blob
    val good = Multimodal.parsePngMeta(0L, blob)
    assert(good._5 >= 3L)
    val bad = blob.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] {
      Multimodal.parsePngMeta(0L, bad)
    }
    assert(e.getMessage.contains("CRC mismatch"))
    // and non-PNG bytes die at the signature
    intercept[IllegalArgumentException] {
      Multimodal.parsePngMeta(0L, Array.fill[Byte](32)(7))
    }
  }

  test("m12: JPEG marker walk reads SOF geometry and rejects tampered structure") {
    val rows = Multimodal.jpegMetadata(spark, sf0001).collect()
    // jpeg subset: every image doc (doc_id % 3 == 0) re-encoded
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("width") == (id % 29 + 4).toInt, s"media $id")
      assert(r.getAs[Int]("height") == (id % 19 + 4).toInt, s"media $id")
      assert(r.getAs[Long]("n_components") == (if (id % 2 == 0) 1L else 3L))
      assert(r.getAs[Long]("precision") == 8L)
      // JDK writer emits baseline frames with real table segments
      assert(r.getAs[Long]("progressive") == 0L)
      assert(r.getAs[Long]("n_dqt") >= 1L && r.getAs[Long]("n_dht") >= 1L)
    }
    val blob = Multimodal.jpegTable(spark, sf0001).head().blob
    val good = Multimodal.parseJpegMeta(0L, blob)
    assert(good._1 == 4 && good._2 == 4)
    // truncation mid-stream must die loudly, not return partial metadata
    intercept[IllegalArgumentException] {
      Multimodal.parseJpegMeta(0L, blob.take(blob.length / 2))
    }
    // corrupting a segment-length byte breaks the marker grammar
    val bad = blob.clone()
    bad(4) = 0x7f.toByte // APP0/first segment length hi-byte → walk overruns
    intercept[IllegalArgumentException] { Multimodal.parseJpegMeta(0L, bad) }
    // non-JPEG bytes die at the SOI check
    intercept[IllegalArgumentException] {
      Multimodal.parseJpegMeta(0L, Array.fill[Byte](32)(7))
    }
  }

  test("m13: magic-number dispatch routes all five formats; new walks reject tampering") {
    val rows = Multimodal.mixedIngestGate(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet == Set("png", "bmp", "jpg", "wav", "avi"))
    // declared fmt and detected magic agree everywhere
    assert(rows.values.forall(_._2 == 0L))
    // formula cross-check on one format: avi geometry sums
    val aviIds = (0L until 500L).filter(_ % 3 == 2)
    assert(rows("avi")._1 == aviIds.length.toLong)
    assert(rows("avi")._3 == aviIds.map(_ % 15 + 4).sum)
    assert(rows("avi")._5 == aviIds.map(_ % 4 + 2).sum)
    // jpg covers BOTH image halves (the png/bmp split re-encoded)
    assert(rows("jpg")._1 == rows("png")._1 + rows("bmp")._1)
    // the header-only WAV walk agrees with the SPI decoder's view
    val wavBlob = Multimodal.audioTable(spark, sf0001).head()
    val (ch, rate, bits, frames) =
      Multimodal.parseWavMeta(wavBlob.media_id, wavBlob.blob)
    assert((ch, rate, bits) == ((1, 8000, 16)))
    assert(frames == wavBlob.media_id % 50 + 10)
    // a RIFF size field that lies must fail loudly (byte 4, LE u32)
    val badWav = wavBlob.blob.clone()
    badWav(4) = (badWav(4) + 1).toByte
    intercept[IllegalArgumentException] {
      Multimodal.parseWavMeta(0L, badWav)
    }
    // BMP: size-field tamper dies at the header check
    val bmpBlob = Multimodal.imageTable(spark, sf0001)
      .filter(col("fmt") === "bmp").head()
    val (bw, bh, bpp) = Multimodal.parseBmpMeta(bmpBlob.media_id, bmpBlob.blob)
    assert(bw == (bmpBlob.media_id % 29 + 4).toInt &&
      bh == (bmpBlob.media_id % 19 + 4).toInt)
    assert(bpp == (if (bmpBlob.media_id % 2 == 0) 8 else 24))
    val badBmp = bmpBlob.blob.clone()
    badBmp(2) = (badBmp(2) + 1).toByte
    intercept[IllegalArgumentException] {
      Multimodal.parseBmpMeta(0L, badBmp)
    }
    // unknown bytes refuse dispatch
    assert(Multimodal.detectFormat(Array.fill[Byte](16)(9)) == "unknown")
  }

  test("m14: MJPEG-in-AVI decodes end-to-end — lossy but bounded, never misaligned") {
    val rep = Multimodal.mjpegFrameReport(spark, sf0001).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("width") == (id % 15 + 4).toInt, s"media $id")
      assert(r.getAs[Int]("height") == (id % 9 + 4).toInt, s"media $id")
      assert(r.getAs[Boolean]("faithful"),
        s"media $id frame ${r.getAs[Long]("frame_no")} outside the fidelity bound")
    }
    // per-media frame cardinality: container walk == formula
    rep.groupBy(_.getAs[Long]("media_id")).foreach { case (id, rs) =>
      assert(rs.length == (id % 4 + 2).toInt, s"media $id frame count")
    }
    // the decode is REALLY lossy: every frame errs ≥1 gray level (a
    // zero-error frame would mean the lossless path leaked in), and
    // the corpus-wide max must honor the m14 CONTRACT bound (tol=16).
    // The measured max (8 at quality 0.95 on this JDK) is encoder
    // detail, logged as a drift diagnostic rather than hard-pinned —
    // a JDK swap may move it within tol without breaking the contract
    val errs = Multimodal.mjpegFrameFidelity(spark, sf0001)
      .select("max_abs_err").collect().map(_.getLong(0))
    assert(errs.min >= 1L, "zero-error MJPEG frame: reference leak?")
    info(s"m14 measured corpus-wide max_abs_err = ${errs.max} (contract tol = 16)")
    assert(errs.max <= 16L, s"m14 fidelity contract violated: max ${errs.max} > 16")
    // mux → demux structural round-trip, and each embedded frame is a
    // self-contained grayscale JPEG the m12 marker walk accepts
    val (w, h, jpegs) = Multimodal.demuxMjpegAvi(Multimodal.muxMjpegAvi(5L))
    assert(w == (5 % 15 + 4) && h == (5 % 9 + 4) && jpegs.length == (5 % 4 + 2))
    jpegs.foreach { jb =>
      val m = Multimodal.parseJpegMeta(5L, jb)
      assert(m._1 == w && m._2 == h && m._3 == 1L)
    }
  }

  test("audio decode: WAV round-trip reports format and frame count") {
    val rows = Multimodal.decodeAudio(spark, sf0001).collect()
    assert(rows.length == 167) // doc_id % 3 == 1 over 500 docs
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Int]("channels") == 1)
      assert(r.getAs[Int]("bits") == 16)
      assert(r.getAs[Long]("n_frames") == id % 50 + 10)
    }
  }

  test("sessionization: session ids are dense per user") {
    val rows = Events.sessionStats(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_sessions") >= 1))
  }

  test("asof attribution: attributed purchases never exceed purchases, lag non-negative") {
    val rows = Events.purchaseAttribution(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      r.getAs[Long]("n_attributed") <= r.getAs[Long]("n_purchases")))
    assert(rows.filter(!_.isNullAt(3)).forall(_.getAs[Double]("avg_lag_sec") >= 0))
  }

  test("pivot counts partition the orders table") {
    val rows = Relational.orderStatusPivot(spark, sf0001).collect()
    val total = Relational.t(spark, sf0001, "orders").count()
    assert(rows.map(r => r.getAs[Long]("n_f") + r.getAs[Long]("n_o") +
      r.getAs[Long]("n_p")).sum == total)
  }

  test("histogram buckets partition the orders table") {
    val rows = Relational.priceHistogram(spark, sf0001).collect()
    val total = Relational.t(spark, sf0001, "orders").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    val buckets = rows.map(_.getAs[Long]("bucket"))
    assert(buckets.toList == buckets.sorted.toList)
  }

  test("stats summary: variance = stddev squared, corr within [-1,1]") {
    val rows = Relational.statsSummary(spark, sf0001).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val sd = r.getAs[Double]("sd_qty"); val v = r.getAs[Double]("var_qty")
      assert(math.abs(sd * sd - v) < 0.1)
      val c = r.getAs[Double]("corr_qty_price")
      assert(c >= -1.0001 && c <= 1.0001)
    }
  }

  test("stratified hash sample is deterministic and downsamples en hardest") {
    val docs = Relational.t(spark, sf0001, "documents")
    val s1 = Sampling.stratifiedHashSample(docs, org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("lang"), Map("en" -> 0.2), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratifiedHashSample(docs.repartition(7),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("lang"), Map("en" -> 0.2), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // membership is content-derived: identical across partitionings
    assert(s1 == s2 && s1.nonEmpty)
    val byLang = Sampling.sampledDocStats(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_sampled")).toMap
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    // en sampled at ~20%, others at ~50% (binomial tolerance)
    assert(byLang("en").toDouble / full("en") < 0.35)
  }

  test("top bigrams: k rows per lang, counts non-increasing in rank") {
    val rows = TextAnalysis.topBigrams(spark, sf0001, k = 5).collect()
    val perLang = rows.groupBy(_.getString(0))
    perLang.foreach { case (_, rs) =>
      assert(rs.length == 5)
      val ns = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("n"))
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedding near-dups: empty on this corpus (no pair above 0.9)") {
    // the synthetic embeddings are near-orthogonal (max cosine ~0.52):
    // the verified near-dup set must be empty, same as the exact oracle
    assert(Dedup.embeddingNearDups(spark, sf0001).count() == 0)
  }

  test("embedding near-dups: planted duplicates are recalled at cosine ~1") {
    // the corpus has no real near-dups, so the oracle match is vacuous
    // there — plant some: 20 base vectors, each duplicated with a tiny
    // deterministic perturbation (cosine ≈ 0.9999). Recall must be 1.
    val s = spark; import s.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => (((seed * 2654435761L + i * 40503L) % 1000) / 500.0f - 1f))
    val rows = (0 until 20).flatMap { k =>
      val v = vec(k)
      Seq((k.toLong * 2, v), (k.toLong * 2 + 1, v.updated(0, v.head + 0.001f)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDupPairs(emb, bits = 12, tables = 16, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(k => (k.toLong * 2, k.toLong * 2 + 1)).toSet
    assert(planted.subsetOf(found),
      s"LSH missed planted near-dups: ${planted -- found}")
  }

  test("d02 witness: duplicateGroups emits groups on a planted-duplicate corpus") {
    // the gate-SF corpus holds no exact duplicates, so the d02
    // registry row only ever exercises the EMPTY result — plant some
    // and witness the non-empty branch: grouping, member-id sorting,
    // the n>1 cut, and that singletons never leak through
    val s = spark; import s.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "sphinx of black quartz judge my vow")
    val docs = Seq(
      (10L, texts(0)), (7L, texts(0)), (2L, texts(0)), // trio, ids unsorted
      (3L, texts(1)), (4L, texts(1)),                  // pair
      (5L, texts(2))                                   // singleton
    ).toDF("doc_id", "text")
    val groups = Dedup.duplicateGroupsOf(docs).collect()
    assert(groups.length == 2, "exactly the trio and the pair must emit")
    val byN = groups.map(r => r.getAs[Long]("n") -> r.getAs[String]("doc_ids")).toMap
    assert(byN(3L) == "2,7,10", "member ids must be numerically sorted")
    assert(byN(2L) == "3,4")
  }

  test("IVF topk: k per query, and probed-cell results overlap brute force") {
    val ivf = AnnRead(nQueries = 5, k = 3)(spark, sf0001)
      .collect()
    assert(ivf.length == 15)
    val brute = Similarity.bruteForceTopK(spark, sf0001, nQueries = 5, k = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val hits = ivf.count(r => brute((r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))))
    // nprobe=4 of nlist=32 cells: recall is partial by design, but the
    // probed cells must still surface some true neighbors
    assert(hits >= 1, s"IVF found no true neighbors: $hits/15")
  }

  test("two-level IVF: exhaustive router is IDENTICAL to one-level; " +
      "restricted router emits k per query from probed cells only") {
    // cprobe = ncoarse makes level 1 a no-op (every coarse cell
    // probed, so level 2 ranks the full fine codebook) — the result
    // must equal ivfTopK row-for-row, the identity the scaladoc pins
    val oneLevel = AnnRead()(spark, sf0001)
      .collect().map(_.toSeq).toList
    val exhaustive = AnnRead(router = Some(Router(cprobe = 8)))(spark, sf0001)
      .collect().map(_.toSeq).toList
    assert(exhaustive == oneLevel,
      "cprobe=ncoarse two-level IVF must reduce to one-level IVF exactly")
    // the registry configuration (cprobe=3 of 8): k rows per query,
    // ranks contiguous from 1, sims within [-1, 1] after r4
    val routed = AnnRead(router = Some(Router()))(spark, sf0001).collect()
    val perQ = routed.groupBy(_.getAs[Long]("q_id"))
    assert(perQ.size == 10)
    perQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to rows.length),
        s"query $q ranks not contiguous")
      assert(rows.length <= 5)
    }
    // routing restricts the candidate pool: every result of the
    // restricted run whose cell survives routing must also be findable
    // by the exhaustive run's candidate logic — sanity: restricted
    // results are a subset of union(exhaustive results, lower-ranked
    // candidates), so at minimum sims cannot EXCEED the exhaustive
    // run's per-(q,c) sims (same exact scoring); check on the overlap
    val exSims = exhaustive.map(r =>
      (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]) -> r(3)).toMap
    routed.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))
      exSims.get(key).foreach(s =>
        assert(s == r.getAs[Double]("sim"), s"sim drift on $key"))
    }
  }

  test("trained-routed IVF (s31): exhaustive router reduces to the " +
      "one-level trained IVF (s07) exactly — the s07 → s20 composition " +
      "identity") {
    // cprobe = ncoarse makes the coarse level a no-op, so s31 must
    // equal s07 row-for-row: same persisted codebook, same corpus
    // assignment, same probe cut, same exact re-rank — the identity
    // that certifies the composition introduced nothing of its own
    val oneLevel = AnnRead(codebook = Trained())(spark, sf0001)
      .collect().map(_.toSeq).toList
    val exhaustive = AnnRead(codebook = Trained(),
      router = Some(Router(cprobe = 8)))(spark, sf0001)
      .collect().map(_.toSeq).toList
    assert(exhaustive == oneLevel,
      "cprobe=ncoarse trained-routed IVF must reduce to s07 exactly")
    // the registry configuration (cprobe=3): well-formed per-query
    // lists, and sims on the overlap agree with the exhaustive run
    // (same exact scoring — routing may only restrict the pool)
    val routed = AnnRead(codebook = Trained(), router = Some(Router()))(
      spark, sf0001).collect()
    val perQ = routed.groupBy(_.getAs[Long]("q_id"))
    assert(perQ.size == 10)
    perQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to rows.length),
        s"query $q ranks not contiguous")
      assert(rows.length <= 5)
    }
    val exSims = exhaustive.map(r =>
      (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]) -> r(3)).toMap
    routed.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))
      exSims.get(key).foreach(s =>
        assert(s == r.getAs[Double]("sim"), s"sim drift on $key"))
    }
  }

  test("router recall curve ends at exactly 1000 vs one-level IVF") {
    val curve = Similarity.cprobeRecallCurve(spark, sf0001).collect()
    assert(curve.length == 4)
    val byCp = curve.map(r =>
      r.getAs[Long]("cprobe") -> r.getAs[Long]("recall_milli")).toMap
    assert(byCp(8L) == 1000L,
      "exhaustive router (cprobe=ncoarse) must recall the one-level result exactly")
    // deeper routing widens the fine pool seen by the fixed-size fine
    // probe cut, but the cut itself can swap cells, so recall vs the
    // one-level baseline is not guaranteed monotone — assert the
    // envelope, not monotonicity
    assert(curve.forall { r =>
      val m = r.getAs[Long]("recall_milli"); m >= 0L && m <= 1000L
    })
    val truth = curve.head.getAs[Long]("n_truth")
    assert(truth == 50L, s"baseline must hold k*nQueries rows, got $truth")
  }

  test("try_divide channels divide-by-zero into counted nulls, not task failures") {
    val rows = Relational.safeArithmetic(spark, sf0001).collect()
    assert(rows.length == 3)
    // qty=1 rows exist in every flag group and become nulls, the query
    // still completes (under ANSI a plain division would kill the job)
    assert(rows.map(_.getAs[Long]("n_div_zero")).sum > 0)
    assert(rows.forall(_.getAs[Double]("avg_ratio") > 0))
  }

  test("salted count distinct equals the plain countDistinct exactly") {
    val plain = Relational.t(spark, sf0001, "lineitem")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    val salted = Relational.saltedDistinctParts(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    assert(salted == plain)
  }

  test("resize never upscales, clamps to >=1, and preserves aspect") {
    val rows = Multimodal.resizeMeta(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[Long]("w"); val h = r.getAs[Long]("h")
      val outW = r.getAs[Long]("out_w"); val outH = r.getAs[Long]("out_h")
      // no upscale: output dims never exceed the input dims
      assert(outW <= w && outH <= h, s"upscaled: ${w}x$h -> ${outW}x$outH")
      assert(outW >= 1 && outH >= 1, s"degenerate dims: ${outW}x$outH")
      // integer aspect math: out_w = min(w, 8), out_h = h*out_w/w
      assert(outW == math.min(w, 8L))
      assert(outH == math.max(1L, h * outW / w))
      // the resample read real decoded pixels
      assert(r.getAs[Long]("out_pixel_sum") > 0)
    }
  }

  test("BPE-ish regex tokens: golden split and more tokens than whitespace") {
    val s2 = spark; import s2.implicits._
    val got = Seq("don't add 2.5x more-tokens!").toDF("text")
      .select(org.apache.spark.sql.functions.regexp_extract_all(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(TextAnalysis.bpeTokenPattern),
        org.apache.spark.sql.functions.lit(0)))
      .collect().head.getSeq[String](0).toList
    // same golden split DuckDB's RE2 produces (cross-engine contract)
    assert(got == List("don", "'", "t", "add", "2", ".", "5", "x", "more", "-", "tokens", "!"))
    val rows = TextAnalysis.regexTokenStats(spark, sf0001).collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getAs[Long]("sum_bpe_tokens") >= r.getAs[Long]("sum_ws_tokens")))
  }

  test("type-token ratio: bounded in (0,1], repeated text scores low") {
    val s2 = spark; import s2.implicits._
    val ttr = Seq("a a a a a a a a", "the quick brown fox jumps")
      .toDF("text")
      .select(TextAnalysis.typeTokenRatio(
        org.apache.spark.sql.functions.col("text")).as("ttr"))
      .collect().map(_.getDouble(0))
    assert(ttr(0) == 0.125 && ttr(1) == 1.0)
    val rows = TextAnalysis.repetitionStats(spark, sf0001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_ttr")
      assert(avg > 0 && avg <= 1.0001)
    }
  }

  test("gopher rules: counts match a plain-Scala recompute of every rule") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    case class Acc(n: Int = 0, fw: Int = 0, fl: Int = 0, fs: Int = 0,
      fa: Int = 0, pass: Int = 0)
    val expected = docs.groupBy(_._1).map { case (lang, rows) =>
      val acc = rows.foldLeft(Acc()) { case (a, (_, text)) =>
        val w = text.trim.split("\\s+")
        val meanLen = w.map(_.length).sum.toDouble / math.max(w.length, 1)
        val fWords = w.length < 50 || w.length > 100000
        val fLen = meanLen < 3.0 || meanLen > 10.0
        val fStop = w.count(t => t == "the" || t == "a") < 2
        val fAlpha = w.count(_.exists(_.isLetter)).toDouble /
          math.max(w.length, 1) < 0.8
        Acc(a.n + 1, a.fw + (if (fWords) 1 else 0), a.fl + (if (fLen) 1 else 0),
          a.fs + (if (fStop) 1 else 0), a.fa + (if (fAlpha) 1 else 0),
          a.pass + (if (!fWords && !fLen && !fStop && !fAlpha) 1 else 0))
      }
      lang -> acc
    }
    val got = TextAnalysis.gopherRuleStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) ==
        (e.n.toLong, e.fw.toLong, e.fl.toLong, e.fs.toLong, e.fa.toLong,
          e.pass.toLong), s"lang ${r.getString(0)}")
    }
    // the length and stopword rules must actually fire on this corpus —
    // a filter whose rules never trigger certifies nothing
    assert(got.map(_.getLong(2)).sum > 0, "word-count rule never fired")
    assert(got.map(_.getLong(4)).sum > 0, "stopword rule never fired")
  }

  test("SQ topk: quantization error bounded, high agreement with brute force") {
    val sq = Similarity.sqTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(sq.length == 50)
    val brute = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val bruteSim = brute.map(t => (t._1, t._3) -> t._4).toMap
    // int8 over per-dim ranges: dequantized sims track exact sims tightly
    val shared = sq.flatMap(t => bruteSim.get((t._1, t._3)).map(b => (t._4, b)))
    assert(shared.nonEmpty)
    shared.foreach { case (a, b) =>
      assert(math.abs(a - b) < 0.02, s"sq $a vs exact $b drifted")
    }
    // top-1 agreement on most queries (quantization can flip near-ties)
    val top1Sq = sq.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    val top1Br = brute.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    val agree = top1Sq.count { case (q, c) => top1Br.get(q).contains(c) }
    assert(agree >= 8, s"only $agree/10 top-1 agreements")
  }

  test("order cadence: per-customer gaps match a plain-Scala lag recompute") {
    val orders = Relational.t(spark, sf0001, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2).toLocalDate))
    val expected = orders.groupBy(_._1).flatMap { case (cust, rows) =>
      val sorted = rows.sortBy(r => (r._3.toEpochDay, r._2))
      val gaps = sorted.sliding(2).collect {
        case Array(a, b) => b._3.toEpochDay - a._3.toEpochDay
      }.toSeq
      if (sorted.length >= 12)
        Some(cust -> (sorted.length.toLong, gaps.max,
          math.floor(gaps.sum.toDouble / gaps.length * 100 + 0.5) / 100))
      else None
    }
    val got = Relational.orderCadence(spark, sf0001).collect()
    assert(got.length == expected.size, s"${got.length} vs ${expected.size}")
    got.foreach { r =>
      val e = expected(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == e,
        s"customer ${r.getLong(0)}")
    }
  }

  test("pii redaction: counts match the deterministic marking exactly") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).map { case (lang, rows) =>
      val emails = rows.count(_._2 % 3 == 0)
      val phones = rows.count(_._2 % 5 == 0)
      // email " contact user<id>@example.com" → match "user<id>@example.com"
      // replaced by 7-char <EMAIL>; phone match "555-dddd" (8) → <PHONE> (7)
      val removed = rows.map { case (_, id) =>
        (if (id % 3 == 0) s"user$id@example.com".length - 7 else 0) +
          (if (id % 5 == 0) 1 else 0)
      }.sum
      lang -> (rows.length.toLong, emails.toLong, phones.toLong, removed.toLong)
    }
    val got = Curation.piiRedactionStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == e,
        s"lang ${r.getString(0)}")
    }
    assert(got.map(_.getLong(2)).sum > 0 && got.map(_.getLong(3)).sum > 0,
      "markers must fire")
  }

  test("zipf rank: matches plain-Scala vocab ranking, OOV path fires") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").toSeq))
    val vocab = docs.flatMap(_._2).groupBy(identity).map { case (t, o) => (t, o.length) }
      .toSeq.sortBy { case (t, n) => (-n, t) }.take(30)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1) }.toMap
    val expected = docs.groupBy(_._1).map { case (lang, rows) =>
      val ranks = rows.flatMap(_._2).map(t => vocab.getOrElse(t, 31))
      lang -> (rows.length.toLong, ranks.length.toLong,
        math.floor(ranks.map(_.toLong).sum.toDouble / ranks.length * 100 + 0.5) / 100,
        math.floor(ranks.count(_ == 31).toDouble / ranks.length * 10000 + 0.5) / 10000)
    }
    val got = TextAnalysis.zipfRankStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)) == e,
        s"lang ${r.getString(0)}")
    }
    // the corpus vocabulary exceeds 30 tokens, so OOV must actually fire
    assert(got.exists(_.getDouble(4) > 0), "OOV ratio never fired")
  }

  test("bm25: matches a plain-Scala recompute of the full two-pass formula") {
    val terms = Seq("scan", "vector", "hash")
    val (k1, b) = (1.2, 0.75)
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val n = docs.length.toDouble
    val avgLen = docs.map(_._2.length).sum.toDouble / n
    val tf = docs.map { case (id, ts) =>
      id -> terms.map(tm => ts.count(_ == tm).toDouble) }.toMap
    val df = terms.indices.map(i => docs.count(d => tf(d._1)(i) > 0).toDouble)
    val expected = docs.map { case (id, ts) =>
      val score = terms.indices.map { i =>
        val idf = math.log(1.0 + (n - df(i) + 0.5) / (df(i) + 0.5))
        idf * (tf(id)(i) * (k1 + 1)) /
          (tf(id)(i) + k1 * (1 - b + b * ts.length / avgLen))
      }.sum
      (id, ts.length.toLong, math.floor(score * 10000 + 0.5) / 10000)
    }.filter(_._3 > 0).sortBy(t => (-t._3, t._1)).take(10).toSeq
    val got = TextAnalysis.bm25Search(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // ranking must carry signal: the winner outranks the last row
    assert(got.head._3 > got.last._3,
      "degenerate scoring: all top-10 scores identical")
  }

  test("PQ topk: well-formed ranking with nonzero brute-force overlap") {
    // fidelity caveat, asserted honestly: 16 seed codewords over
    // 8-dim subspaces of RANDOM gaussian vectors is PQ's worst case
    // (no cluster structure to exploit), so top-5 overlap with brute
    // force is low — the oracle certifies the codebook→encode→ADC→rank
    // COMPUTATION, and real recall comes from trained subspace
    // codebooks (the s06 machinery). The overlap floor just proves the
    // scores carry signal rather than noise.
    val pq = Similarity.pqTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pq.length == 50)
    pq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.sameElements(1L to 5L), s"ranks for $q")
      rows.foreach { r => assert(r._4 >= -1.0001 && r._4 <= 1.0001) }
    }
    val br = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val overlap = pq.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._3).toSet.intersect(br(q)).size
    }.sum
    assert(overlap >= 5, s"total top-5 overlap $overlap/50 is noise-level")
  }

  test("PQ topk: construction runs zero driver actions; bad corpora fail loudly") {
    import spark.implicits._
    // (1) building the DataFrame must not probe the corpus (the old
    // dim-head shape cost one job per call)
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.pqTopK(spark, sf0001)
      Thread.sleep(300)
      assert(actions.get() == 0, s"pqTopK construction ran ${actions.get()} job(s)")
    } finally spark.listenerManager.unregister(listener)
    // (2) a corpus missing the codebook seed ids errors instead of
    // silently returning empty results
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    (0L until 50L).map(i => (i, Array.fill(64)(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e1 = intercept[Exception] { Similarity.pqTopK(spark, dir).collect() }
    assert(e1.getMessage != null)
    // (3) a wrong-dim corpus errors in-row instead of slicing short
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pq2").toString
    (0L until 200L).map(i => (i, Array.fill(32)(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val e2 = intercept[Exception] { Similarity.pqTopK(spark, dir2).collect() }
    assert(e2.getMessage != null)
  }

  test("BPE model is a PERSISTED artifact: ensure is build-once and the " +
    "served pair equals a fresh training exactly") {
    val root = TextAnalysis.ensureBpeModel(spark, sf0001)
    val marker = new org.apache.hadoop.fs.Path(s"$root/vocab/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker))
    val mtime = fs.getFileStatus(marker).getModificationTime
    assert(TextAnalysis.ensureBpeModel(spark, sf0001) == root)
    assert(fs.getFileStatus(marker).getModificationTime == mtime,
      "repeat ensure must be a marker read, not a rebuild")
    // served ≡ retrained, both frames (strings + longs: bit-exact)
    val (sm, sv) = TextAnalysis.bpeTrain(spark, sf0001, 6)
    val (tm, tv) = TextAnalysis.trainBpeFrames(spark, sf0001, 6)
    assert(sm.collect().map(_.toSeq).toList == tm.collect().map(_.toSeq).toList,
      "persisted merge table must equal a fresh training row-for-row")
    def vset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList))
      .toSet
    assert(vset(sv) == vset(tv),
      "persisted segmented vocabulary must equal a fresh training")
  }

  test("sweepSuperseded: numeric suffixes tie-break numerically — an " +
    "mtime tie retains v10 over v9 (reverse-lex would keep the older tree)") {
    val parent = java.nio.file.Files.createTempDirectory("graft-sweep")
    val dirs = Seq("v9", "v10", "v11").map { n =>
      val d = parent.resolve(n).toFile
      assert(d.mkdir()); n -> d
    }.toMap
    // force an exact mtime tie between the two predecessors
    val tick = (System.currentTimeMillis() / 1000) * 1000
    assert(dirs("v9").setLastModified(tick))
    assert(dirs("v10").setLastModified(tick))
    Artifacts.sweepSuperseded(spark, parent.resolve("v11").toString, "v")
    assert(dirs("v11").exists(), "keep itself must survive")
    assert(dirs("v10").exists(),
      "the NEWER version must be the retained predecessor on an mtime tie")
    assert(!dirs("v9").exists(), "the older version must be swept")
  }

  test("simhash recall advisory reproduces the documented sf0.1 operating point") {
    // the d05b scaladoc's honesty note as a measurement: at sf0.1 the
    // exact J>=0.6 pairs number 256, their hamming tail stretches past
    // 6, and the gate banding (maxHamming=6, bands=8) recalls 237/256
    val rows = Dedup.simhashRecallAdvisory(spark, "/root/testdata/sf0.1").collect()
    val total = rows.head.getAs[Long]("total_pairs")
    assert(total == 256L, s"exact-pair census moved: $total")
    val at6 = rows.filter(_.getAs[Int]("hamming") <= 6)
      .map(_.getAs[Long]("n_pairs")).sum
    assert(at6 == 237L, s"recall numerator at maxHamming=6 moved: $at6")
    val r6row = rows.reverse.find(_.getAs[Int]("hamming") <= 6).get
    assert(math.abs(r6row.getAs[Double]("recall") - 237.0 / 256) < 1e-3)
    // operating points beyond the banding's pigeonhole bound are
    // flagged unreachable
    rows.foreach { r =>
      assert(r.getAs[Boolean]("reachable") == (r.getAs[Int]("hamming") < 8))
    }
  }

  test("sizedBanding reproduces the shipped 12x16 default at the sf0.1 seed") {
    // the formula and the default must not drift apart: n=2000 at the
    // documented operating point (pBit 0.856, recall 0.93, occupancy
    // 1/2) is exactly the embeddingNearDups default banding
    assert(Dedup.sizedBanding(2000L) == (12, 16))
    // bits tracks log2(n): +6 bits at x64 keeps bucket occupancy flat,
    // and tables grows to hold the recall floor
    val (b64, t64) = Dedup.sizedBanding(2000L * 64)
    assert(b64 == 18, s"bits at x64: $b64")
    assert(math.pow(1 - math.pow(0.856, b64), t64) <= 1 - 0.93 + 1e-12,
      s"recall floor violated at x64: bits=$b64 tables=$t64")
    // recall bound is tight-ish: one fewer table must drop below it
    assert(math.pow(1 - math.pow(0.856, b64), t64 - 1) > 1 - 0.93)
  }

  test("embeddingNearDups defaults to the sized banding at the declared n") {
    // the sized rule IS the shipped default: at a non-default corpus
    // size the default path must band wider than 12x16 — the x64 n
    // resolves (via param or conf) to sizedBanding's (b64, t64), and
    // the sketch kernel's literal args `hyperplane_buckets(emb, bits,
    // tables)` in the analyzed plan prove which banding built it
    // (construction only, nothing executed; the melt's b0..bN column
    // list is NOT a reliable witness — plan printing truncates wide
    // projections to "... N more fields")
    val (b64, t64) = Dedup.sizedBanding(2000L * 64)
    def banding(df: org.apache.spark.sql.DataFrame): String = {
      val m = s"hyperplane_buckets\\(\\S+, (\\d+), (\\d+)\\)".r
        .findFirstMatchIn(df.queryExecution.analyzed.toString)
      m.map(x => s"${x.group(1)}x${x.group(2)}").getOrElse("absent")
    }
    val viaParam = Dedup.embeddingNearDups(spark, sf0001, nParam = 2000L * 64)
    assert(banding(viaParam) == s"${b64}x$t64",
      s"param path should band to $b64 bits x $t64 tables")
    spark.conf.set("graft.neardup.n", (2000L * 64).toString)
    try {
      val viaConf = Dedup.embeddingNearDups(spark, sf0001)
      assert(banding(viaConf) == s"${b64}x$t64",
        s"conf path should band to $b64 bits x $t64 tables")
    } finally spark.conf.unset("graft.neardup.n")
    // default-default (no param, no conf) stays the certified 12x16
    assert(banding(Dedup.embeddingNearDups(spark, sf0001)) == "12x16")
    // half-set overrides are a contract violation, not a silent guess
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(spark, sf0001, bits = 12)
    }
  }

  test("quality-aware survivors elect the best member, not the smallest id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two near-dup docs where the HIGHER id has the higher quality
    // (longer text → higher length score): d08's min-id election and
    // d10's quality election must disagree on who survives
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("d10").toString
    Seq(
      (1L, long1, "en", "s"),                       // near-dup of 2, shorter
      (2L, long1 + " " + long1, "en", "s"),          // ~2x tokens: higher q
      (9L, "the the the unrelated words here stay", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // sanity: docs 1 and 2 really are a near-dup pair
    val pair = Dedup.ngramJaccardPairs(spark, dir).collect()
    assert(pair.map(r => (r.getLong(0), r.getLong(1))).toList == List((1L, 2L)))
    val byQ = Dedup.dedupSurvivorsByQuality(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val byId = Dedup.dedupSurvivors(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    // both keep 2 docs, but quality keeps doc 2 (more chars), min-id
    // keeps doc 1 — visible through sum_chars
    assert(byQ.map(_._2) == List(2L) && byId.map(_._2) == List(2L))
    assert(byQ.head._3 > byId.head._3,
      s"quality election should keep the longer doc: $byQ vs $byId")
  }

  test("incremental dedup equals the full self-join restricted to the new batch") {
    val split = 30L
    val inc = Dedup.incrementalNearDups(spark, sf0001, splitId = split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashLshPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._2 >= split).toSet
    assert(inc == full, s"inc ${inc.size} vs restricted full ${full.size}")
    assert(inc.nonEmpty, "split chosen so the batch actually has dup pairs")
    // never a corpus-internal pair: the later doc is always in the batch
    inc.foreach { case (a, b, _) => assert(b >= split && a < b) }
  }

  test("connected components match a union-find model on random graphs") {
    import scala.util.Random
    val s = spark
    import s.implicits._
    (0 until 3).foreach { trial =>
      val rnd = new Random(42 + trial)
      val nV = 60
      val edges = (0 until 80).map { _ =>
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong)
      }.filter { case (a, b) => a != b }
      // reference model: plain union-find with min-label roots
      val parent = Array.tabulate(nV.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = touched.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(
          edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("interval join: binned plan equals a plain-Scala containment check") {
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.sql.Timestamp](2).getTime, r.getString(3)))
    val sessions = ev.filter(_._4 == "click").groupBy(_._1).flatMap {
      case (user, clicks) =>
        val sorted = clicks.sortBy(c => (c._3, c._2)).map(_._3)
        val bounds = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        sorted.foreach { t =>
          if (bounds.nonEmpty && t - bounds.last._2 <= 1800000L)
            bounds(bounds.length - 1) = (bounds.last._1, t)
          else bounds += ((t, t))
        }
        // the interval stays open for the inactivity gap past the
        // last click — mirroring purchasesInSessions' end extension
        bounds.map { case (st, en) => (user, st, en + 1800000L) }
    }.toSeq
    val expected = ev.filter(_._4 == "purchase").groupBy(_._1).map {
      case (user, ps) =>
        val inS = ps.count(p => sessions.exists(s =>
          s._1 == user && p._3 >= s._2 && p._3 <= s._3))
        user -> (ps.length.toLong, inS.toLong)
    }
    val got = Events.purchasesInSessions(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getLong(0))
      assert((r.getLong(1), r.getLong(2)) == e, s"user ${r.getLong(0)}")
    }
    assert(got.map(_.getLong(2)).sum > 0, "no purchase ever landed in a session")
  }

  test("filtered topk: every neighbor carries the label; pre-filter beats post-filter") {
    val emb = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filtered = Similarity.filteredTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(filtered.length == 50)
    filtered.foreach { case (_, c) => assert(emb(c) == 2, s"neighbor $c label") }
    // pre-filtering must surface neighbors a post-filtered unrestricted
    // top-k would never see (the unfiltered top-5 is label-diverse)
    val unfiltered = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val novel = filtered.count { case (q, c) => !unfiltered(q).contains(c) }
    assert(novel > 0, "filtered results identical to unfiltered — filter vacuous")
  }

  test("funnel: counts and lag match a plain-Scala recompute") {
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1).getTime,
        r.getString(2)))
    val byUser = ev.groupBy(_._1)
    val firstClick = byUser.view.mapValues(
      _.filter(_._3 == "click").map(_._2).minOption).toMap
    val lags = byUser.flatMap { case (u, rows) =>
      firstClick(u).flatMap { fc =>
        rows.filter(r => r._3 == "purchase" && r._2 >= fc)
          .map(_._2 - fc).minOption
      }.map(u -> _)
    }
    val nUsers = byUser.size.toLong
    val nClicked = firstClick.count(_._2.isDefined).toLong
    val nConv = lags.size.toLong
    val avgH = math.floor(lags.values.sum.toDouble / (nConv * 3600000.0)
      * 100 + 0.5) / 100
    val r = Events.clickPurchaseFunnel(spark, sf0001).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      (nUsers, nClicked, nConv, avgH))
    assert(nConv > 0 && nConv <= nClicked && nClicked <= nUsers)
  }

  test("retention: offset-0 cells cover every user exactly once") {
    val rows = Events.retentionCohorts(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, off, n) => assert(off >= 0 && n > 0) }
    // every user is active in their own cohort week, so Σ offset-0
    // cells == distinct users; later offsets can only shrink per cohort
    val users = Relational.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._3).sum == users)
    rows.groupBy(_._1).foreach { case (cw, cells) =>
      val zero = cells.find(_._2 == 0L).map(_._3).getOrElse(0L)
      cells.foreach { case (_, _, n) => assert(n <= zero, s"cohort $cw") }
    }
  }

  test("spikes: integer 3-sigma rule matches a plain-Scala trailing-window model") {
    val w = 6
    val ev = Relational.events(spark, sf0001)
      .select(col("event_type"), unix_millis(col("ts")).as("tms"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 3600000L))
    val expected = ev.groupBy(_._1).map { case (et, rows) =>
      val hourly = rows.groupBy(_._2).map { case (hb, o) => (hb, o.length.toLong) }
        .toSeq.sortBy(_._1)
      val scored = hourly.indices.map { i =>
        val win = hourly.slice(math.max(0, i - w), i).map(_._2)
        val (c, nw) = (hourly(i)._2, win.length)
        val (sw, sq) = (win.sum, win.map(x => x * x).sum)
        val (dev, varw) = (c * w - sw, sq * w - sw * sw)
        val spike = nw == w && dev > 0 && dev * dev > 9 * varw
        val z = if (nw == w && varw > 0)
          Some(math.floor(dev.toDouble / math.sqrt(varw.toDouble) * 1000 + 0.5) / 1000)
        else None
        (nw == w, spike, z)
      }
      et -> (hourly.length.toLong, scored.count(_._1).toLong,
        scored.count(_._2).toLong, scored.flatMap(_._3).maxOption)
    }
    val got = Events.spikeStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))) == e,
        s"type ${r.getString(0)}")
    }
    // the flag must be live in both directions
    val (sp, ev2) = (got.map(_.getLong(3)).sum, got.map(_.getLong(2)).sum)
    assert(sp > 0 && sp < ev2, s"degenerate spike flag: $sp/$ev2")
  }

  test("image near-dups: banded decode path equals the quadratic formula model") {
    // the model recomputes the fixture formula the decode path never
    // sees (the oracle's role, in Scala): geometry from id, 8x8 NN
    // squash, band-mean floor-div, g*64 > tot threshold
    def ahashBits(id: Long): IndexedSeq[Int] = {
      val (w, h, ch) = ((id % 29 + 4).toInt, (id % 19 + 4).toInt,
        if (id % 2 == 0) 1 else 3)
      val px = for (y <- 0 until 8; x <- 0 until 8) yield {
        val (sx, sy) = (x * w / 8, y * h / 8)
        (0 until ch).map(b => ((7 * sx + 13 * sy + 17 * b + id) % 256).toInt)
          .sum / ch
      }
      val tot = px.map(_.toLong).sum
      px.map(p => if (p * 64L > tot) 1 else 0)
    }
    val ids = Relational.t(spark, sf0001, "documents")
      .filter(col("doc_id") % 3 === 0).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val bits = ids.map(id => id -> ahashBits(id)).toMap
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      d = bits(ids(i)).zip(bits(ids(j))).count { case (a, b) => a != b }
      if d <= 3
    } yield (ids(i), ids(j), d.toLong)).toSeq
    val got = Multimodal.imageNearDupPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected.sortBy(p => (p._1, p._2)))
    assert(got.nonEmpty, "no near-dup pairs — fixture degenerate")
    // banding completeness is doing real work: some pair above 0 hamming
    assert(got.exists(_._3 > 0), "only exact-equal hashes found")
  }

  test("audio near-dups: banded codec path equals the envelope formula model; siblings collide") {
    // the model recomputes the PCM formula the decode path never sees
    // (the oracle's role, in Scala): 64-window |sample| energy, the
    // division-free mean threshold, full quadratic hamming
    def envBits(id: Long, halved: Boolean): IndexedSeq[Int] = {
      val n = (256 + id % 64).toInt
      val win = Array.fill(64)(0L)
      var tot = 0L
      for (t <- 0 until n) {
        val v0 = (((id * 31 + t * 7) % 65536) - 32768).toInt
        val wi = t * 64 / n
        val g = 1 + 3 * (((id * 2654435761L) >> wi) & 1L).toInt
        val vg = math.floorDiv(v0, g)
        val v = if (halved) math.floorDiv(vg, 2) else vg
        val a = math.abs(v).toLong
        win(wi) += a; tot += a
      }
      (0 until 64).map(i => if (win(i) * 64L > tot) 1 else 0)
    }
    val ids = Relational.t(spark, sf0001, "documents")
      .filter(col("doc_id") % 3 === 1).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val media = ids.flatMap(id =>
      Seq(id -> envBits(id, halved = false),
        (id + 1000000L) -> envBits(id, halved = true))).sortBy(_._1)
    val expected = (for {
      i <- media.indices; j <- (i + 1) until media.length
      d = media(i)._2.zip(media(j)._2).count { case (a, b) => a != b }
      if d <= 3
    } yield (media(i)._1, media(j)._1, d.toLong))
      .sortBy(p => (p._1, p._2))
    val got = Multimodal.audioNearDupPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // every planted half-gain sibling collides — the envelope really
    // is gain-invariant through the codec round-trip
    val sibs = got.filter { case (a, b, _) => b == a + 1000000L }
    assert(sibs.length == ids.length, s"${sibs.length} of ${ids.length} siblings found")
  }

  test("repeated spans: goldens — shared block found, sub-window spans, none below w") {
    import spark.implicits._
    // docs 1 and 2 share the 9-token block "q w e r t y u i o"; doc 3
    // is disjoint; doc 4 repeats the block a THIRD time
    val docs = Seq(
      (1L, "a b q w e r t y u i o c"),
      (2L, "q w e r t y u i o z z2 z3"),
      (3L, "m n b v c x l k j h g f"),
      (4L, "pre1 pre2 q w e r t y u i o")).toDF("doc_id", "text")
    val out = Dedup.repeatedSpansOf(docs, w = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a shared 9-token block yields exactly its two 8-token windows,
    // each in all three carrying docs
    assert(out.toSeq == Seq(
      ("q w e r t y u i", 3L, 1L),
      ("w e r t y u i o", 3L, 1L)))
    // at w=10 the shared block is too short to window — nothing repeats
    assert(Dedup.repeatedSpansOf(docs, w = 10).count() == 0)
  }

  test("repeated spans: within-doc repetition never counts as cross-doc") {
    import spark.implicits._
    val docs = Seq(
      // the same 8-token run appears TWICE in one doc
      (1L, "s1 s2 s3 s4 s5 s6 s7 s8 gap s1 s2 s3 s4 s5 s6 s7 s8"),
      (2L, "completely different tokens here with no overlap at all")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpansOf(docs, w = 8).count() == 0,
      "per-doc distinctness must collapse within-doc repeats before counting")
  }

  test("repeated spans ≡ plain string-grouping model on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // small token alphabet + short docs → natural cross-doc collisions
    def doc(): String = Seq.fill(6 + rnd.nextInt(10))(
      s"t${rnd.nextInt(6)}").mkString(" ")
    val rows = (1L to 40L).map(i => (i, doc()))
    val w = 3
    val model = rows
      .flatMap { case (id, text) =>
        val ts = text.trim.split("\\s+")
        if (ts.length < w) Nil
        else ts.sliding(w).map(_.mkString(" ")).toSeq.distinct.map(sp => (sp, id))
      }
      .groupBy(_._1).map { case (sp, xs) => (sp, xs.size.toLong, xs.map(_._2).min) }
      .filter(_._2 >= 2).toSeq.sortBy(_._1)
    val got = Dedup.repeatedSpansOf(rows.toDF("doc_id", "text"), w)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == model)
  }

  test("semdedup ≡ first-wins prune recomputed on the trained assignment") {
    // the assignment itself is s06/s07-certified; this pins the d12
    // layer on top: within-cluster, a vector drops iff a smaller id
    // in the SAME cluster sits at r4(cosine) ≥ 0.4 (kernel-identical
    // left-to-right double accumulation in the model)
    val cellOf = Similarity.trainedCentroids(spark, sf0001, 32, 2)._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val embs = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val model = cellOf.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted).toMap
      .map { case (cell, ids) =>
        val nDrop = ids.count(b2 => ids.exists(a2 =>
          a2 < b2 && modelR4(modelCos(embs(a2), embs(b2))) >= 0.4))
        (cell, ids.length.toLong, nDrop.toLong)
      }.toSeq.sortBy(_._1)
    val got = Dedup.semDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == model)
    // every vector is assigned exactly once; the prune must actually
    // fire on the planted near-identical pairs
    assert(got.map(_._2).sum == embs.size)
    assert(got.map(_._3).sum > 0, "no near-dup dropped — planted pairs missing?")
  }

  test("semdedup nlist sizing: rule pins the default; conf and param override") {
    // the sizedBanding discipline applied to d12: the rule reproduces
    // the long-certified 32 at the sf0.1 seed, holds occupancy ~64
    // as the corpus grows (parallelism scales as n/64, never a fixed
    // 32-key shuffle), and explicit param / session conf override it
    assert(Dedup.sizedNlist(2000) == 32)
    assert(Dedup.sizedNlist(2000 * 16) == 500)
    assert(Dedup.sizedNlist(2000 * 64) == 2000)
    // the oracle-checked contract must hold at a NON-default cluster
    // count too: recompute the first-wins model on the nlist=16
    // trained assignment
    val cellOf = Similarity.trainedCentroids(spark, sf0001, 16, 2)._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val embs = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val model = cellOf.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted).toMap
      .map { case (cell, ids) =>
        val nDrop = ids.count(b2 => ids.exists(a2 =>
          a2 < b2 && modelR4(modelCos(embs(a2), embs(b2))) >= 0.4))
        (cell, ids.length.toLong, nDrop.toLong)
      }.toSeq.sortBy(_._1)
    def run() = Dedup.semDedup(spark, sf0001, nlist = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run() == model)
    assert(model.size == 16 && model.map(_._2).sum == embs.size)
    // session-conf resolution reaches the same place as the param
    spark.conf.set("graft.semdedup.nlist", "16")
    try {
      val viaConf = Dedup.semDedup(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(viaConf == model)
    } finally spark.conf.unset("graft.semdedup.nlist")
  }

  test("semdedup recall advisory ≡ brute-force captured-pair model (d13)") {
    // d12's within-cluster-only trade, measured: for every pair at
    // r4(cosine) ≥ 0.4, is it visible to the prune (same cell)?
    val cellOf = Similarity.trainedCentroids(spark, sf0001, 32, 2)._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val embs = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val ids = embs.keys.toSeq.sorted
    val pairs = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      sim = modelR4(modelCos(embs(ids(i)), embs(ids(j)))) if sim >= 0.4
    } yield (math.floor(sim * 10) / 10.0, cellOf(ids(i)) == cellOf(ids(j)))
    assert(pairs.nonEmpty, "no pairs above threshold — planted near-dups missing?")
    val model = pairs.groupBy(_._1).toSeq.sortBy(_._1).map { case (bin, xs) =>
      val cap = xs.count(_._2).toLong
      (bin, xs.size.toLong, cap,
        math.floor(cap.toDouble / xs.size * 1000 + 0.5) / 1000)
    }
    val got = Dedup.semDedupRecallAdvisory(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == model)
  }

  test("s13: cell-bounded knn graph ≡ per-cell brute force with the s01 tie contract") {
    val cellOf = Similarity.trainedCentroids(spark, sf0001, 32, 2)._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val embs = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val k = 3
    val model = cellOf.toSeq.groupBy(_._2).values.flatMap { xs =>
      val ids = xs.map(_._1)
      ids.flatMap { a =>
        ids.filter(_ != a)
          .map(b => (b, modelR4(modelCos(embs(a), embs(b)))))
          .sortBy { case (nb, sim) => (-sim, nb) }
          .take(k).zipWithIndex
          .map { case ((nb, sim), i) => (a, (i + 1).toLong, nb, sim) }
      }
    }.toSeq.sortBy(t2 => (t2._1, t2._2))
    val got = Similarity.knnGraph(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == model)
    // every vector in a multi-member cell has at least one neighbor
    assert(got.map(_._1).distinct.size ==
      cellOf.groupBy(_._2).values.filter(_.size > 1).map(_.size).sum)
  }

  test("c13: prototype-prune ranking ≡ cosine-to-own-centroid recomputation") {
    val (centF, assignF) = Similarity.trainedCentroids(spark, sf0001, 32, 2)
    val cents = centF.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val cellOf = assignF.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val embs = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val model = cellOf.toSeq.groupBy(_._2).toSeq.flatMap { case (cell, xs) =>
      val ranked = xs.map(_._1)
        .map(id => (id, modelR4(modelCosD(embs(id), cents(cell)))))
        .sortBy { case (id, csim) => (-csim, id) }
      val nPruned = ranked.size / 4
      ranked.zipWithIndex.map { case ((id, csim), i) =>
        (cell, id, (i + 1).toLong, csim, if (i + 1 <= nPruned) 1 else 0)
      }
    }.sortBy(t2 => (t2._1, t2._3))
    val got = Similarity.prototypePruneStats(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    assert(got == model)
    // the prune flag is live: some but not all vectors flagged
    val flagged = got.count(_._5 == 1)
    assert(flagged > 0 && flagged < got.size)
  }

  test("d14: cross-source matrix ≡ certified exact pairs regrouped by source") {
    // the pair set itself is d03/d04-certified; this pins the matrix
    // layer: least/greatest source ordering, milli-scaled exact mean
    val srcOf = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.ngramJaccardPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    val model = pairs.map { case (a, b, j) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      ((if (sa <= sb) sa else sb, if (sa <= sb) sb else sa), j)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case ((sa, sb), xs) =>
      val millis = xs.map(x => math.floor(x._2 * 1000 + 0.5).toLong).sum
      (sa, sb, xs.size.toLong, modelR3(millis.toDouble / 1000 / xs.size))
    }
    val got = Dedup.crossSourceNearDupMatrix(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == model)
    // the matrix is genuinely cross-source on this corpus
    assert(got.exists(g => g._1 != g._2), s"no cross-source dup pair: $got")
  }

  test("p05: quality-weighted draw ≡ per-doc md5-threshold model; sampling upweights quality") {
    val rows = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex8(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8)
    def qv(text: String): Double = {
      val ts = text.trim.split("\\s+")
      val stopRatio = modelR4(
        ts.count(t2 => t2 == "the" || t2 == "a").toDouble / math.max(ts.length, 1))
      modelR4(math.min(ts.length / 100.0, 1.0) * (1.0 - stopRatio))
    }
    def kept(id: Long, q: Double): Boolean = {
      val v = math.floor(q * 4294967296.0).toLong
      v >= 4294967296L || md5hex8(id.toString) < f"$v%08x"
    }
    val perDoc = rows.map { case (id, lang, text) =>
      val q = qv(text); (lang, q, kept(id, q))
    }
    val model = perDoc.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, xs) =>
      val qis = xs.map(x => math.floor(x._2 * 1e4 + 0.5).toLong)
      val keptQis = xs.zip(qis).collect { case ((_, _, true), qi) => qi }
      (lang, xs.size.toLong, keptQis.size.toLong,
        modelR4(qis.sum.toDouble / 1e4 / xs.size),
        modelR4(keptQis.sum.toDouble / 1e4 / math.max(keptQis.size, 1)))
    }
    val got = Sampling.qualityWeightedSample(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == model)
    // both branches live, and the draw genuinely upweights quality:
    // every lang samples some-but-not-all docs, at a higher mean
    // quality than its full population
    assert(got.forall(g => g._3 > 0 && g._3 < g._2), s"degenerate draw: $got")
    assert(got.count(g => g._5 > g._4) >= got.size - 1,
      s"sampling did not upweight quality: $got")
  }

  test("t11: unigram cross-entropy ≡ driver-replicated LM (micronat-exact sums)") {
    // the full model replayed in plain Scala: top-24 add-one unigram
    // LM, per-token ln((N+V+1)/(c+1)) scaled to integer micronats
    // before ANY summation — the exact arithmetic the Spark side and
    // the DuckDB oracle both commit to
    val rows = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val allToks = rows.flatMap(_._4.trim.split("\\s+"))
    val cnt = allToks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = allToks.length.toLong
    val v = 24
    val vocab = cnt.toSeq.sortBy { case (tk, c) => (-c, tk) }.take(v).toMap
    def micronats(tok: String): Long = {
      val c = vocab.getOrElse(tok, 0L)
      math.floor(math.log((n + v + 1).toDouble / (c + 1).toDouble) * 1e6 + 0.5).toLong
    }
    val perDoc = rows.map { case (_, lang, src, text) =>
      val ts = text.trim.split("\\s+")
      val ce = ts.map(micronats).sum.toDouble / 1e6 / ts.length
      (lang, src, ce, ts.length.toLong, ts.count(vocab.contains).toLong)
    }
    val model = perDoc.groupBy(d => (d._1, d._2)).toSeq.sortBy(_._1)
      .map { case ((lang, src), ds) =>
        val avg = ds.map(d => math.floor(d._3 * 1e6 + 0.5).toLong).sum
          .toDouble / 1e6 / ds.length
        (lang, src, ds.length.toLong, modelR3(avg),
          modelR3(ds.map(_._3).min), modelR3(ds.map(_._3).max),
          modelR4(1.0 - ds.map(_._5).sum.toDouble / ds.map(_._4).sum))
      }
    val got = TextAnalysis.unigramCrossEntropy(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == model)
    // vocab 24 of 31 distinct tokens: BOTH LM branches live — every
    // group scores real in-vocab tokens AND real OOV mass
    assert(got.forall(g => g._7 > 0 && g._7 < 1), s"dead OOV branch: $got")
  }

  test("rerank topk: k exact-scored neighbors per query, subset of SQ candidates") {
    val k = 5
    val out = Similarity.rerankTopK(spark, sf0001, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.forall(_._2.length == k))
    // scores are EXACT cosine — every (q, c, sim) must match the brute
    // force scoring of the same pair (the property the rerank buys)
    val brute = Similarity.bruteForceTopK(spark, sf0001, k = 40).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val cands = Similarity.sqTopK(spark, sf0001, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    out.foreach { case (q, _, c, sim) =>
      assert(cands.contains((q, c)), s"($q,$c) not from the retrieve stage")
      brute.get((q, c)).foreach(exact =>
        assert(math.abs(exact - sim) < 1e-9, s"($q,$c): $sim != exact $exact"))
    }
    // ranks are contiguous and sims non-increasing per query
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to k).toSeq)
      assert(sorted.sliding(2).forall(p => p(0)._4 >= p(1)._4))
    }
  }

  test("token entropy: matches plain-Scala histogram recompute, low flag fires") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").toSeq))
    def entMicro(ts: Seq[String]): Long = {
      val n = ts.length.toDouble
      ts.groupBy(identity).values.map { o =>
        val c = o.length.toDouble
        math.floor(c * math.log(n / c) / n * 1e6 + 0.5).toLong
      }.sum
    }
    val expected = docs.groupBy(_._1).map { case (lang, rows) =>
      val ems = rows.map(r => entMicro(r._2))
      val ents = ems.map(_.toDouble / 1e6)
      lang -> (rows.length.toLong,
        math.floor(ems.sum.toDouble / 1e6 / rows.length * 1000 + 0.5) / 1000,
        math.floor(ents.min * 1000 + 0.5) / 1000,
        math.floor(ents.max * 1000 + 0.5) / 1000,
        ents.count(_ < 3.0).toLong)
    }
    val got = TextAnalysis.tokenEntropyStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getLong(5)) == e, s"lang ${r.getString(0)}")
    }
    // the prune flag must be LIVE in both directions: some docs below
    // the threshold, and never a whole language
    val (low, all) = (got.map(_.getLong(5)).sum, got.map(_.getLong(1)).sum)
    assert(low > 0 && low < all, s"degenerate low-entropy flag: $low/$all")
  }

  test("dsir: matches a plain-Scala two-LM recompute; above-mean cut is live") {
    val vocabSize = 24
    val target = "src0"
    val docs = Relational.t(spark, sf0001, "documents")
      .select("lang", "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getString(2).trim.split("\\s+").toSeq))
    val cr = docs.flatMap(_._3).groupBy(identity).map { case (t, o) => (t, o.length.toLong) }
    val ct = docs.filter(_._2 == target).flatMap(_._3)
      .groupBy(identity).map { case (t, o) => (t, o.length.toLong) }
    val nr = cr.values.sum; val nt = ct.values.sum
    val vp1 = vocabSize + 1L
    val vocab = cr.toSeq.sortBy { case (t, n) => (-n, t) }.take(vocabSize).map(_._1).toSet
    def lam(tok: String): Long = {
      val (c_t, c_r) =
        if (vocab(tok)) (ct.getOrElse(tok, 0L), cr(tok)) else (0L, 0L)
      math.floor(math.log(((c_t + 1) * (nr + vp1)).toDouble /
        ((c_r + 1) * (nt + vp1)).toDouble) * 1e6 + 0.5).toLong
    }
    val dms = docs.map { case (lang, src, ts) =>
      val lm = ts.map(lam).sum
      (lang, src, math.floor(lm.toDouble / 1e6 / ts.length * 1e6 + 0.5).toLong)
    }
    val tot = dms.map(_._3).sum; val nCorpus = dms.length.toLong
    val expected = dms.groupBy(d => (d._1, d._2)).map { case (k, rows) =>
      k -> (rows.length.toLong,
        math.floor(rows.map(_._3).sum.toDouble / 1e6 / rows.length * 10000 + 0.5) / 10000,
        rows.count(_._3 * nCorpus > tot).toLong)
    }
    val got = Sampling.dsirStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected((r.getString(0), r.getString(1)))
      assert((r.getLong(2), r.getDouble(3), r.getLong(4)) == e,
        s"group ${r.getString(0)}/${r.getString(1)}")
    }
    // the relative cut must separate: strictly between 0 and all (an
    // absolute λ>0 cut was measured degenerate — 499/500 — which is
    // exactly what this guards against)
    val (tl, all) = (got.map(_.getLong(4)).sum, got.map(_.getLong(2)).sum)
    assert(tl > 0 && tl < all, s"degenerate target-like cut: $tl/$all")
  }

  test("centrality: equals integer power iteration over the s13 edge graph") {
    // knnGraph's edges are themselves oracled (s13), so replaying the
    // rank rounds over ITS output cross-checks s14's internal edge
    // construction and the iteration in one shot
    val edges = Similarity.knnGraph(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nb_id")))
    val got = Similarity.knnCentrality(spark, sf0001).collect()
    val nodes = got.map(_.getAs[Long]("vec_id"))
    assert(nodes.distinct.length == nodes.length)
    val out = edges.groupBy(_._1).map { case (s0, es) => (s0, es.map(_._2)) }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val next = scala.collection.mutable.Map(nodes.map(_ -> 150000L): _*)
      out.foreach { case (u, nbs) =>
        val contrib = r(u) * 85L / 100L / nbs.length
        nbs.foreach(v => next(v) += contrib)
      }
      r = next.toMap
    }
    got.foreach { row =>
      val v = row.getAs[Long]("vec_id")
      assert(row.getAs[Double]("score") == r(v).toDouble / 1e6, s"vec $v")
      assert(row.getAs[Long]("outdeg") == out.get(v).map(_.length.toLong).getOrElse(0L))
    }
    // per-cell ranking: consecutive from 1, scores non-increasing,
    // ties broken by vec_id
    got.groupBy(_.getAs[Long]("cell")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to rows.length).toSeq)
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        val (a, b) = (p(0), p(1))
        assert(a.getAs[Double]("score") > b.getAs[Double]("score") ||
          (a.getAs[Double]("score") == b.getAs[Double]("score") &&
            a.getAs[Long]("vec_id") < b.getAs[Long]("vec_id")))
      }
    }
    // mass actually moved: somebody accumulated above the r0 baseline
    assert(got.exists(_.getAs[Double]("score") > 1.0), "no rank accumulation")
  }

  test("mmr: equals a plain-Scala greedy replay; diversity changes the ranking") {
    val (nQ, k, pool) = (10, 5, 16)
    val embs = Relational.t(spark, sf0001, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS emb")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def norm(e: Array[Double]) = math.sqrt(e.map(x => x * x).sum)
    def i4(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      math.floor(dot / (norm(a) * norm(b)) * 10000 + 0.5).toLong
    }
    val expected = (0L until nQ).flatMap { q =>
      val cands = embs.keys.filter(_ != q).toSeq
        .map(c => (c, i4(embs(q), embs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(pool).sortBy(_._1)
      var selected = List.empty[Long]
      val md4 = scala.collection.mutable.Map[Long, Long]()
      (1 to math.min(k, cands.length)).map { r =>
        val scoredC = cands.filterNot(c => selected.contains(c._1)).map {
          case (c, sq4) =>
            val div = if (r == 1) 0L else 3L * md4(c)
            (c, sq4, 7L * sq4 - div)
        }
        val (c, sq4, sc) = scoredC.minBy { case (c0, _, s0) => (-s0, c0) }
        selected ::= c
        cands.foreach { case (o, _) =>
          if (!selected.contains(o)) {
            val s4 = i4(embs(o), embs(c))
            if (!md4.contains(o) || s4 > md4(o)) md4(o) = s4
          }
        }
        (q, r.toLong, c, sq4.toDouble / 10000.0, sc)
      }
    }
    val got = Similarity.mmrTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // diversity must be load-bearing: for some query the MMR set
    // differs from the plain relevance top-k
    val mmrSets = got.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val topkSets = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(mmrSets.exists { case (q, s0) => s0 != topkSets(q) },
      "MMR never diverged from plain top-k — diversity term is dead")
  }

  test("t13: ngram novelty ≡ plain-Scala cross-doc window model") {
    val n = 5
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val wins = docs.flatMap { case (id, w) =>
      if (w.length < n) Seq.empty
      else w.sliding(n).map(g => (id, g.mkString(" "))).toSeq
    }
    val rep = wins.distinct.groupBy(_._2).filter(_._2.map(_._1).distinct.length >= 2).keySet
    val expected = wins.groupBy(_._1).map { case (id, os) =>
      val nw = os.length.toLong
      val nd = os.count(o => rep.contains(o._2)).toLong
      id -> (nw, nd, math.floor((1.0 - nd.toDouble / nw) * 10000 + 0.5) / 10000)
    }
    val got = TextAnalysis.ngramNoveltyStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getDouble(3)) ==
        expected(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
    // the signal must be live: some duplication exists, but not total
    val (dup, all) = (got.map(_.getLong(2)).sum, got.map(_.getLong(1)).sum)
    assert(dup > 0 && dup < all, s"degenerate duplication: $dup/$all")
  }

  test("t13: a doc repeating its own 5-gram stays fully novel") {
    import spark.implicits._
    val tmpDir = java.nio.file.Files.createTempDirectory("t13").toString
    Seq(
      (1L, "a b c d e x a b c d e", "en", "s0", 0L),
      (2L, "p q r s t u v w x y z", "en", "s0", 0L),
      (3L, "u v w x y z m n o p q", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
    val got = TextAnalysis.ngramNoveltyStats(spark, tmpDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1 repeats "a b c d e" twice but shares nothing cross-doc
    assert(got(1L) == (7L, 0L))
    // docs 2 and 3 share the 6-token overlap "u v w x y z" → two
    // 5-gram positions each
    assert(got(2L)._2 == 2L && got(3L)._2 == 2L)
  }

  test("t14: source KL ≡ plain-Scala distribution recompute; divergence is live") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").toSeq))
    val cnt = docs.flatMap { case (s2, ts) => ts.map((s2, _)) }
      .groupBy(identity).map { case (k, o) => (k, o.length.toLong) }
    val g = cnt.groupBy(_._1._2).map { case (t2, m) => (t2, m.values.sum) }
    val ng = cnt.values.sum
    val expected = cnt.groupBy(_._1._1).map { case (src, m) =>
      val ns = m.values.sum
      val tnn = m.map { case ((_, t2), c) =>
        math.floor(c.toDouble / ns *
          math.log((c * ng).toDouble / (ns * g(t2)).toDouble) * 1e9 + 0.5).toLong
      }.sum
      src -> (docs.count(_._1 == src).toLong, ns, m.size.toLong,
        math.floor(tnn.toDouble / 1e9 * 10000 + 0.5) / 10000)
    }
    val got = TextAnalysis.sourceKlStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)) ==
        expected(r.getString(0)), s"source ${r.getString(0)}")
    }
    // KL is non-negative by Gibbs' inequality and must not be
    // uniformly zero (sources do differ)
    assert(got.forall(_.getDouble(4) >= 0.0))
    assert(got.exists(_.getDouble(4) > 0.0))
  }

  test("e09: transition matrix ≡ plain-Scala consecutive-pair model") {
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._2, r._3)).map(_._4).toList.sliding(2)
        .collect { case a :: b :: Nil => (a, b) }
    }.toSeq
    val cnt = pairs.groupBy(identity).map { case (k, o) => (k, o.length.toLong) }
    val fromTot = cnt.groupBy(_._1._1).map { case (f, m) => (f, m.values.sum) }
    val got = Events.transitionStats(spark, sf0001).collect()
    assert(got.length == cnt.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == cnt(k), s"count $k")
      val share = math.floor(
        cnt(k).toDouble / fromTot(k._1) * 10000 + 0.5) / 10000
      assert(r.getDouble(3) == share, s"share $k")
    }
    // shares row-normalize: each from_type's shares sum to ~1
    got.groupBy(_.getString(0)).values.foreach { rows =>
      val sum = rows.map(_.getDouble(3)).sum
      assert(math.abs(sum - 1.0) < 1e-3, s"row sum $sum")
    }
  }

  test("p07: per-stratum fixed sample — exact k, window-model equal, repartition-stable") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def hex13(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(13)
    }
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.map(_._2).sortBy(id => (hex13(id), id)).take(5).toSeq
        .zipWithIndex.map { case (id, i) => (src, (i + 1).toLong, id) }
    }.toSet
    val got = Sampling.stratifiedFixedSample(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == expected)
    // exactly k per stratum
    got.groupBy(_._1).values.foreach(rows => assert(rows.length == 5))
    // the draw is content-derived: a physical reshuffle cannot move it
    val re = Sampling.stratifiedFixedSample(spark, sf0001)
    assert(re.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet == expected)
  }

  test("d15: block dedup ≡ plain-Scala first-wins model; within-doc repeat IS removed") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .sortBy(_._1)
    val bt = 16
    val occ = docs.flatMap { case (id, w) =>
      w.grouped(bt).zipWithIndex.map { case (b, i) => (id, i, b.mkString(" ")) }
    }
    val seen = scala.collection.mutable.Set[String]()
    val kept = occ.map { case (id, bi, b) =>
      val first = !seen.contains(b); seen += b; (id, bi, b, first)
    }
    val expected = kept.groupBy(_._1)
      .filter(_._2.exists(!_._4))
      .map { case (id, rows) =>
        id -> (rows.length.toLong, rows.count(!_._4).toLong,
          rows.filter(_._4).sortBy(_._2).map(_._3).mkString(" "))
      }
    val got = Dedup.blockDedupStats(spark, sf0001).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getString(3)) ==
        expected(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }

  test("d15: within-doc duplicate block excised; unique docs unreported") {
    import spark.implicits._
    val tmpDir = java.nio.file.Files.createTempDirectory("d15").toString
    val block = (1 to 16).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, s"$block $block tail words here", "en", "s0", 0L),
      (2L, "an entirely distinct document body", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
    val got = Dedup.blockDedupStats(spark, tmpDir).collect()
    // only doc 1 is affected: its second 16-token block repeats its
    // first and is excised; the partial tail block survives
    assert(got.length == 1 && got(0).getLong(0) == 1L)
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 1L)
    assert(got(0).getString(3) == s"$block tail words here")
  }

  test("s16: range search ≡ plain-Scala radius model; consistent with s01 top-1") {
    val emb = Relational.t(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = emb.filter(_._1 < 10).map { case (q, qe) =>
      val sims = emb.filter(_._1 != q)
        .map(c => math.floor(cos(qe, c._2) * 1e4 + 0.5).toLong)
        .filter(_ >= 2500L)
      q -> (sims.length.toLong, sims.maxOption.map(_.toDouble / 1e4),
        if (sims.isEmpty) None
        else Some(math.floor(sims.sum.toDouble / 1e4 / sims.length * 1e4 + 0.5) / 1e4))
    }.filter(_._2._1 > 0).toMap
    val got = Similarity.rangeSearch(spark, sf0001).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val e = expected(r.getLong(0))
      assert(r.getLong(1) == e._1 && r.getDouble(2) == e._2.get &&
        r.getDouble(3) == e._3.get, s"q ${r.getLong(0)}")
    }
    // the in-range max equals s01's rank-1 similarity for queries
    // where rank-1 clears the radius (shared kernel, shared grid)
    val top1 = Similarity.bruteForceTopK(spark, sf0001).collect()
      .filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    got.foreach { r =>
      val t1 = top1(r.getLong(0))
      if (t1 >= 0.25) assert(r.getDouble(2) == t1, s"q ${r.getLong(0)}")
    }
  }

  test("p08: epoch plan ≡ plain-Scala sqrt-mixture model; tail upsampled, head subsampled") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").length.toLong))
    val byLang = docs.groupBy(_._1).map { case (l, rows) =>
      l -> (rows.length.toLong, rows.map(_._2).sum)
    }
    val s6 = byLang.map { case (l, (_, nt)) =>
      l -> math.floor(math.sqrt(nt.toDouble) * 1e6 + 0.5).toLong
    }
    val sw = s6.values.sum
    val nc = byLang.values.map(_._2).sum
    val got = Sampling.epochPlan(spark, sf0001).collect()
    assert(got.length == byLang.size)
    got.foreach { r =>
      val l = r.getString(0)
      val (nd, nt) = byLang(l)
      assert(r.getLong(1) == nd && r.getLong(2) == nt, s"counts $l")
      assert(r.getDouble(3) ==
        math.floor(s6(l).toDouble / sw * 10000 + 0.5) / 10000, s"weight $l")
      assert(r.getLong(4) ==
        math.floor((2L * nc * s6(l)).toDouble / sw.toDouble).toLong, s"alloc $l")
      assert(r.getDouble(5) == math.floor((2L * nc * s6(l)).toDouble /
        (sw * nt).toDouble * 10000 + 0.5) / 10000, s"epochs $l")
    }
    // the sqrt rule must bite: the largest stratum runs FEWER epochs
    // than the smallest (tail upsampled toward uniform)
    val byTok = got.sortBy(_.getLong(2))
    assert(byTok.last.getDouble(5) < byTok.head.getDouble(5),
      "temperature rule degenerate: head not subsampled relative to tail")
    // allocations conserve the budget to within |strata| flooring units
    val alloc = got.map(_.getLong(4)).sum
    assert(alloc <= 2L * nc && alloc >= 2L * nc - got.length)
  }

  test("c14: contamination curve ≡ plain-Scala model; accidental overlap decays with n") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).trim.split("\\s+").toSeq))
    def curve(n: Int): (Long, Long, Option[Double]) = {
      val sh = docs.filter(_._3.length >= n).map { case (id, src, w) =>
        (id, src, w.sliding(n).map(_.mkString(" ")).toSet)
      }
      val bench = sh.filter(_._2 == "src0").flatMap(_._3).toSet
      val ov3s = sh.filter(_._2 != "src0").flatMap { case (_, _, g) =>
        val hit = g.count(bench.contains)
        if (hit == 0) None
        else Some(math.floor(hit.toDouble / g.size * 1000 + 0.5).toLong)
      }
      (ov3s.length.toLong, ov3s.count(_ >= 500L).toLong,
        if (ov3s.isEmpty) None
        else Some(math.floor(ov3s.sum.toDouble / 1000 / ov3s.length * 1000 + 0.5) / 1000))
    }
    val got = Curation.contaminationCurve(spark, sf0001).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 5L, 8L))
    got.foreach { r =>
      val e = curve(r.getLong(0).toInt)
      assert(r.getLong(1) == e._1 && r.getLong(2) == e._2, s"n ${r.getLong(0)}")
      if (e._3.isDefined) assert(r.getDouble(3) == e._3.get, s"avg n ${r.getLong(0)}")
      else assert(r.isNullAt(3))
    }
    // the curve is the point: short shingles hit far more docs than long
    val hits = got.map(_.getLong(1))
    assert(hits(0) > hits(1) && hits(1) >= hits(2),
      s"no accidental-overlap decay: ${hits.toSeq}")
  }

  test("e10: gap distribution ≡ plain-Scala percentile model") {
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val gaps = ev.groupBy(_._1).values.flatMap { rows =>
      val o = rows.sortBy(r => (r._2, r._3))
      o.zip(o.drop(1)).map { case (a, b) => (a._4, b._2 - a._2) }
    }.toSeq
    // Spark's Percentile: lower + (pos - floor(pos)) * (higher - lower)
    def pct(xs: Seq[Long], p: Double): Double = {
      val s2 = xs.sorted
      val pos = p * (s2.length - 1)
      val lo = s2(pos.toInt)
      if (pos == pos.toInt) lo.toDouble
      else lo + (pos - math.floor(pos)) * (s2(pos.toInt + 1) - lo)
    }
    val expected = gaps.groupBy(_._1).map { case (t2, g) =>
      val xs = g.map(_._2)
      t2 -> (xs.length.toLong,
        math.floor(pct(xs, 0.5) * 100 + 0.5) / 100,
        math.floor(pct(xs, 0.9) * 100 + 0.5) / 100, xs.max)
    }
    val got = Events.gapStats(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)) ==
        expected(r.getString(0)), s"type ${r.getString(0)}")
    }
    // medians are positive and p90 dominates the median
    got.foreach(r => assert(r.getDouble(2) > 0 && r.getDouble(3) >= r.getDouble(2)))
  }

  test("d16: dedup funnel stages are consistent with d01/d08 and monotone") {
    val got = Dedup.dedupFunnel(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set("0_corpus", "1_exact", "2_near_dup"))
    // stage 0 is the raw corpus
    val docs = Relational.t(spark, sf0001, "documents")
    assert(got("0_corpus")._1 == docs.count())
    // stage 1 doc count equals d01's per-lang uniques summed
    val d01 = Dedup.exactDedupByLang(spark, sf0001).collect()
      .map(_.getLong(1)).sum
    assert(got("1_exact")._1 == d01)
    // stage 2 doc count: corpus minus ALL flagged (exact ∪ near) —
    // recompute near drops from the cluster machinery directly
    val nearDropped = Dedup.dupClusters(spark, sf0001).collect()
      .flatMap(_.getString(2).split(",").map(_.toLong).sorted.drop(1)).toSet
    val exDropped = Dedup.duplicateGroups(spark, sf0001).collect()
      .flatMap(_.getString(2).split(",").map(_.toLong).sorted.drop(1)).toSet
    assert(got("2_near_dup")._1 ==
      docs.count() - (nearDropped ++ exDropped).size)
    // the funnel is monotone (sf0.001 plants near-dups but no exact
    // dups — stage 1 may be a no-op here; sf0.01 exercises both) and
    // the pipeline as a whole must bite
    assert(got("0_corpus")._1 >= got("1_exact")._1)
    assert(got("1_exact")._1 > got("2_near_dup")._1)
    assert(got("0_corpus")._2 >= got("1_exact")._2)
    assert(got("1_exact")._2 > got("2_near_dup")._2)
  }

  test("c15: validation gate all-passes the clean fixture; every check fires on planted bad rows") {
    val clean = Curation.validationGate(spark, sf0001).collect()
    assert(clean.length == 7)
    clean.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == 1L, s"clean ${r.getString(0)}")
    }
    // plant one violation per check in a scratch corpus
    import spark.implicits._
    val tmpDir = java.nio.file.Files.createTempDirectory("c15").toString
    Seq(
      (1L, "good text here", 14L, "en", "s0"),
      (1L, "duplicate id row", 16L, "en", "s0"),     // doc_id_unique
      (2L, "   ", 3L, "en", "s0"),                   // text_nonempty
      (3L, "wrong char count", 999L, "en", "s0"),    // chars_consistent
      (4L, "unknown language", 16L, "xx", "s0"))     // lang_known
      .toDF("doc_id", "text", "n_chars", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
    val unit = Array.fill(64)(0.125f)                // norm = 1.0
    Seq(
      (1L, unit.toSeq, 0),
      (2L, unit.take(32).toSeq, 0),                  // dim_uniform
      (3L, (Float.NaN +: unit.tail.toSeq), 0),       // finite
      (4L, unit.map(_ * 2f).toSeq, 0))               // unit_norm (norm 2)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmpDir/embeddings.parquet")
    val got = Curation.validationGate(spark, tmpDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got("doc_id_unique") == (1L, 0L))
    assert(got("doc_text_nonempty") == (1L, 0L))
    assert(got("doc_chars_consistent") == (1L, 0L))
    assert(got("doc_lang_known") == (1L, 0L))
    assert(got("emb_dim_uniform") == (1L, 0L))
    // unit_norm counts 3: the doubled vector (norm 2), the NaN row
    // (non-finite norm is a violation by definition), AND the
    // truncated vector (32 dims of 0.125 → norm √½)
    assert(got("emb_finite") == (1L, 0L))
    assert(got("emb_unit_norm") == (3L, 0L))
  }

  test("d17: each cut of the curve matches filtering the exact pairs; counts are monotone") {
    val exact = Dedup.ngramJaccardPairs(spark, sf0001).collect()
      .map(r => math.floor(r.getAs[Double]("jaccard") * 1000 + 0.5).toLong)
    val curve = Dedup.thresholdCurve(spark, sf0001).collect()
    assert(curve.map(_.getAs[Long]("t_milli")).toSeq == Seq(600L, 700L, 800L, 900L))
    curve.foreach { r =>
      val t = r.getAs[Long]("t_milli")
      val sel = exact.filter(_ >= t)
      assert(r.getAs[Long]("n_pairs") == sel.length, s"cut $t")
      assert(r.getAs[Long]("sum_j_milli") == sel.sum, s"cut $t")
      assert(r.getAs[Long]("mean_j_milli") ==
        (if (sel.isEmpty) 0L else sel.sum / sel.length), s"cut $t")
    }
    // tightening the cut never grows the survivor set
    val counts = curve.map(_.getAs[Long]("n_pairs")).toSeq
    assert(counts == counts.sorted.reverse)
    // cuts below the certified banding operating point are rejected
    intercept[IllegalArgumentException] {
      Dedup.thresholdCurve(spark, sf0001, thresholdsMilli = Seq(500))
    }
  }

  test("e11: trailing range window matches a plain-Scala model; peers at one ms count together") {
    val ev = Relational.events(spark, sf0001)
      .selectExpr("user_id", "event_type", "unix_millis(ts) AS ms").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val model = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long, Long)].withDefaultValue((0L, 0L, 0L, 0L))
    ev.groupBy(_._1).values.foreach { rows =>
      val ms = rows.map(_._3).sorted
      rows.foreach { case (_, tpe, m) =>
        // RANGE frame: every same-user event in [m-600000, m], self and
        // same-millisecond peers included
        val win = ms.count(x => x >= m - 600000L && x <= m).toLong
        val (n, s, mx, b) = model(tpe)
        model(tpe) = (n + 1, s + win, math.max(mx, win),
          b + (if (win >= 3) 1L else 0L))
      }
    }
    val got = Events.burstStats(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == model.toMap)
    // the window must actually catch multi-event spans on this fixture
    // (sf0.001 peaks at win=2; the ≥3 burst cut bites at sf0.01+)
    assert(got.values.map(_._3).max >= 2)
  }

  test("q35: grouping sets rows are exactly the two marginals plus the grand total") {
    val li = Relational.t(spark, sf0001, "lineitem")
    val rows = Relational.groupingSetsQuantities(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    val nRf = li.select("l_returnflag").distinct().count()
    val nLs = li.select("l_linestatus").distinct().count()
    assert(rows.length == nRf + nLs + 1)
    // grand total: both flags set, full row count
    val total = rows.filter(r => r._3 == 1 && r._4 == 1)
    assert(total.length == 1 && total.head._5 == li.count())
    assert(total.head._1 == "ALL" && total.head._2 == "ALL")
    // each rf marginal (g_ls=1) matches a plain groupBy count
    val byRf = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.filter(r => r._3 == 0).foreach { r =>
      assert(r._2 == "ALL" && r._5 == byRf(r._1), s"rf marginal $r")
    }
  }

  test("q36: unpivot aggregates match the per-measure wide aggregates") {
    val li = Relational.t(spark, sf0001, "lineitem")
    val got = Relational.unpivotMeasures(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    import org.apache.spark.sql.functions.{count, lit, round, sum}
    val wide = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("q"),
        round(sum("l_extendedprice"), 2).as("p"),
        round(sum("l_discount"), 2).as("d")).collect()
    assert(got.size == wide.length * 3)
    wide.foreach { r =>
      val rf = r.getString(0); val n = r.getLong(1)
      assert(got((rf, "l_quantity")) == ((n, r.getDouble(2))), s"$rf qty")
      assert(got((rf, "l_extendedprice")) == ((n, r.getDouble(3))), s"$rf price")
      assert(got((rf, "l_discount")) == ((n, r.getDouble(4))), s"$rf disc")
    }
  }

  test("s17: each curve point equals the recall of the standalone IVF run at that depth") {
    val truth = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val curve = Similarity.nprobeRecallCurve(spark, sf0001).collect()
    assert(curve.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L))
    curve.foreach { r =>
      val np = r.getLong(0).toInt
      // the shared-pass curve must reproduce what the standalone s05
      // query at this nprobe would score
      val ivf = AnnRead(nprobe = np)(spark, sf0001).collect()
        .map(x => (x.getLong(0), x.getLong(2)))
      val hits = ivf.count(truth.contains).toLong
      assert(r.getLong(1) == hits, s"nprobe $np hits")
      assert(r.getLong(2) == truth.size.toLong)
      assert(r.getLong(3) == hits * 1000L / truth.size, s"nprobe $np recall")
    }
    // deeper probing never loses recall: a candidate that displaces a
    // truth member from the IVF top-k outranks it globally, so it is
    // itself a truth member
    val rec = curve.map(_.getLong(3)).toSeq
    assert(rec == rec.sorted)
  }

  test("t15: CMS estimates match a plain-Scala sketch and never undercount") {
    val toks = Relational.t(spark, sf0001, "documents")
      .selectExpr("explode(split(trim(text), '\\\\s+')) AS tok")
      .filter(col("tok") =!= "").collect().map(_.getString(0))
    def bucket(i: Int, tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cms$i:$tok".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 32
    }
    val cms = Array.ofDim[Long](2, 32)
    toks.foreach(tk => (0 until 2).foreach(i => cms(i)(bucket(i, tk).toInt) += 1))
    val exact = toks.groupBy(identity).map { case (tk, xs) => tk -> xs.length.toLong }
    val got = TextAnalysis.cmsReport(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (tk, (ex, est, over)) =>
      assert(ex == exact(tk), tk)
      val modelEst = (0 until 2).map(i => cms(i)(bucket(i, tk).toInt)).min
      assert(est == modelEst, tk)
      // the CMS one-sided guarantee: never an undercount
      assert(est >= ex, tk)
      assert(over == (if (est > ex) 1L else 0L), tk)
    }
    // the width is sized so collisions actually happen here — a
    // sketch that never overestimates at the gate proves nothing
    assert(got.values.count(_._3 == 1L) > 0)
    assert(got.values.exists { case (ex, est, _) => est == ex })
  }

  test("q37: deciles are equal-frequency within 1, ordered, and cover the table") {
    val rows = Relational.orderPriceDeciles(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val counts = rows.map(_.getLong(1))
    assert(counts.max - counts.min <= 1) // ntile remainder contract
    assert(counts.sum == Relational.t(spark, sf0001, "orders").count())
    // equal-frequency buckets partition the value range in order
    val bounds = rows.map(r => (r.getDouble(2), r.getDouble(3)))
    bounds.foreach { case (lo, hi) => assert(lo <= hi) }
    bounds.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2)
    }
  }

  test("q38: the decorrelated subquery matches a plain-Scala per-customer model") {
    val orders = Relational.t(spark, sf0001, "orders")
      .selectExpr("o_custkey", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val model = orders.groupBy(_._1).flatMap { case (ck, os) =>
      val cents = os.map(_._2)
      val (n, total) = (cents.length.toLong, cents.sum)
      // strictly above the mean, on the integer-cross-multiplied cut
      val above = cents.filter(c => c * n > total)
      if (above.nonEmpty) Some(ck -> (above.length.toLong, above.sum)) else None
    }.toMap
    val got = Relational.aboveCustomerAvg(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == model)
    // single-order customers are never above their own average —
    // the strict cut must exclude them
    val singles = orders.groupBy(_._1).filter(_._2.length == 1).keySet
    assert(singles.forall(ck => !got.contains(ck)))
  }

  test("s18: IVF-PQ equals the PQ ranking restricted to the IVF candidate set") {
    // full candidate sets per query: ivfTopK with k beyond any cell
    // size returns every probed-cell candidate, exact-ranked
    val cands = AnnRead(k = 10000)(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    // full PQ-ADC ranking of all pairs (same tie contract as s18)
    val pqAll = Similarity.pqTopK(spark, sf0001, k = 10000).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).groupBy(_._1)
    val got = Similarity.ivfPqTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.keySet == cands.keySet)
    got.foreach { case (q, rows) =>
      // expected: the PQ order filtered to this query's candidates
      val expected = pqAll(q).filter(x => cands(q).contains(x._2)).take(5)
        .map(x => (x._2, x._3))
      assert(rows.sortBy(_._2).map(x => (x._3, x._4)).toSeq == expected.toSeq,
        s"query $q")
    }
    // the composition is a real restriction: some query's IVF-PQ list
    // must differ from the unrestricted PQ top-5 (cells were pruned)
    assert(got.exists { case (q, rows) =>
      rows.sortBy(_._2).map(_._3).toSeq != pqAll(q).take(5).map(_._2).toSeq
    })
  }

  test("c16: semantic decontam matches a plain-Scala max-cosine model; the cut is live") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val embs = Relational.t(spark, sf0001, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def r4cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      math.floor(dot / n * 10000 + 0.5) / 10000
    }
    val bench = embs.collect { case (id, e) if docs(id)._2 == "src0" => e }.toArray
    val model = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    embs.foreach { case (id, e) =>
      val (lang, src) = docs(id)
      if (src != "src0") {
        val fl = bench.map(b => r4cos(e, b)).max >= 0.35
        val (n, f) = model(lang)
        model(lang) = (n + 1, f + (if (fl) 1L else 0L))
      }
    }
    val rows = Curation.semanticDecontamStats(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == model.keySet)
    rows.foreach { case (lang, (n, f, kept)) =>
      assert((n, f) == model(lang), lang)
      assert(kept == n - f, lang)
    }
    // both branches live on the fixture
    assert(rows.values.map(_._2).sum > 0)
    assert(rows.values.exists { case (n, f, _) => f < n })
  }

  test("q39: bag set ops preserve multiplicity — max(m-n,0) and min(m,n) per key") {
    val li = Relational.t(spark, sf0001, "lineitem")
      .select("l_partkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rCnt = li.filter(_._2 == "R").groupBy(_._1).map { case (k, v) => k -> v.length }
    val aCnt = li.filter(_._2 == "A").groupBy(_._1).map { case (k, v) => k -> v.length }
    val got = Relational.returnFlagBagDiff(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keys = (rCnt.keySet ++ aCnt.keySet).filter { k =>
      math.max(rCnt.getOrElse(k, 0) - aCnt.getOrElse(k, 0), 0) > 0 ||
        math.min(rCnt.getOrElse(k, 0), aCnt.getOrElse(k, 0)) > 0
    }
    assert(got.keySet == keys)
    keys.foreach { k =>
      val m = rCnt.getOrElse(k, 0); val n = aCnt.getOrElse(k, 0)
      assert(got(k) == ((math.max(m - n, 0).toLong, math.min(m, n).toLong)), s"part $k")
    }
    // the bag forms must actually disagree with distinct semantics
    assert(got.values.exists(_._2 > 1L))
  }

  test("d18: incremental semantic pairs ≡ batch-restricted within-cell scan") {
    val nl = Dedup.resolvedNlist(spark, 0)
    val assigned = Similarity.trainedAssignedVectors(spark, sf0001, nl, 2)
      .select("vec_id", "cell", "emb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def r4cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5) / 10000
    }
    val model = (for {
      a <- assigned; b <- assigned
      if a._2 == b._2 && a._1 < b._1 && b._1 >= 400L
      sim = r4cos(a._3, b._3) if sim >= 0.4
    } yield ((a._1, b._1), sim)).toMap
    val got = Dedup.incrementalSemanticNearDups(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == model)
    // the gate corpus must exercise the probe: non-empty, and at
    // least one pair crosses the batch boundary (new-vs-corpus)
    assert(got.nonEmpty)
    assert(got.keys.exists(_._1 < 400L))
  }

  test("c17: split leakage ≡ exact pairs regrouped by the p02 split; leaks are live") {
    val exact = Dedup.ngramJaccardPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getAs[Double]("jaccard") * 1000 + 0.5).toLong))
    def splitOf(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (hex < graft.ops.Sampling.rateThreshold(0.8)) "train"
      else if (hex < graft.ops.Sampling.rateThreshold(0.9)) "val"
      else "test"
    }
    val model = exact.groupBy { case (a, b, _) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._3).sum) }
    val got = Curation.splitLeakageStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // all six unordered combinations present, zero-filled
    assert(got.size == 6)
    got.foreach { case (k @ (lo, hi), (n, sj, leak)) =>
      assert((n, sj) == model.getOrElse(k, (0L, 0L)), s"combo $k")
      assert(leak == (if (lo != hi) 1L else 0L))
    }
    // the fixture actually leaks across the split boundary — the
    // check would prove nothing on a corpus where it cannot fire
    assert(got.collect { case ((lo, hi), (n, _, _)) if lo != hi => n }.sum > 0)
  }

  test("e12: events gate all-passes the clean fixture; every check fires on planted bad rows") {
    val clean = Events.eventsGate(spark, sf0001).collect()
    assert(clean.length == 6)
    clean.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == 1L, s"clean ${r.getString(0)}")
    }
    import spark.implicits._
    val tmpDir = java.nio.file.Files.createTempDirectory("e12").toString
    def ts(m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(s"2026-01-01 00:0$m:00")
    Seq(
      (1L, Option(ts(1)), 7L, "click", 1.0, "{}"),
      (1L, Option(ts(2)), 7L, "view", 2.0, "{}"),        // evt_id_unique
      (2L, Option.empty[java.sql.Timestamp], 7L, "click", 1.0, "{}"), // evt_ts_present
      (3L, Option(ts(3)), 7L, "hover", 1.0, "{}"),       // evt_type_known
      (4L, Option(ts(4)), 7L, "click", 0.0, "{}"),       // evt_value_positive
      (5L, Option(ts(5)), -1L, "click", 1.0, "{}"),      // evt_user_valid
      (6L, Option(ts(6)), 7L, "click", 1.0, null))       // evt_props_present
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmpDir/events.parquet")
    val got = Events.eventsGate(spark, tmpDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      "evt_id_unique" -> (1L, 0L), "evt_ts_present" -> (1L, 0L),
      "evt_type_known" -> (1L, 0L), "evt_value_positive" -> (1L, 0L),
      "evt_user_valid" -> (1L, 0L), "evt_props_present" -> (1L, 0L)))
  }

  test("q40: mode is the deterministic (count desc, status asc) argmax; median interpolates") {
    val li = Relational.t(spark, sf0001, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted; val pos = (s.length - 1) * 0.5
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      math.floor((lo + (hi - lo) * 0.5) * 100 + 0.5) / 100
    }
    val expect = li.groupBy(_._1).map { case (flag, rows) =>
      val byStatus = rows.groupBy(_._2).map { case (st, v) => st -> v.length }
      val (modeSt, modeN) = byStatus.toSeq.minBy { case (st, n) => (-n, st) }
      flag -> ((median(rows.map(_._3).toSeq), rows.length.toLong, modeSt, modeN.toLong))
    }
    val got = Relational.modeAndMedian(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2),
        r.getString(3), r.getLong(4)))).toMap
    assert(got == expect)
  }

  test("e13: RFM cells match a plain-Scala cutpoint model; all metrics live") {
    val p = Relational.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    val per = p.groupBy(_._1).map { case (u, rows) =>
      (u, rows.map(_._2).max, rows.length.toLong, rows.map(_._3).sum)
    }.toSeq
    def quarts(vs: Seq[Long]): Seq[Double] = {
      val s = vs.sorted
      Seq(0.25, 0.5, 0.75).map { q =>
        val pos = (s.length - 1) * q
        val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
        lo + (hi - lo) * (pos - pos.toInt)
      }
    }
    val rq = quarts(per.map(_._2)); val fq = quarts(per.map(_._3))
    val mq = quarts(per.map(_._4))
    def sc(v: Long, q: Seq[Double]): Long = 1L + q.count(v > _)
    val expect = per.groupBy(u => (sc(u._2, rq), sc(u._3, fq), sc(u._4, mq)))
      .map { case (k, us) => k -> ((us.length.toLong, us.map(_._4).sum)) }
    val got = Events.rfmSegments(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2))) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect)
    // the quartile cut is live on every axis: scores span more than one bucket
    assert(got.keySet.map(_._1).size > 1 && got.keySet.map(_._2).size > 1 &&
      got.keySet.map(_._3).size > 1)
  }

  test("t16: tf-idf top terms match a plain-Scala micronat model") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val n = docs.length.toDouble
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, v) => (id, w, v.length.toLong) } }
    val df = tf.groupBy(_._2).map { case (w, v) => w -> v.length }
    val expect = tf.groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      rows.toSeq.map { case (_, w, c) =>
        (id, w, c * math.floor(math.log(n / df(w)) * 1e6 + 0.5).toLong) }
        .sortBy { case (_, w, sm) => (-sm, w) }.take(3).zipWithIndex
        .map { case ((_, w, sm), i) =>
          (id, i + 1L) -> ((w, math.floor(sm / 1e6 * 1e4 + 0.5) / 1e4)) }
    }.toMap
    val got = TextAnalysis.tfidfTopTerms(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    assert(got == expect)
  }

  test("d19: prefix-filtered containment ≡ plain-Scala quadratic model; asymmetry live") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .filter(_._2.length >= 5)
    val sets = docs.map { case (id, ws) =>
      id -> ws.sliding(5).map(_.mkString(" ")).toSet }.toMap
    val ids = sets.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (sets(a) & sets(b)).size.toLong
      if inter * 1000 >= 700 * sets(a).size || inter * 1000 >= 700 * sets(b).size
    } yield (a, b) -> ((math.floor(inter.toDouble / sets(a).size * 1000 + 0.5) / 1000,
      math.floor(inter.toDouble / sets(b).size * 1000 + 0.5) / 1000))).toMap
    val got = Dedup.containmentPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == expect)
    assert(got.nonEmpty)
    // the asymmetric signal is live: some pair's two directions differ
    assert(got.values.exists { case (ca, cb) => ca != cb })
  }

  test("q41: percent_rank/cume_dist equal the closed-form ranks under the total order") {
    val orders = Relational.t(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val ranked = orders.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val s = rows.sortBy(r => (r._3, r._1)); val n = s.length
      s.zipWithIndex.map { case ((k, p, tp), i) =>
        k -> ((p, math.floor(tp * 100 + 0.5) / 100,
          math.floor(i.toDouble / (n - 1) * 10000 + 0.5) / 10000,
          math.floor((i + 1).toDouble / n * 10000 + 0.5) / 10000))
      }
    }.toMap
    val expectTop = orders.sortBy(r => (-r._3, r._1)).take(10).map(_._1)
    val got = Relational.rankDistributions(spark, sf0001).collect()
    assert(got.map(_.getLong(0)).toSeq == expectTop.toSeq)
    got.foreach { r =>
      val (p, tp, pr, cd) = ranked(r.getLong(0))
      assert(r.getString(1) == p)
      assert(r.getDouble(2) == tp)
      assert(r.getDouble(3) == pr, s"pct_rank of ${r.getLong(0)}")
      assert(r.getDouble(4) == cd, s"cume of ${r.getLong(0)}")
    }
  }

  test("e14: three-step funnel matches the plain-Scala ordered chain") {
    val ev = Relational.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val chain = byUser.map { case (_, rows) =>
      val fv = rows.filter(_._2 == "view").map(_._3).minOption
      val fc = fv.flatMap(v =>
        rows.filter(r => r._2 == "click" && r._3 >= v).map(_._3).minOption)
      val fp = fc.flatMap(c =>
        rows.filter(r => r._2 == "purchase" && r._3 >= c).map(_._3).minOption)
      (fv, fc, fp)
    }.toSeq
    val lags = chain.collect { case (Some(v), _, Some(p)) => p - v }
    val r = Events.multiStepFunnel(spark, sf0001).collect()(0)
    assert(r.getLong(0) == byUser.size.toLong)
    assert(r.getLong(1) == chain.count(_._1.isDefined).toLong)
    assert(r.getLong(2) == chain.count(_._2.isDefined).toLong)
    assert(r.getLong(3) == chain.count(_._3.isDefined).toLong)
    assert(r.getDouble(4) ==
      math.floor(lags.sum.toDouble / (lags.length * 3600000.0) * 100 + 0.5) / 100)
    // the funnel is monotone and converts someone (at sf0.001 the 15
    // users are all dense enough to complete every step — narrowing
    // shows at the sf0.01 oracle gate, not here)
    assert(r.getLong(0) >= r.getLong(1) && r.getLong(1) >= r.getLong(2) &&
      r.getLong(2) >= r.getLong(3) && r.getLong(3) > 0L)
    assert(r.getDouble(4) > 0.0)
  }

  test("t17: bigram CE matches a plain-Scala add-one LM; shuffled text scores higher") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).trim.split("\\s+").toSeq))
    val cnt = docs.flatMap(_._4).groupBy(identity).map { case (w, v) => w -> v.length }
    val vocab = cnt.toSeq.sortBy { case (w, c) => (-c, w) }.take(24).map(_._1).toSet
    val norm = docs.map { case (id, lang, src, ws) =>
      (id, lang, src, ws.map(w => if (vocab(w)) w else "\u0002"))
    }.filter(_._4.length >= 2)
    val bigrams = norm.flatMap(_._4.sliding(2).map(p => (p(0), p(1))).toSeq)
    val cb = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cx = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    def ceOf(ids: Seq[String]): Double = {
      val lm = ids.sliding(2).map { p =>
        val c = cb.getOrElse((p(0), p(1)), 0L)
        val x = cx.getOrElse(p(0), 0L)
        math.floor(math.log((x + 25).toDouble / (c + 1)) * 1e6 + 0.5).toLong
      }.sum
      lm / 1e6 / (ids.length - 1)
    }
    val expect = norm.groupBy(d => (d._2, d._3)).map { case (k, ds) =>
      val ces = ds.map(d => ceOf(d._4))
      k -> ((ds.length.toLong,
        math.floor(ces.map(c => math.floor(c * 1e6 + 0.5).toLong).sum.toDouble /
          1e6 / ds.length * 1000 + 0.5) / 1000,
        math.floor(ces.min * 1000 + 0.5) / 1000,
        math.floor(ces.max * 1000 + 0.5) / 1000))
    }
    val got = TextAnalysis.bigramCrossEntropy(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == expect)
    // the order-sensitivity claim: a doc scored under the model beats
    // (or ties) its own token-REVERSED variant only if transitions
    // matter — assert some doc's reversed CE differs, i.e. the model
    // is not a bag-of-words scorer
    val probe = norm.take(20)
    assert(probe.exists(d => ceOf(d._4) != ceOf(d._4.reverse)))
  }

  test("c23: perplexity gate matches the plain-Scala LM's integer verdicts; " +
    "the gate genuinely splits; raising the threshold keeps monotonically more") {
    // the same independent add-one LM as the t17 spec, reduced to the
    // gate's pure-integer predicate lm < thr·nb
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).trim.split("\\s+").toSeq))
    val cnt = docs.flatMap(_._4).groupBy(identity).map { case (w, v) => w -> v.length }
    val vocab = cnt.toSeq.sortBy { case (w, c) => (-c, w) }.take(24).map(_._1).toSet
    val norm = docs.map { case (id, lang, src, ws) =>
      (id, lang, src, ws.map(w => if (vocab(w)) w else "\u0002"))
    }.filter(_._4.length >= 2)
    val bigrams = norm.flatMap(_._4.sliding(2).map(p => (p(0), p(1))).toSeq)
    val cb = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cx = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    def lmOf(ids: Seq[String]): Long = ids.sliding(2).map { p =>
      val c = cb.getOrElse((p(0), p(1)), 0L)
      val x = cx.getOrElse(p(0), 0L)
      math.floor(math.log((x + 25).toDouble / (c + 1)) * 1e6 + 0.5).toLong
    }.sum
    val thr = 3200000L
    val normIds = norm.map(d => d._1 -> d._4).toMap
    val expect = docs.groupBy(d => (d._2, d._3)).map { case (k, ds) =>
      val scored = ds.filter(d => normIds.contains(d._1))
      val kept = scored.filter { d =>
        val ids = normIds(d._1)
        lmOf(ids) < thr * (ids.length - 1)
      }
      k -> ((ds.length.toLong, scored.length.toLong,
        (ds.length - scored.length).toLong, kept.length.toLong,
        kept.map(d => normIds(d._1).length.toLong).sum,
        kept.length.toLong * 1000 / math.max(scored.length.toLong, 1L)))
    }
    val got = TextAnalysis.perplexityGateStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(got == expect)
    // the gate must genuinely split at this threshold — all-kept or
    // all-dropped certifies nothing
    val totKept = got.values.map(_._4).sum
    val totScored = got.values.map(_._2).sum
    assert(totKept > 0 && totKept < totScored,
      s"gate did not split: $totKept of $totScored kept")
    // threshold monotonicity: a looser cut keeps a superset count
    val loose = TextAnalysis.perplexityGateStats(spark, sf0001,
      thrMicronat = 5000000L).collect().map(_.getLong(5)).sum
    assert(loose >= totKept)
  }

  test("q42: lateral top-2 matches a plain-Scala per-customer model") {
    val orders = Relational.t(spark, sf0001, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val seg = Relational.t(spark, sf0001, "customer")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val expect = orders.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      os.sortBy(o => (-o._3, o._2)).take(2)
        .map(o => seg(ck) -> math.floor(o._3 * 100 + 0.5).toLong)
    }.groupBy(_._1).map { case (sg, rows) =>
      sg -> ((rows.length.toLong, rows.map(_._2).sum))
    }
    val got = Relational.lateralTopOrders(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    // the LIMIT inside the lateral is live: some customer has >2 orders
    assert(orders.groupBy(_._1).exists(_._2.length > 2))
  }

  test("s19: each audit row equals the standalone method's measured recall") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.nativeTopK(spark, sf0001))
    val standalone = Map(
      "s08_sq" -> pairs(Similarity.sqTopK(spark, sf0001)),
      "s09_pq" -> pairs(Similarity.pqTopK(spark, sf0001)),
      "s18_ivfpq" -> pairs(Similarity.ivfPqTopK(spark, sf0001)))
    val got = Similarity.quantRecallAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == standalone.keySet)
    got.foreach { case (m, (hits, nTruth, milli)) =>
      assert(nTruth == truth.size.toLong, m)
      assert(hits == (standalone(m) & truth).size.toLong, m)
      assert(milli == hits * 1000 / nTruth, m)
    }
    // the audit is informative: some compression actually loses recall
    // AND some method is near-exact — the trade is measured, not flat
    assert(got.values.map(_._1).toSet.size > 1 ||
      got.values.exists(_._3 < 1000L))
  }

  test("q43: recursive k-hop reach matches a plain-Scala BFS over the same slice") {
    val li = Relational.t(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 % 50 == 0)
    val edges: Set[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap { rows =>
      val ps: Seq[Long] = rows.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val adj: Map[Long, Set[Long]] =
      edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seeds = Relational.t(spark, sf0001, "part")
      .select("p_partkey").collect().map(_.getLong(0)).filter(_ < 10).sorted
    def reach(seed: Long): Long = {
      var frontier = Set(seed); var seen = Set(seed)
      (1 to 3).foreach { _ =>
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        seen ++= frontier
      }
      seen.size.toLong
    }
    val expect = seeds.map(s => s -> reach(s)).toMap
    val got = Relational.recursiveReach(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // the recursion is live: some seed reaches beyond itself
    assert(got.values.exists(_ > 1L))
  }

  test("c18: datasheet metrics match plain-Scala recomputes and the standalone queries") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def toks(t: String) = t.trim.split("\\s+")
    def qi(t: String): Long = {
      val ws = toks(t)
      val stop = math.floor(ws.count(w => w == "the" || w == "a").toDouble /
        math.max(ws.length, 1) * 10000 + 0.5) / 10000
      math.floor(math.floor(math.min(ws.length / 100.0, 1.0) * (1.0 - stop) *
        10000 + 0.5) / 10000 * 10000 + 0.5).toLong
    }
    def fp(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val got = Curation.datasheet(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("n_docs") == docs.length.toLong)
    assert(got("n_tokens") == docs.map(d => toks(d._4).length.toLong).sum)
    assert(got("n_langs") == docs.map(_._2).distinct.length.toLong)
    assert(got("n_sources") == docs.map(_._3).distinct.length.toLong)
    assert(got("n_exact_dup_docs") ==
      (docs.length - docs.map(d => fp(d._4)).distinct.length).toLong)
    val sumQi = docs.map(d => qi(d._4)).sum
    assert(got("mean_quality_milli") ==
      sumQi * 1000 / (docs.length.toLong * 10000))
    // the near-dup figure IS the d04 query's row count — no drift
    assert(got("n_neardup_pairs") ==
      Dedup.minhashLshPairs(spark, sf0001).count())
    // near-dups are live even at sf0.001 (exact dups first appear at
    // the sf0.01 gate corpus, where the oracle checks the figure)
    assert(got("n_neardup_pairs") > 0L)
  }

  test("s23: ranking metrics replay exactly from the standalone IVF runs") {
    val truth = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val gains = Similarity.ndcgGainsMicro(5)
    val idcg = gains.sum
    val curve = Similarity.retrievalMetricsCurve(spark, sf0001).collect()
    assert(curve.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L))
    curve.foreach { r =>
      val np = r.getLong(0).toInt
      val ranked = AnnRead(nprobe = np)(spark, sf0001).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      val hits = ranked.filter { case (q, _, c) => truth((q, c)) }
      // exact-rerank retrieval puts every hit in a PREFIX of the list
      // (a non-truth candidate outranking a truth member would itself
      // be global top-k) — assert the property the metrics lean on
      hits.groupBy(_._1).foreach { case (_, h) =>
        assert(h.map(_._2).sorted.toSeq == (1 to h.length).map(_.toLong)) }
      val rrSum = hits.groupBy(_._1).values
        .map(h => 1000000L / h.map(_._2).min).sum
      val dcgSum = hits.map { case (_, rnk, _) => gains(rnk.toInt - 1) }.sum
      assert(r.getLong(1) == hits.length.toLong, s"np $np hits")
      assert(r.getLong(2) == truth.size.toLong)
      assert(r.getLong(3) == hits.length.toLong * 1000L / truth.size)
      assert(r.getLong(4) == rrSum / 10L, s"np $np mrr")
      assert(r.getLong(5) == dcgSum * 1000L / (10L * idcg), s"np $np ndcg")
    }
    // deeper probing never loses any of the three metrics (nested
    // candidate sets + the prefix property above)
    Seq(3, 4, 5).foreach { i =>
      val v = curve.map(_.getLong(i)).toSeq
      assert(v == v.sorted, s"metric col $i monotone in nprobe")
    }
  }

  test("s24/s25: multiprobe trade measured — hamming-1 candidates, recall vs exact buckets") {
    val emb = Relational.t(spark, sf0001, "embeddings")
    val bk = Similarity.lshBuckets(emb, "vec_id", "embedding", 4, 4).collect()
      .map(r => r.getLong(0) -> (0 until 4).map(tb => r.getLong(1 + tb)))
      .toMap
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def r4cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5) / 10000
    }
    def top5(cand: Set[(Long, Long)]): Set[(Long, Long)] =
      cand.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
        cs.toSeq.map { case (_, c) => (c, r4cos(vecs(q), vecs(c))) }
          .sortBy { case (c, s) => (-s, c) }.take(5).map(p => (q, p._1))
      }.toSet
    val ids = vecs.keys.toSeq
    val qs = ids.filter(_ < 10)
    def ham1(a: Long, b: Long) = { val x = a ^ b; (x & (x - 1)) == 0 }
    val multi = (for { q <- qs; c <- ids if c != q
      if (0 until 4).exists(tb => ham1(bk(q)(tb), bk(c)(tb))) } yield (q, c)).toSet
    val single = (for { q <- qs; c <- ids if c != q
      if (0 until 4).exists(tb => bk(q)(tb) == bk(c)(tb)) } yield (q, c)).toSet
    assert(single.subsetOf(multi))
    assert(multi.size > single.size, "perturbation must add candidates here")
    // s24 = exact top-5 over the multiprobe candidate set
    val got24 = Similarity.multiprobeLshTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got24 == top5(multi))
    // s25 rows = recall of each mode's model ranking vs brute truth
    val truth = Similarity.bruteForceTopK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val audit = Similarity.multiprobeRecallAudit(spark, sf0001).collect()
    assert(audit.map(_.getString(0)).toSeq == Seq("multi_t4", "single_t4"))
    val byMode = audit.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val wantM = (top5(multi) & truth).size.toLong
    val wantS = (top5(single) & truth).size.toLong
    assert(byMode("multi_t4") == ((wantM, truth.size.toLong, wantM * 1000 / truth.size)))
    assert(byMode("single_t4") == ((wantS, truth.size.toLong, wantS * 1000 / truth.size)))
    assert(wantM >= wantS, "hamming-1 probing never loses recall")
  }

  test("d20: banded funnel reproduces the full quadratic edit-distance scan") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      d = lev(ta, tb) if d <= 10
    } yield ((ia, ib), d.toLong)).toMap
    val got = Dedup.editDistancePairs(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // equality (not subset): the MinHash candidate stage must be
    // LOSSLESS for ed≤τ pairs on this corpus — the d19 discipline
    assert(got == want)
    assert(got.nonEmpty, "corpus must witness the non-empty branch")
  }

  test("e15: LOCF replays a plain-Scala scan; null until first purchase") {
    val evs = Relational.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), org.apache.spark.sql.functions.unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val want: Map[Long, Option[Double]] =
      evs.groupBy(_._2).toSeq.flatMap { case (_, es) =>
        var lastP: Option[Double] = None
        es.sortBy(e => (e._5, e._1)).map { e =>
          if (e._3 == "purchase") lastP = Some(e._4)
          e._1 -> lastP
        }.toSeq
      }.toMap
    val got = Events.lastPurchaseCarried(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got == want)
    assert(got.values.exists(_.isEmpty), "pre-first-purchase rows stay null")
    assert(got.values.exists(_.nonEmpty))
  }

  test("e20: interpolation replays a plain-Scala two-sided scan; all three regimes witnessed") {
    val evs = Relational.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), org.apache.spark.sql.functions.unix_millis(col("ts")),
        org.apache.spark.sql.functions.unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    def r4d(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val want: Map[Long, Option[Double]] =
      evs.groupBy(_._2).toSeq.flatMap { case (_, es) =>
        val o = es.sortBy(e => (e._6, e._1))
        o.zipWithIndex.map { case (e, i) =>
          val prev = o.take(i + 1).reverse
            .collectFirst { case p if p._3 == "purchase" => (p._5, p._4) }
          val nxt = o.drop(i)
            .collectFirst { case p if p._3 == "purchase" => (p._5, p._4) }
          val v = (prev, nxt) match {
            case (None, _) => None
            case (Some((m1, v1)), None) => Some(r4d(v1))
            case (Some((m1, v1)), Some((m2, _))) if m2 == m1 => Some(r4d(v1))
            case (Some((m1, v1)), Some((m2, v2))) =>
              Some(r4d(v1 + (v2 - v1) *
                ((e._5 - m1).toDouble / (m2 - m1).toDouble)))
          }
          e._1 -> v
        }
      }.toMap
    val got = Events.interpolatedPurchase(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got == want)
    // all three boundary regimes live on the gate corpus: a null head,
    // a genuinely interpolated middle (value strictly between its
    // bounds), and interpolation ≠ plain LOCF somewhere
    assert(got.values.exists(_.isEmpty), "null-head regime unwitnessed")
    val locf = Events.lastPurchaseCarried(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.exists { case (id, v) =>
      v.nonEmpty && locf(id).nonEmpty && v != locf(id).map(r4d) },
      "interpolation must differ from LOCF on some event")
  }

  test("p10: k-fold assignment replays the md5 model and is leakage-free") {
    val orders = Relational.t(spark, sf0001, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cuts = Sampling.kfoldCuts(5)
    def fold(ck: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(ck.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val i = cuts.indexWhere(hex < _)
      if (i < 0) 4 else i
    }
    val byFold = orders.groupBy(o => fold(o._1))
    val got = Sampling.kfoldStats(spark, sf0001).collect()
    assert(got.map(_.getLong(0)).toSeq == (0 until 5).map(_.toLong),
      "every fold populated at this corpus")
    got.foreach { r =>
      val os = byFold(r.getLong(0).toInt)
      assert(r.getLong(1) == os.map(_._1).distinct.length.toLong)
      assert(r.getLong(2) == os.length.toLong)
      assert(math.abs(r.getDouble(3) - os.map(_._2).sum) <= 0.0051)
    }
    // leakage-freedom: fold is a function of the customer key alone,
    // so the per-fold customer sets partition the customer universe
    val sets = byFold.values.map(_.map(_._1).toSet).toSeq
    for (a <- sets.indices; b <- sets.indices if a < b)
      assert((sets(a) & sets(b)).isEmpty)
    assert(sets.map(_.size).sum == orders.map(_._1).distinct.length)
  }

  test("q44: RANGE frame windows by calendar day, not row count") {
    val rows = Relational.rollingWeeklySpend(spark, sf0001).collect()
    val daily = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byCust = daily.groupBy(_._1)
    rows.foreach { r =>
      val (ck, day) = (r.getLong(0), r.getLong(1))
      val want = byCust(ck)
        .filter(d => d._2 >= day - 6 && d._2 <= day).map(_._3).sum
      assert(math.abs(r.getDouble(3) - want) <= 0.0051,
        s"cust $ck day $day")
    }
    // the frame must EXCLUDE same-customer days older than 6 days —
    // the value-space semantics a ROWS frame cannot express
    assert(rows.exists { r =>
      byCust(r.getLong(0)).exists(_._2 < r.getLong(1) - 6) })
  }

  test("e16 OHLC equals the plain-Scala sorted-scan model") {
    import java.time.ZoneOffset
    import java.time.format.DateTimeFormatter
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
      .withZone(ZoneOffset.UTC)
    val ev = Relational.events(spark, sf0001)
      .select("ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getTimestamp(0).toInstant, r.getLong(1),
        r.getString(2), r.getDouble(3)))
    val model = ev.groupBy { case (ts, _, et, _) =>
      (fmt.format(ts.truncatedTo(java.time.temporal.ChronoUnit.HOURS)), et)
    }.map { case (k, rows) =>
      val sorted = rows.sortBy(r => (r._1, r._2))
      k -> (sorted.head._4, rows.map(_._4).max, rows.map(_._4).min,
        sorted.last._4, rows.length.toLong)
    }
    val got = Events.ohlcDownsample(spark, sf0001).collect().map { r =>
      (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))
    }.toMap
    assert(got == model, "OHLC mismatch vs sequential model")
    // open/close genuinely differ from high/low somewhere (the struct
    // pick is doing real ordered work, not echoing min/max)
    assert(got.values.exists(v => v._1 != v._3 && v._1 != v._2))
  }

  test("q45 winsorize equals the interpolated-percentile clip model") {
    val prices = Relational.t(spark, sf0001, "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val sorted = prices.map(_._2).sorted
    def qcont(q: Double): Double = {
      val rank = q * (sorted.length - 1)
      val lo = math.floor(rank).toInt; val hi = math.ceil(rank).toInt
      sorted(lo) + (rank - lo) * (sorted(hi) - sorted(lo))
    }
    val (lo, hi) = (qcont(0.05), qcont(0.95))
    def clip(v: Double) = math.min(math.max(v, lo), hi)
    def r2d(x: Double) = math.round(x * 100).toDouble / 100
    val rows = Relational.winsorizedStats(spark, sf0001).collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val g = prices.filter(_._1 == r.getString(0)).map(_._2)
      assert(math.abs(r.getDouble(1) - r2d(g.map(clip).sum / g.length)) <= 0.011,
        s"wins_mean ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - r2d(g.map(clip).min)) <= 0.011, "wins_min")
      assert(math.abs(r.getDouble(4) - r2d(g.map(clip).max)) <= 0.011, "wins_max")
      assert(r.getLong(5) == g.length)
    }
    // clipping must have BITTEN on this corpus (bounds inside the range)
    assert(rows.map(_.getDouble(3)).distinct.length == 1 &&
      rows.head.getDouble(3) > sorted.head)
  }

  test("morton interleave equals the bit-loop model, round-trips both dims") {
    import spark.implicits._
    def model(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L)((acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1))
    val samples = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L),
      (12345L, 54321L), (40000L, 7L), (255L, 65280L))
    val got = samples.toDF("a", "b")
      .select(Layout.morton(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == samples.map { case (a, b) => model(a, b) },
      "column morton != bit-loop morton")
    // the curve key is injective over the 16-bit plane on these points
    assert(got.distinct.length == got.length)
  }

  test("l04 morton3 equals the bit-loop model; buckets box ALL THREE dims") {
    import spark.implicits._
    def m3(a: Long, b: Long, c: Long): Long =
      (0 until 16).foldLeft(0L)((acc, i) =>
        acc | ((a >> i) & 1L) << (3 * i) |
          ((b >> i) & 1L) << (3 * i + 1) |
          ((c >> i) & 1L) << (3 * i + 2))
    val rnd = new scala.util.Random(7)
    val pts = Seq((0L, 0L, 0L), (65535L, 65535L, 65535L), (1L, 0L, 0L),
      (0L, 1L, 0L), (0L, 0L, 1L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong))
    val got = pts.toDF("a", "b", "c")
      .select(Layout.morton3(col("a"), col("b"), col("c")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == pts.map(p => m3(p._1, p._2, p._3)),
      "column morton3 != bit-loop morton3")
    assert(got.distinct.length == got.length, "morton3 must be injective")
    // the report's boxes: every bucket is a top-4-bit cell of EVERY
    // quantized dimension, so per-bucket quantized ranges are < 2^12
    val o = Relational.t(spark, sf0001, "orders")
      .select(col("o_custkey").cast("long"),
        org.apache.spark.sql.functions.datediff(col("o_orderdate"),
          org.apache.spark.sql.functions.lit("1992-01-01")).cast("long"),
        org.apache.spark.sql.functions.floor(col("o_totalprice") *
          org.apache.spark.sql.functions.lit(100)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def qz(v: Long, lo: Long, hi: Long): Long =
      (v - lo) * 65535L / math.max(hi - lo, 1L)
    val (cks, days, cents) = (o.map(_._1), o.map(_._2), o.map(_._3))
    val model = o.map { case (ck, day, ct) =>
      val z3 = m3(qz(ck, cks.min, cks.max), qz(day, days.min, days.max),
        qz(ct, cents.min, cents.max))
      (z3 >> 36, ck, day, ct)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rows) =>
      (b, rows.length.toLong,
        rows.map(_._2).min, rows.map(_._2).max,
        rows.map(_._3).min, rows.map(_._3).max,
        rows.map(_._4).min, rows.map(_._4).max)
    }
    val rep = graft.SparkEntry.queries("l04_zorder3d")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rep.toSeq == model, s"\n got  ${rep.take(3).toSeq}…\n model ${model.take(3)}…")
    // each bucket's quantized range must stay inside its 1/16 cell on
    // EVERY axis (+1 for the floor-div boundary)
    val cell = 4096L + 1
    rep.foreach { r =>
      assert(qz(r._4, cks.min, cks.max) - qz(r._3, cks.min, cks.max) < cell)
      assert(qz(r._6, days.min, days.max) - qz(r._5, days.min, days.max) < cell)
      assert(qz(r._8, cents.min, cents.max) - qz(r._7, cents.min, cents.max) < cell)
    }
  }

  test("l01 z-buckets bound BOTH dims (the multi-dim pruning property)") {
    val rows = graft.SparkEntry.queries("l01_zorder")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val ckLo = rows.map(_.getLong(2)).min; val ckHi = rows.map(_.getLong(3)).max
    val dayLo = rows.map(_.getLong(4)).min; val dayHi = rows.map(_.getLong(5)).max
    val ckSpan = (ckHi - ckLo).toDouble.max(1)
    val daySpan = (dayHi - dayLo).toDouble.max(1)
    def frac(r: org.apache.spark.sql.Row) = (
      (r.getLong(3) - r.getLong(2)) / ckSpan,
      (r.getLong(5) - r.getLong(4)) / daySpan)
    val (cf, df) = rows.map(frac).unzip
    // a single-key layout cannot get both below ~0.5 on average (its
    // secondary dim spans the full range per bucket); the z curve
    // bounds each at ~1/16 + quantization noise
    assert(cf.sum / cf.length < 0.25,
      s"avg ck span fraction ${cf.sum / cf.length}")
    assert(df.sum / df.length < 0.25,
      s"avg day span fraction ${df.sum / df.length}")
  }

  test("zorderWrite layout: every FILE bounds both dims (min/max pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val o = Relational.t(spark, sf0001, "orders").select(
      col("o_orderkey"),
      col("o_custkey").cast("long").as("ck"),
      org.apache.spark.sql.functions.datediff(col("o_orderdate"),
        org.apache.spark.sql.functions.lit("1992-01-01")).cast("long").as("day"))
    Layout.curveWrite(o, Layout.Morton, Seq("ck", "day"), dir, files = 8)
    val all = o.collect().map(r => (r.getLong(1), r.getLong(2)))
    val ckSpan = (all.map(_._1).max - all.map(_._1).min).toDouble.max(1)
    val daySpan = (all.map(_._2).max - all.map(_._2).min).toDouble.max(1)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 4, s"expected several files, got ${files.length}")
    var rowsSeen = 0L
    def fileSpans(fs: Array[java.io.File]): Seq[(Double, Double)] =
      fs.toSeq.flatMap { f =>
        val part = spark.read.parquet(f.getAbsolutePath)
          .select("ck", "day").collect().map(r => (r.getLong(0), r.getLong(1)))
        rowsSeen += part.length
        if (part.isEmpty) None
        else Some(((part.map(_._1).max - part.map(_._1).min) / ckSpan,
          (part.map(_._2).max - part.map(_._2).min) / daySpan))
      }
    val spans = fileSpans(files)
    assert(rowsSeen == all.length, "layout write lost rows")
    // the honest baseline: the SAME data range-laid-out on the single
    // key ck — its files are razor-thin on ck but span ~the whole day
    // axis, so any day-predicate scan reads every file
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ckorder").toString
    o.repartitionByRange(8, col("ck")).sortWithinPartitions("ck")
      .write.mode("overwrite").parquet(dir2)
    val baseFiles = new java.io.File(dir2).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val baseSpans = fileSpans(baseFiles)
    def avg(xs: Seq[Double]) = xs.sum / xs.length
    val (zCk, zDay) = (avg(spans.map(_._1)), avg(spans.map(_._2)))
    val baseDay = avg(baseSpans.map(_._2))
    // z bounds the secondary dim where the single-key layout cannot
    // (range boundaries are SAMPLED, so one file may straddle a
    // curve-prefix boundary — the claim is the aggregate average)
    assert(baseDay > 0.8, s"baseline day span $baseDay — corpus too tiny to discriminate")
    assert(zDay <= 0.6 * baseDay, s"z day span $zDay vs baseline $baseDay")
    // and the price on the primary dim stays bounded (not full span)
    assert(zCk <= 0.75, s"z ck span $zCk")
  }

  test("zorder3Write layout: every FILE bounds ALL THREE dims; reserved-prefix guard") {
    val dir = java.nio.file.Files.createTempDirectory("graft-z3").toString
    val o = Relational.t(spark, sf0001, "orders").select(
      col("o_orderkey"),
      col("o_custkey").cast("long").as("ck"),
      org.apache.spark.sql.functions.datediff(col("o_orderdate"),
        org.apache.spark.sql.functions.lit("1992-01-01")).cast("long").as("day"),
      org.apache.spark.sql.functions.floor(col("o_totalprice") *
        org.apache.spark.sql.functions.lit(100)).cast("long").as("cents"))
    Layout.curveWrite(o, Layout.Morton, Seq("ck", "day", "cents"), dir, files = 32)
    val all = o.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    def span(xs: Seq[Long]) = (xs.max - xs.min).toDouble.max(1)
    val (ckS, dayS, cS) = (span(all.map(_._1).toSeq),
      span(all.map(_._2).toSeq), span(all.map(_._3).toSeq))
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 16, s"expected many files, got ${files.length}")
    var rowsSeen = 0L
    def fileSpans(fs: Array[java.io.File]): Seq[(Double, Double, Double)] =
      fs.toSeq.flatMap { f =>
        val part = spark.read.parquet(f.getAbsolutePath)
          .select("ck", "day", "cents").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        rowsSeen += part.length
        if (part.isEmpty) None
        else Some((
          (part.map(_._1).max - part.map(_._1).min) / ckS,
          (part.map(_._2).max - part.map(_._2).min) / dayS,
          (part.map(_._3).max - part.map(_._3).min) / cS))
      }
    val spans = fileSpans(files)
    assert(rowsSeen == all.length, "3-d layout write lost rows")
    // single-key baseline: thin on ck, ~full span on BOTH other axes
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ck3").toString
    o.repartitionByRange(32, col("ck")).sortWithinPartitions("ck")
      .write.mode("overwrite").parquet(dir2)
    val baseSpans = fileSpans(new java.io.File(dir2).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
    def avg(xs: Seq[Double]) = xs.sum / xs.length
    val (zCk, zDay, zC) =
      (avg(spans.map(_._1)), avg(spans.map(_._2)), avg(spans.map(_._3)))
    val (bDay, bC) = (avg(baseSpans.map(_._2)), avg(baseSpans.map(_._3)))
    assert(bDay > 0.8 && bC > 0.8,
      s"baseline secondary spans $bDay/$bC — corpus too tiny to discriminate")
    // the cube layout bounds BOTH secondary dims on average where the
    // single key spans them fully (sampled range boundaries allow
    // straddlers — the claim is the aggregate average, as in the 2-d
    // write spec); the primary dim also stays off full span
    assert(zDay <= 0.7 * bDay, s"z3 day span $zDay vs baseline $bDay")
    assert(zC <= 0.7 * bC, s"z3 cents span $zC vs baseline $bC")
    assert(zCk <= 0.8, s"z3 ck span $zCk")
    // reserved-prefix guard refuses loudly, 3-d and 2-d
    for (dims <- Seq(Seq("ck", "day", "cents"), Seq("ck", "day"))) {
      val boom = intercept[IllegalArgumentException] {
        Layout.curveWrite(o.withColumn("__z_curve_key",
          org.apache.spark.sql.functions.lit(1L)),
          Layout.Morton, dims, dir, files = 2)
      }
      assert(boom.getMessage.contains("__z"))
    }
  }

  test("curve layouts take 2 or 3 dimensions: curveWrite and Locality " +
    "reject any other count with a message") {
    val o = spark.range(16).select(col("id").as("a"), (col("id") * 2).as("b"),
      (col("id") * 3).as("c"), (col("id") * 5).as("d"))
    val dir = java.nio.file.Files.createTempDirectory("graft-dims").toString
    for (dims <- Seq(Seq("a"), Seq("a", "b", "c", "d"))) {
      val boom = intercept[IllegalArgumentException] {
        Layout.curveWrite(o, Layout.Hilbert, dims, dir, files = 2)
      }
      assert(boom.getMessage.contains(s"got ${dims.length}"), boom.getMessage)
    }
    val boom = intercept[IllegalArgumentException] {
      Layout.Locality(Layout.Morton, Seq("ck"), keepBits = 8)(spark, sf0001)
    }
    assert(boom.getMessage.contains("2 or 3 dimensions"), boom.getMessage)
  }

  test("hilbert3Write layout: physical file boxes beat morton's at identical " +
    "equal-frequency cuts (the l06 gain carried to disk)") {
    // l06 measured the straddle fix declaratively (5 vs 12 buckets at
    // non-dyadic index cuts); this is the claim ON DISK: both write
    // paths range-partition into the same NUMBER of equal-frequency
    // files (real file cuts — arbitrary row-count positions, never
    // dyadic), and the no-jump key must yield per-file min/max boxes
    // whose summed normalized VOLUME is strictly smaller, hence fewer
    // rect-file intersections for a triple-dim predicate.
    import org.apache.spark.sql.functions.{min, max}
    val o = Relational.t(spark, sf0001, "orders").select(
      col("o_orderkey"),
      col("o_custkey").cast("long").as("ck"),
      org.apache.spark.sql.functions.datediff(col("o_orderdate"),
        org.apache.spark.sql.functions.lit("1992-01-01")).cast("long").as("day"),
      org.apache.spark.sql.functions.floor(col("o_totalprice") *
        org.apache.spark.sql.functions.lit(100)).cast("long").as("cents"))
    val hDir = java.nio.file.Files.createTempDirectory("graft-h3").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft-z3m").toString
    Layout.curveWrite(o, Layout.Hilbert, Seq("ck", "day", "cents"), hDir, files = 17)
    Layout.curveWrite(o, Layout.Morton, Seq("ck", "day", "cents"), zDir, files = 17)
    val Array(b) = o.agg(min("ck"), max("ck"), min("day"), max("day"),
      min("cents"), max("cents")).collect()
    val spans = Seq((b.getLong(1) - b.getLong(0)).toDouble.max(1),
      (b.getLong(3) - b.getLong(2)).toDouble.max(1),
      (b.getLong(5) - b.getLong(4)).toDouble.max(1))
    def boxes(dir: String): Seq[Seq[(Long, Long)]] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .toSeq.flatMap { f =>
          val p = spark.read.parquet(f.getAbsolutePath)
            .agg(min("ck"), max("ck"), min("day"), max("day"),
              min("cents"), max("cents")).collect()(0)
          if (p.isNullAt(0)) None
          else Some(Seq((p.getLong(0), p.getLong(1)),
            (p.getLong(2), p.getLong(3)), (p.getLong(4), p.getLong(5))))
        }
    val (bh, bz) = (boxes(hDir), boxes(zDir))
    assert(bh.length >= 12 && bz.length >= 12,
      s"too few files to discriminate: ${bh.length} vs ${bz.length}")
    // no rows lost, either layout
    val n = o.count()
    assert(spark.read.parquet(hDir).count() == n, "hilbert3 write lost rows")
    assert(spark.read.parquet(zDir).count() == n, "morton3 write lost rows")
    def volSum(bx: Seq[Seq[(Long, Long)]]): Double = bx.map { dims =>
      dims.zip(spans).map { case ((lo, hi), s) => (hi - lo) / s }.product
    }.sum
    val (vh, vz) = (volSum(bh), volSum(bz))
    // six unaligned triple-dim query boxes (the 2-d read-side spec's
    // construction lifted to the cube): files touched = stats boxes
    // intersecting — the reader's actual skip decision
    val fracs = Seq(0.07, 0.22, 0.37, 0.52, 0.67, 0.82)
    val rects = fracs.zip(fracs.reverse).map { case (f, g) =>
      Seq(f, g, (f + g) / 2).zipWithIndex.map { case (fr, d) =>
        val lo = (if (d == 0) b.getLong(0) else if (d == 1) b.getLong(2)
          else b.getLong(4)) + (fr * spans(d)).toLong
        (lo, lo + (0.125 * spans(d)).toLong)
      }
    }
    def touchSum(bx: Seq[Seq[(Long, Long)]]): Int = rects.map { rect =>
      bx.count(dims => dims.zip(rect).forall {
        case ((blo, bhi), (rlo, rhi)) => bhi >= rlo && blo <= rhi })
    }.sum
    val (th, tz) = (touchSum(bh), touchSum(bz))
    info(f"3-d file boxes — volume sums hilbert $vh%.4f vs morton $vz%.4f; " +
      s"rect-file touches hilbert $th vs morton $tz of ${6 * bz.length} max")
    assert(vh < vz, f"hilbert3 summed box volume $vh%.4f must beat morton's $vz%.4f")
    assert(th <= tz, s"hilbert3 must touch at most morton's files: $th vs $tz")
    // the reserved-prefix guard covers the hilbert path too
    val boom = intercept[IllegalArgumentException] {
      Layout.curveWrite(o.withColumn("__z_curve_key",
        org.apache.spark.sql.functions.lit(1L)),
        Layout.Hilbert, Seq("ck", "day", "cents"), hDir, files = 2)
    }
    assert(boom.getMessage.contains("__z"))
  }

  test("read-side pruning: curve layouts skip files a single-key layout must read; hilbert <= z") {
    // The verdict-r13 ask: prove the measured l02 curve advantage
    // SURVIVES TO THE SCAN. Three physical layouts of the same rows,
    // then (a) files actually containing matching rows under a
    // day-predicate via distinct input_file_name() — the dimension a
    // ck-sorted layout cannot bound — and (b) per-file min/max
    // STATISTICS (exactly what a parquet reader prunes row groups
    // with) intersected against six dual-dim rectangles.
    import org.apache.spark.sql.functions.{min, max, input_file_name}
    val o = Relational.t(spark, sf0001, "orders").select(
      col("o_orderkey"),
      col("o_custkey").cast("long").as("ck"),
      org.apache.spark.sql.functions.datediff(col("o_orderdate"),
        org.apache.spark.sql.functions.lit("1992-01-01")).cast("long").as("day"))
    val zDir = java.nio.file.Files.createTempDirectory("graft-prune-z").toString
    val hDir = java.nio.file.Files.createTempDirectory("graft-prune-h").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft-prune-s").toString
    Layout.curveWrite(o, Layout.Morton, Seq("ck", "day"), zDir, files = 16)
    Layout.curveWrite(o, Layout.Hilbert, Seq("ck", "day"), hDir, files = 16)
    o.repartitionByRange(16, col("ck")).sortWithinPartitions("ck")
      .write.mode("overwrite").parquet(sDir)
    val Array(b) = o.agg(min("ck"), max("ck"), min("day"), max("day")).collect()
    val (ckMin, ckMax, dayMin, dayMax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val ckSpan = (ckMax - ckMin).toDouble; val daySpan = (dayMax - dayMin).toDouble
    def filesTouched(dir: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).where(pred)
        .select(input_file_name()).distinct().count()
    def totalFiles(dir: String): Long =
      spark.read.parquet(dir).select(input_file_name()).distinct().count()
    val (tz, th, ts) = (totalFiles(zDir), totalFiles(hDir), totalFiles(sDir))
    assert(tz >= 8 && th >= 8 && ts >= 8, s"too few files to discriminate: $tz $th $ts")
    // (a) day-only predicate: middle ~1/8 of the day range. The
    // single-key ck layout interleaves days arbitrarily across every
    // file; the curves confine them.
    val dLo = dayMin + (0.45 * daySpan).toLong
    val dHi = dayMin + (0.57 * daySpan).toLong
    val dayPred = col("day").between(dLo, dHi)
    val (fz, fh, fs) = (filesTouched(zDir, dayPred),
      filesTouched(hDir, dayPred), filesTouched(sDir, dayPred))
    assert(fs >= (0.9 * ts).toLong, s"single-key layout should read ~all files for a day slice: $fs of $ts")
    assert(fz <= (0.7 * tz).toLong, s"z layout should skip day-slice files: $fz of $tz")
    assert(fh <= fz, s"hilbert must not touch more day-slice files than z: $fh vs $fz")
    // no rows lost by any layout
    val nDay = o.where(dayPred).count()
    Seq(zDir, hDir, sDir).foreach { d =>
      assert(spark.read.parquet(d).where(dayPred).count() == nDay, s"$d row drift")
    }
    // (b) six unaligned dual-dim rectangles: count files whose
    // min/max statistics box intersects each — the reader's skip
    // decision. Also the continuous form (summed normalized box
    // area), where the no-jump curve's advantage cannot tie away.
    def boxes(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .toSeq.flatMap { f =>
          val part = spark.read.parquet(f.getAbsolutePath)
            .agg(min("ck"), max("ck"), min("day"), max("day")).collect()(0)
          if (part.isNullAt(0)) None
          else Some((part.getLong(0), part.getLong(1), part.getLong(2), part.getLong(3)))
        }
    val (bz, bh, bs) = (boxes(zDir), boxes(hDir), boxes(sDir))
    val fracs = Seq(0.07, 0.22, 0.37, 0.52, 0.67, 0.82)
    val rects = fracs.zip(fracs.reverse).map { case (f, g) =>
      (ckMin + (f * ckSpan).toLong, ckMin + ((f + 0.125) * ckSpan).toLong,
        dayMin + (g * daySpan).toLong, dayMin + ((g + 0.125) * daySpan).toLong)
    }
    def touchSum(bx: Seq[(Long, Long, Long, Long)]): Int = rects.map {
      case (cl, ch, dl, dh) => bx.count { case (a0, a1, b0, b1) =>
        a1 >= cl && a0 <= ch && b1 >= dl && b0 <= dh }
    }.sum
    val (sz, sh, ss) = (touchSum(bz), touchSum(bh), touchSum(bs))
    def areaSum(bx: Seq[(Long, Long, Long, Long)]): Double = bx.map {
      case (a0, a1, b0, b1) => ((a1 - a0) / ckSpan.max(1)) * ((b1 - b0) / daySpan.max(1))
    }.sum
    val (az, ah) = (areaSum(bz), areaSum(bh))
    info(s"stats-box touches over 6 rects — z $sz, hilbert $sh, single $ss " +
      f"(of ${6 * tz} max); box-area sums z $az%.3f hilbert $ah%.3f")
    assert(sz <= (0.45 * 6 * tz).toInt, s"z stats should prune most rect-file pairs: $sz")
    assert(sh <= sz, s"hilbert must touch at most z's file count: $sh vs $sz")
    assert(ah < az, f"hilbert summed box area $ah%.4f must beat z's $az%.4f strictly")
    // row equality under one rect across layouts (stats are a
    // superset filter — actual matching rows must agree exactly)
    val (rcl, rch, rdl, rdh) = rects.head
    val rectPred = col("ck").between(rcl, rch) && col("day").between(rdl, rdh)
    val nRect = o.where(rectPred).count()
    Seq(zDir, hDir, sDir).foreach { d =>
      assert(spark.read.parquet(d).where(rectPred).count() == nRect, s"$d rect row drift")
    }
  }

  test("l03 pruning simulation: hilbert <= zorder < single_ck; rows agree") {
    val rows = graft.SparkEntry.queries("l03_curve_pruning")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("hilbert", "single_ck", "zorder"))
    val (_, hT, hR) = rows("hilbert")
    val (_, zT, zR) = rows("zorder")
    val (sTot, sT, sR) = rows("single_ck")
    assert(hR == zR && zR == sR && sR > 0, s"rows_matched must agree: $hR $zR $sR")
    assert(hT <= zT, s"hilbert buckets touched $hT must be <= z's $zT")
    assert(zT < sT, s"z buckets touched $zT must beat single-key's $sT")
    assert(sT < sTot, s"even single-key prunes its own dim: $sT of $sTot")
  }

  test("l05 cube pruning: zorder3d < zorder2d < single_ck on the triple-dim box; rows agree") {
    val rows = graft.SparkEntry.queries("l05_cube_pruning")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("zorder3d", "zorder2d_ck_day", "single_ck"))
    val (_, t3, r3b) = rows("zorder3d")
    val (_, t2, r2b) = rows("zorder2d_ck_day")
    val (sTot, tS, rS) = rows("single_ck")
    assert(r3b == r2b && r2b == rS && rS > 0, s"rows_matched must agree: $r3b $r2b $rS")
    // at this corpus the ordering is strict on both steps; at bigger
    // SFs the 3d-vs-2d gap narrows to the documented straddle finding
    // (cubePruning scaladoc), so only ≤ is contractual there — the
    // strictness here witnesses the third dimension genuinely pruning
    assert(t3 < t2, s"3-d curve must prune the cents dim here: $t3 vs $t2")
    assert(t2 < tS, s"2-d curve must beat single-key: $t2 vs $tS")
    assert(tS < sTot)
  }

  test("p11 bootstrap equals the md5 Poisson-weight model; spread brackets the mean") {
    def md5hex8(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val orders = Relational.t(spark, sf0001, "orders")
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val model = (0 until 32).map { r =>
      var num = 0.0; var den = 0L
      for ((k, v) <- orders) {
        val h = md5hex8(s"$k:$r")
        val w = Sampling.poissonCuts.count(h >= _)
        num += w * v; den += w
      }
      (r, math.round(num / den * 100).toDouble / 100, den)
    }
    val got = Sampling.bootstrapMeans(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    assert(got.length == 32)
    got.zip(model).foreach { case ((gr, gm, gn), (mr, mm, mn)) =>
      assert(gr == mr && gn == mn, s"replica $gr weights diverge")
      assert(math.abs(gm - mm) <= 0.011, s"replica $gr mean $gm vs $mm")
    }
    // the replica means genuinely vary (the op measures uncertainty,
    // not a constant) and bracket the plain corpus mean
    val plain = orders.map(_._2).sum / orders.length
    val means = got.map(_._2)
    assert(means.distinct.length > 1)
    assert(means.min <= plain && plain <= means.max)
  }

  test("c19 corpus diff equals the md5 snapshot model; all four statuses witnessed") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val old = docs.filter(_._1 % 10 != 7)
      .map { case (id, t, c) => id -> (md5hex(t), c) }.toMap
    val nw = docs.filter(_._1 % 10 != 4).map { case (id, t, c) =>
      id -> (md5hex(if (id % 10 == 3) t + " v2" else t), c)
    }.toMap
    val model = (old.keySet ++ nw.keySet).toSeq.map { id =>
      val status = (old.get(id), nw.get(id)) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some((a, _)), Some((b, _))) =>
          if (a == b) "unchanged" else "modified"
      }
      val chars = nw.get(id).orElse(old.get(id)).get._2
      (status, chars)
    }.groupBy(_._1).map { case (st, xs) =>
      st -> (xs.length.toLong, xs.map(_._2).sum)
    }
    val got = Curation.corpusDiff(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == model)
    assert(got.keySet == Set("added", "removed", "modified", "unchanged"),
      s"every diff status must be witnessed on the gate corpus: ${got.keySet}")
  }

  test("q46 HLL rollup: merged estimate within tolerance AND equals the direct sketch") {
    val rows = Relational.hllRollup(spark, sf0001).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getBoolean(1)), "union-merged estimate out of tolerance")
    // merge correctness, not just tolerance: registers are value-hash
    // determined, so union-of-per-nation-sketches must estimate the
    // SAME as one direct region-level sketch
    val c = Relational.t(spark, sf0001, "customer")
    val n = Relational.t(spark, sf0001, "nation")
    val j = c.join(org.apache.spark.sql.functions.broadcast(n),
      c("c_nationkey") === n("n_nationkey"))
    val direct = j.groupBy("n_regionkey")
      .agg(org.apache.spark.sql.functions
        .expr("hll_sketch_estimate(hll_sketch_agg(c_custkey, 14))").as("est"))
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.getLong(1)).toMap
    val merged = j.groupBy("n_regionkey", "n_nationkey")
      .agg(org.apache.spark.sql.functions
        .expr("hll_sketch_agg(c_custkey, 14)").as("sk"))
      .groupBy("n_regionkey")
      .agg(org.apache.spark.sql.functions
        .expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.getLong(1)).toMap
    assert(merged == direct, "sketch merge must match the direct sketch")
  }

  test("hilbert kernel equals the classic n/2-descent model on random points") {
    import spark.implicits._
    // the INDEPENDENT formulation: Wikipedia's xy2d, descending by
    // s = n/2 with full-grid reflection — structurally different from
    // the kernel's k-indexed loop
    def xy2d(n: Long, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val rnd = new scala.util.Random(42)
    val pts = Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L)) ++
      Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("a", "b")
      .select(graft.functions.HilbertIndex(col("a"), col("b")).as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == pts.map { case (a, b) => xy2d(65536L, a, b) })
  }

  test("hilbert kernel matches published fixed vectors (external pin)") {
    import spark.implicits._
    // The n/2-descent model and the DuckDB CTE oracle re-express the
    // SAME recurrence as the kernel — a shared misreading would pass
    // all three. These constants are external: the standard order-n
    // Hilbert curve starts at (0,0), ends at (n-1,0) with index
    // n^2-1, and its two remaining corners are the base-4 repunits
    // (0,n-1) -> (n^2-1)/3 and (n-1,n-1) -> 2(n^2-1)/3 (every level
    // contributes quadrant digit 1 resp. 2) — published identities
    // of the curve, not derivable from a wrong recurrence.
    val n2m1 = (1L << 32) - 1 // n^2 - 1 for n = 65536
    val fixed = Seq(
      (0L, 0L) -> 0L,
      (0L, 65535L) -> n2m1 / 3, // 1431655765
      (65535L, 65535L) -> 2 * (n2m1 / 3), // 2863311530
      (65535L, 0L) -> n2m1) // 4294967295
    val got = fixed.map(_._1).toDF("a", "b")
      .select(graft.functions.HilbertIndex(col("a"), col("b")).as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == fixed.map(_._2), s"corner vectors: got ${got.toSeq}")
    // and the published quadrant visit order LL -> UL -> UR -> LR:
    // each quadrant's center must land in that quadrant's index range
    val q = 1L << 30 // 4^15
    val centers = Seq((16384L, 16384L), (16384L, 49152L),
      (49152L, 49152L), (49152L, 16384L))
    val ch = centers.toDF("a", "b")
      .select(graft.functions.HilbertIndex(col("a"), col("b")).as("h"))
      .collect().map(_.getLong(0))
    ch.zipWithIndex.foreach { case (h, i) =>
      assert(h >= i * q && h < (i + 1) * q,
        s"quadrant $i center has index $h outside [${i * q}, ${(i + 1) * q})")
    }
  }

  test("quant16 is total: exact at the span boundary, raises beyond it") {
    import spark.implicits._
    val m = Layout.maxExactSpan
    // at the boundary the quotient is still exact floor-div
    val ok = Seq((0L, 0L, m), (m, 0L, m), (m / 2, 0L, m)).toDF("v", "lo", "hi")
      .select(Layout.quant16(col("v"), col("lo"), col("hi")).as("q"))
      .collect().map(_.getLong(0))
    assert(ok.toSeq == Seq(0L, 65535L, (m / 2 * 65535L) / m))
    // one past it the guard must raise (not silently lose ulps)
    val e = intercept[Exception] {
      Seq((0L, 0L, m + 1)).toDF("v", "lo", "hi")
        .select(Layout.quant16(col("v"), col("lo"), col("hi")).as("q"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("exceeds the exact floor-div range")),
      s"wrong failure: $e")
    // a span that WRAPS Long (lo near MinValue, hi positive) must also
    // raise: the wrapped difference is negative and would otherwise
    // slip under the max-span guard and quantize garbage
    val wrapped = intercept[Exception] {
      Seq((0L, Long.MinValue + 1, 1L)).toDF("v", "lo", "hi")
        .select(Layout.quant16(col("v"), col("lo"), col("hi")).as("q"))
        .collect()
    }
    assert(msgs(wrapped).exists(_.contains("exceeds the exact floor-div range")),
      s"wrong failure: $wrapped")
  }

  test("hilbert3 kernel: low-cube indices are a permutation with NO jumps; morton3 jumps") {
    import spark.implicits._
    // independent plain-Scala transcription of Skilling's transpose
    // construction (AIP Conf. Proc. 707, 2004)
    def model(xi: Long, yi: Long, zi: Long): Long = {
      val X = Array(xi & 0xFFFFL, yi & 0xFFFFL, zi & 0xFFFFL)
      var q = 1L << 15
      while (q > 1L) {
        val p = q - 1L
        var i = 0
        while (i < 3) {
          if ((X(i) & q) != 0L) X(0) ^= p
          else { val t = (X(0) ^ X(i)) & p; X(0) ^= t; X(i) ^= t }
          i += 1
        }
        q >>= 1
      }
      X(1) ^= X(0); X(2) ^= X(1)
      var t = 0L; q = 1L << 15
      while (q > 1L) { if ((X(2) & q) != 0L) t ^= q - 1L; q >>= 1 }
      (0 until 3).foreach(i => X(i) ^= t)
      (15 to 0 by -1).foldLeft(0L)((h, k) =>
        (h << 3) | (((X(0) >> k) & 1L) << 2) |
          (((X(1) >> k) & 1L) << 1) | ((X(2) >> k) & 1L))
    }
    // the full low 16×16×16 sub-lattice through the COLUMN path: the
    // order-16 curve's first 4096 indices must fill the origin cube
    // (a permutation of 0..4095) with consecutive indices ALWAYS
    // grid neighbors — the two properties only a genuine 3-d Hilbert
    // curve satisfies
    val grid = for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
      yield (x.toLong, y.toLong, z.toLong)
    val byH = grid.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        graft.functions.HilbertIndex3(col("a"), col("b"), col("c")).as("h"))
      .collect().map(r => (r.getLong(3), r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(byH.map(_._1).toSeq == (0L until 4096L),
      "low-cube indices must be exactly 0..4095")
    val jumps = byH.sliding(2).count { case Array((_, x1, y1, z1), (_, x2, y2, z2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) != 1
    }
    assert(jumps == 0, s"$jumps non-adjacent steps on the 3-d sub-lattice")
    // morton3 on the same lattice DOES jump — the comparison that
    // will justify an l06 next to l04/l05 (the cube-pruning straddle
    // finding's fix)
    val byZ = grid.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        Layout.morton3(col("a"), col("b"), col("c")).as("z"))
      .collect().map(r => (r.getLong(3), r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val zJumps = byZ.sliding(2).count { case Array((_, x1, y1, z1), (_, x2, y2, z2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) != 1
    }
    assert(zJumps > 0, "morton3 must jump on the sub-lattice (it is not a Hilbert curve)")
    // kernel ≡ the independent transcription on random 16-bit triples
    // + the start-corner pin
    val rnd = new scala.util.Random(11)
    val pts = Seq((0L, 0L, 0L), (65535L, 65535L, 65535L)) ++
      Seq.fill(300)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong))
    val got = pts.toDF("a", "b", "c")
      .select(graft.functions.HilbertIndex3(col("a"), col("b"), col("c")).as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == pts.map(p => model(p._1, p._2, p._3)),
      "column kernel != plain-Scala Skilling transcription")
    assert(model(0L, 0L, 0L) == 0L)
  }

  test("l06: the no-jump 3-d key strictly beats 3-d morton on the same cuts; rows agree") {
    val rows = graft.SparkEntry.queries("l06_cube_hilbert")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("hilbert3d", "zorder3d"))
    val (_, hT, hR) = rows("hilbert3d")
    val (_, zT, zR) = rows("zorder3d")
    assert(hR == zR && zR > 0, s"rows_matched must agree: $hR $zR")
    // the straddle finding's fix, witnessed: at the same non-dyadic
    // cuts the Hilbert segments' boxes stay tight where Morton's leap
    assert(hT < zT, s"hilbert3d touched $hT must strictly beat morton3's $zT")
  }

  test("hilbert curve has NO jumps: consecutive indices are grid neighbors") {
    import spark.implicits._
    // restricted to the low 64×64 corner the order-16 curve IS an
    // order-64 Hilbert curve (the ten zero top levels contribute an
    // even number of swaps), so the full sub-lattice enumerates a
    // closed curve segment — the defining property Morton LACKS
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    val byH = grid.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.HilbertIndex(col("a"), col("b")).as("h"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(byH.map(_._1).toSeq == (0L until 4096L), "indices must be a permutation")
    val jumps = byH.sliding(2).count { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumps == 0, s"$jumps non-adjacent steps on the sub-lattice")
    // Morton on the same lattice DOES jump — the comparison that
    // justifies l02 existing next to l01
    val byZ = grid.toDF("a", "b")
      .select(col("a"), col("b"), Layout.morton(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val zJumps = byZ.sliding(2).count { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(zJumps > 0, "morton should jump on this lattice")
  }

  test("l02 hilbert buckets bound both dims at least as tightly as l01's z") {
    def spans(rows: Array[org.apache.spark.sql.Row]): (Double, Double) = {
      val ckLo = rows.map(_.getLong(2)).min; val ckHi = rows.map(_.getLong(3)).max
      val dayLo = rows.map(_.getLong(4)).min; val dayHi = rows.map(_.getLong(5)).max
      val cs = (ckHi - ckLo).toDouble.max(1); val ds = (dayHi - dayLo).toDouble.max(1)
      val fr = rows.map(r => ((r.getLong(3) - r.getLong(2)) / cs,
        (r.getLong(5) - r.getLong(4)) / ds))
      (fr.map(_._1).sum / fr.length, fr.map(_._2).sum / fr.length)
    }
    val (hCk, hDay) = spans(graft.SparkEntry.queries("l02_hilbert")(spark, sf0001).collect())
    val (zCk, zDay) = spans(graft.SparkEntry.queries("l01_zorder")(spark, sf0001).collect())
    info(f"avg span fractions — hilbert (ck $hCk%.4f, day $hDay%.4f), z (ck $zCk%.4f, day $zDay%.4f)")
    assert(hCk < 0.25 && hDay < 0.25, "hilbert buckets must bound both dims")
    // at this DYADIC grain the two curves induce the identical cell
    // partition (a 2^24-aligned range is a quadrant-descent prefix
    // for both), so near-equality is the expected reading here; the
    // hilbert ADVANTAGE only exists at non-dyadic cuts — measured by
    // l03 and the read-side pruning spec, not this report
    assert(hCk + hDay <= (zCk + zDay) * 1.10,
      s"hilbert locality ($hCk + $hDay) worse than z ($zCk + $zDay)")
  }

  test("t18 BPE merges equal the plain-Scala training model; monotone counts") {
    // independent formulation: mutable pair-count maps + in-place
    // greedy re-segmentation, no Spark, no SQL
    val texts = Relational.t(spark, sf0001, "documents")
      .select("text").collect().map(_.getString(0))
    val words = scala.collection.mutable.HashMap.empty[String, Long]
    val re = "[a-z]+".r
    texts.foreach(t => re.findAllIn(t.toLowerCase).foreach { w =>
      words(w) = words.getOrElse(w, 0L) + 1
    })
    var segs: Map[String, Vector[String]] =
      words.keys.map(w => w -> w.split("").toVector).toMap
    val model = (1 to 6).map { r =>
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((w, f) <- words; Seq(a, b) <- segs(w).sliding(2))
        pc((a, b)) = pc.getOrElse((a, b), 0L) + f
      val ((a, b), c) = pc.toSeq.minBy { case ((l, rr), n) => (-n, l, rr) }
      segs = segs.map { case (w, syms) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        for (s0 <- syms) {
          if (out.nonEmpty && out.last == a && s0 == b)
            out(out.length - 1) = a + b
          else out += s0
        }
        w -> out.toVector
      }
      (r.toLong, a, b, c)
    }
    val got = TextAnalysis.bpeMerges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == model, s"merge tables diverge:\n got  ${got.toSeq}\n model $model")
    // training sanity: top-pair counts never increase round over
    // round under the greedy tie-broken order... not strictly true in
    // general BPE (a merge can create a NEW dominant pair), so assert
    // only positivity and distinct merge pairs
    assert(got.map(t => (t._2, t._3)).distinct.length == got.length,
      "the same pair must never be merged twice")
    assert(got.forall(_._4 > 0))
    // t19: the trained segmentation APPLIED — per-lang subword stats
    // from the same model's final segs
    val perLang = Relational.t(spark, sf0001, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val langWords = perLang.flatMap { case (lang, t0) =>
      re.findAllIn(t0.toLowerCase).map(w => (lang, w))
    }
    val encModel = langWords.groupBy(_._1).toSeq.map { case (lang, ws) =>
      val syms = ws.map(w => segs(w._2))
      val nWords = ws.length.toLong
      val nSub = syms.map(_.length.toLong).sum
      (lang, nWords, nSub, nSub * 1000 / nWords,
        syms.flatten.distinct.length.toLong)
    }.sortBy(_._1)
    val encGot = TextAnalysis.bpeEncodeStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(encGot.toSeq == encModel,
      s"encode stats diverge:\n got  ${encGot.toSeq}\n model $encModel")
    // the trained tokenizer genuinely compresses: strictly fewer
    // subwords than characters, strictly more than words
    encGot.foreach { case (lang, nw, ns, spw, nv) =>
      assert(ns > nw && spw >= 1000, s"$lang: merges erased too much")
      assert(nv > 0 && nv <= 26 + 6, s"$lang vocab $nv out of range")
    }
  }

  test("c20 BPE-id packing equals the plain-Scala retrain→number→encode→pack model") {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // retrain: the t18 independent formulation (mutable maps, greedy
    // in-place re-segmentation — no Spark, no SQL)
    val re = "[a-z]+".r
    val words = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach { case (_, _, t0) =>
      re.findAllIn(t0.toLowerCase).foreach { w =>
        words(w) = words.getOrElse(w, 0L) + 1 } }
    var segs: Map[String, Vector[String]] =
      words.keys.map(w => w -> w.split("").toVector).toMap
    val merges = (1 to 6).map { _ =>
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((w, f) <- words; Seq(a, b) <- segs(w).sliding(2))
        pc((a, b)) = pc.getOrElse((a, b), 0L) + f
      val ((a, b), _) = pc.toSeq.minBy { case ((l, rr), n) => (-n, l, rr) }
      segs = segs.map { case (w, syms) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        for (s0 <- syms) {
          if (out.nonEmpty && out.last == a && s0 == b)
            out(out.length - 1) = a + b
          else out += s0
        }
        w -> out.toVector
      }
      (a, b)
    }
    // standard BPE numbering: sorted alphabet takes 1..A, merge round
    // r's product takes A+r; a re-created string keeps its first id
    val alpha = words.keys.flatMap(_.split("")).toSeq.distinct.sorted
    val ids = scala.collection.mutable.HashMap.empty[String, Long]
    alpha.zipWithIndex.foreach { case (s0, i) => ids(s0) = i + 1L }
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      if (!ids.contains(a + b)) ids(a + b) = alpha.length + i + 1L }
    // encode every doc, pack per (lang, doc_id-order) at budget 2048
    val encoded = docs.map { case (id, lang, t0) =>
      (id, lang,
        re.findAllIn(t0.toLowerCase).toSeq.flatMap(w => segs(w)).map(ids))
    }
    val model = encoded.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      var start = 0L
      val tagged = rows.sortBy(_._1).map { case (id, _, arr) =>
        val s0 = start; start += arr.length
        (s0 / 2048, id, arr)
      }
      tagged.groupBy(_._1).toSeq.map { case (pid, grp) =>
        (lang, pid, grp.length.toLong, grp.map(_._3.length.toLong).sum,
          grp.sortBy(_._2).flatMap(_._3).mkString(","))
      }
    }.sortBy(t => (t._1, t._2))
    val got = Curation.bpePackedIdsStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq == model, s"\n got  ${got.toSeq}\n model $model")
    // the packed stream is genuinely the TRAINED tokenizer's: at
    // least one packed id is a merge product (above the alphabet)
    assert(got.exists(_._5.split(",").exists(_.toLong > alpha.length)),
      "no merge-product id reached any pack — ids are not BPE ids")
  }

  test("e17 sequence patterns equal the closed-form model (no regex engine at all)") {
    // independent formulation: each pattern's count has a CLOSED FORM
    // on the character sequence — adjacent-pair count for 'ce',
    // maximal-run count for 'vvv+', existence for 's.*p' (greedy .*
    // consumes to the last p, so at most one match) — no regex
    // library involved, so a shared regex-semantics misreading
    // cannot pass both sides
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val seqs = ev.groupBy(_._1).map { case (_, rows) =>
      rows.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
        .map(_._4.head).mkString
    }.toSeq
    def ce(s0: String) = s0.sliding(2).count(_ == "ce").toLong
    def burst(s0: String) = ("v+".r.findAllIn(s0)).count(_.length >= 3).toLong
    def stp(s0: String) = {
      val i = s0.indexOf('s')
      if (i >= 0 && s0.indexOf('p', i + 1) > i) 1L else 0L
    }
    val model = Seq(
      ("click_error", seqs.count(ce(_) > 0).toLong, seqs.map(ce).sum),
      ("signup_then_purchase", seqs.count(stp(_) > 0).toLong, seqs.map(stp).sum),
      ("view_burst_3plus", seqs.count(burst(_) > 0).toLong, seqs.map(burst).sum))
      .sortBy(_._1)
    val got = Events.seqPatternStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == model, s"\n got  ${got.toSeq}\n model $model")
    // the gate corpus must actually witness every pattern
    assert(got.forall(_._2 > 0), s"some pattern unwitnessed: ${got.toSeq}")
    assert(got.forall(t => t._3 >= t._2))
  }

  test("e18 funnel timing equals the first-signup/first-purchase model") {
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
    val deltas = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val s = rows.filter(_._3 == "signup").map(_._2).minOption
      s.flatMap { s0 =>
        rows.filter(r => r._3 == "purchase" && r._2 > s0)
          .map(_._2).minOption.map(_ - s0)
      }
    }
    assert(deltas.nonEmpty, "gate corpus must witness conversions")
    def pct(q: Double): Double = {
      val srt = deltas.sorted; val h = (srt.length - 1) * q
      val lo = srt(h.toInt)
      val v = lo + (h - h.toInt) * (srt(math.ceil(h).toInt) - lo)
      math.floor(v * 100 + 0.5) / 100
    }
    val row = Events.funnelTiming(spark, sf0001).collect()(0)
    assert(row.getLong(0) == deltas.length)
    assert(row.getLong(1) == deltas.min && row.getLong(4) == deltas.max)
    assert(row.getDouble(2) == pct(0.5) && row.getDouble(3) == pct(0.9),
      s"percentiles diverge: ${row.getDouble(2)}/${row.getDouble(3)} vs ${pct(0.5)}/${pct(0.9)}")
  }

  test("e19 rolling active users equals the activity-matrix model; full weeks only") {
    val ev = Relational.events(spark, sf0001)
      .select("user_id", "ts").collect()
      .map { r =>
        val d = r.getTimestamp(1).toLocalDateTime.toLocalDate
        (java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse("2024-01-01"), d), r.getLong(0))
      }.distinct
    val dLo = ev.map(_._1).min; val dHi = ev.map(_._1).max
    // flatMap + wau>0 guard: a window-day whose whole trailing week is
    // silent is OMITTED by the query (gap-day semantics in the
    // scaladoc), and the unguarded model would divide by zero on it —
    // the guard keeps this model valid on sparse corpora too
    val model = ((dLo + 6) to dHi).flatMap { w =>
      val dau = ev.collect { case (d, u) if d == w => u }.distinct.length.toLong
      val wau = ev.collect { case (d, u) if d >= w - 6 && d <= w => u }
        .distinct.length.toLong
      if (wau > 0) Some((w, dau, wau, dau * 1000 / wau)) else None
    }
    val got = Events.rollingActiveUsers(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == model, s"\n got  ${got.toSeq}\n model $model")
    // wau dominates dau; stickiness in (0, 1000]
    assert(got.forall(t => t._3 >= t._2 && t._4 <= 1000))
  }

  test("t20 heaps curve equals the md5-slice model; monotone and saturating") {
    def md5hex8(s0: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val thr = Seq(0.25, 0.5, 0.75).map(Sampling.rateThreshold)
    val re = "[a-z]+".r
    val sliced = docs.map { case (id, t0) =>
      val d = md5hex8(id.toString)
      val slice = 1 + thr.count(d >= _)
      (slice, re.findAllIn(t0.toLowerCase).toSeq)
    }
    val model = (1 to 4).map { k =>
      val in = sliced.filter(_._1 <= k)
      (k.toLong, in.length.toLong, in.map(_._2.length.toLong).sum,
        in.flatMap(_._2).distinct.length.toLong)
    }
    val got = TextAnalysis.heapsLawCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == model, s"\n got  ${got.toSeq}\n model $model")
    // curve properties: strictly growing corpus, non-decreasing vocab
    assert(got.map(_._2).sliding(2).forall { case Array(a, b) => b > a })
    assert(got.map(_._4).sliding(2).forall { case Array(a, b) => b >= a })
  }

  /** The plain-Scala t21 NB retrain shared by the t21/c21 specs:
    * per-doc (lang, source, n_tok, weak label y, model verdict pred)
    * via mutable count maps — no DataFrame algebra. */
  private def nbVerdicts(): Seq[(String, String, Long, Long, Long)] = {
    val docs = Relational.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def toks(t0: String): Seq[String] = t0.trim.split("\\s+").toSeq
    def weakPass(t0: String): Boolean = {
      val w = toks(t0)
      val nW = w.length
      val meanLen = w.map(_.length.toLong).sum.toDouble / math.max(nW, 1)
      val nStop = w.count(x => x == "the" || x == "a")
      val alpha = w.count(_.exists(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toDouble /
        math.max(nW, 1)
      !(nW < 50 || nW > 100000) && !(meanLen < 3.0 || meanLen > 10.0) &&
        !(nStop < 2) && !(alpha < 0.8)
    }
    def micro(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val labeled = docs.map { case (_, l, src, t0) =>
      (l, src, toks(t0), if (weakPass(t0)) 1L else 0L) }
    val cp = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cf = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    labeled.foreach { case (_, _, w, y) =>
      w.foreach(tk => if (y == 1L) cp(tk) += 1 else cf(tk) += 1) }
    // the top-N vocabulary cap (count desc, token asc), below-cap
    // class mass trained into the single OOV outcome — the capped
    // trainQualityModel contract, independently re-derived
    val cap = TextAnalysis.classifierVocabDefault
    val vocab = (cp.keySet ++ cf.keySet).toSeq
      .sortBy(tk => (-(cp(tk) + cf(tk)), tk)).take(cap)
    assert(vocab.size < (cp.keySet ++ cf.keySet).size,
      "gate corpus must have out-of-cap tokens (the OOV path must bite)")
    val v = vocab.size.toLong
    val np = cp.values.sum; val nf = cf.values.sum
    val wt = vocab.map(tk => tk ->
      (micro((cp(tk) + 1).toDouble / (np + v + 1)) -
        micro((cf(tk) + 1).toDouble / (nf + v + 1)))).toMap
    val cpo = np - vocab.map(cp).sum; val cfo = nf - vocab.map(cf).sum
    val wOov = micro((cpo + 1).toDouble / (np + v + 1)) -
      micro((cfo + 1).toDouble / (nf + v + 1))
    val ndp = labeled.count(_._4 == 1L).toLong
    val ndf = labeled.length - ndp
    assert(ndp > 0 && ndf > 0, "gate corpus must witness both weak classes")
    val prior = micro(ndp.toDouble) - micro(ndf.toDouble)
    labeled.map { case (lang, src, w, y) =>
      val s = prior + w.map(tk => wt.getOrElse(tk, wOov)).sum
      (lang, src, w.length.toLong, y, if (s > 0) 1L else 0L)
    }.toSeq
  }

  test("t21 classifier equals the plain-Scala NB retrain; learns a lexical boundary") {
    val verdicts = nbVerdicts()
    val model = verdicts.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (lang, rows) =>
        (lang, rows.length.toLong, rows.map(_._4).sum, rows.map(_._5).sum,
          rows.count(r => r._4 != r._5).toLong)
    }
    val got = TextAnalysis.qualityClassifierStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == model, s"\n got  ${got.toSeq}\n model $model")
    // the live learned-something proof: the model disagrees with the
    // raw rules somewhere (it scored token IDENTITY, which the
    // length/stopword rules never see) yet still tracks the weak
    // labels on a majority of documents (it learned THE signal, not
    // noise)
    val nDis = got.map(_._5).sum; val n = got.map(_._2).sum
    assert(nDis > 0, "classifier must disagree with the raw rules somewhere")
    assert(nDis * 2 < n, s"must agree on the majority: $nDis of $n disagree")
  }

  test("t22 persisted quality model round-trips bit-identically and ensure is idempotent") {
    // train-once-serve-forever: the artifact read back from parquet
    // must equal the freshly-trained row EXACTLY (the model is pure
    // longs, so there is no tolerance to hide behind), and a second
    // ensure must not retrain (same _SUCCESS mtime)
    // start from a clean slate so THIS run exercises the write path
    // (the warehouse survives across sbt invocations; the path is a
    // file: URI, so go through the hadoop fs like the ensure does)
    val hconf = spark.sparkContext.hadoopConfiguration
    val stale = new org.apache.hadoop.fs.Path(
      TextAnalysis.qualityModelPath(spark, sf0001))
    val hfs = stale.getFileSystem(hconf)
    if (hfs.exists(stale)) hfs.delete(stale, true)
    val fresh = TextAnalysis.trainQualityModel(spark, sf0001).collect()(0)
    val path = TextAnalysis.ensureQualityModel(spark, sf0001)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    assert(hfs.exists(marker), "ensure must leave a completed artifact")
    val mtime = hfs.getFileStatus(marker).getModificationTime
    assert(TextAnalysis.ensureQualityModel(spark, sf0001) == path)
    assert(hfs.getFileStatus(marker).getModificationTime == mtime,
      "second ensure must not retrain")
    val served = TextAnalysis.readQualityModel(spark, sf0001).collect()(0)
    assert(served.getMap[String, Long](0).toMap ==
      fresh.getMap[String, Long](0).toMap, "weight map drifted in parquet")
    assert(served.getLong(1) == fresh.getLong(1), "w_oov drifted")
    assert(served.getLong(2) == fresh.getLong(2), "prior drifted")
    // the datasheet describes the same artifact consistently
    val d = TextAnalysis.qualityModelDatasheet(spark, sf0001).collect()(0)
    assert(d.getLong(0) == fresh.getMap[String, Long](0).size.toLong)
    assert(d.getLong(0) == d.getLong(3) + d.getLong(4) + d.getLong(5),
      "sign counts must partition the vocabulary")
    assert(d.getLong(6) <= d.getLong(7), "wt_min <= wt_max")
  }

  test("artifact content stamp reads DATA FILES (not the dir) and breaks " +
    "same-tick mtime ties by byte total; sweep retains one predecessor") {
    val root = java.nio.file.Files.createTempDirectory("graft_stamp").toFile
    try {
      val tbl = new java.io.File(root, "docs.parquet")
      tbl.mkdirs()
      val part = new java.io.File(tbl, "part-0")
      java.nio.file.Files.write(part.toPath, "abcd".getBytes)
      val s1 = Artifacts.contentStamp(spark, root.toString, "docs")
      // a corpus re-derived IN PLACE within the same mtime tick must
      // still change the stamp if the bytes changed (the byte total
      // is part of the stamp)
      val m = part.lastModified()
      java.nio.file.Files.write(part.toPath, "abcdefgh".getBytes)
      part.setLastModified(m)
      val s2 = Artifacts.contentStamp(spark, root.toString, "docs")
      assert(s1 != s2, "same-tick re-derivation kept the stale stamp")
      // touching the DIRECTORY (a new sibling dir bumps its mtime on
      // most filesystems) must not move the stamp — only data files do
      val s3 = Artifacts.contentStamp(spark, root.toString, "docs")
      new java.io.File(tbl, "subdir").mkdirs()
      assert(Artifacts.contentStamp(spark, root.toString, "docs") == s3)
      // missing table raises (address for absent data = caller bug)
      intercept[Exception] {
        Artifacts.contentStamp(spark, root.toString, "nope")
      }
      // sweep retention: keep + the single newest superseded gen
      // survive; older generations go (bounded accumulation without
      // deleting the one a lazy reader may still hold)
      val wh = new java.io.File(root, "artifacts"); wh.mkdirs()
      val gens = Seq("st1", "st2", "st3", "st4").map { g =>
        val d = new java.io.File(wh, g); d.mkdirs()
        d.setLastModified(1000000000000L + g.last.toLong * 1000)
        d
      }
      Artifacts.sweepSuperseded(spark, gens.last.toString, "st")
      assert(gens(3).exists, "keep itself must survive")
      assert(gens(2).exists, "the newest superseded generation must be retained")
      assert(!gens(0).exists && !gens(1).exists,
        "older superseded generations must be swept")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }

  test("t24 persisted bigram LM round-trips bit-identically and ensure is idempotent") {
    // the t22 contract for the fourth gate's model: the artifact read
    // back from parquet must equal the freshly-trained row EXACTLY
    // (pure longs and map keys — no tolerance to hide behind), and a
    // second ensure must not retrain. Clean slate first so THIS run
    // exercises the write path (the warehouse survives sbt runs).
    val hconf = spark.sparkContext.hadoopConfiguration
    val stale = new org.apache.hadoop.fs.Path(
      TextAnalysis.bigramLmPath(spark, sf0001))
    val hfs = stale.getFileSystem(hconf)
    if (hfs.exists(stale)) hfs.delete(stale, true)
    val fresh = TextAnalysis.bigramLmModelRow(spark, sf0001).collect()(0)
    val path = TextAnalysis.ensureBigramLmModel(spark, sf0001)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    assert(hfs.exists(marker), "ensure must leave a completed artifact")
    val mtime = hfs.getFileStatus(marker).getModificationTime
    assert(TextAnalysis.ensureBigramLmModel(spark, sf0001) == path)
    assert(hfs.getFileStatus(marker).getModificationTime == mtime,
      "second ensure must not retrain")
    val served = TextAnalysis.readBigramLmModel(spark, sf0001).collect()(0)
    val f = fresh.schema.fieldNames.zipWithIndex.toMap
    val g = served.schema.fieldNames.zipWithIndex.toMap
    assert(served.getMap[String, Int](g("vmap")).toMap ==
      fresh.getMap[String, Int](f("vmap")).toMap, "vmap drifted in parquet")
    assert(served.getMap[String, Long](g("bmap")).toMap ==
      fresh.getMap[String, Long](f("bmap")).toMap, "bmap drifted in parquet")
    assert(served.getMap[String, Long](g("xmap")).toMap ==
      fresh.getMap[String, Long](f("xmap")).toMap, "xmap drifted in parquet")
    assert(served.getLong(g("vp1")) == fresh.getLong(f("vp1")),
      "vp1 drifted in parquet")
    // the datasheet describes the same artifact consistently
    val d = TextAnalysis.bigramLmDatasheet(spark, sf0001).collect()(0)
    assert(d.getLong(0) == fresh.getMap[String, Int](f("vmap")).size.toLong)
    assert(d.getLong(1) == fresh.getLong(f("vp1")))
    assert(d.getLong(2) == fresh.getMap[String, Long](f("bmap")).size.toLong)
    assert(d.getLong(3) == fresh.getMap[String, Long](f("xmap")).size.toLong)
    assert(d.getLong(4) ==
      fresh.getMap[String, Long](f("xmap")).values.sum,
      "total transition mass must equal the context-count sum")
    assert(d.getLong(5) ==
      fresh.getMap[String, Long](f("bmap")).values.max,
      "c_max must be the modal bigram's count")
  }

  test("t21 one-class corpus raises loudly instead of NULL-propagating") {
    // minWords above every document's length makes ALL weak labels
    // fail — one class, no trainable signal. Spark's log() returns
    // NULL on 0, so an unguarded prior would silently NULL every
    // score (a gate that drops everything without a word); the
    // raise_error guard inside the consumed prior column must fire.
    val ex = intercept[Exception] {
      TextAnalysis.trainQualityModel(spark, sf0001, minWords = 1000000)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("one-class")),
      s"expected the one-class raise, got: $ex")
  }

  test("c21 classifier-filter equals the shared NB verdicts; both verdict classes survive") {
    val verdicts = nbVerdicts()
    val model = verdicts.groupBy(v => (v._1, v._2)).toSeq
      .sortBy(_._1).map { case ((lang, src), rows) =>
        val n = rows.length.toLong
        val kept = rows.map(_._5).sum
        (lang, src, n, kept, n - kept,
          rows.collect { case r if r._5 == 1L => r._3 }.sum,
          (n - kept) * 1000 / n)
      }
    val got = Curation.classifierFilteredStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == model, s"\n got  ${got.toSeq}\n model $model")
    // the filter genuinely filters: kept and dropped mass both exist
    assert(got.map(_._4).sum > 0 && got.map(_._5).sum > 0,
      "the gate corpus must witness both verdict classes")
    assert(got.forall(r => r._6 >= 0 && r._7 >= 0 && r._7 <= 1000))
  }

  test("entry flagship returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or a documented exemption") {
    // the two remaining exemptions both carry companion-oracle
    // certificates of their claims (d05b / q24b); s02 and m02 gained
    // exact cross-engine oracles in r6
    val exempt = Set("d05_simhash_pairs", "q24_approx_distinct")
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q))
    assert((q -- o) == exempt)
  }
}
