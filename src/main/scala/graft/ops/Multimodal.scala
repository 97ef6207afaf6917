package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational.t

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata.
  *
  * The image and audio kernels are REAL JDK codecs — `javax.imageio`
  * (PNG + BMP, both lossless) and `javax.sound.sampled` (WAV/PCM) —
  * run through the batched `mapPartitions` seam a production pipeline
  * would use for any decode/feature-extract kernel. Because the
  * driver's parquet corpus has no physical media column, the blob
  * FIXTURE is synthesized: an encode kernel renders each doc's pixels
  * (a deterministic formula over doc_id) into actual PNG/BMP files,
  * and the decode kernels read ONLY those bytes — never the formula —
  * so the DuckDB oracle recomputing the formula certifies the codec
  * round-trip end-to-end (a stubbed or wrong decode would hash-
  * mismatch on `pixel_sum`). Video runs through TWO real container
  * paths — animated GIF via ImageIO's sequence reader (m06/m07) and
  * AVI/RIFF with uncompressed DIB frames via a pure-JVM chunk-walking
  * demuxer (m10) — certified against each other (same oracle text) —
  * plus a COMPRESSED third container: MJPEG-in-AVI (m14), where the
  * m10 RIFF walk feeds real per-frame JPEG decodes and the lossless
  * GIF path serves as the fidelity reference. The remaining platform
  * limitation is inter-frame video codecs (mp4/H.264): no JDK decoder
  * exists, and the brief says stub what the platform lacks — the
  * demux→validate→decode chain those would use is exactly m14's.
  *
  * Reference analog: the per-element I/O work kioss runs under
  * `map(concurrency=)` in its ETL example (README.md:541-576).
  */
object Multimodal {

  /** A synthesized-but-real image file: `blob` holds actual PNG or BMP
    * bytes (magic number, headers, filters/RLE, the lot). */
  final case class ImageBlob(media_id: Long, fmt: String, blob: Array[Byte])

  /** Image fixture geometry, all derived from doc_id so the oracle can
    * recompute it without touching bytes: 4..32 wide, 4..22 tall,
    * grayscale or RGB, PNG or BMP. */
  private def imgParams(id: Long): (Int, Int, Int, String) = {
    val w = (id % 29 + 4).toInt
    val h = (id % 19 + 4).toInt
    val ch = if (id % 2 == 0) 1 else 3
    val fmt = if (id % 4 < 2) "png" else "bmp"
    (w, h, ch, fmt)
  }

  /** The fixture's pixel formula — used ONLY on the encode side (and
    * replicated in the m02/m04 oracle SQL). The decode kernels never
    * see it. */
  private def pixelValue(x: Int, y: Int, band: Int, id: Long): Int =
    ((7 * x + 13 * y + 17 * band + id) % 256).toInt

  /** Build the binary-column table from documents (blob = utf-8 of
    * text). Kind is assigned round-robin to model mixed corpora. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("blob"),
      octet_length(col("text")).cast("long").as("byte_len"))

  /** Metadata-only scan: blob column pruned — verify with explain()
    * that ReadSchema excludes `text` bytes beyond what's projected. */
  def mediaMetadata(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        sum("byte_len").as("total_bytes"),
        max("byte_len").as("max_bytes"))
      .orderBy("kind")

  /** The image-kind corpus as REAL image files: a batched encode
    * kernel (ImageIO writer init amortized per partition) renders the
    * formula pixels into PNG/BMP bytes. Scans only `doc_id` — column
    * pruning leaves text on disk; on a real corpus this projection is
    * the parquet binary column instead. */
  /** Render the fixture formula into a raster, then encode with the
    * named ImageIO writer — the one render loop every image-format
    * fixture (PNG/BMP via [[imageTable]], JPEG via [[jpegTable]])
    * shares. */
  private def encodeImage(id: Long, fmt: String): Array[Byte] = {
    val (w, h, ch, _) = imgParams(id)
    val imgType = if (ch == 1) BufferedImage.TYPE_BYTE_GRAY
                  else BufferedImage.TYPE_3BYTE_BGR
    val img = new BufferedImage(w, h, imgType)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < ch) {
          raster.setSample(x, y, b, pixelValue(x, y, b, id))
          b += 1
        }
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    // memory-cached stream: ImageIO's default OutputStream path
    // disk-caches through a /tmp file per image — pure overhead
    // (and executor-local /tmp churn) when the sink is already
    // an in-memory buffer
    val ios = new MemoryCacheImageOutputStream(bos)
    val ok = ImageIO.write(img, fmt, ios)
    ios.close()
    require(ok, s"no $fmt writer for media $id")
    bos.toByteArray
  }

  def imageTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ImageBlob] = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val fmt = imgParams(id)._4
          ImageBlob(id, fmt, encodeImage(id, fmt))
        }
      }
  }

  /** Batched REAL decode pass: `ImageIO.read` on the blob bytes (PNG
    * and BMP dispatch on the magic number), features computed from the
    * DECODED raster only — width/height/bands from the codec's output,
    * pixel_sum by walking decoded samples. mapPartitions so codec
    * state amortizes per partition; at 100 TB the blob column is the
    * scan's only wide column and the output is a few numeric columns
    * per media (the classic decode-heavy, output-narrow kernel). */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imageTable(s, dir).mapPartitions { batch =>
      batch.map { m =>
        // ImageIO.read(ImageInputStream) closes the stream when done;
        // memory-cached so no /tmp cache file per decode
        val img = ImageIO.read(new MemoryCacheImageInputStream(
          new ByteArrayInputStream(m.blob)))
        require(img != null, s"undecodable blob for media ${m.media_id}")
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        (m.media_id, m.fmt, w, h, bands, sum)
      }
    }.toDF("media_id", "fmt", "width", "height", "channels", "pixel_sum")
      .orderBy("media_id")
  }

  /** REAL decode + aspect-preserving nearest-neighbor downscale. The
    * decode is ImageIO; the resample is an explicit integer-math NN
    * kernel over the decoded raster (src_x = x*w/out_w) rather than
    * `AffineTransformOp` so the oracle can replicate the pixel
    * selection exactly — interpolation choice is the kernel's seam; a
    * production pipeline swaps in bilinear and keeps the plumbing.
    * Integer dims: out_w = min(w, target), out_h = max(1, h*out_w/w).
    * out_pixel_sum sums the resampled (decoded) samples across bands,
    * certifying the resample read real pixels. */
  def resizeMeta(s: SparkSession, dir: String, target: Int = 8): DataFrame = {
    import s.implicits._
    imageTable(s, dir).mapPartitions { batch =>
      batch.map { m =>
        val img = ImageIO.read(new MemoryCacheImageInputStream(
          new ByteArrayInputStream(m.blob)))
        require(img != null, s"undecodable blob for media ${m.media_id}")
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        val outW = math.min(w, target)
        val outH = math.max(1, h * outW / w)
        var sum = 0L
        var y = 0
        while (y < outH) {
          val srcY = y * h / outH
          var x = 0
          while (x < outW) {
            val srcX = x * w / outW
            var b = 0
            while (b < bands) { sum += raster.getSample(srcX, srcY, b); b += 1 }
            x += 1
          }
          y += 1
        }
        (m.media_id, w.toLong, h.toLong, outW.toLong, outH.toLong, sum)
      }
    }.toDF("media_id", "w", "h", "out_w", "out_h", "out_pixel_sum")
      .orderBy("media_id")
  }

  /** Audio fixture parameters: frame count and a 16-bit PCM sample
    * formula, both doc_id-derived for oracle replication. */
  private def audioFrames(id: Long): Int = (id % 50 + 10).toInt
  private def audioSample(t: Int, id: Long): Int =
    (((id * 31 + t * 7) % 65536) - 32768).toInt

  /** The per-partition resolved `javax.sound.sampled.spi` codec lists.
    * `AudioSystem.write`/`getAudioInputStream` re-run provider lookup
    * (synchronized registry + per-call format probing) on EVERY call:
    * measured on a ×16 corpus (26.7k tiny WAVs, 32 threads) the
    * AudioSystem path ran 32 threads SLOWER than one (0.7× "speedup",
    * whole-query 6.8 s) while these SPI objects — the same underlying
    * `com.sun.media.sound.WaveFile{Writer,Reader}` codecs — encode the
    * same corpus in 0.09 s and scale with threads. At 100 TB the
    * per-call registry walk would serialize every executor core; the
    * amortize-per-partition seam these kernels already use for ImageIO
    * is the fix here too. */
  private def audioWriters(): List[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var l = List.empty[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) l = it.next() :: l
    l.reverse
  }
  private def audioReaders(): List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    var l = List.empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) l = it.next() :: l
    l.reverse
  }

  /** The audio-kind corpus as REAL WAV files (RIFF header + 16-bit
    * little-endian mono PCM), written by the `javax.sound.sampled.spi`
    * WAV codec (resolved once per partition — see [[audioWriters]]). */
  def audioTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ImageBlob] = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val writers = audioWriters()
        ids.map { id =>
          val frames = audioFrames(id)
          val pcm = new Array[Byte](frames * 2)
          var t = 0
          while (t < frames) {
            val v = audioSample(t, id)
            pcm(2 * t) = (v & 0xff).toByte
            pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
            t += 1
          }
          val fmt = new AudioFormat(8000f, 16, 1, true, false)
          val ais = new AudioInputStream(
            new ByteArrayInputStream(pcm), fmt, frames.toLong)
          val bos = new ByteArrayOutputStream()
          // AudioSystem.write's own selection rule: first writer that
          // supports WAVE for THIS stream's format
          writers.find(_.getAudioFileTypes(ais).contains(AudioFileFormat.Type.WAVE))
            .getOrElse(sys.error(s"no WAVE writer for media $id"))
            .write(ais, AudioFileFormat.Type.WAVE, bos)
          ImageBlob(id, "wav", bos.toByteArray)
        }
      }
  }

  /** REAL WAV decode: the SPI WAV reader (resolved once per partition,
    * `AudioSystem.getAudioInputStream`'s first-that-accepts rule)
    * parses the RIFF container; format fields and the signed-16-bit
    * sample sum come from the DECODED stream. The oracle recomputes
    * the sample formula, so a hash match certifies header parse + PCM
    * decode. */
  def decodeAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioTable(s, dir).mapPartitions { batch =>
      val readers = audioReaders()
      batch.map { m =>
        val bais = new ByteArrayInputStream(m.blob)
        val dec = readers.view.flatMap { r =>
          try Some(r.getAudioInputStream(bais))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException =>
              bais.reset(); None
          }
        }.headOption.getOrElse(
          sys.error(s"undecodable audio blob for media ${m.media_id}"))
        val f = dec.getFormat
        val bytes = dec.readAllBytes()
        var sum = 0L
        var t = 0
        while (t < bytes.length / 2) {
          sum += ((bytes(2 * t + 1).toInt << 8) | (bytes(2 * t) & 0xff))
          t += 1
        }
        (m.media_id, f.getSampleRate.toInt, f.getChannels,
          f.getSampleSizeInBits, dec.getFrameLength, sum)
      }
    }.toDF("media_id", "sample_rate", "channels", "bits", "n_frames", "sample_sum")
      .orderBy("media_id")
  }

  /** Frame-sampling shape: 1→N expansion (a video yields `frames`
    * rows) — the explode-side of multimodal pipelines. */
  def sampleFrames(s: SparkSession, dir: String, frames: Int = 4): DataFrame =
    mediaTable(s, dir)
      .filter(col("kind") === "video")
      .select(col("media_id"), col("byte_len"),
        explode(sequence(lit(0L), lit(frames - 1L))).as("frame_no"))
      .withColumn("frame_offset",
        col("frame_no") * floor(col("byte_len") / frames).cast("long"))
      .select("media_id", "frame_no", "frame_offset")
      .orderBy("media_id", "frame_no")

  // ——— multi-frame (video-kind) media: REAL animated GIF ———

  /** Video fixture geometry, doc_id-derived like [[imgParams]]:
    * 4..18 wide, 4..12 tall, 2..5 frames. Grayscale only — GIF is
    * palette-indexed, and the JDK writer emits an identity 256-gray
    * palette for TYPE_BYTE_GRAY input, so every sample round-trips
    * byte-exactly (probed across the full 0..255 range) where
    * arbitrary RGB would be quantized. */
  private def vidParams(id: Long): (Int, Int, Int) = {
    val w = (id % 15 + 4).toInt
    val h = (id % 9 + 4).toInt
    val nf = (id % 4 + 2).toInt
    (w, h, nf)
  }

  /** Per-frame pixel formula — the encode side and the m06 oracle
    * only; the decode kernel never sees it. */
  private def framePixel(x: Int, y: Int, f: Int, id: Long): Int =
    ((7 * x + 13 * y + 23 * f + id) % 256).toInt

  /** The video-kind corpus as REAL multi-frame media files: animated
    * GIFs (header + N image descriptors + trailer) written with the
    * JDK's sequence writer, one writer instance amortized per
    * partition — the [[imageTable]] batched-kernel shape with a
    * stateful multi-frame encoder. */
  def videoTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ImageBlob] = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val writer = ImageIO.getImageWritersByFormatName("gif").next()
        ids.map { id =>
          val (w, h, nf) = vidParams(id)
          val bos = new ByteArrayOutputStream()
          val ios = new MemoryCacheImageOutputStream(bos)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nf) {
            val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                raster.setSample(x, y, 0, framePixel(x, y, f, id))
                x += 1
              }
              y += 1
            }
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.close()
          ImageBlob(id, "gif", bos.toByteArray)
        }
      }
  }

  /** REAL multi-frame decode: the GIF sequence reader reports the
    * frame COUNT from the container and each frame decodes
    * independently — [[sampleFrames]]'s 1→N expansion with N coming
    * from the CODEC, not metadata. Per-frame stats walk the decoded
    * palette via `getRGB` (robust to index ordering); flatMap-shaped
    * kernel — decode-heavy input, a few numeric columns per frame
    * out. */
  def decodeFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoTable(s, dir).mapPartitions { batch =>
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      batch.flatMap { m =>
        // memory-cached + explicitly closed once the media's frames
        // are decoded: ImageIO.createImageInputStream disk-caches (a
        // /tmp file AND an open fd per media), and with per-media
        // streams left to the GC a ×16 corpus exhausted the executor
        // JVM's fd table mid-bench — taking down unrelated queries'
        // shuffle writes alongside m06/m07
        val iis = new MemoryCacheImageInputStream(
          new ByteArrayInputStream(m.blob))
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val rows = (0 until n).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += (img.getRGB(x, y) >> 16) & 0xFF; x += 1 }
            y += 1
          }
          (m.media_id, f.toLong, w, h, sum)
        }
        iis.close()
        rows
      }
    }.toDF("media_id", "frame_no", "width", "height", "pixel_sum")
      .orderBy("media_id", "frame_no")
  }

  /** Temporal kernel over the decoded sequence: per consecutive frame
    * pair, the summed absolute pixel delta — the scene-change /
    * motion-estimate signal. This is the shape that distinguishes
    * video kernels from independent image decodes: the kernel streams
    * the sequence holding exactly ONE previous frame per media
    * (bounded memory however long the video), and each output row
    * depends on two adjacent decodes. `frame_no` is the LATER frame
    * (1..nf-1). */
  def sceneDeltas(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoTable(s, dir).mapPartitions { batch =>
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      batch.flatMap { m =>
        // same memory-cached + closed contract as [[decodeFrames]]
        val iis = new MemoryCacheImageInputStream(
          new ByteArrayInputStream(m.blob))
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        var prev: Array[Int] = null
        val rows = (0 until n).flatMap { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          val cur = new Array[Int](w * h)
          var i = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { cur(i) = (img.getRGB(x, y) >> 16) & 0xFF; x += 1; i += 1 }
            y += 1
          }
          val out =
            if (prev == null) Seq.empty
            else {
              var d = 0L
              var j = 0
              while (j < cur.length) { d += math.abs(cur(j) - prev(j)); j += 1 }
              Seq((m.media_id, f.toLong, d))
            }
          prev = cur
          out
        }
        iis.close()
        rows
      }
    }.toDF("media_id", "frame_no", "delta_sum")
      .orderBy("media_id", "frame_no")
  }

  /** Perceptual-hash image near-dup pairs (m08) — the multimodal rung
    * of the dedup ladder: aHash (average hash) over the REAL decoded
    * raster, then banded-LSH candidate generation and exact hamming
    * verify, the d05 SimHash discipline applied to pixels. aHash =
    * squash to a fixed 8×8 grid (nearest-neighbor, aspect DISCARDED —
    * that is the point: a resized/re-encoded copy of an image lands
    * on the same grid), mean-threshold each cell into one bit, 64-bit
    * signature. Re-encoded (PNG↔BMP), resized, and brightness-shifted
    * copies collide at hamming ≈ 0-3; unrelated images sit near 32.
    *
    * Scale design: ONE decode pass ([[imageTable]]'s batched
    * mapPartitions kernel) emits a 16-byte (media_id, hash) row per
    * image — the blob column never survives the kernel; the hash
    * frame is localCheckpointed (the c10/t10 narrow-projection
    * asymmetry) because the 4 band projections re-read it. Candidates
    * come from a 4×16-bit band melt + one self-equi-join on (band,
    * value) — pigeonhole-COMPLETE for hamming ≤ 3 (4 bands, ≤ 3
    * differing bits ⇒ some band untouched), so the banded path
    * returns EXACTLY the ground-truth pair set, certified by the
    * quadratic oracle. Join deliberately hint-free: bucket occupancy
    * decides the strategy at scale (AQE), the d04/d05 contract.
    *
    * Cross-engine determinism: every step is integer — NN source
    * coordinates x·w/8 floor-div, band mean Σ/ch floor-div, the
    * threshold cleared of division (g·64 > Σg), hamming via
    * bit_count(xor) vs the oracle's per-bit count — so the oracle
    * recomputing the fixture's pixel formula (which the decode path
    * never sees) certifies codec + squash + hash + banding end to
    * end. */
  def imageNearDupPairs(s: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    val hashes = imageTable(s, dir).mapPartitions { batch =>
      batch.map { m =>
        val img = ImageIO.read(new MemoryCacheImageInputStream(
          new ByteArrayInputStream(m.blob)))
        require(img != null, s"undecodable blob for media ${m.media_id}")
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        val px = new Array[Long](64)
        var tot = 0L
        var y = 0
        while (y < 8) {
          val sy = y * h / 8
          var x = 0
          while (x < 8) {
            val sx = x * w / 8
            var sum = 0
            var b = 0
            while (b < bands) { sum += raster.getSample(sx, sy, b); b += 1 }
            val g = (sum / bands).toLong
            px(y * 8 + x) = g
            tot += g
            x += 1
          }
          y += 1
        }
        var hash = 0L
        var i = 0
        while (i < 64) { if (px(i) * 64L > tot) hash |= (1L << i); i += 1 }
        (m.media_id, hash)
      }
    }.toDF("media_id", "hash").localCheckpoint(eager = false)
    val banded = hashes.select(col("media_id"), col("hash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("hash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("media_id", "hash", "bi", "bv")
    banded.as("x").join(banded.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        col("x.hash").as("ha"), col("y.hash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("media_a", "media_b", "hamming")
      .orderBy("media_a", "media_b")
  }

  /** Perceptual audio near-dup pairs (m09) — the audio rung of the
    * dedup ladder (m08's aHash discipline moved to the time domain):
    * a 64-window energy-envelope signature over the REAL decoded PCM
    * — window energy = Σ|sample|, one bit per window via the
    * division-free mean threshold s·64 > Σs — then 4×16-bit banded
    * LSH candidates and exact hamming verify. The envelope is
    * RELATIVE (each bit compares a window to the clip's own mean), so
    * a re-gained transcode of a clip lands on the same signature:
    * the fixture plants a half-gain sibling (media_id + 1 000 000,
    * every sample floor-halved — a lossy 6 dB-down re-encode) for
    * every base clip, and unrelated clips sit near hamming 32.
    *
    * Scale design: ONE codec pass (the [[audioWriters]]/
    * [[audioReaders]] per-partition SPI kernels — write WAV, decode
    * WAV, so the signature is computed from container-parsed bytes,
    * not the formula) emits a 16-byte (media_id, hash) row per clip;
    * the blob never leaves the kernel. Candidates via band melt +
    * hint-free self-equi-join, pigeonhole-complete at hamming ≤ 3 —
    * the oracle recomputes the sample formula (which the decode path
    * never sees) quadratically per window-bit, certifying codec
    * round-trip + envelope + threshold + banding end to end. */
  def audioNearDupPairs(s: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    val sigs = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val writers = audioWriters()
        val readers = audioReaders()
        ids.flatMap { id =>
          Seq((id, false), (id + 1000000L, true)).map { case (mid, halved) =>
            val n = (256 + id % 64).toInt
            val pcm = new Array[Byte](n * 2)
            var t = 0
            while (t < n) {
              val v0 = (((id * 31 + t * 7) % 65536) - 32768).toInt
              // per-window dynamics: window wi plays at full or
              // quarter amplitude by one bit of id·Knuth — each clip
              // gets its own loud/quiet envelope SHAPE, which is
              // exactly what an energy-envelope signature fingerprints
              // (a flat synthetic tone would make every clip a
              // near-dup of every other — measured: quadratic pair
              // growth at ×16 — so the fixture models real dynamics)
              val wi = t * 64 / n
              val g = 1 + 3 * (((id * 2654435761L) >> wi) & 1L).toInt
              val vg = math.floorDiv(v0, g)
              val v = if (halved) math.floorDiv(vg, 2) else vg
              pcm(2 * t) = (v & 0xff).toByte
              pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
              t += 1
            }
            val fmt = new AudioFormat(8000f, 16, 1, true, false)
            val ais = new AudioInputStream(
              new ByteArrayInputStream(pcm), fmt, n.toLong)
            val bos = new ByteArrayOutputStream()
            writers.find(_.getAudioFileTypes(ais)
              .contains(AudioFileFormat.Type.WAVE))
              .getOrElse(sys.error(s"no WAVE writer for media $mid"))
              .write(ais, AudioFileFormat.Type.WAVE, bos)
            // decode the container back — the signature reads DECODED
            // bytes, so a hash match certifies the codec round-trip
            val bais = new ByteArrayInputStream(bos.toByteArray)
            val dec = readers.view.flatMap { r =>
              try Some(r.getAudioInputStream(bais))
              catch {
                case _: javax.sound.sampled.UnsupportedAudioFileException =>
                  bais.reset(); None
              }
            }.headOption.getOrElse(sys.error(s"undecodable audio $mid"))
            val bytes = dec.readAllBytes()
            val frames = bytes.length / 2
            val win = new Array[Long](64)
            var tot = 0L
            var u = 0
            while (u < frames) {
              val sv = ((bytes(2 * u + 1).toInt << 8) | (bytes(2 * u) & 0xff))
              val a = math.abs(sv).toLong
              win(u * 64 / frames) += a
              tot += a
              u += 1
            }
            var hash = 0L
            var i = 0
            while (i < 64) { if (win(i) * 64L > tot) hash |= (1L << i); i += 1 }
            (mid, hash)
          }
        }
      }.toDF("media_id", "hash").localCheckpoint(eager = false)
    val banded = sigs.select(col("media_id"), col("hash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("hash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("media_id", "hash", "bi", "bv")
    banded.as("x").join(banded.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        col("x.hash").as("ha"), col("y.hash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("media_a", "media_b", "hamming")
      .orderBy("media_a", "media_b")
  }

  // ——— video-kind media, take 2: REAL AVI container (RIFF demux) ———
  //
  // m06/m07 prove multi-frame decode through the only multi-frame
  // format the JDK's ImageIO ships (animated GIF). What that leaves
  // unexercised is CONTAINER parsing — the demux step every
  // production video pipeline runs before any codec: chunk walking,
  // stream headers, frame index, stride/row-order conventions. This
  // section closes that gap with a pure-JVM RIFF/AVI implementation:
  // the muxer writes spec-shaped AVI files (RIFF form, hdrl with
  // avih + strh/strf, movi frame chunks, idx1 index) carrying
  // uncompressed 8-bit palettized DIB frames (fourcc 'DIB ', the
  // standard uncompressed-video handler), and the demuxer is a real
  // chunk-walking parser that learns dimensions from
  // BITMAPINFOHEADER, the frame count from BOTH the avih header and
  // the movi chunk walk (cross-checked, fail-loudly), and samples
  // from bottom-up stride-padded DIB rows through the palette.
  // DIB frames are lossless, so the same [[framePixel]] formula and
  // [[vidParams]] geometry as the GIF path make the two container
  // paths bit-interchangeable: m10's oracle is m06's SQL VERBATIM —
  // the s11-pattern "second physical path must reproduce the first"
  // contract, certified cross-engine. mp4/H.264 remains out of scope
  // (no JDK codec — documented platform limitation in the header).

  /** BMP/DIB row stride: rows pad to 4-byte boundaries. */
  private def dibStride(w: Int): Int = (w + 3) & ~3

  /** Write one spec-shaped AVI file: RIFF('AVI ') { LIST hdrl { avih,
    * LIST strl { strh, strf+palette } }, LIST movi { '00db'×nf },
    * idx1 }. All little-endian, frames bottom-up 8-bit DIB through an
    * identity gray palette. */
  private[ops] def muxAvi(id: Long): Array[Byte] = {
    val (w, h, nf) = vidParams(id)
    val stride = dibStride(w)
    val frameBytes = stride * h
    val strfSize = 40 + 256 * 4
    val strlSize = 4 + (8 + 56) + (8 + strfSize)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + nf * (8 + frameBytes)
    val idxSize = 16 * nf
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idxSize)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fcc("RIFF"); bb.putInt(riffSize); fcc("AVI ")
    fcc("LIST"); bb.putInt(hdrlSize); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(100000)            // dwMicroSecPerFrame (10 fps)
    bb.putInt(frameBytes * 10)   // dwMaxBytesPerSec
    bb.putInt(0)                 // dwPaddingGranularity
    bb.putInt(0x10)              // dwFlags: AVIF_HASINDEX
    bb.putInt(nf)                // dwTotalFrames
    bb.putInt(0)                 // dwInitialFrames
    bb.putInt(1)                 // dwStreams
    bb.putInt(frameBytes)        // dwSuggestedBufferSize
    bb.putInt(w); bb.putInt(h)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // dwReserved
    fcc("LIST"); bb.putInt(strlSize); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("DIB ")
    bb.putInt(0)                 // dwFlags
    bb.putShort(0); bb.putShort(0) // wPriority, wLanguage
    bb.putInt(0)                 // dwInitialFrames
    bb.putInt(1); bb.putInt(10)  // dwScale/dwRate = 10 fps
    bb.putInt(0)                 // dwStart
    bb.putInt(nf)                // dwLength (frames)
    bb.putInt(frameBytes)        // dwSuggestedBufferSize
    bb.putInt(-1)                // dwQuality (default)
    bb.putInt(0)                 // dwSampleSize (0: varying-size samples)
    bb.putShort(0); bb.putShort(0) // rcFrame left, top
    bb.putShort(w.toShort); bb.putShort(h.toShort)
    fcc("strf"); bb.putInt(strfSize)
    bb.putInt(40)                // biSize (BITMAPINFOHEADER)
    bb.putInt(w); bb.putInt(h)   // biHeight > 0: bottom-up rows
    bb.putShort(1); bb.putShort(8) // biPlanes, biBitCount
    bb.putInt(0)                 // biCompression = BI_RGB
    bb.putInt(frameBytes)        // biSizeImage
    bb.putInt(0); bb.putInt(0)   // pels-per-meter
    bb.putInt(256); bb.putInt(0) // biClrUsed, biClrImportant
    var i = 0
    while (i < 256) {            // identity gray palette: RGBQUAD B,G,R,0
      bb.put(i.toByte); bb.put(i.toByte); bb.put(i.toByte); bb.put(0.toByte)
      i += 1
    }
    fcc("LIST"); bb.putInt(moviSize); fcc("movi")
    var f = 0
    while (f < nf) {
      fcc("00db"); bb.putInt(frameBytes)
      var row = h - 1              // bottom-up
      while (row >= 0) {
        var x = 0
        while (x < w) { bb.put(framePixel(x, row, f, id).toByte); x += 1 }
        while (x < stride) { bb.put(0.toByte); x += 1 }
        row -= 1
      }
      f += 1
    }
    fcc("idx1"); bb.putInt(idxSize)
    f = 0
    while (f < nf) {             // offsets relative to the 'movi' fourcc
      fcc("00db"); bb.putInt(0x10) // AVIIF_KEYFRAME
      bb.putInt(4 + f * (8 + frameBytes)); bb.putInt(frameBytes)
      f += 1
    }
    bb.array()
  }

  /** The demuxer: a real chunk walker. Returns (width, height, frames
    * as row-major gray samples). Every structural claim the container
    * makes is cross-checked — RIFF/AVI magic, BITMAPINFOHEADER shape
    * (8-bit BI_RGB), avih frame count vs movi chunk walk vs idx1
    * entry count — and a mismatch throws rather than returning
    * partial frames (the s09 fail-loudly contract at the media
    * layer). */
  private[ops] def demuxAvi(bytes: Array[Byte]): (Int, Int, Array[Array[Int]]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fcc() == "RIFF", "not a RIFF file")
    val riffSize = bb.getInt
    require(riffSize == bytes.length - 8, s"RIFF size $riffSize != payload")
    require(fcc() == "AVI ", "RIFF form is not AVI")
    var w = -1; var h = -1; var hdrFrames = -1; var idxFrames = -1
    var palette: Array[Int] = null
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    // walk chunks; LIST payloads are walked inline (their chunks are
    // just more chunks after the 4-byte list type)
    def walk(end: Int): Unit = {
      while (bb.position() < end) {
        val id = fcc()
        val size = bb.getInt
        val next = bb.position() + size + (size & 1) // chunks pad to even
        id match {
          case "LIST" =>
            fcc() // list type (hdrl/strl/movi) — contents are chunks
            walk(next)
          case "avih" =>
            bb.getInt; bb.getInt; bb.getInt; bb.getInt // µs/frame..flags
            hdrFrames = bb.getInt
          case "strf" =>
            require(bb.getInt == 40, "unexpected BITMAPINFOHEADER size")
            w = bb.getInt; h = bb.getInt
            require(h > 0, "top-down DIB not supported by this demuxer")
            bb.getShort // planes
            require(bb.getShort == 8, "not an 8-bit DIB stream")
            require(bb.getInt == 0, "compressed DIB stream (not BI_RGB)")
            bb.getInt; bb.getInt; bb.getInt; bb.getInt; bb.getInt
            palette = Array.tabulate(256) { _ =>
              val b0 = bb.get() & 0xff; bb.get(); bb.get(); bb.get()
              b0 // gray: B==G==R, read the blue quad byte
            }
          case "00db" =>
            require(w > 0 && palette != null, "frame chunk before strf")
            val stride = dibStride(w)
            require(size == stride * h, s"frame chunk size $size != ${stride * h}")
            val px = new Array[Int](w * h)
            var row = h - 1
            while (row >= 0) {
              var x = 0
              while (x < w) { px(row * w + x) = palette(bb.get() & 0xff); x += 1 }
              while (x < stride) { bb.get(); x += 1 }
              row -= 1
            }
            frames += px
          case "idx1" =>
            idxFrames = size / 16
          case _ => // strh etc: structural, not needed for decode
        }
        bb.position(next)
      }
    }
    walk(bytes.length)
    require(hdrFrames == frames.length,
      s"avih says $hdrFrames frames, movi walk found ${frames.length}")
    require(idxFrames == frames.length,
      s"idx1 has $idxFrames entries, movi walk found ${frames.length}")
    (w, h, frames.toArray)
  }

  /** The per-blob walk [[pngMetadata]] runs: (width, height,
    * bit_depth, color_type, n_chunks) or a loud failure. */
  private[ops] def parsePngMeta(mediaId: Long,
      b: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val crc = new java.util.zip.CRC32()
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    require(b.length > 8 && sig.indices.forall(i => (b(i) & 0xff) == sig(i)),
      s"media $mediaId: not a PNG signature")
    val bb = java.nio.ByteBuffer.wrap(b, 8, b.length - 8) // big-endian default
    var w = -1; var h = -1; var depth = -1; var colorType = -1
    var nChunks = 0L; var last = ""
    while (bb.remaining() >= 12 && last != "IEND") {
      val len = bb.getInt
      val tb = new Array[Byte](4); bb.get(tb)
      last = new String(tb, "US-ASCII")
      val data = new Array[Byte](len); bb.get(data)
      val stored = bb.getInt
      crc.reset(); crc.update(tb); crc.update(data)
      require(crc.getValue.toInt == stored,
        s"media $mediaId: CRC mismatch in $last chunk")
      if (last == "IHDR") {
        val ib = java.nio.ByteBuffer.wrap(data)
        w = ib.getInt; h = ib.getInt
        depth = ib.get() & 0xff; colorType = ib.get() & 0xff
      }
      nChunks += 1
    }
    require(last == "IEND", s"media $mediaId: missing IEND terminator")
    require(w > 0, s"media $mediaId: no IHDR chunk")
    (w, h, depth.toLong, colorType.toLong, nChunks)
  }

  /** PNG structural metadata via a pure-JVM chunk parser (m11) — the
    * [[demuxAvi]] container discipline applied to PNG: walk the
    * big-endian length/type/data/CRC chunk stream of the REAL encoded
    * bytes, validate the 8-byte signature and EVERY chunk's CRC32
    * (java.util.zip.CRC32 over type+data — the spec's integrity
    * check, actually executed), read geometry from IHDR, and require
    * IEND terminal. This is the metadata-extraction kernel a corpus
    * ingest runs BEFORE any decode — malformed files must die here,
    * loudly, not as a decoder segfault three stages later. The m11
    * oracle recomputes width/height/bit-depth/color-type from the
    * fixture formula the parser never sees, certifying the header
    * parse against the JDK encoder's actual output; chunk-count and
    * CRC claims are spec-asserted (encoder-version-dependent, so not
    * oracled — SketchPropertySpec additionally proves EVERY
    * single-byte corruption rejects).
    *
    * Scale: one narrow mapPartitions scan, a few ints out per blob —
    * the [[decodeFeatures]] shape minus the pixel walk (headers only;
    * IDAT data is CRC-checked but never inflated). */
  def pngMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imageTable(s, dir).filter(col("fmt") === "png").mapPartitions { batch =>
      batch.map { m =>
        val (w, h, depth, ct, n) = parsePngMeta(m.media_id, m.blob)
        (m.media_id, w, h, depth, ct, n)
      }
    }.toDF("media_id", "width", "height", "bit_depth", "color_type", "n_chunks")
      .orderBy("media_id")
  }

  /** m11's judged projection: the formula-derivable IHDR fields only
    * (chunk count is encoder-version detail — spec-asserted, not
    * oracled). */
  def pngMetadataReport(s: SparkSession, dir: String): DataFrame =
    pngMetadata(s, dir)
      .select("media_id", "width", "height", "bit_depth", "color_type")

  /** The video corpus as REAL AVI files — same docs, same pixel
    * formula as [[videoTable]], different physical container. */
  def aviTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ImageBlob] = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => ImageBlob(id, "avi", muxAvi(id))))
  }

  /** m10: per-frame stats through the AVI demuxer. Same schema and
    * contract as [[decodeFrames]]; dimensions come from
    * BITMAPINFOHEADER and the frame count from the container walk —
    * the kernel never sees [[vidParams]]. The m10 oracle is m06's SQL
    * verbatim: two independent container paths (GIF sequence via
    * ImageIO, AVI via this demuxer) must land on the same decoded
    * bytes. */
  def decodeAviFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    aviTable(s, dir).mapPartitions { batch =>
      batch.flatMap { m =>
        val (w, h, frames) = demuxAvi(m.blob)
        frames.iterator.zipWithIndex.map { case (px, f) =>
          var sum = 0L
          var i = 0
          while (i < px.length) { sum += px(i); i += 1 }
          (m.media_id, f.toLong, w, h, sum)
        }
      }
    }.toDF("media_id", "frame_no", "width", "height", "pixel_sum")
      .orderBy("media_id", "frame_no")
  }

  /** The image corpus re-encoded as REAL JPEGs — same docs, same
    * pixel formula as [[imageTable]], third physical container (the
    * [[aviTable]] pattern: one fixture corpus, independent codecs). */
  def jpegTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ImageBlob] = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => ImageBlob(id, "jpg", encodeImage(id, "jpg"))))
  }

  /** The per-blob walk [[jpegMetadata]] runs: (width, height,
    * n_components, precision, progressive, n_dqt, n_dht) or a loud
    * failure. ISO/IEC 10918-1 marker-segment stream: SOI, then
    * length-prefixed segments (big-endian, length includes its own 2
    * bytes), frame geometry from SOF0/1/2 (the other SOFn —
    * lossless/differential/arithmetic — rejected by name), scan data
    * after SOS skipped by the byte-stuffing rule (FF 00 = literal FF,
    * FF D0–D7 = restart, any other FF xx = real marker), EOI terminal
    * required. */
  private[ops] def parseJpegMeta(mediaId: Long,
      b: Array[Byte]): (Int, Int, Long, Long, Long, Long, Long) = {
    def u8(i: Int): Int = b(i) & 0xff
    require(b.length > 4 && u8(0) == 0xFF && u8(1) == 0xD8,
      s"media $mediaId: not a JPEG SOI")
    var i = 2
    var w = -1; var h = -1; var ncomp = -1; var prec = -1
    var progressive = 0L; var nDqt = 0L; var nDht = 0L
    var sawEoi = false
    while (!sawEoi) {
      require(i + 1 < b.length, s"media $mediaId: truncated before EOI")
      require(u8(i) == 0xFF, s"media $mediaId: expected marker at byte $i")
      val m = u8(i + 1)
      if (m == 0xD9) { sawEoi = true; i += 2 }
      else if (m == 0xFF) i += 1 // fill byte before a marker
      else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2 // standalone
      else {
        require(i + 3 < b.length, s"media $mediaId: truncated segment header")
        val len = (u8(i + 2) << 8) | u8(i + 3)
        require(len >= 2 && i + 2 + len <= b.length,
          s"media $mediaId: bad segment length $len at byte $i")
        if (m == 0xC0 || m == 0xC1 || m == 0xC2) {
          require(len >= 8, s"media $mediaId: SOF segment too short")
          prec = u8(i + 4)
          h = (u8(i + 5) << 8) | u8(i + 6)
          w = (u8(i + 7) << 8) | u8(i + 8)
          ncomp = u8(i + 9)
          if (m == 0xC2) progressive = 1L
        } else if (m == 0xC3 || (m >= 0xC5 && m <= 0xC7) ||
            (m >= 0xC9 && m <= 0xCB) || (m >= 0xCD && m <= 0xCF)) {
          // the rest of the SOFn family (lossless, differential,
          // arithmetic-coded): structurally valid JPEG, but outside
          // this walk's decode support — fail HERE with the marker
          // named, not later with a misleading "no SOF frame header"
          require(false, f"media $mediaId: unsupported SOF marker 0x$m%02X")
        }
        if (m == 0xDB) nDqt += 1
        if (m == 0xC4) nDht += 1
        i += 2 + len
        if (m == 0xDA) {
          // entropy-coded data: only FF 00 (stuffed) and FF D0-D7
          // (restart) stay inside the scan; any other FF xx is the
          // next real marker
          var inScan = true
          while (inScan) {
            require(i < b.length, s"media $mediaId: truncated in scan data")
            if (u8(i) == 0xFF && i + 1 < b.length) {
              val n2 = u8(i + 1)
              if (n2 == 0x00 || (n2 >= 0xD0 && n2 <= 0xD7)) i += 2
              else inScan = false
            } else i += 1
          }
        }
      }
    }
    require(w > 0 && h > 0 && ncomp > 0 && prec > 0,
      s"media $mediaId: no SOF frame header or degenerate geometry")
    (w, h, ncomp.toLong, prec.toLong, progressive, nDqt, nDht)
  }

  /** JPEG structural metadata via a pure-JVM marker walk (m12) — the
    * [[parsePngMeta]] ingest-gate discipline for the third image
    * codec: validate the marker grammar of the REAL encoded bytes
    * (SOI, segment lengths in bounds, stuffed-byte scan skip, EOI
    * terminal), read geometry from the SOF frame header, count
    * DQT/DHT segments. Malformed files die here, loudly, before any
    * decoder runs. The m12 oracle recomputes width/height/components/
    * precision from the fixture formula the walk never sees —
    * certifying the parse against the JDK encoder's actual output;
    * segment counts and the progressive flag are encoder detail
    * (spec-asserted in OpsSpec, not oracled).
    *
    * Scale: one narrow mapPartitions scan, a few ints per blob — the
    * [[pngMetadata]] shape; scan data is walked for grammar but never
    * entropy-decoded. */
  def jpegMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jpegTable(s, dir).mapPartitions { batch =>
      batch.map { m =>
        val (w, h, nc, prec, prog, nq, nh) = parseJpegMeta(m.media_id, m.blob)
        (m.media_id, w, h, nc, prec, prog, nq, nh)
      }
    }.toDF("media_id", "width", "height", "n_components", "precision",
        "progressive", "n_dqt", "n_dht")
      .orderBy("media_id")
  }

  /** m12's judged projection: the formula-derivable SOF fields only. */
  def jpegMetadataReport(s: SparkSession, dir: String): DataFrame =
    jpegMetadata(s, dir)
      .select("media_id", "width", "height", "n_components", "precision")

  /** One fixture frame (the [[framePixel]] raster) JPEG-encoded at an
    * explicit quality: MODE_EXPLICIT so the byte stream is a pure
    * function of (id, f) on this JDK, never of a writer default that
    * could drift between versions. Grayscale (single-component) JPEG —
    * no chroma subsampling ambiguity in the fidelity bound. */
  private def encodeFrameJpeg(id: Long, f: Int,
      writer: javax.imageio.ImageWriter): Array[Byte] = {
    val (w, h, _) = vidParams(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, framePixel(x, y, f, id)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.95f)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    bos.toByteArray
  }

  /** Write one spec-shaped MJPEG AVI: the [[muxAvi]] container with a
    * COMPRESSED video stream — strh handler 'MJPG', BITMAPINFOHEADER
    * biCompression 'MJPG', and each movi chunk is '00dc' (compressed
    * data) holding one complete JPEG codestream. Variable-size frames,
    * so idx1 offsets accumulate actual chunk sizes (+ RIFF even
    * padding) instead of a constant stride. */
  private[ops] def muxMjpegAvi(id: Long,
      writer: javax.imageio.ImageWriter): Array[Byte] = {
    val (w, h, nf) = vidParams(id)
    val jpegs = Array.tabulate(nf)(f => encodeFrameJpeg(id, f, writer))
    val pads = jpegs.map(_.length & 1)
    val maxLen = jpegs.map(_.length).max
    val strfSize = 40 // no palette: compressed stream
    val strlSize = 4 + (8 + 56) + (8 + strfSize)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + jpegs.zip(pads).map { case (j, p) => 8 + j.length + p }.sum
    val idxSize = 16 * nf
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idxSize)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fcc("RIFF"); bb.putInt(riffSize); fcc("AVI ")
    fcc("LIST"); bb.putInt(hdrlSize); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(100000)            // dwMicroSecPerFrame (10 fps)
    bb.putInt(maxLen * 10)       // dwMaxBytesPerSec
    bb.putInt(0)                 // dwPaddingGranularity
    bb.putInt(0x10)              // dwFlags: AVIF_HASINDEX
    bb.putInt(nf)                // dwTotalFrames
    bb.putInt(0)                 // dwInitialFrames
    bb.putInt(1)                 // dwStreams
    bb.putInt(maxLen)            // dwSuggestedBufferSize
    bb.putInt(w); bb.putInt(h)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // dwReserved
    fcc("LIST"); bb.putInt(strlSize); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("MJPG")
    bb.putInt(0)                 // dwFlags
    bb.putShort(0); bb.putShort(0) // wPriority, wLanguage
    bb.putInt(0)                 // dwInitialFrames
    bb.putInt(1); bb.putInt(10)  // dwScale/dwRate = 10 fps
    bb.putInt(0)                 // dwStart
    bb.putInt(nf)                // dwLength (frames)
    bb.putInt(maxLen)            // dwSuggestedBufferSize
    bb.putInt(-1)                // dwQuality (default)
    bb.putInt(0)                 // dwSampleSize (0: varying-size samples)
    bb.putShort(0); bb.putShort(0) // rcFrame left, top
    bb.putShort(w.toShort); bb.putShort(h.toShort)
    fcc("strf"); bb.putInt(strfSize)
    bb.putInt(40)                // biSize (BITMAPINFOHEADER)
    bb.putInt(w); bb.putInt(h)
    bb.putShort(1); bb.putShort(24) // biPlanes, biBitCount (MJPEG: 24)
    fcc("MJPG")                  // biCompression: the MJPEG fourcc
    bb.putInt(maxLen)            // biSizeImage (varies; upper bound)
    bb.putInt(0); bb.putInt(0)   // pels-per-meter
    bb.putInt(0); bb.putInt(0)   // biClrUsed, biClrImportant
    fcc("LIST"); bb.putInt(moviSize); fcc("movi")
    val offsets = new Array[Int](nf)
    var off = 4                  // first chunk sits after the 'movi' fourcc
    var f = 0
    while (f < nf) {
      offsets(f) = off
      fcc("00dc"); bb.putInt(jpegs(f).length); bb.put(jpegs(f))
      if (pads(f) == 1) bb.put(0.toByte)
      off += 8 + jpegs(f).length + pads(f)
      f += 1
    }
    fcc("idx1"); bb.putInt(idxSize)
    f = 0
    while (f < nf) {
      fcc("00dc"); bb.putInt(0x10) // AVIIF_KEYFRAME
      bb.putInt(offsets(f)); bb.putInt(jpegs(f).length)
      f += 1
    }
    bb.array()
  }

  /** Spec convenience: a fresh writer per call. */
  private[ops] def muxMjpegAvi(id: Long): Array[Byte] =
    muxMjpegAvi(id, ImageIO.getImageWritersByFormatName("jpg").next())

  /** The MJPEG demuxer: [[demuxAvi]]'s chunk-walk discipline for a
    * COMPRESSED stream. Returns container (width, height) and each
    * '00dc' chunk's raw JPEG bytes; decode is the caller's step so the
    * container walk stays codec-free. Structural cross-checks: RIFF
    * size vs payload, biCompression must BE 'MJPG' (24-bit), every
    * frame payload must carry the JPEG SOI prefix and EOI terminal,
    * and avih frame count vs movi chunk walk vs idx1 entry count must
    * all agree — any mismatch throws rather than returning partial
    * frames (the fail-loudly ingest contract). idx1 is checked
    * per-ENTRY, not just by count: each entry's fourcc must be 00dc
    * and its recorded offset and length must equal the corresponding
    * chunk actually found by the movi walk (offsets accepted in
    * either of the two wild conventions — relative to the 'movi'
    * fourcc, or absolute file position), so a tampered index that
    * points decode at the wrong bytes throws instead of demuxing
    * silently. */
  private[ops] def demuxMjpegAvi(bytes: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fcc() == "RIFF", "not a RIFF file")
    val riffSize = bb.getInt
    require(riffSize == bytes.length - 8, s"RIFF size $riffSize != payload")
    require(fcc() == "AVI ", "RIFF form is not AVI")
    var w = -1; var h = -1; var hdrFrames = -1; var idxFrames = -1
    var sawMjpg = false; var moviFccPos = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val moviOffsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    val moviSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    // idx1 entries as parsed: (fourcc, offset, length) per frame
    val idxEntries = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    def walk(end: Int): Unit = {
      while (bb.position() < end) {
        val chunkPos = bb.position() // where this chunk's fourcc begins
        val id = fcc()
        val size = bb.getInt
        val next = bb.position() + size + (size & 1) // chunks pad to even
        require(next <= end, s"chunk $id overruns its parent by ${next - end}")
        id match {
          case "LIST" =>
            val listType = fcc() // hdrl/strl/movi — contents are chunks
            if (listType == "movi") moviFccPos = bb.position() - 4
            walk(next)
          case "avih" =>
            bb.getInt; bb.getInt; bb.getInt; bb.getInt // µs/frame..flags
            hdrFrames = bb.getInt
          case "strf" =>
            require(bb.getInt == 40, "unexpected BITMAPINFOHEADER size")
            w = bb.getInt; h = bb.getInt
            require(w > 0 && h > 0, "degenerate stream geometry")
            bb.getShort // planes
            require(bb.getShort == 24, "MJPEG stream must declare 24-bit")
            require(fcc() == "MJPG", "biCompression is not MJPG")
            sawMjpg = true
          case "00dc" =>
            require(sawMjpg, "frame chunk before the MJPG strf")
            require(size >= 4, s"implausibly small JPEG frame ($size bytes)")
            val jb = new Array[Byte](size)
            bb.get(jb)
            require((jb(0) & 0xff) == 0xFF && (jb(1) & 0xff) == 0xD8,
              "frame payload is not a JPEG codestream (no SOI)")
            require((jb(size - 2) & 0xff) == 0xFF && (jb(size - 1) & 0xff) == 0xD9,
              "frame payload missing the EOI terminal")
            require(moviFccPos >= 0, "frame chunk outside a movi list")
            moviOffsets += chunkPos - moviFccPos
            moviSizes += size
            frames += jb
          case "idx1" =>
            require(size % 16 == 0, s"idx1 size $size is not a whole entry count")
            idxFrames = size / 16
            var i = 0
            while (i < idxFrames) {
              val efcc = fcc(); bb.getInt // flags (AVIIF_*): not load-bearing
              idxEntries += ((efcc, bb.getInt, bb.getInt))
              i += 1
            }
          case _ => // strh etc: structural, not needed for demux
        }
        bb.position(next)
      }
    }
    walk(bytes.length)
    require(hdrFrames == frames.length,
      s"avih says $hdrFrames frames, movi walk found ${frames.length}")
    require(idxFrames == frames.length,
      s"idx1 has $idxFrames entries, movi walk found ${frames.length}")
    var i = 0
    while (i < idxFrames) {
      val (efcc, eoff, elen) = idxEntries(i)
      require(efcc == "00dc", s"idx1 entry $i fourcc '$efcc' is not 00dc")
      // two offset conventions in the wild: relative to the 'movi'
      // fourcc (what the mux writes) or absolute file position of the
      // chunk header — either must land exactly on the walked chunk
      require(eoff == moviOffsets(i) || eoff == moviFccPos + moviOffsets(i),
        s"idx1 entry $i offset $eoff misses the movi walk's chunk at " +
          s"${moviOffsets(i)} (abs ${moviFccPos + moviOffsets(i)})")
      require(elen == moviSizes(i),
        s"idx1 entry $i length $elen != movi chunk's ${moviSizes(i)}")
      i += 1
    }
    (w, h, frames.toArray)
  }

  /** The video corpus as REAL MJPEG AVI files — same docs, same pixel
    * formula as [[videoTable]]/[[aviTable]], third video container and
    * the first LOSSY one (each frame an actual JPEG codestream). */
  def mjpegAviTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ImageBlob] = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val writer = ImageIO.getImageWritersByFormatName("jpg").next()
        ids.map(id => ImageBlob(id, "mjpeg", muxMjpegAvi(id, writer)))
      }
  }

  /** MJPEG frames decoded end-to-end: demux → per-frame m12 marker
    * walk (container vs SOF geometry must agree) → REAL ImageIO JPEG
    * decode → row-major gray samples. Raster samples, not getRGB: a
    * gray JPEG's getRGB routes through a gray→sRGB color transform;
    * the raw decoded sample is the codec's actual output. */
  private def mjpegFramePixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mjpegAviTable(s, dir).mapPartitions { batch =>
      batch.flatMap { m =>
        val (w, h, jpegs) = demuxMjpegAvi(m.blob)
        jpegs.iterator.zipWithIndex.map { case (jb, f) =>
          val (jw, jh, ncomp, _, _, _, _) = parseJpegMeta(m.media_id, jb)
          require(jw == w && jh == h,
            s"media ${m.media_id} frame $f: SOF ${jw}x$jh != container ${w}x$h")
          require(ncomp == 1L,
            s"media ${m.media_id} frame $f: expected a grayscale JPEG")
          val img = ImageIO.read(new ByteArrayInputStream(jb))
          require(img != null && img.getWidth == w && img.getHeight == h,
            s"media ${m.media_id} frame $f: JPEG decode disagrees with container")
          val raster = img.getRaster
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { px(y * w + x) = raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          (m.media_id, f.toLong, w, h, px)
        }
      }
    }.toDF("media_id", "frame_no", "width", "height", "px")
  }

  /** The lossless reference: GIF frames as row-major gray samples —
    * [[decodeFrames]]'s decode loop, pixels kept instead of summed
    * (identity palette, so getRGB's red channel IS the sample). */
  private def gifFramePixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoTable(s, dir).mapPartitions { batch =>
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      batch.flatMap { m =>
        // memory-cached + closed: the [[decodeFrames]] fd contract
        val iis = new MemoryCacheImageInputStream(
          new ByteArrayInputStream(m.blob))
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val rows = (0 until n).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { px(y * w + x) = (img.getRGB(x, y) >> 16) & 0xFF; x += 1 }
            y += 1
          }
          (m.media_id, f.toLong, px)
        }
        iis.close()
        rows
      }
    }.toDF("media_id", "frame_no", "px_ref")
  }

  /** m14 internals, fidelity included: each MJPEG-decoded frame joined
    * to its losslessly-decoded GIF twin (same doc, same formula,
    * independent container + codec), with the per-frame max absolute
    * sample error. The reference comes from ANOTHER pipeline's decode,
    * not from the fixture formula — the kernel discipline holds, and
    * at 100 TB the lossless reference IS another stored table, so the
    * (media_id, frame_no) join is the honest shape: one hint-free
    * co-partitioned exchange, frame-sized pixel payloads (never
    * corpus-sized rows), AQE picking the physical join from real
    * sizes. A frame-alignment bug cannot hide: the formula moves every
    * sample by 23·Δf mod 256 between frames, so a misaligned join
    * partner forces wrap-around errors ≫ any JPEG quantization. */
  private[ops] def mjpegFrameFidelity(s: SparkSession, dir: String): DataFrame =
    mjpegFramePixels(s, dir)
      .join(gifFramePixels(s, dir), Seq("media_id", "frame_no"))
      // geometry must agree BEFORE the error fold: zip_with pads the
      // shorter array with nulls and array_max skips them, so a
      // reference frame that decoded short would silently leave its
      // tail unchecked. The guard lives inside the consumed column
      // (not a droppable side column) so Catalyst cannot prune it.
      .withColumn("max_abs_err",
        when(size(col("px")) === size(col("px_ref")),
          array_max(zip_with(col("px"), col("px_ref"),
            (a, b) => abs(a - b))))
          .otherwise(raise_error(format_string(
            "media %d frame %d: MJPEG decoded %d samples but the lossless " +
              "reference decoded %d — geometry disagreement, tail unchecked",
            col("media_id"), col("frame_no"),
            size(col("px")), size(col("px_ref")))))
          .cast("long"))
      .drop("px", "px_ref")

  /** MJPEG-in-AVI end-to-end frame decode (m14): the m10 RIFF walk
    * composed with the m12 JPEG path — a real video-container codec
    * chain (demux → marker-validate → entropy decode) within the
    * zero-egress JDK. Judged fields are formula-derivable (geometry +
    * frame cardinality from the container+codec agreement) plus
    * `faithful`: max |decoded − lossless reference| ≤ `tol` gray
    * levels per frame. JPEG is LOSSY, so exact pixel sums cannot
    * cross engines — the oracle pins the derivable fields and asserts
    * every frame lands inside the bound; the measured error itself is
    * encoder detail, pinned (nonzero, and well under tol) in OpsSpec.
    * tol=16 is 2× the measured corpus-wide max of 8 at quality 0.95,
    * far below the ≥233 wrap-around error any frame misalignment
    * produces — the bound separates the two regimes by 14×.
    * mp4/H.264 remains impossible on this platform (file header note).
    *
    * Scale: two batched decode kernels and ONE narrow exchange on
    * (media_id, frame_no); decode cost dominates at any SF and
    * parallelizes per-partition — the [[decodeFeatures]] argument.
    *
    * Reference analog: the per-element I/O ETL chain, kioss
    * README.md:541-576.
    */
  def mjpegFrameReport(s: SparkSession, dir: String, tol: Int = 16): DataFrame =
    mjpegFrameFidelity(s, dir)
      .select(col("media_id"), col("frame_no"), col("width"), col("height"),
        (col("max_abs_err") <= tol).as("faithful"))
      .orderBy("media_id", "frame_no")

  /** Magic-number format detection — the dispatch step of a mixed
    * binary ingest. Bytes, not metadata: a corpus's declared format
    * column is exactly what an ingest gate must NOT trust. */
  private[ops] def detectFormat(b: Array[Byte]): String = {
    def u8(i: Int) = b(i) & 0xff
    def fourcc(i: Int) = new String(b, i, 4, "US-ASCII")
    if (b.length >= 8 && u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4E &&
      u8(3) == 0x47) "png"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 2 && u8(0) == 0xFF && u8(1) == 0xD8) "jpg"
    else if (b.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "WAVE") "wav"
    else if (b.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "AVI ") "avi"
    else if (b.length >= 6 && fourcc(0) == "GIF8") "gif"
    else "unknown"
  }

  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** BITMAPFILEHEADER + BITMAPINFOHEADER walk: (width, height, bpp)
    * or a loud failure; the declared file size must match the blob. */
  private[ops] def parseBmpMeta(mediaId: Long,
      b: Array[Byte]): (Int, Int, Int) = {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M',
      s"media $mediaId: not a BMP header")
    require(u32le(b, 2) == b.length,
      s"media $mediaId: BMP size field ${u32le(b, 2)} != blob ${b.length}")
    require(u32le(b, 14) >= 40, s"media $mediaId: DIB header too short")
    require(u16le(b, 26) == 1, s"media $mediaId: BMP planes != 1")
    val w = u32le(b, 18).toInt
    val h = u32le(b, 22).toInt // JDK writes bottom-up (positive height)
    require(w > 0 && h > 0, s"media $mediaId: non-positive BMP geometry")
    (w, h, u16le(b, 28))
  }

  /** RIFF/WAVE chunk walk: (channels, sample_rate, bits, frames) or a
    * loud failure — the fmt and data chunks via the even-padded
    * id/size grammar, frames = data size / block align. A header-only
    * gate: no SPI reader, no PCM decode. */
  private[ops] def parseWavMeta(mediaId: Long,
      b: Array[Byte]): (Int, Int, Int, Long) = {
    require(b.length >= 12 &&
      new String(b, 0, 4, "US-ASCII") == "RIFF" &&
      new String(b, 8, 4, "US-ASCII") == "WAVE",
      s"media $mediaId: not a RIFF/WAVE header")
    require(u32le(b, 4) == b.length - 8,
      s"media $mediaId: RIFF size ${u32le(b, 4)} != blob ${b.length} - 8")
    var i = 12
    var channels = -1; var rate = -1; var bits = -1; var blockAlign = -1
    var frames = -1L
    while (i + 8 <= b.length) {
      val id = new String(b, i, 4, "US-ASCII")
      val sz = u32le(b, i + 4)
      require(i + 8 + sz <= b.length,
        s"media $mediaId: WAV chunk $id overruns the blob")
      if (id == "fmt ") {
        require(sz >= 16, s"media $mediaId: fmt chunk too short")
        require(u16le(b, i + 8) == 1, s"media $mediaId: not PCM")
        channels = u16le(b, i + 10)
        rate = u32le(b, i + 12).toInt
        blockAlign = u16le(b, i + 20)
        bits = u16le(b, i + 22)
      }
      if (id == "data") {
        require(blockAlign > 0, s"media $mediaId: data before fmt chunk")
        frames = sz / blockAlign
      }
      i += 8 + sz.toInt + (sz.toInt & 1) // chunks are even-padded
    }
    require(frames >= 0, s"media $mediaId: no data chunk")
    (channels, rate, bits, frames)
  }

  /** RIFF/AVI header walk: (width, height, total_frames) from the
    * avih chunk inside LIST hdrl — geometry without touching movi
    * data (the header-only dual of [[demuxAvi]]'s full demux). */
  private[ops] def parseAviHeader(mediaId: Long,
      b: Array[Byte]): (Int, Int, Long) = {
    require(b.length >= 12 &&
      new String(b, 0, 4, "US-ASCII") == "RIFF" &&
      new String(b, 8, 4, "US-ASCII") == "AVI ",
      s"media $mediaId: not a RIFF/AVI header")
    // the declared RIFF size must cover the blob: without this a
    // truncated file whose hdrl LIST survived would parse "cleanly"
    require(u32le(b, 4) == b.length - 8,
      s"media $mediaId: RIFF size ${u32le(b, 4)} != blob ${b.length} - 8")
    var res: Option[(Int, Int, Long)] = None
    def walk(from: Int, to: Int): Unit = {
      var i = from
      while (i + 8 <= to && res.isEmpty) {
        val id = new String(b, i, 4, "US-ASCII")
        val sz = u32le(b, i + 4).toInt
        require(i + 8 + sz <= to, s"media $mediaId: AVI chunk $id overruns")
        if (id == "LIST" && sz >= 4 &&
          new String(b, i + 8, 4, "US-ASCII") == "hdrl")
          walk(i + 12, i + 8 + sz)
        else if (id == "avih") {
          require(sz >= 40, s"media $mediaId: avih chunk too short")
          res = Some((u32le(b, i + 8 + 32).toInt, u32le(b, i + 8 + 36).toInt,
            u32le(b, i + 8 + 16)))
        }
        i += 8 + sz + (sz & 1)
      }
    }
    walk(12, b.length)
    res.getOrElse(sys.error(s"media $mediaId: no avih header"))
  }

  /** Mixed-format ingest gate (m13) — the dispatch-and-validate pass
    * a heterogeneous binary corpus goes through BEFORE any decoder:
    * the four real fixture corpora (PNG+BMP, JPEG, WAV, AVI) union
    * into one blob stream, every blob's format comes from its MAGIC
    * BYTES (never the declared column — `n_mismatch` counts where
    * the two disagree, and the gate's claim is that it is zero), and
    * the matching header parser ([[parsePngMeta]] / [[parseBmpMeta]] /
    * [[parseJpegMeta]] / [[parseWavMeta]] / [[parseAviHeader]])
    * validates structure and extracts geometry header-only — no
    * pixel/PCM decode anywhere in the pass. Per detected format:
    * count, declared-mismatch count, Σwidth, Σheight, Σframes (1 per
    * still image; data frames for WAV; dwTotalFrames for AVI). The
    * oracle recomputes every sum from the fixture formulas none of
    * the parsers see.
    *
    * Scale design: one narrow mapPartitions scan per source corpus
    * (codec-free walks, a few ints out per blob), one |formats|-row
    * aggregate — the [[pngMetadata]] shape over a union. */
  /** The per-blob dispatch-and-walk record: detected format, declared-
    * mismatch flag, geometry, frames. ONE definition shared by the
    * batch gate and [[graft.streaming.Streams.ingestGateStream]] so
    * the two paths cannot desynchronize (the cmsStream discipline). */
  private[graft] def ingestRecord(
      m: ImageBlob): (String, Long, Long, Long, Long) = {
    val fmt = detectFormat(m.blob)
    val (w, h, frames) = fmt match {
      case "png" =>
        val p = parsePngMeta(m.media_id, m.blob); (p._1, p._2, 1L)
      case "bmp" =>
        val p = parseBmpMeta(m.media_id, m.blob); (p._1, p._2, 1L)
      case "jpg" =>
        val p = parseJpegMeta(m.media_id, m.blob); (p._1, p._2, 1L)
      case "wav" =>
        val p = parseWavMeta(m.media_id, m.blob); (0, 0, p._4)
      case "avi" =>
        val p = parseAviHeader(m.media_id, m.blob); (p._1, p._2, p._3)
      case other => sys.error(s"media ${m.media_id}: undispatchable $other")
    }
    (fmt, if (fmt == m.fmt) 0L else 1L, w.toLong, h.toLong, frames)
  }

  /** The per-format reduction over [[ingestRecord]] rows — shared by
    * the batch and streaming gates (as a running aggregation its
    * state is bounded at |formats| rows by construction). */
  private[graft] def ingestAgg(records: DataFrame): DataFrame =
    records.groupBy("fmt")
      .agg(count(lit(1)).as("n"), sum("mismatch").as("n_mismatch"),
        sum("w").as("sum_width"), sum("h").as("sum_height"),
        sum("frames").as("sum_frames"))

  def mixedIngestGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = imageTable(s, dir).union(jpegTable(s, dir))
      .union(audioTable(s, dir)).union(aviTable(s, dir))
    ingestAgg(all.mapPartitions(_.map(ingestRecord))
        .toDF("fmt", "mismatch", "w", "h", "frames"))
      .orderBy("fmt")
  }
}
