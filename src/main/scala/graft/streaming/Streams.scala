package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.sql.Timestamp

/** Structured Streaming re-grounding of the reference's
  * processing-time flow control (SURVEY §2.8):
  *
  *  - `group(interval=)` → micro-batch triggers
  *    (`Trigger.ProcessingTime`) / event-time tumbling windows with
  *    watermarks — the principled analog that also handles late data,
  *    which the reference cannot.
  *  - `throttle(per_second=)` → rate-source configs
  *    (`rowsPerSecond`, `maxFilesPerTrigger`).
  *  - size-capped `groupby(size=)` incremental emission →
  *    `flatMapGroupsWithState` (bounded per-key state, emits when a
  *    bucket fills — the reference's `_pop_full_group`,
  *    iterators.py:230).
  *
  * All transforms below take a streaming DataFrame with the `events`
  * schema (event_id, ts, user_id, event_type, value) so tests can feed
  * them from MemoryStream.
  */
object Streams {

  /** Streaming count-min sketch: the t15 frequency sketch as a
    * RUNNING aggregation over an unbounded document stream. The
    * sketch IS the aggregation state — bounded at depth×width rows BY
    * CONSTRUCTION, which is the whole streaming pitch of CMS (an
    * exact streaming wordcount's state grows with the vocabulary;
    * this never does, so no watermark and no eviction are needed for
    * the state to stay finite). Bucket expressions are shared with
    * the batch report ([[graft.ops.TextAnalysis.cmsBucket]] via
    * [[graft.ops.TextAnalysis.cmsTable]]), so the stream's sketch
    * after any prefix equals the batch sketch of the same documents —
    * StreamsSpec certifies stream ≡ batch across micro-batches. Run
    * with Update/Complete output (running totals). */
  /** Streaming mixed-format ingest gate (the m13 contract,
    * incremental): every arriving blob dispatches on its MAGIC BYTES
    * and validates through the same header walk as the batch gate —
    * [[graft.ops.Multimodal.ingestRecord]] is ONE shared definition,
    * so a malformed object dies in the stream exactly where it would
    * die in the batch pass — and the per-format report is a running
    * aggregation whose state is bounded at |formats| rows BY
    * CONSTRUCTION (the cmsStream argument: no watermark or eviction
    * needed, the group key domain is finite). At 100 TB/day ingest
    * this is the gate shape: per-blob work is a header walk (no
    * decode), state never grows with volume. */
  def ingestGateStream(spark: SparkSession,
      blobs: org.apache.spark.sql.Dataset[graft.ops.Multimodal.ImageBlob]): DataFrame = {
    import spark.implicits._
    graft.ops.Multimodal.ingestAgg(
      blobs.map(graft.ops.Multimodal.ingestRecord)
        .toDF("fmt", "mismatch", "w", "h", "frames"))
  }

  def cmsStream(docs: DataFrame, depth: Int = 2, width: Int = 32): DataFrame =
    graft.ops.TextAnalysis.cmsTable(
      docs.select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= ""),
      depth, width)

  /** Event-time tumbling window + watermark: `group(interval=)` with
    * late-data handling. */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming OHLC — e16's incremental twin
    * ([[graft.ops.Events.ohlcDownsample]]): per tumbling event-time
    * window and event_type, open/high/low/close/count as a RUNNING
    * windowed aggregation. The open/close picks are the same
    * min/max-over-(ts, event_id, value)-struct trick as the batch op —
    * ordinary Catalyst aggregates, so the per-open-window state is
    * two structs + two doubles + a count, bounded by construction,
    * and LATE data within the watermark repairs the open/close
    * retroactively (an out-of-order event earlier than the current
    * open simply wins the struct min) — the event-time correctness
    * the reference's processing-time `group(interval=)` cannot give.
    * Windows finalize and evict once the watermark passes. */
  def ohlcStream(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val pick = struct(col("ts"), col("event_id"), col("value"))
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(min(pick).getField("value").as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(pick).getField("value").as("close"), count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Session windows with a gap — streaming sessionization
    * (the event-time analog of [[graft.ops.Events.sessionize]]). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  final case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Bucket(user_id: Long, events: Seq[Long], full: Boolean)
  /** Per-key state: open bucket + newest event time ever seen for the
    * key (so a late-but-valid event cannot move the flush deadline
    * backwards). */
  final case class BucketState(events: Seq[Long], newestTs: Long)

  /** Size-capped group emission with custom state: each user's bucket
    * emits as soon as it reaches `size` (reference groupby(size=)
    * `_pop_full_group`); when a key goes quiet — the event-time
    * watermark passes its newest event by `flushAfterMs` — the partial
    * bucket flushes with `full = false` (reference exhaustion flush,
    * iterators.py:249-254: a stream has no "end", so watermark
    * quiescence is the principled analog). Bounded state: at most
    * `size` event ids per key.
    *
    * Event-time timeout, NOT processing-time: with
    * ProcessingTimeTimeout Spark re-runs empty micro-batches forever
    * (`FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is
    * unconditionally true) — the query never quiesces, wall-clock
    * flushes are unreplayable, and `processAllAvailable` deadlocks.
    * Watermark-driven flushes are deterministic under replay. */
  def sizeCappedGroups(spark: SparkSession, events: DataFrame, size: Int,
      flushAfterMs: Long = 60000L, watermarkDelay: String = "10 seconds"): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BucketState, Bucket](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Evt], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // exhaustion flush: emit the partial bucket, clear state
            val buf = state.getOption.map(_.events).getOrElse(Seq.empty)
            state.remove()
            if (buf.nonEmpty) Iterator.single(Bucket(user, buf, full = false))
            else Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(BucketState(Seq.empty, Long.MinValue))
            var buf = prior.events
            val out = scala.collection.mutable.ArrayBuffer[Bucket]()
            val evts = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            evts.foreach { e =>
              buf = buf :+ e.event_id
              if (buf.size >= size) { out += Bucket(user, buf, full = true); buf = Seq.empty }
            }
            // newest event time EVER seen for the key, not just this
            // batch's max: a late (but above-watermark) event arriving
            // after a newer one must not pull the deadline backwards
            val newest = math.max(prior.newestTs, evts.map(_.ts.getTime).max)
            state.update(BucketState(buf, newest))
            // flush once the watermark passes the key's newest event
            // by the quiescence gap (always > current watermark, which
            // trails max event time by watermarkDelay)
            state.setTimeoutTimestamp(newest + flushAfterMs)
            out.iterator
          }
      }
      .toDF()
  }

  /** Streaming dedup, exact WITHIN the watermark horizon — the
    * reference `distinct()` (§2.4) on an unbounded stream.
    * `dropDuplicatesWithinWatermark` keeps per-key state only until
    * the watermark passes it, so state is bounded instead of growing
    * forever (the streaming fix for the reference's unbounded
    * in-driver seen-set, streamable/stream.py:176-178). The trade is
    * explicit: duplicates whose event times are farther apart than
    * `watermarkDelay` are re-emitted — global exactness on an
    * unbounded stream requires unbounded state, which is exactly the
    * reference's scalability ceiling; choose the horizon to cover the
    * realistic duplicate window. */
  def dedupedStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Rate-limited streaming source: the `throttle(per_second=k)`
    * analog — the source itself paces production. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()

  final case class Doc(doc_id: Long, ts: Timestamp, lang: String, text: String)

  final case class Vec(vec_id: Long, embedding: Seq[Float])

  /** Streaming SemDeDup gate (the d12 contract, incremental): probe a
    * stream of embedding rows against the PREBUILT semantic index
    * from [[graft.ops.Similarity.semanticIndex]] (or, for a
    * long-lived job, the write-once persisted layout via
    * [[graft.ops.Similarity.ensureSemanticIndex]] +
    * [[graft.ops.Similarity.readSemanticIndex]] — the static side of
    * a stream-static join re-evaluates per micro-batch, so a
    * persisted read beats a recomputed frame) — each probe is
    * assigned its trained cell IN-ROW (broadcast one-row codebook +
    * the same `bestCellStruct` argmax the batch assignment uses, so
    * stream and batch can never disagree on a cell), then a
    * stream-static equi-join on `cell` scores it against only that
    * cell's members. Emits (probe_id, match_id, cell, sim) for every
    * indexed vector at r4(cosine) ≥ `threshold` — the arriving
    * vector's semantic near-dups, visible before ingestion commits.
    * Stateless (no watermark, no state store): cost per micro-batch
    * is |batch| × |cell| kernel cosines, never corpus². Same
    * within-cluster recall trade as d12, measured by d13. Reference
    * analog: the filter-against-corpus gate chains of
    * streamable/stream.py:230-326, event-driven. */
  def semanticProbeStream(vecs: DataFrame, index: DataFrame,
      cents: DataFrame, threshold: Double = 0.4): DataFrame = {
    import graft.ops.{Relational, Similarity}
    val probe = vecs
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb_b"))
      .crossJoin(broadcast(cents))
      .withColumn("best", Similarity.bestCellStruct(col("cents"), col("emb_b")))
      .select(col("probe_id"), (-col("best.nc")).as("cell"), col("emb_b"))
    probe.join(index, Seq("cell"))
      // disjoint batch-vs-index contract (d09): a probe re-using an
      // indexed id is the stale-entry case and must surface, so ONLY
      // exact self-pairs (same id AND same vector) are suppressed —
      // the fingerprint-keyed rule of nearDupProbeStreamIndexed, with
      // the embedding itself as the content key (both sides in-row)
      .filter(!(col("probe_id") === col("match_id") &&
        col("emb_b") === col("emb_a")))
      .withColumn("sim", Relational.r4(
        Similarity.cosine(col("emb_b"), col("emb_a"))))
      .filter(col("sim") >= threshold)
      .select("probe_id", "match_id", "cell", "sim")
  }

  /** Streaming curation: the batch curation operators composed on an
    * unbounded document stream — length filtering and exact dedup are
    * pure column expressions ([[graft.ops.TextAnalysis.tokens]] /
    * [[graft.ops.TextAnalysis.fingerprint]]), so they run unchanged
    * inside a streaming plan; dedup state is bounded by the watermark
    * horizon ([[dedupedStream]]'s contract — duplicates farther apart
    * than the horizon re-emit by design, the price of bounded state on
    * an unbounded corpus). This is the continuous-ingestion front door
    * to the batch pipeline: survivors land in the lake, where d09's
    * incremental batch-vs-index near-dup pass picks them up. */
  def curatedDocStream(docs: DataFrame, minWords: Int = 5,
      watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.ops.TextAnalysis
    docs.withWatermark("ts", watermarkDelay)
      .filter(size(TextAnalysis.tokens(col("text"))) >= minWords)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .dropDuplicatesWithinWatermark(Seq("fp"))
  }

  /** Streaming near-dup ingestion gate: each micro-batch of incoming
    * documents probes a STATIC corpus band index — [[graft.ops.Dedup
    * .incrementalNearDups]]'s batch-vs-index shape (d09) as a
    * Structured Streaming stage, closing the loop the
    * [[curatedDocStream]] scaladoc describes. Entirely STATELESS:
    * sketching (shingles → minhash → banded melt) is per-row column
    * algebra that runs unchanged in a streaming plan, candidate
    * generation is a stream-static equijoin on (band_idx, band_hash),
    * and the exact-Jaccard verify is in-row from the shingle sets
    * both sides carry. No watermark and no state store — a probe
    * batch touches only its own band buckets, and a pair's emission
    * depends on nothing outside its own row.
    *
    * Streaming `distinct()` would need unbounded state, so candidate
    * uniqueness uses the FIRST-COLLIDING-BAND rule instead: both
    * sides carry their full band vector, and a candidate row survives
    * only when no band before the colliding one also matches — each
    * true pair is emitted from exactly one band, with zero state
    * (identical docs collide in all 16 bands; the rule keeps row 1).
    *
    * Scope: new-vs-CORPUS pairs only. New-vs-new pairs within a batch
    * are a batch concern (run d09 in `foreachBatch`, or downstream
    * once the batch lands) — a stateless streaming stage cannot
    * self-join the stream. At 100 TB the static side is the stored
    * band index bucketed by (band, hash) — the BucketingSpec
    * write-once/join-forever contract; here it is built inline from
    * the corpus frame so the op is self-contained, and carrying
    * (hs, band vector) through the melt trades ×bands payload for
    * the joins a streaming plan cannot do. */
  def nearDupProbeStream(docs: DataFrame, corpus: DataFrame, n: Int = 5,
      bands: Int = 16, rows: Int = 2, threshold: Double = 0.6,
      withFingerprint: Boolean = false): DataFrame =
    // r20: the inline-built index is lazily checkpointed — the static
    // side of a stream-static join re-evaluates EVERY micro-batch, so
    // without this the whole corpus re-sketched per batch (tokenize →
    // shingles → minhash → melt ×bands). The checkpoint materializes
    // inside batch 0's job and later batches read the blocks — zero
    // static-side recomputation (StreamsSpec's accumulator witness).
    // Snapshot semantics are this op's documented contract (the index
    // is corpus-as-of-start; production uses the persisted bucketed
    // layout via nearDupProbeStreamIndexed). The sketching lineage is
    // deterministic — the eager=false precondition (see
    // Dedup.sketchSets).
    nearDupProbeStreamIndexed(docs,
      nearDupBandIndex(corpus, n, bands, rows, withFingerprint)
        .localCheckpoint(eager = false),
      n, bands, rows, threshold)

  /** The static band index [[nearDupProbeStream]] probes, as a
    * first-class value: (doc_a, hs_a, sz_a, bv_a, band_idx, bh). The
    * static side of a stream-static join is RE-EVALUATED every
    * micro-batch, so the inline-built index re-sketches the corpus per
    * batch — fine for a demo, wrong for production. Build this once,
    * `persist()` it (or write it bucketed by (band_idx, bh) — the
    * BucketingSpec contract — and read it back), and pass it to
    * [[nearDupProbeStreamIndexed]]: the per-batch static cost drops to
    * a table lookup. */
  def nearDupBandIndex(corpus: DataFrame, n: Int = 5, bands: Int = 16,
      rows: Int = 2, withFingerprint: Boolean = false): DataFrame =
    melted(sketched(corpus, n, bands, rows, "doc_a", "_a",
      withFingerprint), "_a")

  /** [[nearDupProbeStream]] against a prebuilt (persisted or stored)
    * band index from [[nearDupBandIndex]]. */
  def nearDupProbeStreamIndexed(docs: DataFrame, index: DataFrame,
      n: Int = 5, bands: Int = 16, rows: Int = 2,
      threshold: Double = 0.6): DataFrame = {
    import graft.ops.Relational
    // fingerprint-keyed suppression is OPT-IN via the index schema: an
    // index built with withFingerprint=true carries fp_a, the probe
    // side then computes fp_b, and a same-id pair survives when the
    // CONTENT differs — a re-ingested doc whose text changed under the
    // same doc_id surfaces as a near-dup of its own stale index entry
    // instead of vanishing. Without fingerprints the id filter
    // suppresses ALL same-id pairs regardless of content (stale-index
    // updates invisible by contract — the index is append-only truth
    // keyed by id).
    val fpKeyed = index.columns.contains("fp_a")
    val probe = melted(sketched(docs, n, bands, rows, "doc_b", "_b",
      fpKeyed), "_b")
    val noEarlierCollision = size(filter(
      zip_with(slice(col("bv_a"), lit(1), col("band_idx")),
        slice(col("bv_b"), lit(1), col("band_idx")), (a, b) => a === b),
      x => x)) === 0
    val selfPair =
      if (fpKeyed) col("doc_a") === col("doc_b") && col("fp_a") === col("fp_b")
      else col("doc_a") === col("doc_b")
    probe.join(index, Seq("band_idx", "bh"))
      // a probe doc already in the index with IDENTICAL content would
      // emit a degenerate self-pair at jaccard 1.0 — same disjoint
      // batch-vs-index contract as d09's incremental dedup
      .filter(!selfPair)
      .filter(noEarlierCollision)
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard",
        Relational.r3(col("inter") / (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** One narrow projection per side of the near-dup probe: shingle
    * sets → minhash signature → band vector, everything kept in-row
    * for the stateless verify. */
  private def sketched(d: DataFrame, n: Int, bands: Int, rows: Int,
      idAs: String, suffix: String,
      withFingerprint: Boolean = false): DataFrame = {
    import graft.functions.MinHashSig
    import graft.ops.{Dedup, TextAnalysis}
    val numHashes = bands * rows
    val src = if (withFingerprint)
      d.withColumn("_fp", TextAnalysis.fingerprint(col("text"))) else d
    val fpCol = if (withFingerprint)
      Seq(col("_fp").as(s"fp$suffix")) else Nil
    Dedup.shingleHashSets(src, n,
        carry = if (withFingerprint) Seq("_fp") else Nil)
      .withColumn("_sig", MinHashSig(col("hs"), numHashes))
      .select(Seq(col("doc_id").as(idAs),
        col("hs").as(s"hs$suffix"), col("n_sh").as(s"sz$suffix"),
        array((0 until bands).map(b =>
          xxhash64((b * rows until (b + 1) * rows).map(i =>
            element_at(col("_sig"), i + 1)): _*)): _*).as(s"bv$suffix")) ++
        fpCol: _*)
  }

  private def melted(d: DataFrame, suffix: String): DataFrame =
    d.select(d.columns.toIndexedSeq.map(col) :+
      posexplode(col(s"bv$suffix")).as(Seq("band_idx", "bh")): _*)

  /** Streaming model-based quality gate: every arriving document
    * scored against the TRAINED t21 classifier
    * ([[graft.ops.TextAnalysis.trainQualityModel]] — train batch,
    * serve stream), passing only model-approved docs downstream with
    * their score attached. Entirely STATELESS: the model rides a
    * broadcast one-row frame and scoring is the SAME in-row
    * [[graft.ops.TextAnalysis.classifierScoreCol]] fold the batch
    * report (t21) and batch filter (c21) use, so stream and batch
    * can never disagree on a verdict. The static side of a
    * stream-static join re-evaluates per micro-batch and the model's
    * lineage is a full training pass — persist/localCheckpoint the
    * model row first (the [[semanticProbeStream]] discipline). At
    * 100 TB/day ingest this is the gate shape: per-doc work is one
    * token fold against a broadcast map, no watermark, no state
    * store. */
  def qualityGateStream(docs: DataFrame, model: DataFrame): DataFrame = {
    import graft.ops.TextAnalysis
    docs.crossJoin(broadcast(model))
      .withColumn("score", TextAnalysis.classifierScoreCol(
        col("text"), col("wm"), col("w_oov"), col("prior")))
      .filter(col("score") > 0L)
      .drop("wm", "w_oov", "prior")
  }

  /** Streaming BPE tokenization — the trained tokenizer's SERVE path
    * for text the training corpus never saw: every arriving
    * document's words are segmented by replaying the broadcast merge
    * table ([[graft.ops.TextAnalysis.bpeMergeRow]] — the t18
    * training artifact) through the SAME greedy per-round fold the
    * trainer applies ([[graft.ops.TextAnalysis.bpeApplyCol]]), so
    * corpus words segment exactly as t19/c20 certify and unseen
    * words extend the segmentation (unseen characters simply never
    * merge). Entirely STATELESS — per-doc cost is a token fold
    * against one broadcast row, no watermark, no state store; the
    * static side re-evaluates per micro-batch, so persist the
    * merge-row artifact (the [[qualityGateStream]] contract). Emits
    * the doc with its subword array and (n_words, n_subwords) —
    * what a continuous trainer-feed pipeline reads. */
  def bpeEncodeStream(docs: DataFrame, mergeRow: DataFrame,
      rounds: Int = 6): DataFrame = {
    import graft.ops.TextAnalysis
    val words = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
    docs.crossJoin(broadcast(mergeRow))
      .withColumn("syms", flatten(transform(words,
        w => TextAnalysis.bpeApplyCol(w, col("ml"), col("mr"), rounds))))
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_subwords", size(col("syms")).cast("long"))
      .drop("ml", "mr")
  }

  /** Streaming LM-perplexity gate — c23's serve path and the fourth
    * member of the stateless ingest-gate family (decontam fingerprint,
    * classifier score, BPE ids, now LM surprise): every arriving
    * document normalizes and scores against the broadcast trained
    * bigram LM (vmap, bmap, xmap, vp1 in ONE row — pass
    * [[graft.ops.TextAnalysis.readBigramLmModel]], the PERSISTED
    * artifact whose lineage is one file scan, so the static side's
    * per-micro-batch re-evaluation costs a file read, not the
    * two-pass training scan [[graft.ops.TextAnalysis
    * .bigramLmModelRow]] would re-run) through the SAME
    * [[graft.ops.TextAnalysis.lmNormIdsCol]]/[[graft.ops.TextAnalysis
    * .lmScoreCol]] expressions the batch gate folds, under the SAME
    * pure-integer keep predicate lm < thrMicronat·n_bigrams — stream
    * and batch can never verdict apart, and no float division sits
    * near the boundary. Documents with no bigram carry no LM evidence
    * and are DROPPED (c23's n_unscored class — the conservative
    * default, never silently kept). Stateless: no watermark, no state
    * store; per-doc cost is one normalize + one fold against a
    * broadcast row. */
  def perplexityGateStream(docs: DataFrame, lmModel: DataFrame,
      thrMicronat: Long = graft.ops.TextAnalysis.perplexityThrDefault)
      : DataFrame =
    // the stream IS the shared batch gate — one definition, so the
    // c22 chain stage and this serve path cannot verdict apart
    graft.ops.TextAnalysis.perplexityGate(docs, lmModel, thrMicronat)

  /** [[bpeEncodeStream]] extended to the trainer-visible ID stream:
    * the segmented subwords are numbered through the broadcast
    * symbol-id map ([[graft.ops.Curation.bpeSymbolIdRow]] — the SAME
    * one-row artifact that numbers c20's batch packs, so a streamed
    * document's ids are bit-identical to the ids the batch packer
    * would emit for it). Unseen text stays total: a subword the
    * trained vocabulary never created (an unseen character, or an
    * unseen digram a partial merge produced) maps to the RESERVED
    * unknown id 0 via `try_element_at` + coalesce — never a NULL in
    * the id array, never a thrown lookup, and `n_unk` counts them so
    * a drifting upstream corpus surfaces as a measurable rate
    * instead of silent vocabulary rot. Same stateless shape and
    * static-side persist contract as [[bpeEncodeStream]]: per-doc
    * cost is one fold + one in-row transform against two broadcast
    * rows. Emits (doc, ids, n_subwords, n_unk). */
  def bpeEncodeIdsStream(docs: DataFrame, mergeRow: DataFrame,
      symRow: DataFrame, rounds: Int = 6): DataFrame =
    bpeEncodeStream(docs, mergeRow, rounds)
      .crossJoin(broadcast(symRow))
      .withColumn("ids", transform(col("syms"),
        sy => coalesce(try_element_at(col("sm"), sy), lit(0L))))
      .withColumn("n_unk",
        size(filter(col("ids"), i => i === 0L)).cast("long"))
      .drop("sm", "syms", "n_words")

  /** Streaming exact-decontamination gate: arriving documents whose
    * whitespace-normalized md5 fingerprint
    * ([[graft.ops.TextAnalysis.fingerprint]] — the d01/c04 exact-
    * dedup key) matches the benchmark set are dropped AT INGEST —
    * the contamination front door, so a leaked test document never
    * reaches the lake instead of being scrubbed later by the batch
    * pass (c04). Entirely STATELESS: a stream-static LEFT ANTI join
    * against the broadcast benchmark fingerprint frame (benchmark
    * sets are small by nature; for an unbroadcastable one, c11's
    * [[graft.ops.Curation.bloomOf]] bloom is the prefilter and this
    * gate becomes its exact confirm on the survivors). Same
    * static-side persist contract as [[qualityGateStream]]. Exact
    * fingerprint equality only — near-duplicate contamination is the
    * batch c01/c16 shingle/semantic machinery's job; this gate is
    * the cheap always-on first line. */
  def decontamGateStream(docs: DataFrame, benchFps: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(col("text")))
      .join(broadcast(benchFps), Seq("fp"), "left_anti")

  /** Stream-static enrichment: a streaming fact joined to a static
    * dimension — the canonical streaming-curation shape (events
    * against a user/blocklist/quality table). The static side is
    * explicitly `broadcast()`: per micro-batch the join is map-side
    * over the batch, the stream never shuffles, and no streaming
    * state accrues (unlike stream-stream joins). Spark re-resolves
    * FILE-based static sides per batch, so a refreshed dimension
    * snapshot is picked up without restarting the query. */
  def enrichedStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Watermarked stream-stream interval join: purchases attributed to
    * the clicks that preceded them within `maxLagSec` — the streaming
    * analog of the batch as-of attribution
    * ([[graft.ops.Events.purchaseAttribution]], e04), with the
    * streaming-specific contract made explicit: BOTH sides carry
    * watermarks and the join condition bounds the event-time distance,
    * which is what lets Spark EVICT buffered rows once the watermark
    * passes them — an unbounded-condition stream-stream join would
    * hold both streams' full history in state forever. Inner interval
    * joins emit every qualifying (click, purchase) pair (a purchase
    * with several recent clicks emits once per click; the batch as-of
    * picks the latest — run the batch query for exact as-of
    * semantics, this one for bounded-state continuous attribution). */
  def attributedPurchases(clicks: DataFrame, purchases: DataFrame,
      maxLagSec: Long = 3600, watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
      p("user_id") === c("user_id") &&
        c("click_ts") <= p("purchase_ts") &&
        c("click_ts") >= p("purchase_ts") - expr(s"INTERVAL $maxLagSec SECONDS"))
      .select(p("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  final case class LastEvt(ms: Long, event_id: Long, etype: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming transition pairs — the incremental half of the e09
    * Markov profile ([[graft.ops.Events.transitionStats]]): each
    * user's consecutive (from, to) event-type pairs emitted AS the
    * stream arrives, to be count-aggregated downstream. State is O(1)
    * per user — just the last event — and idle users are EVICTED once
    * the event-time watermark passes their newest event by
    * `evictAfterMs` (the same EventTimeTimeout discipline as
    * [[sizeCappedGroups]]: replayable, no empty-batch spin). Within a
    * micro-batch events sort by (ts, event_id) — the batch contract;
    * ACROSS batches pairs form in arrival order, so a cross-batch
    * late event pairs late (the documented streaming trade, exactly
    * [[dedupedStream]]'s horizon argument: batch-identical ordering
    * on an unbounded stream needs unbounded buffering).
    *
    * At scale: one hash shuffle on user_id per micro-batch, state
    * store holds one small row per ACTIVE user — the profile of every
    * production sessionizer. */
  def transitionStream(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 seconds",
      evictAfterMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvt, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Evt], state: GroupState[LastEvt]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val evts = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var last = state.getOption
            val out = scala.collection.mutable.ArrayBuffer[Transition]()
            evts.foreach { e =>
              last.foreach(l => out += Transition(user, l.etype, e.event_type))
              last = Some(LastEvt(e.ts.getTime, e.event_id, e.event_type))
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(l.ms + evictAfterMs)
            }
            out.iterator
          }
      }.toDF()
  }

  /** Per-key e17 pattern state — O(1) BY CONSTRUCTION: the closed
    * forms the batch spec certifies (adjacent pair / maximal run /
    * existence) need only the last character, the current 'v'-run
    * length and two booleans — never the sequence itself. */
  final case class SeqPatState(ms: Long, lastCh: String, vRun: Long,
      seenS: Boolean, stpDone: Boolean)
  final case class PatternDelta(user_id: Long, pattern: String, delta: Long)

  /** Streaming twin of [[graft.ops.Events.seqPatternStats]] (e17):
    * per-user behavioral pattern counts emitted as INCREMENTS while
    * the stream runs — possible precisely because each batch pattern
    * has a closed form with O(1) carry-state (the batch spec proves
    * the closed forms ≡ the regexes; a regex engine over a growing
    * string would need unbounded state). 'ce' fires on a c→e
    * adjacency with the carried last char; 'vvv+' fires when a
    * v-run's length crosses EXACTLY 3 (a run of 7 still counts
    * once); 's.*p' fires at most once per user (greedy .* semantics
    * = existence), latched by a boolean. Downstream sums deltas per
    * pattern; n_users = users with a positive sum. Within a
    * micro-batch events sort by (ts, event_id); across batches the
    * [[transitionStream]] arrival-order trade and EventTimeTimeout
    * eviction apply verbatim — and eviction DROPS the latches with
    * the rest of the state, so the ≤1-per-user guarantee of
    * 's.*p' holds only WITHIN an eviction horizon: a user active
    * across horizons can re-emit the signup_then_purchase delta
    * (the counter deltas merely resume at 0, which summing absorbs;
    * the latch cannot be resumed without unbounded retention).
    * Downstream that needs the strict batch invariant should
    * aggregate the latch pattern with max(delta) per (user, pattern)
    * instead of sum. */
  def seqPatternStream(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 seconds",
      evictAfterMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqPatState, PatternDelta](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Evt], state: GroupState[SeqPatState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val evts = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption
              .getOrElse(SeqPatState(0L, "", 0L, seenS = false, stpDone = false))
            var ce = 0L; var burst = 0L; var stp = 0L
            evts.foreach { e =>
              val ch = e.event_type.substring(0, 1)
              if (st.lastCh == "c" && ch == "e") ce += 1
              val run = if (ch == "v") st.vRun + 1 else 0L
              if (run == 3L) burst += 1
              val seenS = st.seenS || ch == "s"
              val fire = st.seenS && ch == "p" && !st.stpDone
              if (fire) stp += 1
              st = SeqPatState(math.max(st.ms, e.ts.getTime), ch, run,
                seenS, st.stpDone || fire)
            }
            if (evts.nonEmpty) {
              state.update(st)
              state.setTimeoutTimestamp(st.ms + evictAfterMs)
            }
            Seq(("click_error", ce), ("signup_then_purchase", stp),
              ("view_burst_3plus", burst))
              .collect { case (p, d) if d > 0 => PatternDelta(user, p, d) }
              .iterator
          }
      }.toDF()
  }

  final case class WdayEvt(ts: Timestamp, day: Long, user_id: Long,
      wday: Long)
  /** Per-window-day state: two serialized DataSketches HLL sketches —
    * BOUNDED BY CONSTRUCTION at ~2^lgK/2 bytes each no matter how
    * many distinct users the window sees (the whole streaming pitch
    * of sketch count-distinct: exact distinct state grows with the
    * user population, this never does). */
  final case class HllDayState(dau: Array[Byte], wau: Array[Byte])
  final case class DayActive(day: Long, dau: Long, wau: Long,
      stickiness_milli: Long)

  /** Streaming rolling 7-day active users — e19's incremental twin
    * ([[graft.ops.Events.rollingActiveUsers]]): each event fans out
    * in-row to the ≤7 window-days it supports (the batch fan-out,
    * unchanged in a streaming plan), state per OPEN window-day is two
    * DataSketches HLL sketches (day-distinct and week-distinct users
    * — the q46 mergeable-sketch machinery as `flatMapGroupsWithState`
    * state), and the window FINALIZES via EventTimeTimeout once the
    * watermark passes the end of its own day: emit
    * (day, dau, wau, dau·1000//wau), evict. Append-mode final
    * results, the dashboard contract.
    *
    * The bounded-state trade is explicit: estimates are HLL (exact
    * in sparse mode — small windows report exactly; at production
    * cardinality, within the sketch's ±~1.6%/√(2^lgK) envelope — the
    * q24/q46 certification shape), because EXACT rolling distincts
    * on an unbounded stream would hold every (window, user) pair in
    * state. The batch op's full-7-day-history head-trim is a
    * REPORTING convention, not per-key knowledge a distributed state
    * store has: the stream emits every finalized window-day and the
    * consumer drops the deployment's first six (documented — the
    * spec compares on the intersection). Day derivation shares the
    * batch op's calendar (`datediff` from 2024-01-01 in session
    * local time); the timeout deadline is the same calendar's day
    * end. One user_id-independent hash shuffle on wday per
    * micro-batch; ≤ 7 + watermark-delay window-days of state ever
    * open. */
  def rollingActiveStream(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 seconds", lgK: Int = 12): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.hll.HllSketch
    import org.apache.datasketches.memory.Memory
    val dayMs = 86400000L
    // UTC-explicit epoch, NOT Timestamp.valueOf (JVM-default-zone
    // midnight): day numbering below runs in the SESSION timezone
    // (UTC per the Relational.events contract every entry point
    // sets), and a zone mismatch here would shift every finalize
    // deadline by the offset — early enough that a day's late
    // events could recreate evicted state and double-emit the row
    val epochMs = java.time.LocalDate.of(2024, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    events.withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        datediff(col("ts").cast("date"), lit("2024-01-01")).cast("long")
          .as("day"),
        col("user_id"))
      .select(col("ts"), col("day"), col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .as[WdayEvt]
      .groupByKey(_.wday)
      .flatMapGroupsWithState[HllDayState, DayActive](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wday: Long, it: Iterator[WdayEvt], state: GroupState[HllDayState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val dau = HllSketch.heapify(Memory.wrap(st.dau))
              .getEstimate.round
            val wau = HllSketch.heapify(Memory.wrap(st.wau))
              .getEstimate.round
            if (wau > 0) Iterator.single(DayActive(wday, dau, wau,
              dau * 1000L / wau))
            else Iterator.empty
          } else {
            val (dS, wS) = state.getOption
              .map(s => (HllSketch.heapify(Memory.wrap(s.dau)),
                HllSketch.heapify(Memory.wrap(s.wau))))
              .getOrElse((new HllSketch(lgK), new HllSketch(lgK)))
            it.foreach { e =>
              wS.update(e.user_id)
              if (e.day == wday) dS.update(e.user_id)
            }
            state.update(HllDayState(dS.toUpdatableByteArray,
              wS.toUpdatableByteArray))
            // finalize once the watermark passes this window-day's own
            // end (its last possible contributor has day = wday); a
            // deadline the watermark already passed is clamped forward
            // — the row then finalizes on the next batch
            state.setTimeoutTimestamp(math.max(
              epochMs + (wday + 1) * dayMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
      .toDF()
  }

  final case class ConvState(ms: Long, sMs: Long, done: Boolean)
  final case class Conversion(user_id: Long, delta_ms: Long)

  /** Streaming funnel time-to-convert — e18's incremental twin
    * ([[graft.ops.Events.funnelTiming]]): per-user O(1) state (the
    * earliest signup timestamp seen + a fired latch + the newest
    * event time), emitting (user_id, delta_ms) the moment the first
    * post-signup purchase arrives — the activation lag, visible
    * while the stream runs instead of at batch close; aggregate the
    * deltas downstream (at 100 TB: approx_percentile, the
    * q25b-certified substitution). Within a micro-batch events sort
    * by (ts, event_id); ACROSS batches the [[transitionStream]]
    * arrival-order trade applies — a later-arriving earlier signup
    * lowers the stored signup but cannot retract an already-emitted
    * delta, and EventTimeTimeout eviction drops the latch with the
    * rest of the state (the [[seqPatternStream]] horizon contract:
    * ≤1-per-user holds within an eviction horizon; downstream takes
    * min(delta_ms) per user for the strict batch invariant). */
  def funnelTimingStream(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 seconds",
      evictAfterMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvState, Conversion](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Evt], state: GroupState[ConvState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val evts = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption
              .getOrElse(ConvState(Long.MinValue, Long.MaxValue, done = false))
            val out = scala.collection.mutable.ArrayBuffer[Conversion]()
            evts.foreach { e =>
              val ms = e.ts.getTime
              if (e.event_type == "signup" && ms < st.sMs)
                st = st.copy(sMs = ms)
              if (e.event_type == "purchase" && !st.done && ms > st.sMs) {
                out += Conversion(user, ms - st.sMs)
                st = st.copy(done = true)
              }
              st = st.copy(ms = math.max(st.ms, ms))
            }
            if (evts.nonEmpty) {
              state.update(st)
              state.setTimeoutTimestamp(st.ms + evictAfterMs)
            }
            out.iterator
          }
      }
      .toDF()
  }

  final case class Carried(event_id: Long, user_id: Long,
      last_purchase: Option[Double])
  /** Per-key LOCF state: the carried purchase value plus the newest
    * (ms, event_id) processed, for the eviction deadline. */
  final case class LocfState(ms: Long, lastPurchase: Option[Double])

  /** Streaming LOCF — e15's incremental twin
    * ([[graft.ops.Events.lastPurchaseCarried]]): every arriving event
    * emits with the user's most recent purchase value, carried in O(1)
    * per-key state. Within a micro-batch events sort by
    * (ts, event_id) — the batch contract; across batches the carry is
    * arrival-order (the [[transitionStream]] trade). Idle users are
    * EVICTED once the watermark passes their newest event by
    * `evictAfterMs` — which for LOCF also FORGETS the carried value:
    * a user returning after the horizon restarts at null. That is the
    * bounded-state price ([[dedupedStream]]'s argument — an unbounded
    * carry needs unbounded state); size the horizon to the realistic
    * return window. One user_id hash shuffle per micro-batch, one
    * small state row per ACTIVE user. */
  def locfStream(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 seconds",
      evictAfterMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LocfState, Carried](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Evt], state: GroupState[LocfState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val evts = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption.flatMap(_.lastPurchase)
            val out = evts.map { e =>
              if (e.event_type == "purchase") cur = Some(e.value)
              Carried(e.event_id, user, cur)
            }
            evts.lastOption.foreach { l =>
              state.update(LocfState(l.ts.getTime, cur))
              state.setTimeoutTimestamp(l.ts.getTime + evictAfterMs)
            }
            out.iterator
          }
      }.toDF()
  }

  /** Streaming curve-clustered layout maintenance — the l01 layout
    * kept TRUE under continuous ingestion (the streaming face of
    * Delta/Iceberg's OPTIMIZE ZORDER): every micro-batch lands as its
    * own curve-clustered increment via the SAME
    * [[graft.ops.Layout.curveWrite]] the batch path uses (one range
    * exchange on the batch's `curve` key, in-partition sort, key
    * dropped from storage), so file-level min/max stays selective on
    * BOTH dimensions for every increment without ever rewriting
    * history — readers union `baseDir\/batch=*` and prune per
    * increment. At 100 TB/day this is the ingest shape: layout cost
    * is ∝ the batch, and compaction across increments is
    * [[graft.ops.Layout.compactIncrements]] over any horizon you
    * choose. Quantization bounds are PER BATCH (each increment's curve
    * spans its own data) — the documented trade vs a frozen global
    * quantizer, which [[graft.ops.Layout.quant16]] also supports by
    * passing fixed bounds. Returns the started query (caller stops
    * it). */
  def zorderedIngest(df: DataFrame, dimA: String, dimB: String,
      baseDir: String, files: Int, checkpoint: String,
      curve: graft.ops.Layout.Curve = graft.ops.Layout.Morton) =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.ops.Layout.curveWrite(batch.toDF(), curve, Seq(dimA, dimB),
            s"$baseDir/batch=$id", files)
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Micro-batch sink with a processing-time trigger — the
    * `group(interval=)` processing-time analog. Returns the started
    * query (caller stops it). */
  def intervalBatches(df: DataFrame, intervalMs: Long,
      checkpoint: String)(onBatch: (DataFrame, Long) => Unit) =
    df.writeStream
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        onBatch(batch.toDF(), id)
      }
      .outputMode(OutputMode.Append())
      .start()
}
