package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Relational.{t, r3}

/** Corpus-curation operators a large-scale training-data pipeline
  * runs between ingestion and tokenization: benchmark-contamination
  * checks, deterministic dataset splits, sequence packing, and
  * vocabulary blocklist scrubbing. Reference analog: these are the
  * `filter`/`map`/`group` stages of the reference's ETL chains
  * (streamable/stream.py:230-326) specialized to the corpus-prep
  * domain, re-expressed shuffle-parallel.
  */
object Curation {

  /** Benchmark-contamination report: for every corpus document, the
    * fraction of its distinct n-gram shingles that also occur in the
    * benchmark set (here: docs from `benchSource`, standing in for an
    * eval suite); docs at or above `minOverlap` are flagged.
    *
    * Scale design (100 TB corpus, MB-scale benchmarks): the benchmark
    * shingle set is explicitly `broadcast()` — eval suites are tiny by
    * construction, and the broadcast turns the overlap test into a
    * map-side semi join (the corpus never shuffles its shingles
    * against the benchmark). Only the HIT rows (rare) reach the
    * per-doc count aggregation, so the one shuffle moves a vanishing
    * fraction of the corpus. Shingle sets are the same hashed,
    * per-row-distinct [[Dedup.shingleHashSets]] projection the dedup
    * pipeline uses — longs on the wire, never shingle strings.
    */
  def contaminationReport(s: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 5,
      minOverlap: Double = 0.5): DataFrame = {
    // source rides the shingle projection (one pass over text) and the
    // sets are checkpointed ONCE for their three consumers (benchmark
    // set, hit counting, per-doc sizes) — without it the tokenize+hash
    // pipeline re-runs per consumer, tripling the dominant scan (the
    // same lineage discipline as [[Dedup.ngramJaccardPairs]]; at
    // 100 TB the checkpoint holds 8-byte shingle hashes, a few % of
    // corpus bytes)
    val sets = Dedup.shingleHashSets(t(s, dir, "documents"), n,
      carry = Seq("source")).localCheckpoint(eager = false)
    overlapFlags(sets, benchSource, minOverlap)
      .select("doc_id", "n_sh", "n_hit", "overlap")
      .orderBy("doc_id")
  }

  /** Contamination core over a MATERIALIZED (doc_id, source, hs, n_sh)
    * frame: corpus docs at or above `minOverlap` benchmark-shingle
    * overlap. The seam lets the composed pipeline feed contamination
    * and dedup from one shingle pass (see
    * [[Dedup.minhashLshPairsFromSets]] for the contract). */
  private def overlapFlags(sets: DataFrame, benchSource: String,
      minOverlap: Double): DataFrame = {
    // zero-hit docs never enter the hit aggregation (that sparsity IS
    // the scale design), so a 0.0 threshold — "flag everything" —
    // cannot be answered by this plan shape; reject it loudly
    require(minOverlap > 0.0,
      s"minOverlap must be > 0 (zero-hit docs are structurally absent); got $minOverlap")
    val bench = sets.filter(col("source") === benchSource)
      .select(explode(col("hs")).as("h")).distinct()
    val corpus = sets.filter(col("source") =!= benchSource)
    val hits = corpus.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpus.select("doc_id", "n_sh").join(hits, "doc_id")
      .withColumn("overlap", r3(col("n_hit") / col("n_sh")))
      .filter(col("overlap") >= minOverlap)
  }

  /** The decontamination END STATE (the d08 pattern): corpus docs at
    * or above `minOverlap` benchmark overlap are DROPPED via one
    * left-anti join, and the surviving training corpus is summarized
    * per lang. The flagged list is contamination-sized (rare), so AQE
    * broadcasts it and the corpus never shuffles — decontaminating
    * 100 TB costs one scan after the overlap pipeline. Docs too short
    * to shingle (< n tokens) carry no contamination evidence and
    * survive by definition. */
  def decontaminatedStats(s: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 5,
      minOverlap: Double = 0.5): DataFrame = {
    val flagged = contaminationReport(s, dir, benchSource, n, minOverlap)
      .select("doc_id")
    t(s, dir, "documents").filter(col("source") =!= benchSource)
      .join(flagged, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Per-stratum quality quota: keep the `k` highest-quality docs per
    * lang — the "best N per domain" curation stage. Ranking reuses the
    * bounded-heap [[TopKRowsAgg]] kernel (O(k) state and
    * shuffle bytes per stratum on both aggregation sides) rather than
    * a per-lang window: at 100 TB a stratum holds billions of docs and
    * a window would sort ALL of them to cut at k. Tie-break (quality
    * desc, doc_id asc) is the aggregator's contract — identical to the
    * window's `ORDER BY q DESC, doc_id`, which is what the DuckDB
    * oracle runs. */
  def qualityQuota(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // r20: native TopKRowsAgg kernel replaces the typed Aggregator —
    // same bounded heap and (q desc, doc_id asc) order, no
    // row↔object conversion stage (see Similarity.topKPerQuery)
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
        TextAnalysis.qualityScore(col("text")).cast("double").as("q"))
      .groupBy("lang")
      .agg(TopKRows(k, col("doc_id"), col("q")).as("tops"))
      .select(col("lang"), posexplode(col("tops")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("doc_id"), col("col.score").as("quality"))
      .orderBy("lang", "rnk")
  }

  /** Deterministic train/val/test assignment by content hash — the
    * same stable-split property as [[Sampling.hashSample]] (a doc's
    * split never changes under repartitioning, incremental ingestion,
    * or engine swap; any engine with md5 derives the identical split).
    * Thresholds partition the [0, 2^32) draw space:
    * [0, train) → train, [train, train+val) → val, rest → test. */
  def splitAssign(key: Column, trainFrac: Double, valFrac: Double): Column = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1)
    val draw = Sampling.hashDraw(key)
    when(draw < lit(Sampling.rateThreshold(trainFrac)), "train")
      .when(draw < lit(Sampling.rateThreshold(trainFrac + valFrac)), "val")
      .otherwise("test")
  }

  /** Split summary per (split, lang): a pure map-side assignment (the
    * md5 predicate fuses into the scan; zero shuffle before the final
    * tiny aggregation) — splitting 100 TB costs one scan. */
  def splitStats(s: SparkSession, dir: String, trainFrac: Double = 0.8,
      valFrac: Double = 0.1): DataFrame =
    t(s, dir, "documents")
      .withColumn("split", splitAssign(col("doc_id"), trainFrac, valFrac))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("split", "lang")

  /** Greedy sequence packing (concat-and-chunk): documents are laid
    * end-to-end in (stream, position) order and the token stream is
    * cut every `budget` tokens; a document belongs to the pack where
    * it STARTS (straddlers count once). pack_id = floor(start/budget)
    * where start = cumulative tokens before the doc.
    *
    * The packing stream is per-lang — matching how real pipelines
    * pack (per language/domain shard), and what makes the op
    * shuffle-parallel: the cumulative sum is a window partitioned by
    * `lang`, never a global single-task sort. A 100 TB corpus packs
    * as thousands of independent streams; for a single giant stream,
    * re-key by (lang, shard) first — the semantics compose because
    * each stream is packed independently. */
  def packingStats(s: SparkSession, dir: String, budget: Long = 2048): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    withPackId(docs, budget)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("lang", "pack_id")
  }

  /** Pack assignment shared by [[packingStats]] and [[packedIdsStats]]
    * (one definition so the stream/order/boundary contract — and both
    * oracles — cannot desynchronize): cumulative token start per
    * (lang, doc_id order), pack_id = floor(start / budget). Expects
    * (lang, doc_id, n_tok) columns. */
  private def withPackId(df: DataFrame, budget: Long): DataFrame = {
    require(budget >= 1)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("start", sum("n_tok").over(w) - col("n_tok"))
      .withColumn("pack_id", floor(col("start") / budget).cast("long"))
  }

  /** The END-TO-END curation pipeline as ONE composed query — what a
    * user of the reference actually chains
    * (`filter → distinct → map → group`, streamable/stream.py) at
    * corpus scale: drop benchmark-contaminated docs, near-dup-dedup
    * the SURVIVORS (dedup must run on the decontaminated corpus —
    * order matters: a contaminated doc must not elect itself the
    * canonical of a cluster and drag clean near-dups down with it),
    * then assign stable train/val/test splits and summarize. Every
    * stage is the already-certified operator ([[contaminationReport]],
    * [[graft.ops.Dedup.minhashLshPairsOf]] +
    * [[graft.ops.Dedup.connectedComponents]], [[splitAssign]]); the
    * composition itself is what this query certifies — the oracle
    * replays the whole chain in one recursive-CTE SQL. Scale story is
    * the sum of its parts: broadcast benchmark, bucketed sketch
    * self-join, O(log diameter) closure rounds, map-side split; the
    * corpus-wide joins are left to AQE (drop lists can be huge). */
  def fullCurationStats(s: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 5, minOverlap: Double = 0.5,
      threshold: Double = 0.6, trainFrac: Double = 0.8,
      valFrac: Double = 0.1): DataFrame = {
    val docs = t(s, dir, "documents")
    // ONE tokenize+hash pass feeds contamination, dedup AND the final
    // summary (r20; previously the summary re-scanned and re-tokenized
    // the corpus text — at 100 TB the difference between one and two
    // text passes). sketchSetsAllDocs keeps short docs (empty hs — they
    // cannot shingle, so they are inert in the overlap explode and the
    // n_sh>0 LSH filter below reproduces the old sketch row set
    // exactly) and carries the summary's scalar columns (lang, n_chars)
    // plus the token count from the same tokenize. The extra scalars
    // cost the checkpoint three narrow columns; the summary in exchange
    // reads ZERO parquet and tokenizes ZERO text.
    val sets = Dedup.sketchSetsAllDocs(
        docs.select("doc_id", "text", "source", "lang", "n_chars"), n,
        carry = Seq("source", "lang", "n_chars"), withNTok = true)
      .localCheckpoint(eager = false)
    // checkpointed: consumed by BOTH the cleanSets anti-join and the
    // final corpus anti-join — left lazy, the second consumer would
    // re-run the whole contamination semi-join + count pass (the exact
    // re-derivation the sets checkpoint exists to avoid); the flagged
    // list is contamination-sized, so materializing it is cheap
    val flagged = overlapFlags(sets, benchSource, minOverlap)
      .select("doc_id").localCheckpoint(eager = false)
    // checkpointed: minhashLshPairsFromSets consumes its sets three
    // times, and re-deriving them re-runs the contamination semi-join
    // per consumer (the FromSets contract — caller materializes)
    // n_sh > 0 keeps exactly the rows the short-doc-filtering
    // shingleHashSets used to emit (a doc shingles iff it has >= n
    // tokens iff hs is non-empty)
    val cleanSets = sets.filter(col("source") =!= benchSource &&
        col("n_sh") > 0)
      .join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id", "hs", "n_sh")
      .localCheckpoint(eager = false)
    val pairs = Dedup.minhashLshPairsFromSets(cleanSets, threshold = threshold)
    val dropped = Dedup.connectedComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    // final summary off the SAME checkpoint: short docs are present
    // (sketchSetsAllDocs keeps them), lang/n_chars/nt ride the one
    // tokenize — no second corpus scan, no second tokenize
    sets.filter(col("source") =!= benchSource)
      .join(flagged, Seq("doc_id"), "left_anti")
      .join(dropped, Seq("doc_id"), "left_anti")
      .withColumn("split", splitAssign(col("doc_id"), trainFrac, valFrac))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum("nt").as("sum_tokens"))
      .orderBy("split", "lang")
  }

  /** Blocklist scrub: drop blocklisted TOKENS from every document (the
    * vocabulary-filter stage — banned terms, boilerplate markers).
    * Token-based (array `filter`, not regex) so the semantics are
    * exact and engine-portable; pure per-row column algebra — scans,
    * filters in-row, zero shuffle before the summary aggregation.
    * Summarized per lang: docs touched, tokens removed, corpus token
    * count after the scrub. */
  def blocklistScrubStats(s: SparkSession, dir: String,
      blocklist: Seq[String] = Seq("spark", "hash")): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val kept = filter(toks, tk => !tk.isInCollection(blocklist))
    t(s, dir, "documents")
      .select(col("lang"), size(toks).as("n_tok"), size(kept).as("n_kept"))
      .groupBy("lang")
      .agg(count(when(col("n_tok") =!= col("n_kept"), 1)).as("n_docs_hit"),
        sum(col("n_tok") - col("n_kept")).as("tokens_removed"),
        sum("n_kept").as("tokens_after"))
      .orderBy("lang")
  }

  /** The corpus → training-sequences END STATE: tokens map to integer
    * ids against a ranked vocabulary (the [[graft.ops.TextAnalysis.zipfRankStats]]
    * vocab machinery — top-`v` by (count desc, token asc), OOV → v+1),
    * documents lay end-to-end per language stream in doc_id order
    * ([[packingStats]]' pack assignment), and each pack emits its
    * concatenated id sequence — what a trainer would actually read.
    * Ids render as a comma-joined string so the oracle can hash-match
    * the exact sequence (id ORDER inside the pack is the contract:
    * doc order, then token order within the doc).
    *
    * Scale shape: vocab build as in t09 (one token shuffle, map-side
    * combined; the rank map broadcasts); id-mapping is in-row; the
    * only corpus shuffle is the per-(lang) packing window + the final
    * per-pack aggregation — and packs are bounded (`budget` tokens),
    * so no aggregation group can outgrow an executor no matter the
    * corpus size. */
  def packedIdsStats(s: SparkSession, dir: String, budget: Long = 2048,
      v: Int = 30): DataFrame = {
    import graft.ops.TextAnalysis.{vocabRankMap, tokenIdsCol}
    val docs = t(s, dir, "documents")
    val withIds = docs.crossJoin(broadcast(vocabRankMap(docs, v)))
      .select(col("doc_id"), col("lang"),
        tokenIdsCol(col("text"), col("vm"), v).as("ids"))
      .withColumn("n_tok", size(col("ids")).cast("long"))
    withPackId(withIds, budget)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("doc_id"), col("ids")))),
          x => transform(x("ids"), i => i.cast("string")))), ",").as("ids_csv"))
      .orderBy("lang", "pack_id")
  }

  /** [[packedIdsStats]] upgraded to the TRAINED tokenizer (c20) —
    * the stream a trainer actually reads: token ids are BPE ids from
    * the [[graft.ops.TextAnalysis.bpeTrain]] segmentation (the t18
    * training artifact applied t19-style), not top-v vocabulary
    * ranks, closing the counts → merges → vocab → PACK loop. Ids
    * follow the standard BPE vocabulary construction: the base
    * alphabet (distinct single characters of the corpus word table,
    * sorted) takes ids 1..A, merge round r's product takes id A+r —
    * creation order, exactly how BPE implementations number their
    * vocab. Two merge rounds CAN create the same symbol string via
    * different splits (("a","bc") then ("ab","c")); the string keeps
    * its FIRST id (min), the t09 first-wins tie discipline.
    *
    * Scale shape: training is a persisted train-once artifact
    * ([[graft.ops.TextAnalysis.ensureBpeModel]], r19 — formerly a
    * session memo); the symbol-id and word→ids maps
    * are vocabulary-sized broadcast one-row frames (the t19
    * broadcast argument — the corpus never reshuffles for the
    * tokenizer); per-doc encoding is ONE in-row
    * transform-and-flatten over the doc's word array (the
    * [[graft.functions.SortedLookup]] kernel — an O(log V) bisection
    * over the sorted word array, fail-loud by contract: every corpus
    * word is in the trained vocab, a miss means the artifact is
    * stale); packing and the per-pack ordered-id csv are
    * the [[withPackId]] / [[packedIdsStats]] machinery unchanged,
    * so the stream/order/boundary contract is shared with c02/c08
    * and cannot desynchronize. Reference analog: the chained
    * map-then-group consumption idiom (streamable/stream.py:230-
    * 353); trained-tokenizer packing is extension surface. */
  /** The trained tokenizer's symbol→id numbering as a ONE-ROW
    * broadcastable artifact (`sm`: map sym → long id): the alphabet
    * ranked by the total string order takes ids 1..A (an
    * Aggregate-dominated vocab-sized window — the sanctioned t09
    * shape), merge round r's product takes A+r, and a string created
    * twice keeps its FIRST id (min — the t09 first-wins tie
    * discipline). Id 0 is RESERVED as the unknown-symbol outcome for
    * serve paths over unseen text ([[graft.streaming.Streams
    * .bpeEncodeIdsStream]]); the trainer never assigns it. ONE
    * definition shared by the batch packer ([[bpePackedIdsStats]],
    * c20) and the streaming serve path, so batch and stream can
    * never number the vocabulary differently. Training is memoized
    * ([[graft.ops.TextAnalysis.bpeTrain]]), so co-calling this with
    * other artifact consumers costs one training pass total. */
  def bpeSymbolIdRow(s: SparkSession, dir: String,
      rounds: Int = 6): DataFrame = {
    import graft.ops.TextAnalysis
    val (merges, segs) = TextAnalysis.bpeTrain(s, dir, rounds)
    val alpha = segs
      .select(explode(regexp_extract_all(col("word"), lit("."), lit(0)))
        .as("sym"))
      .distinct()
    val aCount = alpha.agg(count(lit(1)).as("a"))
    val rankW = org.apache.spark.sql.expressions.Window.orderBy("sym")
    val aid = alpha.withColumn("id", row_number().over(rankW).cast("long"))
    val mid = merges.crossJoin(broadcast(aCount))
      .select(concat(col("left_sym"), col("right_sym")).as("sym"),
        (col("a") + col("merge_round")).as("id"))
    aid.select(col("sym"), col("id"))
      .unionByName(mid)
      .groupBy("sym").agg(min("id").as("id")) // first-creation wins
      .agg(map_from_entries(collect_list(struct(col("sym"), col("id"))))
        .as("sm"))
  }

  /** The trained tokenizer's word → ordered-id-list table as a
    * ONE-ROW broadcastable artifact of SORTED PARALLEL ARRAYS
    * (`bpe_wk`: words ascending, `bpe_wv`: the matching id lists) —
    * the [[bpeSymbolIdRow]] numbering applied to the trained
    * segmentation, extracted so the c20 packer and the c22 ingest
    * chain consume ONE definition. NOT a MapType: this table is
    * keyed by every distinct corpus word, the one tokenizer
    * structure whose key set cannot be capped (Heaps' law — it IS
    * the vocabulary), and Spark's map probe is a linear scan, so an
    * `element_at` per word occurrence would make encoding
    * O(words · V) at corpus scale (the r17 t21 finding class).
    * Consumers probe with the [[graft.functions.SortedLookup]]
    * kernel instead — O(log V) bisection over the sorted keys, and
    * still fail-loud: a word missing from the trained vocab RAISES
    * (stale artifact), the same abort contract the previous ANSI
    * `element_at` carried. Column names are namespaced (`bpe_wk`/
    * `bpe_wv`) so the row composes with the t21 model row inside
    * one chain without aliasing. */
  def bpeWordIdMapRow(s: SparkSession, dir: String,
      rounds: Int = 6): DataFrame = {
    val (_, segs) = graft.ops.TextAnalysis.bpeTrain(s, dir, rounds)
    segs.crossJoin(broadcast(bpeSymbolIdRow(s, dir, rounds)))
      .select(col("word"),
        transform(col("syms"), sy => element_at(col("sm"), sy)).as("ids"))
      // sort_array on struct(word, ids) orders by word in UTF8String
      // binary order — the SAME order the kernel's compareTo bisects
      .agg(sort_array(collect_list(struct(col("word"), col("ids"))))
        .as("kv"))
      .select(transform(col("kv"), x => x("word")).as("bpe_wk"),
        transform(col("kv"), x => x("ids")).as("bpe_wv"))
  }

  /** The fail-loud word probe over [[bpeWordIdMapRow]]'s sorted
    * arrays — ONE definition for the c20 packer and the c22 ingest
    * chain: [[graft.functions.SortedLookup]] returns null on a miss,
    * and here a miss means the corpus contains a word the trained
    * vocabulary lacks (a stale tokenizer artifact), so the null is
    * escalated to a raise INSIDE the consumed column (the quant16
    * discipline — Catalyst cannot prune it). */
  private def bpeIdsOrRaise(w: Column): Column = coalesce(
    graft.functions.SortedLookup(col("bpe_wk"), col("bpe_wv"), w),
    raise_error(format_string(
      "bpe encode: word '%s' is not in the trained vocabulary — " +
        "stale tokenizer artifact", w)).cast("array<bigint>"))

  def bpePackedIdsStats(s: SparkSession, dir: String, budget: Long = 2048,
      rounds: Int = 6): DataFrame = {
    val withIds = t(s, dir, "documents")
      .crossJoin(broadcast(bpeWordIdMapRow(s, dir, rounds)))
      .select(col("doc_id"), col("lang"),
        flatten(transform(
          regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
          w => bpeIdsOrRaise(w))).as("ids"))
      .withColumn("n_tok", size(col("ids")).cast("long"))
    withPackId(withIds, budget)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("doc_id"), col("ids")))),
          x => transform(x("ids"), i => i.cast("string")))), ",").as("ids_csv"))
      .orderBy("lang", "pack_id")
  }

  /** Classifier-filtered corpus (c21) — the t21 model USED as the
    * curation stage it exists for (the CCNet pipeline shape: train on
    * weak labels, score the corpus, keep what the MODEL passes): per
    * (lang, source), documents kept/dropped by the trained verdict
    * and the TOKEN MASS that survives — the number a data budget is
    * planned against, which t21's doc-count report doesn't carry.
    * Scoring is the shared [[graft.ops.TextAnalysis
    * .classifierScoreCol]] over the broadcast PERSISTED model row
    * ([[graft.ops.TextAnalysis.readQualityModel]] — t22 certifies
    * persisted ≡ retrained bit-equality), so filter and
    * report can never disagree with t21's verdicts; the corpus-side
    * plan is one in-row scoring scan + the per-(lang, source)
    * aggregate — the corpus never shuffles before the report. All
    * outputs integer (floor-div milli drop rate). Reference analog:
    * `filter(when=...)` with an arbitrary scoring callable
    * (streamable/stream.py:230-276, 372-392). */
  def classifierFilteredStats(s: SparkSession, dir: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    import graft.ops.TextAnalysis
    t(s, dir, "documents")
      .crossJoin(broadcast(
        TextAnalysis.readQualityModel(s, dir, minWords, maxWords)))
      .withColumn("score", TextAnalysis.classifierScoreCol(
        col("text"), col("wm"), col("w_oov"), col("prior")))
      .withColumn("pred", (col("score") > 0L).cast("long"))
      .withColumn("n_tok",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("pred").as("n_kept"),
        (count(lit(1)) - sum("pred")).as("n_dropped"),
        sum(when(col("pred") === 1L, col("n_tok")).otherwise(0L))
          .as("kept_tokens"),
        floor((count(lit(1)) - sum("pred")) * lit(1000L) / count(lit(1)))
          .cast("long").as("drop_rate_milli"))
      .orderBy("lang", "source")
  }

  /** Sliding-window chunking — the RAG / long-context restructuring
    * op: each document yields token windows of `chunk` tokens starting
    * every `stride` (overlap = chunk - stride; the tail window may be
    * short; every doc yields at least one). Window count is
    * max(1, floor((n_tok - chunk + stride - 1)/stride) + 1) — integer
    * arithmetic via exact double floor, identical in the oracle.
    * The summary carries an md5 fingerprint COUNT per chunk text, so
    * the hash-match certifies chunk boundaries AND content (and the
    * distinct count is the cross-doc chunk-dedup signal — repeated
    * boilerplate collapses). All chunk construction is in-row
    * (transform + slice + explode): the corpus never shuffles until
    * the per-lang summary. */
  def chunkStats(s: SparkSession, dir: String, chunk: Int = 128,
      stride: Int = 64): DataFrame = {
    require(chunk >= 1 && stride >= 1 && stride <= chunk)
    val w = TextAnalysis.tokens(col("text"))
    val nWin = greatest(lit(1),
      (floor((col("n_tok") - chunk + stride - 1) / lit(stride.toDouble)) + 1)
        .cast("int"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), w.as("w"))
      .withColumn("n_tok", size(col("w")))
      .select(col("doc_id"), col("lang"),
        posexplode(transform(sequence(lit(0), nWin - 1),
          k => slice(col("w"), k * stride + 1, lit(chunk)))).as(Seq("k", "cw")))
      .select(col("lang"), col("k"),
        md5(concat_ws(" ", col("cw"))).as("fp"),
        size(col("cw")).cast("long").as("clen"))
      .groupBy("lang")
      // every doc emits exactly one k=0 chunk, so counting those IS the
      // doc count — countDistinct(doc_id) here would pair with the fp
      // distinct and trigger the multi-distinct Expand (3× every chunk
      // row through the shuffle)
      .agg(count(when(col("k") === 0, 1)).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct_chunks"),
        sum("clen").as("sum_chunk_tokens"))
      .orderBy("lang")
  }

  /** Email pattern shared by the scrub and its oracle: greedy
    * character-class quantifiers with no alternation or lookaround, so
    * Java's leftmost-FIRST backtracking and RE2's leftmost-LONGEST
    * automaton select the identical match (the t06 single-class
    * argument applied to regex REPLACE). */
  val emailPattern = "[a-z0-9]+@[a-z]+\\.[a-z]+"

  /** Phone pattern: fixed-width, trivially engine-portable. */
  val phonePattern = "555-[0-9]{4}"

  /** PII redaction — the scrub stage every training-data pipeline runs
    * before text leaves curation: emails and phone numbers are
    * replaced with typed placeholder tags. The corpus text is
    * synthetic space-separated words with no PII, so each doc is
    * first MARKED with deterministic doc_id-derived PII (an email on
    * doc_id % 3 == 0, a phone on doc_id % 5 == 0 — the t06
    * make-the-rule-load-bearing trick): the oracle replays the same
    * marking, so a wrong pattern or a non-global replace shifts every
    * count and fails the hash.
    *
    * Per-row column algebra only (regexp_extract_all counts,
    * regexp_replace scrub) — zero shuffle before the per-lang summary;
    * at 100 TB the scrub fuses into the scan like c03. */
  def piiRedactionStats(s: SparkSession, dir: String): DataFrame = {
    val marked = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" tel 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(col("m"), emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")
    t(s, dir, "documents")
      .select(col("lang"), marked.as("m"))
      .select(col("lang"), col("m"),
        size(regexp_extract_all(col("m"), lit(emailPattern), lit(0))).as("n_em"),
        size(regexp_extract_all(col("m"), lit(phonePattern), lit(0))).as("n_ph"),
        (length(col("m")) - length(scrubbed)).as("removed"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_em").as("n_emails"),
        sum("n_ph").as("n_phones"),
        sum("removed").as("chars_removed"))
      .orderBy("lang")
  }

  /** Token-budget corpus selection: keep the highest-quality documents
    * until a global token budget fills. Contract (first-fit greedy): in
    * (quality desc, doc_id asc) order, a doc is selected iff the token
    * sum of all strictly-prior docs is `< budget` — so the last
    * selected doc may overflow the budget, and selection is
    * deterministic under any physical row order. This is the "pick the
    * best N tokens for this training run" step that follows scoring.
    *
    * 100 TB shape — the naive formulation is a GLOBAL window cumsum
    * over the corpus sorted by quality: a total sort of everything.
    * Instead, exploit the 4dp quantization the score already has
    * (`r4` ⇒ ≤10001 distinct values regardless of corpus size):
    *  1. histogram token mass by quality — one partial-agg shuffle
    *     down to ≤10001 rows;
    *  2. a window over that TINY table (single-partition by design,
    *     like [[Dedup.simhashRecallAdvisory]]'s histogram) classifies
    *     each stratum: `tokens_above >= budget` → wholly out,
    *     `tokens_above + bucket_tokens < budget` → wholly in, else
    *     the one BOUNDARY stratum;
    *  3. broadcast the ≤10001-row classification back onto the corpus
    *     (map-side join) and run the per-doc ordered cumsum only
    *     inside the boundary stratum — in expectation corpus/#strata
    *     of the data; the wholesale strata never sort.
    * Degenerate worst case (every doc identical quality) falls back to
    * the naive single-stratum sort — same cost as the formulation it
    * replaces, never worse. Equality with the naive global window is
    * CurationSpec-proven; the c10 oracle IS the naive formulation. */
  def tokenBudgetStats(s: SparkSession, dir: String,
      budget: Long = 15000L): DataFrame = {
    // the one materialized frame (the canonical sketch-pipeline note,
    // [[Dedup.minhashLshPairs]]): (doc_id, lang, q, n_tok) is ~20
    // bytes/doc and feeds the histogram AND both selection branches —
    // without it the corpus is scanned and re-TOKENIZED three times
    // (measured at sf0.1: ~1.2 s three-scan vs ~0.6 s checkpointed)
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      .localCheckpoint(eager = false)
    val hist = d.groupBy("q").agg(sum("n_tok").as("bucket_tokens"))
    val wq = Window.orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val classed = hist
      .withColumn("tokens_above",
        sum("bucket_tokens").over(wq) - col("bucket_tokens"))
      .withColumn("cls",
        when(col("tokens_above") >= budget, lit("out"))
          .when(col("tokens_above") + col("bucket_tokens") < budget, lit("in"))
          .otherwise(lit("boundary")))
      .select("q", "tokens_above", "cls")
    val joined = d.join(broadcast(classed), "q")
    val wb = Window.partitionBy("q").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.where(col("cls") === "boundary")
      .withColumn("prior_in_bucket", sum("n_tok").over(wb) - col("n_tok"))
      .where(col("tokens_above") + col("prior_in_bucket") < budget)
      .drop("prior_in_bucket")
    joined.where(col("cls") === "in").unionByName(boundary)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        min("q").as("min_quality"))
      .orderBy("lang")
  }

  /** The 64 single-bit masks as a literal array: Spark's column-valued
    * shift amounts aren't expressible in the Scala `functions` API, so
    * bit `b` of a long tests via `element_at(BIT_MASKS, b+1)` instead
    * of `1L << b` — keeping the Bloom probe a pure (codegen'd) column
    * expression, lambda-compatible inside `forall`. */
  private val BIT_MASKS = lit((0 until 64).map(b => 1L << b).toArray)

  /** The `k` Bloom bit positions of a 64-bit shingle hash, by double
    * hashing (Kirsch–Mitzenmacher: pos_i = h1 + i·h2 mod m, h2 forced
    * odd so every stride cycles the power-of-two table). One xxhash64
    * derives h2 from h — no per-i rehash. Both terms reduce mod m
    * BEFORE combining: ANSI mode (the Spark 4 default) raises on long
    * overflow, and full-width h + i·h2 overflows on arbitrary 64-bit
    * hashes — post-reduction every intermediate is < (k+1)·m. */
  private def bloomPositions(h: Column, mBits: Long, k: Int): Column = {
    val m = lit(mBits)
    val h1 = pmod(h, m)
    val h2 = pmod(xxhash64(h, lit(0x9E3779B97F4A7C15L)), m).bitwiseOR(lit(1L))
    transform(sequence(lit(0L), lit(k - 1L)), i => pmod(h1 + i * h2, m))
  }

  /** Bit test of a Bloom bitset column (array<long>, word `pos/64`,
    * bit `pos%64`; m is a power of two so the modulo is a mask). */
  private def bloomHit(bits: Column, pos: Column): Column =
    element_at(bits, shiftright(pos, 6).cast("int") + 1)
      .bitwiseAND(element_at(BIT_MASKS,
        pos.bitwiseAND(lit(63L)).cast("int") + 1)) =!= 0

  /** One-row (bits: array<long>) Bloom filter over a column of 64-bit
    * hashes, built ENTIRELY as an aggregation — no driver-side filter
    * object, no collect: explode each hash to its k (word, mask)
    * contributions, `bit_or` per word, left-join onto the full word
    * range (absent words are 0), assemble in word order. Shuffle
    * volume is k·|set| 12-byte rows into m/64 reducers — linear in
    * the set with tiny rows, and the result broadcasts as ordinary
    * query data. */
  private[ops] def bloomOf(hashes: DataFrame, hashCol: String, mBits: Long,
      k: Int): DataFrame = {
    require(mBits % 64 == 0 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two (got $mBits)")
    val s = hashes.sparkSession
    val wm = hashes
      .select(explode(bloomPositions(col(hashCol), mBits, k)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("w"),
        element_at(BIT_MASKS, col("pos").bitwiseAND(lit(63L)).cast("int") + 1).as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("bits"))
    s.range(mBits / 64).select(col("id").cast("int").as("w"))
      .join(wm, Seq("w"), "left")
      .select(col("w"), coalesce(col("bits"), lit(0L)).as("bits"))
      .agg(array_sort(collect_list(struct(col("w"), col("bits")))).as("wb"))
      .select(transform(col("wb"), x => x("bits")).as("bits"))
  }

  /** The prune predicate of [[bloomDecontaminatedStats]] as a seam:
    * rows of `hashes` (column `h`) whose hash passes the broadcast
    * one-row `bloom` — also what the no-false-negative spec drives. */
  private[ops] def bloomDecontamProbe(hashes: DataFrame, bloom: DataFrame,
      mBits: Long, k: Int): DataFrame =
    hashes.crossJoin(broadcast(bloom))
      .filter(forall(bloomPositions(col("h"), mBits, k),
        p => bloomHit(col("bits"), p)))
      .drop("bits")

  /** Decontamination when the do-not-train set is TOO BIG TO
    * BROADCAST exactly — the missing rung above [[contaminationReport]]
    * / [[decontaminatedStats]], whose broadcast-semi-join design
    * assumes an eval-suite-sized benchmark. A held-out split of the
    * web (billions of shingles) breaks that assumption: exact 8-byte
    * hashes at 10⁹ shingles are 10s of GB with set overhead, far past
    * any broadcast budget.
    *
    * Two phases, and the result is EXACTLY [[decontaminatedStats]]
    * (the oracle is the same exact-overlap SQL):
    *  1. PRUNE — a Bloom filter over the benchmark shingles
    *     ([[bloomOf]]: built as an aggregation, zero driver actions;
    *     bits/shingle ≈ mBits/|bench|, i.e. ~10-20× smaller than the
    *     exact set, back under the broadcast budget) cross-joins the
    *     corpus shingle stream and keeps the maybe-hits. No false
    *     negatives, so nothing contaminated escapes; false positives
    *     pass ε·|corpus| extra rows at ε = (1-e^(-k·n/m))^k.
    *  2. VERIFY — the survivors (true hits + ε noise, a vanishing
    *     corpus fraction) semi-join the exact benchmark set WITHOUT a
    *     broadcast hint: the shuffle moves |bench| + |survivors| rows
    *     — linear in the benchmark, decoupled from corpus size. FPs
    *     die here, restoring exactness.
    * At truly astronomical benchmark sizes the bitset itself outgrows
    * broadcast; then partition the bloom by hash range and probe
    * per-range — same shapes, one more join key. Corpus-side cost is
    * one scan + the bloom's k element_at probes per shingle, all
    * inside codegen. */
  def bloomDecontaminatedStats(s: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 5, minOverlap: Double = 0.4,
      mBits: Long = 1L << 17, k: Int = 5): DataFrame = {
    require(minOverlap > 0.0,
      s"minOverlap must be > 0 (zero-hit docs are structurally absent); got $minOverlap")
    val sets = Dedup.shingleHashSets(t(s, dir, "documents"), n,
      carry = Seq("source")).localCheckpoint(eager = false)
    val bench = sets.filter(col("source") === benchSource)
      .select(explode(col("hs")).as("h")).distinct()
    val bloom = bloomOf(bench, "h", mBits, k)
    val corpus = sets.filter(col("source") =!= benchSource)
    val maybeHits = bloomDecontamProbe(
      corpus.select(col("doc_id"), explode(col("hs")).as("h")),
      bloom, mBits, k)
    // exact phase: NO broadcast hint on bench — it is huge by premise;
    // the shuffle is benchmark-sized, never corpus-sized (PlanSpec
    // asserts the only hint in this query is the one-row bloom)
    val hits = maybeHits.join(bench, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val flagged = corpus.select("doc_id", "n_sh").join(hits, "doc_id")
      .withColumn("overlap", r3(col("n_hit") / col("n_sh")))
      .filter(col("overlap") >= minOverlap)
      .select("doc_id")
    t(s, dir, "documents").filter(col("source") =!= benchSource)
      .join(flagged, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Cross-document span SCRUBBING — the removal half of exact
    * substring dedup (Lee et al.'s "Deduplicating Training Data":
    * find duplicated substrings, then cut them, keeping one
    * occurrence). [[Dedup.repeatedSpans]] (d11) FINDS the repeated
    * `w`-token windows; this op EXCISES them: the first document
    * carrying a span (min doc_id) keeps its text verbatim, every
    * later document loses the covered tokens. Overlapping spans merge
    * naturally — coverage is per token index, not per window. Returns
    * one row per MODIFIED document: original token count, tokens
    * removed, and the rebuilt text.
    *
    * Scale design: span strings never shuffle — windows travel as
    * 8-byte xxhash64 rows (doc_id, pos, h). The repeated-hash frame
    * carries no hint: AQE broadcasts it at gate scale, and at 100 TB
    * (where Lee et al. measure ~1% of tokens in repeated spans, too
    * big to ship to every executor) the hit-marking join degrades to
    * a shuffle of those narrow rows, never of text. Excision is
    * in-row: hit START positions aggregate to one `collect_set` per
    * modified doc (bounded by doc length), and a nested higher-order
    * filter drops covered tokens without exploding the corpus into
    * token rows. Hash collisions would scrub a non-repeated span
    * (~n²/2⁶⁴ — the accepted sketch contract, see
    * [[Dedup.repeatedSpans]]). */
  def spanScrubStats(s: SparkSession, dir: String, w: Int = 8): DataFrame =
    spanScrubOf(t(s, dir, "documents"), w)

  /** [[spanScrubStats]] over any (doc_id, text) frame — the seam the
    * golden/property specs drive. */
  def spanScrubOf(docs: DataFrame, w: Int): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val base = docs.select(col("doc_id"), toks.as("wd"))
    val wins = base.filter(size(col("wd")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("wd")) - w),
          i => xxhash64(concat_ws(" ", slice(col("wd"), i + 1, lit(w)))))))
      .toDF("doc_id", "pos", "h")
    // d11's repeated-hash aggregation, but keeping first_doc for the
    // keep-the-first-copy contract; per-doc distinctness IN-ROW
    // (array_distinct before the explode — the d11 spanHashes shape)
    // so within-doc repetition never fakes a cross-doc repeat: the
    // old corpus-wide distinct() paid a second window-volume exchange
    // + hash-agg for a dedup that is per-document by definition
    val rep = base.filter(size(col("wd")) >= w)
      .select(col("doc_id"),
        explode(Dedup.shingleHashArr(col("wd"), w)).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
    val starts = wins.join(rep, "h")
      .filter(col("doc_id") =!= col("first_doc"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("starts"))
    base.join(starts, "doc_id")
      .withColumn("kept", filter(col("wd"), (_: Column, i: Column) =>
        !exists(col("starts"), st => i >= st && i < st + w)))
      .select(col("doc_id"), size(col("wd")).cast("long").as("n_tokens"),
        (size(col("wd")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Contamination curve across shingle sizes (c14) — the diagnostic
    * that justifies a decontamination pipeline's n: for each n-gram
    * size, how many corpus docs share ANY shingle with the benchmark
    * set, how many clear the c01 flag threshold, and the mean overlap
    * among hit docs. Short shingles produce massive accidental overlap
    * (natural-language collisions), long shingles only true
    * contamination — the published decontamination setups (GPT-3's
    * 13-gram, PaLM/Llama 8–10-gram) sit where this curve flattens,
    * and this op computes that curve for YOUR corpus instead of
    * borrowing a paper's constant.
    *
    * Scale design: ONE text scan computes every size's sketch column
    * in a single fused projection (the d05b discipline) and is
    * checkpointed for the |ns| downstream passes — each pass is then
    * the [[contaminationReport]] shape over its own hash column:
    * benchmark shingles broadcast, corpus shingles as 8-byte hashes,
    * only HIT rows reach the per-doc aggregation, final frame |ns|
    * rows. Per-doc overlap is floored to integer milli-units before
    * the cross-doc mean (the t11 discipline), so the curve is
    * order-free cross-engine. */
  def contaminationCurve(s: SparkSession, dir: String,
      benchSource: String = "src0", ns: Seq[Int] = Seq(3, 5, 8),
      minOverlap: Double = 0.5): DataFrame = {
    val mo3 = math.floor(minOverlap * 1000 + 0.5).toLong
    // ONE text scan computes every size's sketch column (the d05b
    // fused-projection discipline): each hs_n is the per-doc distinct
    // n-gram hash set, empty when the doc is too short to shingle
    val toksCol = split(trim(col("text")), "\\s+")
    val sets = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), toksCol.as("w"))
      .select(col("doc_id") +: col("source") +: ns.map(n =>
        when(size(col("w")) >= n, array_distinct(
          transform(sequence(lit(0), size(col("w")) - n),
            i => xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))))
          .otherwise(array().cast("array<bigint>")).as(s"hs$n")): _*)
      .localCheckpoint(eager = false)
    // NOTE (r20-opt): fusing the |ns| passes into one melt
    // (explode(map(n → hs_n)) → one (n,h) semi-join → groupBy(n)) was
    // built, oracle-verified, measured, and REVERTED: anchor-relative
    // ~1.10× WORSE at sf0.1 — the map() melt copies all three hash
    // arrays per row before exploding, which outweighs the saved
    // per-branch stages at any volume where the explode dominates
    // (total exploded rows are identical either way). Two traps for a
    // re-attempt, priced on the way: (a) completing hitless sizes via
    // a literal-n-frame LEFT JOIN reads 0.15× under the count-shaped
    // bench because Catalyst eliminates a left join against a
    // unique-key aggregate when no right column survives — the number
    // is a lie (collect-mode measured 1.73 s); per-n GLOBAL aggs are
    // the unprunable completion; (b) the per-branch shape below keeps
    // hitless-n rows by construction. Keep the branches. (The recall
    // curves in Similarity do fold their points into one sweep: their
    // candidate rows are narrow, while here the melt cost above is why
    // c14 is not folded.)
    ns.map { n =>
      val bench = sets.filter(col("source") === benchSource)
        .select(explode(col(s"hs$n")).as("h")).distinct()
      val corpus = sets.filter(col("source") =!= benchSource)
        .select(col("doc_id"), size(col(s"hs$n")).cast("long").as("n_sh"),
          col(s"hs$n").as("hs"))
      corpus.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
        .join(broadcast(bench), Seq("h"), "left_semi")
        .groupBy("doc_id", "n_sh").agg(count(lit(1)).as("n_hit"))
        .withColumn("ov3",
          floor(col("n_hit") / col("n_sh") * 1000 + 0.5).cast("long"))
        .agg(count(lit(1)).as("n_hit_docs"),
          coalesce(sum((col("ov3") >= mo3).cast("long")), lit(0L))
            .as("n_flagged"),
          r3(sum("ov3").cast("double") / 1000 / count(lit(1)))
            .as("avg_overlap"))
        .withColumn("n", lit(n.toLong))
    }.reduce(_ unionByName _)
      .select("n", "n_hit_docs", "n_flagged", "avg_overlap")
      .orderBy("n")
  }

  /** Corpus validation gate (c15) — the expectation checks every
    * production ingestion runs before letting a batch near training:
    * per check, the row count, violation count, and a pass flag.
    * Documents: unique ids, non-empty text, n_chars consistent with
    * the text, language in the allowed set. Embeddings: uniform
    * dimension, all-finite values (NaN/Inf ⇔ `x−x ≠ 0`), unit norm
    * within ±1% (norm on the s03 integer ten-thousandths grid, so
    * the boundary is cross-engine exact). A clean corpus yields an
    * all-pass report — that IS the contract; the spec plants each
    * violation class to prove every check fires. Reference analog:
    * the validating `filter`/`observe` chains of
    * streamable/stream.py:230-253 and 380-401.
    *
    * Scale design: ONE narrow aggregate per table (map-side partials,
    * one scalar row each — `countDistinct` is the only expansion and
    * it partial-aggregates on doc_id); the report rows come from
    * `stack` over those two scalar rows, never a second scan. */
  def validationGate(s: SparkSession, dir: String, expectedDim: Int = 64,
      allowedLangs: Seq[String] = Seq("en", "de", "fr", "es", "zh")): DataFrame = {
    val d = t(s, dir, "documents").agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("v_dup"),
      sum((col("text").isNull || trim(col("text")) === "").cast("long"))
        .as("v_empty"),
      sum((col("n_chars") =!= length(col("text")).cast("long")).cast("long"))
        .as("v_chars"),
      sum((!col("lang").isInCollection(allowedLangs)).cast("long"))
        .as("v_lang"))
    val docRows = d.selectExpr(
      "stack(4, 'doc_chars_consistent', n, v_chars, " +
        "'doc_id_unique', n, v_dup, 'doc_lang_known', n, v_lang, " +
        "'doc_text_nonempty', n, v_empty) AS (check_name, n_rows, n_violations)")
    val normD = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))
    // a non-finite norm (NaN/Inf component) is a violation by
    // definition AND must never reach the long cast (ANSI would
    // throw); CaseWhen evaluates only the taken branch
    val bn = when(!((normD - normD) === lit(0.0)), lit(1L))
      .otherwise((floor(normD * lit(1e4) + lit(0.5)).cast("long") < 9900L ||
        floor(normD * lit(1e4) + lit(0.5)).cast("long") > 10100L).cast("long"))
    val e = t(s, dir, "embeddings").select(
        (size(col("embedding")) =!= expectedDim).cast("long").as("bd"),
        (size(filter(col("embedding"), x => !((x - x) === lit(0f)))) > 0)
          .cast("long").as("bf"),
        bn.as("bn"))
      .agg(count(lit(1)).as("n"), sum("bd").as("v_dim"),
        sum("bf").as("v_fin"), sum("bn").as("v_norm"))
    val embRows = e.selectExpr(
      "stack(3, 'emb_dim_uniform', n, v_dim, 'emb_finite', n, v_fin, " +
        "'emb_unit_norm', n, v_norm) AS (check_name, n_rows, n_violations)")
    docRows.unionByName(embRows)
      .withColumn("pass", (col("n_violations") === 0L).cast("long"))
      .orderBy("check_name")
  }

  /** Split-leakage report (c17) — the eval-hygiene check p02's
    * hash-split makes NECESSARY: a random split scatters near-
    * duplicate documents ACROSS train/val/test, so the eval set
    * contains paraphrases of training docs and eval scores read
    * inflated. For every unordered split pair, the count and exact
    * milli-Jaccard mass of verified near-dup pairs crossing (or
    * staying within) that boundary — the off-diagonal rows ARE the
    * leak, and the fix they motivate is dedup-BEFORE-split (c06's
    * chain order, here made a measured table; the d14 cross-source
    * matrix pointed at split boundaries). All six split combinations
    * keep a row (zero-filled grid, the d17 convention) so an absent
    * leak is visibly zero rather than silently missing.
    *
    * Scale: the pair frame is near-dup-sized (the d04 funnel), the
    * split column is a pure map-side md5 expression fused into the
    * doc_id lookups, and the two split attachments are joins of the
    * tiny pair frame against a two-column projection — AQE broadcasts
    * the pair side; nothing corpus-sized shuffles beyond what d04
    * already does. */
  def splitLeakageStats(s: SparkSession, dir: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1, n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLshPairsOf(t(s, dir, "documents"), n,
        threshold = threshold)
      .withColumn("j_milli", floor(col("jaccard") * 1000 + 0.5).cast("long"))
    val split = t(s, dir, "documents").select(col("doc_id"),
      splitAssign(col("doc_id"), trainFrac, valFrac).as("split"))
    val tagged = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "split_a"), "doc_a")
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "split_b"), "doc_b")
      .select(least(col("split_a"), col("split_b")).as("s_lo"),
        greatest(col("split_a"), col("split_b")).as("s_hi"),
        col("j_milli"))
      .groupBy("s_lo", "s_hi")
      .agg(count(lit(1)).as("n_pairs"), sum("j_milli").as("sum_j_milli"))
    val names = Seq("test", "train", "val")
    val grid = (for { a <- names; b <- names if a <= b } yield (a, b))
      .toDF("s_lo", "s_hi")
    grid.join(tagged, Seq("s_lo", "s_hi"), "left")
      .select(col("s_lo"), col("s_hi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_j_milli"), lit(0L)).as("sum_j_milli"),
        (col("s_lo") =!= col("s_hi")).cast("long").as("is_leak"))
      .orderBy("s_lo", "s_hi")
  }

  /** Semantic decontamination (c16) — the embedding-space member of
    * the decontamination family: c01/c04/c11 flag LEXICAL (shingle)
    * overlap with the benchmark; this drops training docs whose
    * embedding sits within cosine `threshold` of ANY benchmark doc,
    * catching paraphrased leakage that shares no 5-gram (the SemDeDup
    * argument pointed at benchmark contamination). Benchmark = the
    * src0 docs' embeddings (the c01 benchmark convention); vec_id ≡
    * doc_id is the corpus alignment contract (made explicit by the
    * join — a misaligned corpus drops rows there, loudly visible in
    * the per-lang totals). Output is the c04 stats shape: per-lang
    * doc/flagged/kept counts. The 0.35 default is sized to THIS
    * corpus the d12/d06 way (gaussian embeddings: max-vs-benchmark
    * cosine peaks at 0.49, mean 0.25, so ~31 of 475 docs flag at
    * sf0.01 — both branches live in every gate run); production
    * corpora with normalized semantic embeddings run 0.9+.
    *
    * Scale: the benchmark frame BROADCASTS — bounded by the benchmark
    * suite's size, the c01 premise — and ONE corpus scan computes the
    * per-doc max via crossJoin(broadcast) + partial max(r4 cosine):
    * the corpus never shuffles on the similarity path (the kernel is
    * the codegen'd [[graft.functions.CosineSimilarity]]); the only
    * corpus shuffle is the final per-(doc,lang) aggregate. The r4
    * rounding BEFORE the threshold compare pins the cut cross-engine
    * (the d06 convention). For benchmark sets beyond the broadcast
    * budget, d06's banded-LSH candidates + exact verify is the
    * degradation path — same result, candidate-funnel cost. */
  def semanticDecontamStats(s: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    import graft.functions.CosineSimilarity
    val joined = t(s, dir, "documents").select("doc_id", "lang", "source")
      .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
    val bench = joined.filter(col("source") === "src0")
      .select(col("embedding").as("b_emb"))
    val corp = joined.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("lang"), col("embedding"))
    corp.crossJoin(broadcast(bench))
      .select(col("doc_id"), col("lang"),
        Relational.r4(CosineSimilarity(col("embedding"), col("b_emb"))).as("sim"))
      .groupBy("doc_id", "lang").agg(max("sim").as("mx"))
      .withColumn("flagged", (col("mx") >= threshold).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("flagged").as("n_flagged"),
        (count(lit(1)) - sum("flagged")).as("n_kept"))
      .orderBy("lang")
  }

  /** Corpus datasheet (c18) — the dataset-card summary a corpus
    * release ships (Gebru et al., "Datasheets for Datasets"), as one
    * stacked (metric, value) report: size (docs/tokens), composition
    * (langs/sources), hygiene (exact-dup docs, verified near-dup
    * pairs) and a quality aggregate. The operator that turns the
    * pipeline family's measurements into the single artifact a data
    * consumer reads first; every figure is the SAME definition the
    * standalone queries certify (fingerprint = d01's, near-dup pairs
    * = d04's verified sketch, quality = t02's score), so the
    * datasheet cannot drift from the operators it summarizes.
    *
    * Scale design: the base metrics are ONE scalar aggregation over a
    * narrow scan (distinct-counts on lang/source/fingerprint — the
    * fingerprint one shuffles 32-byte keys, the d01 discipline); the
    * near-dup figure reuses the full d04 banded-LSH pipeline with its
    * certified shape. All values are exact integers (quality mean in
    * integer milli-units via LONG division — no float ever
    * aggregates). Reference analog: the observe/report chains of
    * streamable/stream.py:230-326, lifted to a corpus-level card. */
  def datasheet(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis.{tokenCount, qualityScore, fingerprint}
    val qi = floor(qualityScore(col("text")) * lit(1e4) + lit(0.5))
      .cast("long")
    val base = t(s, dir, "documents")
      .select(tokenCount(col("text")).cast("long").as("nt"),
        col("lang"), col("source"), fingerprint(col("text")).as("fp"),
        qi.as("qi"))
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        (count(lit(1)) - countDistinct("fp")).as("n_exact_dup_docs"),
        sum("qi").as("sum_qi"))
      .withColumn("mean_quality_milli",
        expr("(sum_qi * 1000) div (n_docs * 10000)"))
    val baseRows = base.selectExpr(
      "stack(6, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
        "'n_langs', n_langs, 'n_sources', n_sources, " +
        "'n_exact_dup_docs', n_exact_dup_docs, " +
        "'mean_quality_milli', mean_quality_milli) AS (metric, value)")
    val nearDups = Dedup.minhashLshPairs(s, dir)
      .agg(count(lit(1)).as("value"))
      .select(lit("n_neardup_pairs").as("metric"), col("value"))
    baseRows.unionByName(nearDups).orderBy("metric")
  }

  /** Corpus snapshot diff (c19): the release-to-release accounting
    * every versioned training corpus needs — which documents were
    * added, removed, modified, or carried unchanged between two
    * snapshots, counted with their character mass. Comparison is by
    * 32-byte md5 FINGERPRINT, never by body (the d01 discipline: the
    * full outer join on doc_id shuffles ids and hashes only, so at
    * 100 TB the wire carries ~40 bytes/doc while the text stays in
    * its scan). One hash shuffle per side, one join, one tiny
    * aggregate. The two snapshots are derived deterministically from
    * the gate corpus (old omits doc_id≡7 (mod 10) — those are "added";
    * new omits ≡4 — "removed"; ≡3 gets a suffixed body — "modified"),
    * and the oracle replays the same derivation, so the op under
    * test is the diff machinery itself. Reference analog: the
    * pairwise set reasoning of streamable's `+`/distinct composition
    * (streamable/stream.py:117-165) lifted to keyed snapshots. */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val old = d.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("fp_old"),
        col("n_chars").as("chars_old"))
    val nw = d.filter(col("doc_id") % 10 =!= 4)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("fp_new"),
        col("n_chars").as("chars_new"))
    // full-outer as a SHUFFLED HASH join (Spark ≥3.1 supports
    // full-outer SHJ): both sides are id+hash projections of the same
    // corpus, so neither needs a sort — the hint keeps the sort-free
    // plan the registry gate requires without changing the shuffle
    old.hint("shuffle_hash").join(nw, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "unchanged")
          .otherwise("modified"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("chars_new"), col("chars_old"))).as("n_chars"))
      .orderBy("status")
  }

  /** The LLM-data INGEST pipeline composed end-to-end (c22) — the
    * batch twin of the streaming serve stack
    * ([[graft.streaming.Streams.decontamGateStream]] →
    * [[graft.streaming.Streams.qualityGateStream]] →
    * [[graft.streaming.Streams.perplexityGateStream]] →
    * [[graft.streaming.Streams.bpeEncodeIdsStream]] → packing), ALL
    * FOUR quality signals in one chain:
    * (1) exact-fingerprint decontamination against the benchmark
    * set (the d01/c04 md5 key — a leaked eval doc dies at the front
    * door), (2) the TRAINED t21 classifier as the quality filter,
    * served from its persisted artifact ([[graft.ops.TextAnalysis
    * .readQualityModel]] — train once upstream, every ingest run is
    * a one-file read), (3) the LM-perplexity gate (the c23 CCNet
    * signal, served from the persisted bigram LM
    * [[graft.ops.TextAnalysis.readBigramLmModel]]) under the SAME
    * pure-integer lm < thr·nb predicate — bigram-less docs DROP,
    * c23's conservative n_unscored default, (4) the trained
    * tokenizer's id encoding (the c20 numbering via
    * [[bpeSymbolIdRow]]'s shared definitions), and (5) budget
    * packing through the ONE [[withPackId]] window c02/c08/c20
    * share. Per-lang drop accounting at every stage —
    * n_raw → n_contam / n_lowq / n_surprising → n_kept, plus packs
    * and surviving token mass: the numbers an ingest SLO dashboard
    * actually shows.
    *
    * What c22 certifies is the COMPOSITION (each stage is already
    * individually oracled — c04's gate twin, t21/c21, c23/t24,
    * c20): one DuckDB chain replays fingerprint → verdict →
    * surprise → encode → pack and must match bit-for-bit. Scale
    * shape is the sum of the stages': benchmark fingerprints and
    * all three model rows broadcast; scoring, LM folding and
    * encoding are in-row; the ONLY corpus shuffle is the
    * lang-partitioned pack window (the sanctioned c08 shape); every
    * rollup is languages-wide. Models train on the FULL corpus
    * upstream of the gate (the production order: artifacts exist
    * before ingest), so their weights are the same rows
    * t21/t22/t24/c20 certify. */
  def llmIngestChainStats(s: SparkSession, dir: String,
      budget: Long = 2048, rounds: Int = 6,
      benchSource: String = "src0",
      thrMicronat: Long = TextAnalysis.perplexityThrDefault): DataFrame = {
    import graft.ops.TextAnalysis
    val docs = t(s, dir, "documents")
    val raw = docs.filter(col("source") =!= benchSource)
    val benchFps = docs.filter(col("source") === benchSource)
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val withFp = raw.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val survivors = withFp.join(broadcast(benchFps), Seq("fp"), "left_anti")
    // the model row resolves (artifact address + broadcast) ONCE for
    // both consumers below
    val model = broadcast(TextAnalysis.readQualityModel(s, dir))
    def classified(df: DataFrame): DataFrame = df
      .crossJoin(model)
      .withColumn("pred", (TextAnalysis.classifierScoreCol(
        col("text"), col("wm"), col("w_oov"), col("prior")) > 0L)
        .cast("long"))
    // the classifier-verdict counter reads ONE narrow checkpointed
    // pass (lang, pred — bytes per doc, never text); the payload path
    // below re-runs the fold once more — in production that second
    // pass IS the ingest write, so the chain's total is two corpus
    // passes: verdicts + payload
    val flags = classified(survivors).select("lang", "pred")
      .localCheckpoint(eager = false)
    val kept = classified(survivors).filter(col("pred") === 1L)
    // LM-perplexity gate on the classifier's survivors — THE shared
    // [[TextAnalysis.perplexityGate]] definition the streaming serve
    // path delegates to, against the broadcast persisted model
    val lmGated = TextAnalysis.perplexityGate(
      kept.select("doc_id", "lang", "text"),
      TextAnalysis.readBigramLmModel(s, dir), thrMicronat)
    // trained-tokenizer encode: the SAME [[bpeWordIdMapRow]] the c20
    // packer broadcasts (survivor words ⊆ corpus words, so the table
    // is total here — the sorted_lookup kernel stays fail-loud on a
    // stale artifact and probes in O(log V), not a map linear scan)
    val withIds = lmGated
      .crossJoin(broadcast(bpeWordIdMapRow(s, dir, rounds)))
      .select(col("doc_id"), col("lang"),
        flatten(transform(
          regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
          w => bpeIdsOrRaise(w))).as("ids"))
      .withColumn("n_tok", size(col("ids")).cast("long"))
    val packRollup = withPackId(withIds, budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        countDistinct("pack_id").as("n_packs"),
        sum("n_tok").as("n_tokens"))
    val rawN = raw.groupBy("lang").agg(count(lit(1)).as("n_raw"))
    // n_surv counts the MODEL-INDEPENDENT survivors frame, not flags:
    // the flags pass rides the model cross join, and a model artifact
    // that reads empty would silently zero the survivor count (and
    // report every doc contaminated) instead of only zeroing the
    // model-dependent verdict counters
    val survN = survivors.groupBy("lang").agg(count(lit(1)).as("n_surv"))
    val clsN = flags.filter(col("pred") === 1L)
      .groupBy("lang").agg(count(lit(1)).as("n_cls"))
    rawN.join(survN, Seq("lang"), "left")
      .join(clsN, Seq("lang"), "left")
      .join(packRollup, Seq("lang"), "left")
      .select(col("lang"), col("n_raw"),
        (col("n_raw") - coalesce(col("n_surv"), lit(0L))).as("n_contam"),
        (coalesce(col("n_surv"), lit(0L)) -
          coalesce(col("n_cls"), lit(0L))).as("n_lowq"),
        (coalesce(col("n_cls"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_surprising"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_packs"), lit(0L)).as("n_packs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("lang")
  }
}
