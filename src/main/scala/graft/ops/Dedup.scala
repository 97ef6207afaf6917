package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Relational.{t, r3, r4}
import graft.stream.Ordered

/** Deduplication suite for training-data pipelines, each variant
  * designed shuffle-parallel:
  *
  *  - exact: hash-groupBy on a fingerprint (one shuffle on a 32-byte
  *    key — at 100 TB dedup the md5, never the document body).
  *  - MinHash + LSH: shingle → minhash signature → band buckets →
  *    candidate pairs from bucket joins → exact-Jaccard verify.
  *    Candidate generation touches only same-bucket pairs, the classic
  *    way to avoid the O(n²) cross join at corpus scale.
  *  - SimHash: 64-bit signature; near-dups = same band in ≥1 of 8
  *    8-bit bands (pigeonhole-complete for hamming ≤ 7) then
  *    hamming ≤ k verify.
  *  - n-gram Jaccard: exact pairwise similarity via a shingle
  *    self-join — the ground-truth (quadratic-ish) path used to
  *    validate the sketches at small SF.
  *  - embedding cosine: see [[Similarity]].
  */
object Dedup {

  /** Melt `n` per-row sketch columns `f(0)..f(n-1)` into
    * (idCols..., idxName, valName) rows — the shared LSH-banding shape:
    * candidate generation over ANY multi-table sketch becomes ONE
    * self-join on (idx, value) instead of `n` band-wise joins unioned.
    * Used by MinHash bands, SimHash bands, hyperplane tables
    * ([[Similarity.lshTopK]]). */
  def meltSketch(df: DataFrame, idCols: Seq[Column], n: Int,
      f: Int => Column, idxName: String, valName: String): DataFrame = {
    val entries = (0 until n).flatMap(i => Seq(lit(i), f(i)))
    df.select(idCols :+ explode(map(entries: _*)).as(Seq(idxName, valName)): _*)
  }

  /** Per-doc distinct shingle-hash SETS, map-side: tokenize → n-gram
    * slices → xxhash64 → `array_distinct`, all inside one narrow
    * projection. Two scale wins over the naive explode-then-distinct:
    * (a) everything downstream moves 8-byte longs, never ~n-word
    * strings; (b) the dedup is per-document by definition, so
    * `array_distinct` inside the row REPLACES a corpus-wide
    * `distinct()` shuffle — the set semantics cost zero data movement.
    * Jaccard over hashed shingle sets equals Jaccard over the strings
    * up to xxhash64 collisions — P(any collision) ≈ m²/2⁶⁵ ≈ 10⁻⁸ at a
    * million distinct shingles. Output: (doc_id, hs Array[Long],
    * n_sh).
    *
    * Lazy-checkpoint discipline (applies to EVERY
    * `localCheckpoint(eager = false)` consumer of these frames, noted
    * once here): lazy local checkpoints snapshot data as-of the FIRST
    * action. That is safe because (a) every checkpointed frame in
    * this library is DETERMINISTIC (pure functions of the parquet
    * inputs — a future rand()-based stage must NOT copy the
    * eager=false pattern: under task retries a concurrent consumer
    * branch could observe values the checkpoint didn't snapshot), and
    * (b) every first consumer is a full aggregate/join — a
    * limit-shaped first consumer would materialize only the partitions
    * the limit touched and is a correctness hazard. */
  def shingleHashSets(docs: DataFrame, n: Int,
      carry: Seq[String] = Seq.empty): DataFrame =
    sketchSets(docs, n, carry, withSimhash = false)

  /** Shared builder for the per-doc text sketches: distinct shingle
    * hashes, optionally fused with the 64-bit SimHash — BOTH derive
    * from the same tokenize, so a pipeline needing both (d05b's
    * sketch + exact-verify) computes them in ONE projection over one
    * corpus scan instead of two. Restricting the simhash to docs with
    * ≥ n tokens is output-neutral for the verified pipeline: a pair
    * involving a doc too short to shingle can never survive the
    * exact-Jaccard verify's inner join. */
  private def sketchSets(docs: DataFrame, n: Int, carry: Seq[String],
      withSimhash: Boolean): DataFrame = {
    import graft.functions.SimHash
    val toks = split(trim(col("text")), "\\s+")
    val carried = carry.map(col)
    val sim =
      if (withSimhash)
        Seq(SimHash(transform(col("w"), t => xxhash64(t))).as("simhash"))
      else Nil
    docs.select(col("doc_id") +: carried :+ toks.as("w"): _*)
      .filter(size(col("w")) >= n)
      .select(col("doc_id") +: (carried ++ sim) :+
        shingleHashArr(col("w"), n).as("hs"): _*)
      .withColumn("n_sh", size(col("hs")).cast("long"))
  }

  /** The per-doc DISTINCT shingle-hash ARRAY expression over a token
    * array column — ONE definition behind [[sketchSets]] and the
    * all-docs fused scans (d16), so the shingle formula cannot
    * drift between consumers. Caller guarantees size(w) ≥ n (or
    * guards with `when`): sequence() rejects a negative upper bound. */
  private[ops] def shingleHashArr(w: Column, n: Int): Column =
    array_distinct(transform(sequence(lit(0), size(w) - n),
      i => xxhash64(concat_ws(" ", slice(w, i + 1, lit(n))))))

  /** [[sketchSets]] keeping EVERY document — short docs carry an
    * empty `hs` (they cannot shingle, so they never pair; callers
    * feed the LSH stage `filter(n_sh > 0)`, which is exactly the
    * row set [[sketchSets]] emits) — plus caller-computed carry
    * columns riding the one scan (lang, n_chars, quality, token
    * counts). The d16 one-scan discipline generalized: a survivor
    * summary or funnel whose FINAL aggregation needs the whole
    * corpus used to re-scan and re-tokenize the text per stage; now
    * ONE checkpointed projection feeds sketching and every summary
    * column, so the corpus text is read and tokenized exactly once
    * per query. `docs` must hold doc_id, text, and the `carry`
    * columns (already computed — this body only tokenizes). */
  private[ops] def sketchSetsAllDocs(docs: DataFrame, n: Int,
      carry: Seq[String], withNTok: Boolean = false): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    // nt = size(tokens(text)) derived from the SAME tokenize as the
    // shingles (tokens ≡ split(trim, \s+) — TextAnalysis.tokens), so
    // a summary consumer that needs the corpus token count reads it
    // off this one scan instead of re-tokenizing the text (the c06
    // second-tokenize fix; r4 of the d16 one-scan discipline)
    val nt = if (withNTok) Seq(size(col("w")).cast("long").as("nt")) else Nil
    docs.select(col("doc_id") +: carry.map(col) :+ toks.as("w"): _*)
      .select(col("doc_id") +: (carry.map(col) ++ nt) :+
        when(size(col("w")) >= n, shingleHashArr(col("w"), n))
          .otherwise(array().cast("array<bigint>")).as("hs"): _*)
      .withColumn("n_sh", size(col("hs")).cast("long"))
  }

  /** Exact dedup via content fingerprint, first-wins (lowest doc_id
    * survives), summarized per lang. */
  def exactDedupByLang(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    Ordered.firstWins(docs, keys = Seq(col("fp")), ord = Seq(col("doc_id")))
      .groupBy("lang").agg(count(lit(1)).as("n_unique"))
      .orderBy("lang")
  }

  /** Exact duplicate groups: fingerprints appearing more than once,
    * with their member doc_ids (sorted, comma-joined for oracle
    * comparability). */
  def duplicateGroups(s: SparkSession, dir: String): DataFrame =
    duplicateGroupsOf(t(s, dir, "documents"))

  /** [[duplicateGroups]]'s core over an arbitrary (doc_id, text)
    * frame — split out so the non-empty branch is witnessable on a
    * planted-duplicate corpus (OpsSpec "d02 witness": the gate-SF
    * corpus has no exact dups, so the registry row alone only ever
    * exercises the empty result). */
  def duplicateGroupsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("doc_ids"))
      .filter(col("n") > 1)
      .orderBy("fp")

  /** Exact pairwise n-gram Jaccard over shingle self-join: pairs with
    * J >= `threshold`. Ground truth for the MinHash sketch below. */
  def ngramJaccardPairs(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    // localCheckpoint, not cache(): consumed four times below (two
    // join sides + two size lookups) but a cache() entry would leak
    // into the caller's session for the life of the SparkSession (see
    // [[minhashLshPairs]]); checkpointed blocks are GC-cleaned.
    val sets = shingleHashSets(t(s, dir, "documents"), n).localCheckpoint(eager = false)
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    // sizes are carried on the set rows — no counting aggregation
    val sizes = sets.select(col("doc_id"), col("n_sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint on sizes: it is |corpus|-sized (huge at
    // 100 TB); AQE broadcasts it automatically at small SF
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "sz_b"), "doc_b")
      .withColumn("jaccard",
        r3(col("inter") / (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric n-gram CONTAINMENT pairs (d19): C(A→B) =
    * |S(A)∩S(B)| / |S(A)| — the subset-duplication signal Jaccard
    * structurally misses. A short doc fully quoted inside a long one
    * has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so MinHash-LSH
    * (tuned for symmetric resemblance) never surfaces it; yet
    * excerpt/wrapper duplication is exactly what leaks benchmark text
    * into training corpora. Emits pairs where EITHER direction
    * reaches `threshold`, with both directed scores.
    *
    * Scale design — prefix filtering (the AllPairs/PPJoin family,
    * Bayardo et al. 2007; Xiao et al. 2008): order each doc's
    * shingles globally rarest-first (df asc, hash asc); if
    * max(C(A→B), C(B→A)) ≥ τ, the contained side X shares ≥ 1 of its
    * first ⌊(1−τ)·|X|⌋+1 shingles with the other doc — so candidates
    * come from PREFIX(X) ⋈ FULL(Y), never the full shingle self-join
    * (at τ=0.7 the probe side is ~30% of the corpus shingle volume,
    * and only its RAREST shingles, so hot-shingle blowup is bounded
    * by construction; AQE splits any residual hot hash). The exact
    * in-row array_intersect verify then runs on candidates only (the
    * [[pairJaccard]] discipline). The DuckDB oracle computes the
    * UNFILTERED quadratic containment — equality certifies the
    * prefix filter lossless, measured, every gate run.
    *
    * Cross-engine determinism: the threshold is integer-milli
    * (`inter·1000 ≥ τmilli·|X|` — longs both sides, no float
    * boundary); reported scores re-derive r3 from exact longs.
    * Reference analog: the distinct()-family dedup decision of
    * streamable/stream.py:166-187, asymmetric-containment variant. */
  def containmentPairs(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.7): DataFrame = {
    val thMilli = math.round(threshold * 1000)
    val sets = shingleHashSets(t(s, dir, "documents"), n).localCheckpoint(eager = false)
    val sh = sets.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
    // global shingle document-frequencies: vocab-sized, joins unhinted
    // (AQE broadcasts at gate scale; web-scale degrades to a hash
    // shuffle of 16-byte (h, df) pairs)
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("h"))
    val prefix = sh.join(dfreq, "h")
      .withColumn("r", row_number().over(byDoc))
      .where(col("r") <= floor((lit(1000L) - thMilli) * col("n_sh") / 1000L) + 1)
      .select(col("doc_id").as("doc_p"), col("h"))
    val cand = prefix.join(sh.select(col("doc_id").as("doc_f"), col("h")), "h")
      .where(col("doc_p") =!= col("doc_f"))
      .select(least(col("doc_p"), col("doc_f")).as("doc_a"),
        greatest(col("doc_p"), col("doc_f")).as("doc_b"))
      .distinct()
    val sa = sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
      col("n_sh").as("sz_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
      col("n_sh").as("sz_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .where(col("inter") * 1000L >= lit(thMilli) * col("sz_a") ||
        col("inter") * 1000L >= lit(thMilli) * col("sz_b"))
      .select(col("doc_a"), col("doc_b"),
        r3(col("inter") / col("sz_a")).as("cont_a"),
        r3(col("inter") / col("sz_b")).as("cont_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signatures over per-doc shingle-hash sets (`hs` column
    * from [[shingleHashSets]]): permutation i's value is
    * xxhash64(i, h) minimized over the set — computed by the fused
    * [[graft.functions.MinHashSig]] kernel (one JVM loop per row;
    * value-IDENTICAL to the composable
    * `array_min(transform(hs, h => xxhash64(i, h)))`, which evaluates
    * numHashes interpreted lambdas per shingle — FunctionsSpec
    * asserts bit-equality). The shingle sets are already row-local,
    * so the signature needs no groupBy: zero shuffle, the signature
    * stage fuses into the scan projection. */
  def minhashSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    import graft.functions.MinHashSig
    sets.select(col("doc_id"), MinHashSig(col("hs"), numHashes).as("_sig"))
      .select(col("doc_id") +:
        (0 until numHashes).map(i => element_at(col("_sig"), i + 1).as(s"h$i")): _*)
  }

  /** MinHash-LSH near-dup candidate pairs, verified with exact
    * Jaccard. `bands` × `rows` must equal `numHashes`. Probability a
    * pair with Jaccard j collides: 1 - (1 - j^rows)^bands — 16×2
    * recalls j ≥ 0.6 w.p. 0.9992 (and ≥ 0.8 w.p. 1 - 8e-8) at half
    * the hashing cost of 16×4. The trade for the shorter bands is a
    * wider candidate funnel: pairs at j ≈ 0.3 collide ~78% of the
    * time (vs ~12% under 16×4), so on a corpus with much moderate
    * cross-doc similarity the exact-verify stage scales with that
    * admitted-candidate volume, not with the near-dup count — if
    * verify dominates, move to 16×4 for its far sharper low-j
    * rejection. 16×4 trades recall at the threshold itself: it
    * collides a j = 0.6 pair w.p. only 1-(1-0.6⁴)^16 ≈ 0.891 (vs
    * 16×2's 0.9992), so it is recall-equivalent only on corpora whose
    * true near-dups sit at j ≥ 0.9 (both ≥ 0.99996 there) — like this
    * one. Precision is unaffected either way: verify is exact.
    * At 100 TB: candidate generation is a self-join on
    * (band, bandHash) — only same-bucket docs ever meet, and AQE
    * handles hot buckets.
    *
    * Materialization strategy (canonical note — the other sketches
    * reference it): exactly ONE frame per sketch pipeline is
    * materialized, the narrowest one consumed more than once — here
    * `sets` (one row per doc; feeds the signature projection once and
    * the exact-verify twice). The fat melted band frame is NOT
    * materialized: both self-join sides shuffle it on the same
    * (band, hash) key from the in-memory sets, and Spark's
    * ReuseExchange collapses the identical map stages, so
    * materializing it only adds a write+read of a ×bands-sized frame
    * (measured +30% on d04 in r4). `localCheckpoint` rather than
    * `cache()` because a cache() entry outlives the call in the
    * session's CacheManager (the returned frame is lazy, so the
    * library can never unpersist it), while checkpointed blocks are
    * released by the ContextCleaner once the result frame is GC'd.
    * The trade: localCheckpoint truncates lineage and stores
    * UNREPLICATED executor-local blocks — disk-backed against
    * eviction (the default level keeps disk), but on a multi-node
    * cluster an executor loss or dynamic-allocation decommission
    * makes them unrecoverable and fails the job (rerun it). Long-lived
    * production pipelines should either disable executor decommission
    * around these stages or swap in reliable `checkpoint()` to a
    * cluster store; the plan shape is unchanged. */
  def minhashLshPairs(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 16, rows: Int = 2,
      threshold: Double = 0.6): DataFrame =
    minhashLshPairsOf(t(s, dir, "documents"), n, bands, rows, threshold)

  /** [[minhashLshPairs]] over any (doc_id, text) frame — the seam the
    * composed curation pipeline drives (dedup over the DECONTAMINATED
    * corpus, not the raw table). */
  def minhashLshPairsOf(docs: DataFrame, n: Int = 5,
      bands: Int = 16, rows: Int = 2,
      threshold: Double = 0.6): DataFrame =
    // the one materialized frame: narrow, consumed 3× (see scaladoc)
    minhashLshPairsFromSets(shingleHashSets(docs, n).localCheckpoint(eager = false),
      bands, rows, threshold)

  /** The sets-level seam: near-dup pairs from an ALREADY-MATERIALIZED
    * (doc_id, hs, n_sh) frame — the caller owns the checkpoint, so a
    * pipeline that computed shingle sets for another stage (the
    * composed curation chain's contamination pass) feeds dedup from
    * the same single tokenize+hash pass instead of re-scanning the
    * corpus text. Contract: `sets` must be materialized (checkpoint/
    * persist) — it is consumed three times below. */
  def minhashLshPairsFromSets(sets: DataFrame,
      bands: Int = 16, rows: Int = 2,
      threshold: Double = 0.6,
      probeFilter: Option[Column] = None): DataFrame =
    // exact-Jaccard verify on candidates only
    pairJaccard(minhashLshCandidates(sets, bands, rows, probeFilter),
      sets, threshold)

  /** The banded candidate stage alone: (doc_a, doc_b) pairs colliding
    * in ANY band, doc_a < doc_b, deduped — the seam d20 re-verifies
    * with a DIFFERENT exact metric (edit distance) than the Jaccard
    * the standard pipeline applies. */
  def minhashLshCandidates(sets: DataFrame,
      bands: Int, rows: Int,
      probeFilter: Option[Column] = None): DataFrame = {
    val numHashes = bands * rows
    val sig = minhashSignatures(sets, numHashes)
    // band b = hash of (h_{b*rows} ... h_{b*rows+rows-1}); melt the
    // bands into (doc_id, band_idx, band_hash) rows so candidate
    // generation is ONE groupBy-shaped self-join on (band_idx, hash)
    // instead of `bands` separate shuffles. Deliberately NOT
    // materialized — ReuseExchange computes the map side once.
    val melted = meltSketch(sig, Seq(col("doc_id")), bands,
      b => xxhash64((b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*),
      "band_idx", "bh")
    // probeFilter restricts the LATER-doc side of every emitted pair —
    // the incremental batch-vs-index seam (d09): the full melted frame
    // is the index, the filtered side is the probing batch
    val probe = probeFilter.fold(melted)(melted.filter)
    melted.as("x")
      .join(probe.as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Character-level edit-distance near-dup pairs (d20): the near-dup
    * family's EDIT-METRIC member — catches small in-place corruptions
    * and tracked-change variants that shingle Jaccard can only see
    * through the q-grams they break. Candidates come from the SAME
    * MinHash banding as d04 (an edit of distance d destroys at most
    * d·n word shingles, so low-distance pairs sit deep in the LSH's
    * high-recall region — measured on this corpus every ed≤τ pair has
    * shingle Jaccard ≥ 0.87); the verify stage is exact
    * `levenshtein`, so precision is absolute and the DuckDB oracle —
    * the UNFILTERED quadratic scan, the d19 discipline — certifies
    * the candidate funnel lossless at every gate run.
    *
    * 100 TB shape: candidate generation is the banded (band, hash)
    * self-join (never all-pairs); the verify is a two-stage lossless
    * funnel on the candidate pairs — (1) an O(1) LENGTH gate
    * (levenshtein ≥ |len(a) − len(b)|, so |Δlen| > τ pairs cannot
    * qualify and skip the kernel entirely), then (2) Spark's
    * THRESHOLDED levenshtein, the banded DP that visits only the
    * 2τ+1-wide diagonal — O(len·τ) per survivor instead of O(len²),
    * with early exit the moment a row's minimum exceeds τ. Measured
    * at ×16 the unbanded full kernel put d20 at 8.8× the ×1 wall; the
    * banded funnel is the form that holds the candidate-volume trade.
    * A corpus whose near-dups are NOT also lexical near-dups (ed ≤ τ
    * with tiny shingle overlap is impossible for word text, but
    * binary-ish fields differ) would need a positional q-gram count
    * filter instead — the banding seam accepts any candidate
    * generator. */
  def editDistancePairs(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 16, rows: Int = 2, maxDist: Int = 10): DataFrame = {
    val docs = t(s, dir, "documents")
    val sets = shingleHashSets(docs, n).localCheckpoint(eager = false)
    val cand = minhashLshCandidates(sets, bands, rows)
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long"))
      // the thresholded kernel reports -1 for "above τ" — exact
      // distances come back only for qualifying pairs, same output
      // rows as the unbanded form (the oracle certifies this)
      .filter(col("edit_dist") >= 0)
      .select("doc_a", "doc_b", "edit_dist")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact Jaccard for an explicit candidate-pair set: each pair pulls
    * both docs' shingle-hash ARRAYS (two equi-joins on doc_id) and
    * intersects them in place — |pairs| rows of O(n+m) hash
    * intersections, no exploded-shingle shuffle, no re-grouping. The
    * verify cost scales with the candidate set (which LSH already made
    * ≪ n²), not with the corpus. */
  private def pairJaccard(pairs: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
      col("n_sh").as("sz_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
      col("n_sh").as("sz_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard",
        r3(col("inter") / (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    * buckets candidates ([[Similarity.lshBuckets]]), exact cosine
    * verifies. The semantic-dedup member of the family (exact /
    * Jaccard / MinHash / SimHash cover lexical duplication; this
    * catches paraphrases that share an embedding). At the near-dup
    * operating point (cosine ≥ 0.9, per-bit agreement p ≥ 0.856) the
    * 12-bit × 16-table sketch recalls a true pair w.p.
    * 1-(1-p¹²)¹⁶ ≈ 0.93, → 0.994 at cosine 0.95 — while random pairs
    * collide at only 2⁻¹²/table, so candidate volume stays
    * ~n²·16/2¹³ ≪ n². The corpus never self-joins un-bucketed; at
    * 100 TB only same-bucket pairs meet, and AQE splits any hot
    * bucket.
    *
    * Banding must TRACK CORPUS SIZE: expected random candidates grow
    * n²·tables/2^bits, so bits is a log₂(n)-scale knob — ScaleCheck
    * measured the old 8×8 default going 14× superlinear at a ×16
    * corpus while 12×16 (same 0.93 recall, funnel 8× sharper) stayed
    * near-linear AND ran 2× faster at ×1, and fixed 12×16 itself
    * going 48× at ×64 where [[sizedBanding]] held 7.6×. The DEFAULT
    * therefore consults corpus size: bits/tables of 0 (the default)
    * resolve via [[sizedBanding]] at the declared corpus size `n` —
    * a parameter or the session conf `graft.neardup.n` (defaulting
    * to the sf0.1 seed 2000, which sizedBanding maps to exactly the
    * long-shipped 12×16), the pqTopK dim-via-conf pattern: a bigger
    * corpus is a config change, not a code change, and resolution
    * reads a conf — zero driver jobs. Explicit bits+tables still
    * override (ScaleCheck's fixed-banding warning rows use this).
    * (On the synthetic testdata no pair exceeds cosine 0.52, so the
    * verified result is empty — matching the brute-force oracle.) */
  def embeddingNearDups(s: SparkSession, dir: String, bits: Int = 0,
      tables: Int = 0, threshold: Double = 0.9, nParam: Long = 0): DataFrame = {
    val (b, tb) =
      if (bits > 0 && tables > 0) (bits, tables)
      else {
        require(bits == 0 && tables == 0,
          "embeddingNearDups: set both bits and tables, or neither (sized default)")
        val n = if (nParam > 0) nParam
          else s.conf.get("graft.neardup.n", "2000").toLong
        sizedBanding(n)
      }
    embeddingNearDupPairs(t(s, dir, "embeddings"), b, tb, threshold)
  }

  /** The "banding must track corpus size" rule of
    * [[embeddingNearDups]] as executable math. `bits` holds per-bucket
    * occupancy constant (`ceil(log₂(n/occupancy))`), which keeps the
    * random-collision candidate volume `n²·tables/2^bits` linear in n;
    * `tables` is then the smallest count whose OR-construction recall
    * `1-(1-p^bits)^tables` meets `targetRecall` at the per-bit
    * agreement `pBit` of the operating point (0.856 ⇔ cosine 0.9).
    * Reproduces the shipped 12×16 default exactly at the sf0.1 seed
    * (n=2000, occupancy ½) — OpsSpec pins that, so the default and
    * the formula cannot drift apart. ScaleCheck's `_sized` rows run
    * this at each scale: the fixed-banding rows are the measured
    * warning (quadratic collision term at ×64), these are the
    * production configuration the warning demands. */
  def sizedBanding(n: Long, pBit: Double = 0.856, targetRecall: Double = 0.93,
      occupancy: Double = 0.5): (Int, Int) = {
    require(n > 0 && pBit > 0 && pBit < 1 && targetRecall > 0 && targetRecall < 1)
    val bits = math.max(1,
      math.ceil(math.log(n / occupancy) / math.log(2)).toInt)
    val pTable = math.pow(pBit, bits)
    val tables = math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable)).toInt)
    (bits, tables)
  }

  /** Core of [[embeddingNearDups]] over any (vec_id, embedding) frame
    * — also the seam the planted-pair recall spec drives. */
  def embeddingNearDupPairs(emb: DataFrame, bits: Int,
      tables: Int, threshold: Double): DataFrame = {
    // NOTHING is materialized in this pipeline: bucketing is the
    // codegen'd map-side HyperplaneBuckets kernel (cheap to recompute,
    // and the self-join sides collapse under ReuseExchange anyway), so
    // unlike the shingle sketches there is no expensive narrow frame
    // worth a checkpoint — see the materialization note on
    // [[minhashLshPairs]]
    val buckets = Similarity.lshBuckets(emb, "vec_id", "embedding", bits, tables)
    // melt the tables into (table_idx, bucket) rows: candidate
    // generation is ONE self-join (same shape as [[minhashLshPairs]] /
    // [[simhashPairs]]) instead of `tables` band-wise joins unioned
    val melted = meltSketch(buckets, Seq(col("vec_id")), tables,
      tb => col(s"b$tb"), "tbl", "bk")
    val candidates = melted.as("x")
      .join(melted.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bk") === col("y.bk") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    candidates.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("sim", r4(Similarity.cosine(col("emb_a"), col("emb_b"))))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** Connected components over an undirected edge list (src, dst) —
    * the step that turns pairwise near-dup EDGES into duplicate
    * CLUSTERS (keep one doc per component, drop the rest: the actual
    * dedup decision at corpus scale). Iterative min-label propagation
    * WITH pointer doubling: every vertex starts labeled with itself;
    * each round, each vertex takes the min label among itself and its
    * neighbors (one edge hop), then follows its label's label (a
    * pointer-jumping hop — labels are vertex ids, so the label table
    * indexes itself). The edge hop alone converges in O(component
    * diameter) rounds; the doubling hop compresses label chains
    * geometrically, bounding the loop at O(log diameter) — the same
    * round bound as the alternating large-star/small-star scheme of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * at two shuffles per round. A 200-vertex chain converges in 9
    * rounds (OpsSpec pins ≤ 12 via maxIter) where plain propagation
    * needs ~200. Each round's frontier is `localCheckpoint`ed so
    * lineage stays O(1) across iterations — the classic
    * iterative-algorithm-on-Spark discipline. Duplicate-cluster
    * graphs are quasi-cliques (tiny diameters) that exit in 2-3
    * rounds; the doubling is what keeps the pathological chain case
    * from blowing the round budget at corpus scale.
    *
    * Returns (id, cluster) with cluster = min vertex id in the
    * component. Eager (runs jobs at call time, like the checkpoints
    * it is built on).
    *
    * Driver-chattiness contract: ONE action per round. Each round's
    * whole lineage materializes in a single `localCheckpoint` job,
    * and the convergence sum rides that same job via `observe()` (a
    * CollectMetrics accumulator) instead of a separate `.head` — on a
    * 1000-executor cluster the loop costs rounds+2 scheduler
    * round-trips, not 3× that. r20 round shape: the edge-hop,
    * pointer-jump and self messages UNION into one min-aggregation
    * (two vertex-sized exchanges per round — the label-by-cluster
    * pointer join and the message aggregation — and the pre-
    * partitioned edge table never re-shuffles), replacing the
    * hop → left-join → doubling-self-join chain. Union hazard note
    * (why an earlier union shape was removed): `labels.union(msgs)`
    * built from MID-LINEAGE frames crashed Catalyst's Union
    * constraint rewrite when the frontier met itself in the doubling
    * self-join (AttributeMap key-not-found, re-verified on Spark
    * 4.1.2); the r20 union branches are all direct projections of
    * the CHECKPOINTED LogicalRDD leaf, which does not trigger it
    * (OpsSpec's chain/clique/converge matrix re-certifies every
    * gate). OpsSpec pins the action count with a
    * QueryExecutionListener. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.Observation
    // Convergence metric: labels only ever DECREASE, so Σ cluster (as
    // decimal — a Long sum can wrap at billions of 2⁶³-scale ids) is
    // strictly decreasing until the fixpoint.
    def sumExpr = coalesce(sum(col("cluster").cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("label_sum")
    def observedCheckpoint(df: DataFrame, name: String): (DataFrame, java.math.BigDecimal) = {
      val obs = Observation(name)
      val ckpt = df.observe(obs, sumExpr).localCheckpoint()
      (ckpt, obs.get("label_sum").asInstanceOf[java.math.BigDecimal])
    }
    // undirected: propagate both ways. Pre-partitioned by src ONCE
    // (r20): every round's edge hop joins on src — without this, the
    // EDGE table (the largest per-round frame at corpus scale)
    // re-shuffles every round; with it, only the vertex-sized label
    // table moves (and at gate scale the labels broadcast, so the
    // upfront repartition is the only edge movement at any scale).
    val bi = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(eager = false)
    // init fused with the first edge hop: label₀(v) = min(v, minimum
    // neighbor) — the same single shuffle the plain vertex-set
    // distinct() would cost, but one full propagation round ahead
    var (labels, prevSum) = observedCheckpoint(
      bi.select(col("src").as("id"), least(col("src"), col("dst")).as("cluster"))
        .groupBy("id").agg(min("cluster").as("cluster")),
      "cc_init")
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // FUSED round (r20): edge-hop messages, pointer-jump messages
      // and the self label all flow into ONE min-aggregation —
      // label'(v) = min(l(v), min_{u→v} l(u), l(l(v))) — instead of
      // the old hop → left-join → doubling-self-join chain (three
      // vertex-sized operators, two of them keyed off the fresh hop).
      // One aggregation exchange + one label-by-cluster join exchange
      // per round, both vertex-sized; the edge table never moves (see
      // `bi` above). Convergence/identity argument: labels are
      // monotone non-increasing, every message stays inside the
      // component, and a fixpoint of this update is constant along
      // edges and closed under self-pointing — which forces the
      // component minimum, the SAME fixpoint the hop+doubling round
      // reaches (the round COUNT may differ by a constant; the
      // convergence sum still strictly decreases until the fixpoint,
      // and OpsSpec's chain bound pins the round budget). The pointer
      // jump reads the PRE-hop labels (l(l(v)), not hop(hop(v))) —
      // that is what lets the three message families share one
      // shuffle. unionByName on three projections of the CHECKPOINTED
      // frame (a LogicalRDD leaf) — not of mid-lineage frames, which
      // is the shape that used to crash Catalyst's Union constraint
      // rewrite (see the scaladoc note).
      val selfMsgs = labels.select(col("id"), col("cluster").as("msg"))
      val edgeMsgs = bi.join(labels, bi("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster").as("msg"))
      val ptrMsgs = labels.toDF("pid", "pcl")
        .join(labels.toDF("jid", "jcl"), col("pcl") === col("jid"))
        .select(col("pid").as("id"), col("jcl").as("msg"))
      val (next, nextSum) = observedCheckpoint(
        selfMsgs.unionByName(edgeMsgs).unionByName(ptrMsgs)
          .groupBy("id").agg(min("msg").as("cluster")),
        s"cc_round_$iter")
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    require(!changed, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Duplicate clusters: near-dup pairs from the SCALE path
    * ([[minhashLshPairs]]: sketch candidates + exact-Jaccard verify)
    * become edges; [[connectedComponents]] merges transitive pairs
    * (a~b, b~c ⇒ {a,b,c} even when a,c never collided) into clusters.
    * One row per cluster: its min doc_id, size, and sorted members —
    * a dedup pipeline keeps `cluster` (the canonical doc) and drops
    * the other members. The oracle recomputes the same clusters from
    * the EXACT pairwise-Jaccard edges via a recursive CTE, so the
    * hash-match certifies sketch edges ≡ exact edges AND the
    * transitive closure. */
  def dupClusters(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    val pairs = minhashLshPairs(s, dir, n, threshold = threshold)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(edges)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        array_join(transform(array_sort(collect_list(col("id"))),
          x => x.cast("string")), ",").as("doc_ids"))
      .orderBy("cluster")
  }

  /** The dedup pipeline's END STATE — the reference `distinct()`
    * decision (streamable/stream.py:166-187: one survivor per
    * duplicate group) taken to corpus scale: [[dupClusters]] elects
    * each cluster's min doc_id canonical, every OTHER member is
    * dropped from the corpus via one left_anti join on doc_id, and
    * the surviving corpus is summarized per lang. The join strategy
    * is deliberately left to AQE: when the drop-list is small (a
    * lightly-duplicated corpus) AQE broadcasts it and the corpus
    * never shuffles, but real web corpora drop 20-50% of docs in
    * near-dup dedup — billions of ids at 100 TB — and a forced
    * `broadcast()` hint would OOM the driver instead of degrading to
    * a shuffle join. Runtime statistics, not a hint, pick the path. */
  def dedupSurvivors(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    val pairs = minhashLshPairs(s, dir, n, threshold = threshold)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val dropped = connectedComponents(edges)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    // the survivor summary deliberately RE-reads the parquet table:
    // it needs only (doc_id, lang, n_chars) — a column-pruned scan —
    // where routing it through the sketch checkpoint would drag the
    // shingle arrays through every row (LogicalRDD has no column
    // pruning); measured, the pruned re-scan wins at every SF
    t(s, dir, "documents")
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** [[dedupSurvivors]] with a QUALITY-aware canonical election: each
    * near-dup cluster keeps its highest-quality member (ties → min
    * doc_id, keeping the election total and deterministic) instead of
    * the reference's first-wins min-id. This is the knob production
    * dedup actually runs — when a page was crawled twice, keep the
    * cleaner extraction, not the smaller id.
    *
    * The election is one `max(struct(q, -id))` groupBy per cluster —
    * partial-aggregable (map-side combine) with O(1) state per
    * cluster, never a per-cluster sort/window; everything else
    * (sketch pipeline, CC, AQE-chosen anti join) is d08's machinery
    * unchanged. Survivor avg quality is reported so the election is
    * visible in the output (and in the oracle hash). */
  def dedupSurvivorsByQuality(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    val pairs = minhashLshPairs(s, dir, n, threshold = threshold)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // the quality column is consumed twice (election + survivor
    // summary) and costs a full tokenize per derivation — checkpoint
    // the NARROW (doc_id, lang, n_chars, q) frame once, so the text
    // is scored exactly once and both consumers read 30-byte rows.
    // (Deliberately NOT fused into the sketch checkpoint: LogicalRDD
    // has no column pruning, so riding the shingle arrays along would
    // cost more than this one narrow frame — the d08 re-scan note.)
    val quality = t(s, dir, "documents").select(col("doc_id"),
      col("lang"), col("n_chars"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .localCheckpoint(eager = false)
    val members = connectedComponents(edges)
      .join(quality.select(col("doc_id"), col("q")),
        col("id") === col("doc_id"))
      .select(col("id"), col("cluster"), col("q"))
    val canon = members.groupBy("cluster")
      .agg(max(struct(col("q"), (-col("id")).as("neg_id"))).as("m"))
      .select(col("cluster"), (-col("m.neg_id")).as("keep_id"))
    val dropped = members.join(canon, "cluster")
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("doc_id"))
    quality
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        // q is 4dp-quantized, so Σ floor(q·10⁴+½) is an exact integer
        // sum — immune to the engine-dependent double-summation order
        // that a plain sum(q)/count would hash-flake on (the q33/r2
        // cross-engine rounding discipline, applied to an average)
        r4(sum(floor(col("q") * 10000 + 0.5).cast("long")) / 10000.0 /
          count(lit(1))).as("avg_quality"))
      .orderBy("lang")
  }

  /** Incremental near-dup dedup: a NEW ingestion batch (doc_id >=
    * `splitId` — standing in for "today's crawl") is checked against
    * the EXISTING corpus index AND itself, without re-running the
    * corpus-wide self-join. This is the shape continuous ingestion
    * actually needs: the corpus side's banded signatures are an INDEX
    * (in production: precomputed once, stored bucketed by (band,
    * hash), appended per batch — the plan below recomputes them
    * inline because the certified query must be self-contained), and
    * candidate generation joins the small batch's bands against it —
    * cost scales with |batch| × bucket occupancy, not |corpus|².
    * Storage layout for the real index: a bucketed+sorted table on the
    * band hash, so a LARGE probe batch (bucketed the same way) joins
    * with no exchange on either side — BucketingSpec proves that
    * write-once/join-forever contract; a small batch simply
    * broadcasts its bands instead.
    * Emitted pairs: (a, b) with a < b and b in the new batch — every
    * duplication a batch ingest can introduce (new-vs-corpus and
    * new-vs-new), never corpus-internal pairs (those were settled when
    * THEIR batches landed). Exact-Jaccard verify on candidates only;
    * the oracle replays the same pair universe exactly. */
  def incrementalNearDups(s: SparkSession, dir: String, splitId: Long = 400,
      n: Int = 5, bands: Int = 16, rows: Int = 2,
      threshold: Double = 0.6): DataFrame = {
    // the shared LSH pipeline with the probe side restricted to the
    // batch: index = ALL docs' bands (in production, the stored band
    // table); probe = the batch — the join is batch-sized, and the
    // a < b predicate de-dups the new-vs-new pairs
    val sets = shingleHashSets(t(s, dir, "documents"), n).localCheckpoint(eager = false)
    minhashLshPairsFromSets(sets, bands, rows, threshold,
      probeFilter = Some(col("doc_id") >= splitId))
  }

  /** 64-bit SimHash per document: per-bit majority votes over the
    * token hashes — vote_i = (2·Σ bit_i) > T — computed by the fused
    * [[graft.functions.SimHash]] kernel (one JVM loop per row;
    * value-identical to the composable 64-fold `aggregate` +
    * threshold formulation, which evaluates 64 interpreted lambdas
    * per token — FunctionsSpec asserts bit-equality). A document's
    * simhash depends only on its own tokens, so (like
    * [[shingleHashSets]]) there is nothing to shuffle: the signature
    * stage is pure scan at 100 TB. */
  def simhashes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimHash
    t(s, dir, "documents").select(col("doc_id"),
      SimHash(transform(split(trim(col("text")), "\\s+"), t => xxhash64(t)))
        .as("simhash"))
  }

  /** SimHash near-dup pairs: LSH on `bands` equal bit-slices of the
    * 64-bit signature, then hamming distance ≤ `maxHamming` verify via
    * bit_count(xor). The bands are melted to (band_idx, band_value)
    * rows so candidate generation is ONE self-join (same pattern as
    * [[minhashLshPairs]]) instead of band-wise shuffles unioned.
    *
    * Banding is chosen for a DETERMINISTIC completeness guarantee
    * (pigeonhole): a pair at hamming ≤ bands-1 cannot have flipped a
    * bit in every band, so it collides in at least one — with
    * maxHamming < bands the emitted set is EXACTLY
    * {pairs : hamming ≤ maxHamming}, no probabilistic recall curve
    * (unlike MinHash's S-curve). The previous 4×16 banding looked
    * cheaper (random band collision 2⁻¹⁶ vs 2⁻⁸) but provably drops
    * pairs as close as hamming 4 whenever the flipped bits spread
    * across all four bands — measured on this corpus: two
    * Jaccard ≥ 0.95 pairs missed. The funnel trade is fundamental to
    * bit-sampling LSH: admitting every hamming ≤ k pair requires
    * > k bands, and shorter bands widen the random-collision funnel
    * (~n²·bands/2^bandBits pairs into the cheap bit_count verify);
    * at corpus scale, raise maxHamming's dual knob `bands` only as
    * far as the completeness bound you actually need. */
  def simhashPairs(s: SparkSession, dir: String,
      maxHamming: Int = 6, bands: Int = 8): DataFrame =
    // the one materialized frame: the narrow per-doc signature (64
    // aggregate folds per doc run once); the melted bands are left to
    // ReuseExchange — see the materialization note on
    // [[minhashLshPairs]]
    simhashPairsFromSig(simhashes(s, dir).localCheckpoint(eager = false),
      maxHamming, bands)

  /** [[simhashPairs]] over an already-materialized (doc_id, simhash)
    * frame (same caller-owns-the-checkpoint contract as
    * [[minhashLshPairsFromSets]]) — d05b feeds it from the fused
    * one-scan sketch frame. */
  def simhashPairsFromSig(sig: DataFrame,
      maxHamming: Int = 6, bands: Int = 8): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming < bands,
      s"completeness guarantee needs maxHamming < bands (got $maxHamming >= $bands)")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    val melted = meltSketch(sig, Seq(col("doc_id"), col("simhash")), bands,
      b => shiftright(col("simhash"), b * bandBits).bitwiseAND(mask),
      "band_idx", "bk")
    // hamming verify BEFORE the pair-dedup distinct: bit_count is a
    // few cycles per (possibly duplicated) band collision, while
    // distinct is a shuffle — filtering first shrinks the shuffled set
    // from the full band-collision funnel (~n²·bands/2^bandBits) to
    // just the surviving near-dup pairs
    melted.as("x")
      .join(melted.as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** The d05 sketch's verify stage made oracle-visible: every
    * [[simhashPairs]] pair is joined to its EXACT n-gram Jaccard and
    * kept iff J ≥ `threshold` — the output is the subset of near-dup
    * pairs the simhash funnel admitted AND exact verification
    * confirms. On corpora whose J ≥ threshold pairs all sit at
    * hamming ≤ maxHamming (this testdata at the sf0.01 gate: max
    * observed hamming among exact pairs is 5 — asserted by OpsSpec so
    * a corpus change fails loudly in CI, not at the gate), the result
    * EQUALS the exact pairwise answer, so the DuckDB oracle is the
    * same exact-Jaccard SQL as d03 and the hash-match certifies the
    * sketch's precision and its recall at the operating point — the
    * d04 ground-truth-oracle pattern applied to SimHash.
    *
    * The precondition is a GATE-CORPUS fact, not a tunable: measured
    * at sf0.1 the exact pairs' hamming tail stretches to 12 (19/256
    * pairs above 6 — recall 237/256 ≈ 0.93 at the operating point),
    * and no maxHamming < bands can cover a tail ≥ 8, so at larger SF
    * d05b is honestly the sketch-recalled SUBSET of the exact answer.
    * That loosening hamming↔Jaccard correlation on bigger corpora is
    * exactly why MinHash (d04), whose collision probability is a
    * direct function of Jaccard itself, is the primary near-dup
    * sketch and SimHash the cheap 8-bytes-per-doc alternative. */
  def simhashVerifiedPairs(s: SparkSession, dir: String, n: Int = 5,
      maxHamming: Int = 6, threshold: Double = 0.6): DataFrame = {
    // ONE corpus scan: simhash + shingle sets fused in a single
    // checkpointed projection ([[sketchSets]]) feeding the band
    // pipeline AND both exact-verify joins. Dropping the sub-n-token
    // docs from the simhash side is output-neutral (they cannot
    // survive the verify inner join) — at 100 TB this halves the
    // pipeline's text reads.
    val fused = sketchSets(t(s, dir, "documents"), n, Seq.empty,
      withSimhash = true).localCheckpoint(eager = false)
    val pairs = simhashPairsFromSig(fused.select("doc_id", "simhash"),
        maxHamming)
      .select(col("doc_a"), col("doc_b"))
    pairJaccard(pairs, fused.select("doc_id", "hs", "n_sh"), threshold)
  }

  /** Advisory diagnostic for choosing SimHash's `maxHamming`/`bands`
    * operating point: computes, from the EXACT near-dup pairs
    * (J ≥ `threshold` ground truth — on a real corpus, run it over a
    * sampled partition; the distribution is what matters, not the
    * census), the hamming-distance distribution of their signatures
    * and the recall each candidate `maxHamming` would achieve. One
    * row per observed hamming h: how many exact pairs sit at h,
    * cumulative recall with maxHamming = h, and whether that
    * operating point is REACHABLE under `bands` (pigeonhole
    * completeness needs h < bands; a tail at h ≥ bands cannot be
    * recalled by any compliant banding and argues for MinHash
    * instead). This turns the d05b scaladoc's measured sf0.1 figure
    * (19/256 pairs above hamming 6 → recall 237/256 ≈ 0.93) into a
    * reusable measurement — OpsSpec reproduces exactly that table.
    *
    * The cumulative window runs on the ≤65-row aggregated hamming
    * histogram, not the corpus — a single-partition window there is
    * deliberate, not a scale hazard. */
  def simhashRecallAdvisory(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.6, bands: Int = 8): DataFrame = {
    val fused = sketchSets(t(s, dir, "documents"), n, Seq.empty,
      withSimhash = true).localCheckpoint(eager = false)
    val exact = ngramJaccardPairs(s, dir, n, threshold)
      .select("doc_a", "doc_b")
    val sig = fused.select("doc_id", "simhash")
    val hist = exact
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")), "doc_b")
      .select(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy("hamming")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum_pairs", sum("n_pairs").over(w))
      .withColumn("total_pairs", sum("n_pairs").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("recall", r3(col("cum_pairs") / col("total_pairs")))
      .withColumn("reachable", col("hamming") < bands)
      .orderBy("hamming")
  }

  /** Cross-document repeated spans — the primitive under exact
    * SUBSTRING dedup (Lee et al.'s "Deduplicating Training Data"
    * suffix-array pass, re-expressed shuffle-parallel): every window
    * of `w` consecutive tokens that appears verbatim in ≥ 2 distinct
    * documents, with how many documents carry it. Doc-level dedup
    * (d01/d04) misses these — boilerplate headers, license blocks,
    * quoted passages — which is exactly the content an LLM memorizes.
    *
    * Scale design: span STRINGS never shuffle. Pass 1 derives per-doc
    * DISTINCT span hashes in-row ([[sketchSets]]'s projection shape at
    * window size `w`) and aggregates 8-byte hashes; per-doc
    * distinctness makes the count a plain `count(1)` — no
    * `countDistinct` expand. Pass 2 re-derives (span, hash) rows and
    * keeps only survivors via a broadcast join on the (rare) repeated
    * hashes — the re-tokenize trades a second narrow scan for never
    * moving corpus text, the [[Curation.bloomDecontaminatedStats]]
    * asymmetry argument at the span level. The only reduce-side state
    * is one row per repeated span. Hash collisions would fuse two
    * spans' counts (~n²/2⁶⁴ — accepted, same contract as every sketch
    * in this file). */
  def repeatedSpans(s: SparkSession, dir: String, w: Int = 8): DataFrame =
    repeatedSpansOf(t(s, dir, "documents"), w)

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding space, then prune near-identical
    * pairs WITHIN each cluster only — the clustering bounds the
    * quadratic pairwise term to per-cluster work, which is the whole
    * trick that makes cosine dedup feasible beyond toy corpora.
    * Clusters come from the same certified Lloyd training the IVF
    * ladder uses ([[Similarity.trainedCentroids]], s06/s07); a vector
    * is dropped when a SMALLER vec_id in its cluster has cosine ≥
    * `threshold` (the d-ladder first-wins contract). Returns
    * per-cluster (n_members, n_dropped). The 0.4 default is sized to
    * THIS corpus: the synthetic gaussian embeddings carry no
    * near-identical pairs at d06's 0.9 point (max pairwise cosine
    * ≈ 0.5, where d06's exact oracle is certified-empty), and a
    * threshold the data never crosses would leave the prune branch
    * dead in every gate run — production corpora run 0.9+.
    *
    * Scale design: centroids broadcast (nlist-wide regardless of
    * corpus size); assignment is ONE map-side corpus scan with the
    * cell argmax computed in-row ([[Similarity.trainedAssignedVectors]]
    * — no corpus×corpus vec_id join); the pairwise prune is ONE
    * shuffle of (cell, vec_id, emb) rows into per-cell groups and a
    * tight `mapGroups` double loop — no self-join exists, so no
    * sort-merge join can ever appear in the plan (the repo's PlanSpec
    * gate executes this and asserts exactly that). Per-pair cosines
    * reuse precomputed member norms; the arithmetic (left-to-right
    * double dot, sqrt·sqrt denominator, r4 rounding) is
    * operation-for-operation the kernel's, which is what keeps the
    * DuckDB oracle hash-exact. `nlist` is the knob that bounds
    * Σ|cell|²: the DEFAULT (param 0) resolves via session conf
    * `graft.semdedup.nlist`, else [[sizedNlist]] at the declared
    * corpus size (`graft.neardup.n`, the d06 convention) — expected
    * occupancy stays ~64 vectors/cell, so per-group work is a
    * constant ~64²·dim and reduce parallelism GROWS as n/64 with the
    * corpus instead of capping at a fixed cluster count (SemDeDup at
    * production scale runs tens of thousands of clusters for exactly
    * this reason — the paper's own argument, here the same lever as
    * [[Similarity.AnnRead]]'s cell granularity). At the sf0.1 seed
    * n=2000 the rule lands on the long-certified 32, so default
    * behavior and oracle are unchanged. Per-group memory is
    * |cell|·dim·8 B (~32 KB at occupancy 64) — executor-bounded by
    * the same knob. Cross-cluster near-dups are invisible BY DESIGN —
    * that recall trade is the paper's, not an implementation shortcut
    * (d06's banded LSH is the cross-partition-complete alternative),
    * and [[semDedupRecallAdvisory]] (d13) measures it. */
  def semDedup(s: SparkSession, dir: String, nlist: Int = 0,
      iters: Int = 2, threshold: Double = 0.4): DataFrame = {
    import s.implicits._
    val k = resolvedNlist(s, nlist)
    val assigned = Similarity.trainedAssignedVectors(s, dir, k, iters)
    assigned.select(col("cell"), col("vec_id"), col("emb"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val members = it.toArray.sortBy(_._2)
        val es = members.map(_._3)
        // arithmetic is [[Similarity.CellMath]] — the single shared
        // definition of the kernel contract (zero-norm pairs score
        // NaN, which compares false: a degenerate vector never drops,
        // exactly as the kernel's null would behave here)
        val norms = es.map(Similarity.CellMath.norm)
        var dropped = 0L
        var b = 1
        while (b < members.length) {
          var a = 0; var hit = false
          while (a < b && !hit) {
            val sim = Similarity.CellMath.r4Cosine(es(a), es(b), norms(a), norms(b))
            if (sim >= threshold) { hit = true; dropped += 1 }
            a += 1
          }
          b += 1
        }
        (cell, members.length.toLong, dropped)
      }
      .toDF("cell", "n_members", "n_dropped")
      .orderBy("cell")
  }

  /** d12's "cluster count must track corpus size" rule as executable
    * math (the [[sizedBanding]] pattern): hold expected cell
    * occupancy constant so per-group pairwise work is a constant
    * occupancy²·dim and group count — the shuffle's reduce-side
    * parallelism — grows linearly with the corpus. Reproduces the
    * long-certified default exactly at the sf0.1 seed
    * (n=2000 → 32), so the rule and the shipped default cannot
    * drift apart — OpsSpec pins that.
    *
    * The rule's own cost, measured (r13, ScaleCheck ×16→×64): the
    * flat in-row argmax assignment is O(n·nlist), so holding
    * occupancy constant makes the ASSIGNMENT term quadratic in n —
    * d12/d18 measured 6.6×/6.8× wall for 4× data under this rule,
    * vs 2.1×/2.1× with nlist pinned at the ×16 value
    * (`graft.neardup.n` held at 32000, occupancy ×4). The production
    * path at real corpus scale is therefore a FIXED nlist chosen for
    * the recall granularity target (the SemDeDup paper's own
    * protocol: tens of thousands of clusters, trained on a constant-
    * size sample) — occupancy grows with n and the per-cell
    * occupancy² term is the knob you watch instead; a corpus big
    * enough to strain both wants a coarse routing level above the
    * codebook (two-level IVF, [[Similarity.AnnRead]]'s `router`),
    * which [[Similarity.buildIvfIndex]]'s layout already
    * accommodates. This sized rule is the GATE-SCALE
    * convenience that keeps the small-corpus defaults honest, not
    * the 100 TB sizing policy. */
  def sizedNlist(n: Long, occupancy: Int = 64): Int = {
    require(n > 0 && occupancy > 0)
    math.max(1, math.ceil(n.toDouble / occupancy)).toInt
  }

  /** d12 nlist resolution: explicit param > session conf
    * `graft.semdedup.nlist` > [[sizedNlist]] at the declared corpus
    * size `graft.neardup.n` (the [[embeddingNearDups]] convention —
    * a bigger corpus is a config change, not a code change; zero
    * driver jobs). */
  private[ops] def resolvedNlist(s: SparkSession, param: Int): Int =
    if (param > 0) param
    else {
      val conf = s.conf.get("graft.semdedup.nlist", "0").toInt
      if (conf > 0) conf
      else sizedNlist(s.conf.get("graft.neardup.n", "2000").toLong)
    }

  /** The recall side of d12's within-cluster-only trade, measured
    * (d13; the [[simhashRecallAdvisory]] discipline): every pair at
    * r4(cosine) ≥ `threshold`, binned by similarity decile, with the
    * fraction the shipped clustering CAPTURES (both endpoints in one
    * cell — the only pairs [[semDedup]] can ever prune). What the
    * paper asserts qualitatively ("most near-duplicates share a
    * cluster") becomes a per-bin measured table, and a low bin is the
    * printed argument for d06's banded LSH instead. Ground truth is
    * the brute-force pair scan — a DECLARED-QUADRATIC small-SF
    * validator exactly like [[ngramJaccardPairs]] (d03): skipped on
    * ×K scale runs, announced, never silently sampled. The pair join
    * is hint-free (AQE broadcasts the sub-MB embedding frame at
    * validator SF); assignment is checkpointed once and consumed as
    * both join sides. */
  def semDedupRecallAdvisory(s: SparkSession, dir: String, nlist: Int = 0,
      iters: Int = 2, threshold: Double = 0.4): DataFrame = {
    val k = resolvedNlist(s, nlist)
    val assigned = Similarity.trainedAssignedVectors(s, dir, k, iters)
      .localCheckpoint(eager = false)
    val a = assigned.select(col("vec_id").as("ia"), col("emb").as("ea"),
      col("cell").as("ca"))
    val b = assigned.select(col("vec_id").as("ib"), col("emb").as("eb"),
      col("cell").as("cb"))
    a.join(b, col("ia") < col("ib"))
      .withColumn("sim", r4(Similarity.cosine(col("ea"), col("eb"))))
      .filter(col("sim") >= threshold)
      .select((floor(col("sim") * 10) / 10.0).as("sim_bin"),
        (col("ca") === col("cb")).cast("long").as("cap"))
      .groupBy("sim_bin")
      .agg(count(lit(1)).as("n_pairs"), sum(col("cap")).as("n_captured"))
      .withColumn("recall", r3(col("n_captured") / col("n_pairs")))
      .orderBy("sim_bin")
  }

  /** Cross-source near-duplicate matrix (d14): where the duplication
    * comes FROM — for every (source, source) pair, the number of
    * verified near-dup pairs spanning them and their mean Jaccard.
    * The dataset diagnostic behind feed triage ("source B is mostly a
    * re-crawl of source A — drop it") that doc-level dedup alone
    * cannot answer. Same-source pairs appear on the diagonal;
    * `least/greatest` orders each pair once.
    *
    * Scale design: the certified d04 sketch pipeline does ALL the
    * heavy lifting ([[minhashLshPairsFromSets]] — banded candidates,
    * exact verify), with `source` CARRIED on the one materialized
    * sets frame; the two source lookups join the RARE verified-pair
    * frame against that same narrow checkpointed frame (hint-free,
    * the [[pairJaccard]] shape — cost ∝ pairs, not corpus). The mean
    * Jaccard sums r3-scaled integer millis (exact recovery of the
    * already-r3-rounded scores), so the per-group average is
    * order-free exact integer arithmetic on both engines (the t11
    * micronat discipline). Reference analog: the keyed `group(by=)`
    * aggregation of streamable/stream.py:153-165, keyed here on the
    * source pair of each verified duplicate. */
  def crossSourceNearDupMatrix(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 16, rows: Int = 2, threshold: Double = 0.6): DataFrame = {
    val sets = shingleHashSets(t(s, dir, "documents"), n,
      carry = Seq("source")).localCheckpoint(eager = false)
    val pairs = minhashLshPairsFromSets(sets, bands, rows, threshold)
    val src = sets.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        r3(sum(floor(col("jaccard") * lit(1000) + lit(0.5))).cast("double") /
          lit(1000.0) / count(lit(1))).as("avg_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** [[repeatedSpans]] over any (doc_id, text) frame — the seam the
    * golden/property specs drive. */
  def repeatedSpansOf(docs: DataFrame, w: Int): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    def spanStarts(wd: Column): Column = sequence(lit(0), size(wd) - w)
    val spanHashes = docs
      .select(col("doc_id"), toks.as("wd"))
      .filter(size(col("wd")) >= w)
      .select(col("doc_id"),
        explode(shingleHashArr(col("wd"), w)).as("h"))
    val rep = spanHashes.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
    docs.select(toks.as("wd"))
      .filter(size(col("wd")) >= w)
      .select(explode(array_distinct(transform(spanStarts(col("wd")),
        i => concat_ws(" ", slice(col("wd"), i + 1, lit(w)))))).as("span"))
      .select(col("span"), xxhash64(col("span")).as("h"))
      .join(broadcast(rep), "h")
      .select(col("span"), col("n_docs"), col("first_doc"))
      .distinct()
      .orderBy("span")
  }

  /** Disjoint-block exact dedup with text rebuild (d15) — the
    * chunk-granular middle rung of the excision ladder: d01 drops
    * whole duplicate documents, c12 scrubs overlapping repeated
    * 8-gram coverage, this deduplicates DISJOINT `blockTokens`-token
    * blocks (the "paragraph dedup" of Dolma-style pipelines, mapped
    * onto fixed blocks because this corpus has no newline structure):
    * every block occurrence that is not the global first occurrence
    * of its content — in (doc_id, block_idx) order, INCLUDING repeats
    * within one document — is excised, and the survivors are
    * reassembled in order. Reports only affected documents.
    *
    * Scale design (the d11/c12 discipline): block text never shuffles
    * — each block leaves its row as an 8-byte xxhash64, the
    * checkpointed (doc_id, bi, h) frame is the only corpus-sized
    * exchange, and first-wins is one partial-aggregable
    * `min(struct(doc_id, bi))` per hash. Excision is in-row: the
    * removal-index set per affected doc (a small frame — only docs
    * holding a non-first duplicate block) joins back hint-free (AQE
    * broadcasts it at every measured scale) and a positional
    * higher-order filter rebuilds the text from the original token
    * array without any text ever having moved. */
  /** Dedup funnel (d16) — the staged impact report a pipeline owner
    * reads before shipping a corpus: docs and tokens surviving after
    * (0) nothing, (1) exact dedup (d01's fingerprint first-wins),
    * (2) exact + near-dup dedup (d08's verified-LSH cluster
    * election). The drop sets are computed INDEPENDENTLY and applied
    * cumulatively — each stage's row answers "what does adding this
    * stage cost/save", the number data-curation reviews actually
    * argue about. Reference analog: chained `distinct()` stages,
    * streamable/stream.py:166-187, surfaced as a report.
    *
    * Scale design: one narrow (doc_id, fp, n_tok) projection is
    * checkpointed and carries ALL stage flags; both drop lists are
    * duplicate-sized (rare by corpus standards) and join back
    * hint-free — AQE broadcasts them when small and degrades to
    * shuffle when a web-scale corpus really does drop 30% (the d08
    * argument). The three stage rows come from ONE aggregate over
    * the flagged frame (`stack`, not three scans). */
  def dedupFunnel(s: SparkSession, dir: String, n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    // ONE corpus scan feeds every stage (the c06 shared-sets
    // discipline, extended to the funnel's ALL-docs totals): exact
    // fingerprint, token count, AND the near-dup shingle sets come
    // from a single checkpointed projection — short docs carry an
    // empty hs (they cannot shingle, so they never pair) instead of
    // being filtered out, because stage 0's totals count them. The
    // old shape paid two full text scans + tokenizations (one for
    // fp/nt, one inside minhashLshPairs).
    val fused = sketchSetsAllDocs(
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
        col("text")),
      n, carry = Seq("fp", "nt"))
      .localCheckpoint(eager = false)
    val docs = fused.select("doc_id", "fp", "nt")
    val exDrop = docs.groupBy("fp")
      .agg(min("doc_id").as("keep"), count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select(col("fp").as("dfp"), col("keep"))
    val flagged = docs.join(exDrop, col("fp") === col("dfp"))
      .where(col("doc_id") =!= col("keep"))
      .select(col("doc_id"), lit(1).as("ex"))
    val pairs = minhashLshPairsFromSets(
      fused.filter(col("n_sh") > 0).select("doc_id", "hs", "n_sh"),
      threshold = threshold)
    val nearDrop = connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"), lit(1).as("nd"))
    docs
      .join(flagged, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("c0"), sum("nt").as("t0"),
        count(when(col("ex").isNull, 1)).as("c1"),
        sum(when(col("ex").isNull, col("nt"))).as("t1"),
        count(when(col("ex").isNull && col("nd").isNull, 1)).as("c2"),
        sum(when(col("ex").isNull && col("nd").isNull, col("nt"))).as("t2"))
      .selectExpr("stack(3, '0_corpus', c0, t0, '1_exact', c1, t1, " +
        "'2_near_dup', c2, t2) AS (stage, n_docs, sum_tokens)")
      .orderBy("stage")
  }

  def blockDedupStats(s: SparkSession, dir: String,
      blockTokens: Int = 16): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), graft.ops.TextAnalysis.tokens(col("text")).as("w"))
    val blockHashes = transform(
      sequence(lit(0), size(col("w")) - 1, lit(blockTokens)),
      st => xxhash64(concat_ws(" ", slice(col("w"), st + 1, lit(blockTokens)))))
    val rows = docs
      .select(col("doc_id"), posexplode(blockHashes))
      .toDF("doc_id", "bi", "h")
      .localCheckpoint(eager = false)
    val rep = rows.groupBy("h")
      .agg(min(struct(col("doc_id"), col("bi"))).as("first"),
        count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .select(col("h").as("rh"), col("first"))
    val hits = rows.join(rep, col("h") === col("rh"))
      .where(!(col("first") === struct(col("doc_id"), col("bi"))))
      .groupBy("doc_id").agg(collect_set("bi").as("rm"))
    val blocks = transform(
      sequence(lit(0), size(col("w")) - 1, lit(blockTokens)),
      st => concat_ws(" ", slice(col("w"), st + 1, lit(blockTokens))))
    docs.join(hits, "doc_id")
      .withColumn("blocks", blocks)
      .select(col("doc_id"),
        size(col("blocks")).cast("long").as("n_blocks"),
        size(col("rm")).cast("long").as("n_removed"),
        concat_ws(" ",
          filter(col("blocks"), (b, i) => !array_contains(col("rm"), i)))
          .as("kept_text"))
      .orderBy("doc_id")
  }

  /** Incremental semantic near-dups (d18) — the embedding-space
    * analog of [[incrementalNearDups]] (d09), completing the
    * incremental family: lexical batch-vs-index is d09, STREAMING
    * semantic is [[graft.streaming.Streams.semanticProbeStream]], and
    * this is the batch semantic member. A new ingestion batch
    * (vec_id ≥ `splitId`, the d09 batch convention) probes the stored
    * semantic index ([[Similarity.semanticIndex]]: the trained
    * per-cell member table + one-row codebook): each batch vector is
    * assigned its trained cell IN-ROW against the broadcast codebook
    * (no corpus join for assignment), equi-joined with ONLY that
    * cell's stored members, and exact r4-cosine verifies at
    * `threshold`. Emits new-vs-corpus AND new-vs-new pairs
    * (match_id < probe_id dedups the latter — d09's a<b contract).
    *
    * Scale: probe cost ∝ batch × cell occupancy, never corpus²; the
    * index is built ONCE and PERSISTED
    * ([[Similarity.ensureSemanticIndex]]: members partitioned by
    * cell + the one-row codebook, written write-once under the
    * warehouse) — every probe call after the first is a pure READER
    * of the layout, so the training scan never re-runs per batch
    * (SemanticIndexSpec pins that every embeddings scan in the
    * executed plan is the probe-batch scan, and that the member scan
    * is dynamically partition-pruned to the probed cells). Cross-
    * cluster near-dups stay
    * invisible by design — d13 measures exactly that recall trade.
    * Threshold defaults to d12's corpus-sized 0.4 operating point
    * (live at the gate). */
  def incrementalSemanticNearDups(s: SparkSession, dir: String,
      splitId: Long = 400, nlist: Int = 0, iters: Int = 2,
      threshold: Double = 0.4): DataFrame = {
    val nl = resolvedNlist(s, nlist)
    val (index, cb) = Similarity.readSemanticIndex(s,
      Similarity.ensureSemanticIndex(s, dir, nl, iters))
    val probes = t(s, dir, "embeddings")
      .filter(col("vec_id") >= splitId)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .crossJoin(broadcast(cb))
      .withColumn("best", Similarity.bestCellStruct(col("cents"), col("emb")))
      .select(col("vec_id").as("probe_id"), (-col("best.nc")).as("cell"),
        col("emb").as("emb_b"))
    probes.join(index, "cell")
      .filter(col("match_id") < col("probe_id"))
      .withColumn("sim", r4(Similarity.cosine(col("emb_a"), col("emb_b"))))
      .filter(col("sim") >= threshold)
      .select(col("match_id").as("vec_a"), col("probe_id").as("vec_b"), col("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Dedup threshold sensitivity curve (d17) — the aggressiveness
    * diagnostic that picks d04's operating threshold: for each
    * candidate cut in `thresholdsMilli`, how many verified near-dup
    * pairs the corpus holds at Jaccard ≥ cut, with exact integer
    * mass (Σ milli-Jaccard) and floor-div mean. One run answers
    * "what does moving the knob from 0.6 to 0.8 actually drop?"
    * without re-running dedup per setting — the [[Curation.contaminationCurve]]
    * discipline applied to the near-dup ladder.
    *
    * Scale design: ONE shingle pass, ONE banded candidate join, ONE
    * exact verify at the LOOSEST cut (the grid minimum) — the curve
    * itself is |grid| aggregations over the verified-PAIR frame,
    * which is near-dup-sized, not corpus-sized. The grid lives in a
    * broadcast |grid|-row frame. Completeness contract: every cut
    * must sit at or above the banding's certified operating point
    * (0.6 here, where d04's funnel provably recalls the exact ground
    * truth on this corpus) — the curve is exact over that range, and
    * the quadratic oracle certifies it per cut. Cuts are integer
    * milli-Jaccard so membership is a long compare, never a float
    * boundary. */
  def thresholdCurve(s: SparkSession, dir: String, n: Int = 5,
      thresholdsMilli: Seq[Int] = Seq(600, 700, 800, 900)): DataFrame = {
    import s.implicits._
    require(thresholdsMilli.nonEmpty && thresholdsMilli.min >= 600,
      "cuts below the banding operating point (0.6) lose the exactness contract")
    require(thresholdsMilli.distinct == thresholdsMilli,
      "duplicate cuts would fan the grid join out to duplicate rows")
    val sets = shingleHashSets(t(s, dir, "documents"), n).localCheckpoint(eager = false)
    val pairs = minhashLshPairsFromSets(sets,
        threshold = thresholdsMilli.min / 1000.0)
      .withColumn("j_milli", floor(col("jaccard") * 1000 + 0.5).cast("long"))
    val grid = thresholdsMilli.toDF("t_milli")
      .select(col("t_milli").cast("long"))
    val agg = pairs.crossJoin(broadcast(grid))
      .filter(col("j_milli") >= col("t_milli"))
      .groupBy("t_milli")
      .agg(count(lit(1)).as("n_pairs"), sum("j_milli").as("sum_j_milli"))
    // empty cuts keep their row (a curve with holes reads as data
    // loss): left-join the grid back, zero-fill, floor-div mean
    grid.join(agg, Seq("t_milli"), "left")
      .select(col("t_milli"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_j_milli"), lit(0L)).as("sum_j_milli"))
      .withColumn("mean_j_milli",
        when(col("n_pairs") === 0, lit(0L))
          .otherwise(expr("sum_j_milli div n_pairs")))
      .orderBy("t_milli")
  }
}
