package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Relational.{t, r4}

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`), no UDF in any hot path: similarity kernels are
  * native codegen'd Catalyst expressions ([[graft.functions.CosineSimilarity]],
  * [[graft.functions.HyperplaneBuckets]]); the composable zip_with +
  * aggregate formulation survives as s01's didactic baseline (Catalyst
  * higher-order lambdas are interpreted, so the kernels are the scale
  * path).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k via a broadcast of the
  *    query set — the baseline. Scales linearly in corpus size when
  *    |queries| is small (queries broadcast, corpus never shuffles).
  *  - [[lshTopK]]: random-hyperplane LSH — corpus and queries are
  *    bucketed by sign-bit prefix; only same-bucket pairs are scored.
  *    The 100 TB path: bucket count grows with corpus so each bucket
  *    stays executor-sized; multi-probe via band union.
  */
object Similarity {

  /** Cosine similarity between two float-array columns — the
    * codegen'd [[graft.functions.CosineSimilarity]] kernel (double-
    * precision accumulation). Value-identical to [[cosineComposable]]
    * (same left-to-right float loop), so the two are interchangeable
    * under the oracles; the kernel avoids three interpreted
    * higher-order-function evaluations per row and is what every
    * scale path uses. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** The column-algebra formulation (zip_with + aggregate folds) —
    * kept as the didactic baseline that [[bruteForceTopK]] (s01)
    * runs; [[nativeTopK]] (s04) is its kernel twin and hash-matches
    * the same oracle, which certifies the value equivalence. */
  def cosineComposable(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Exact top-k cosine neighbors for each query vector (query set =
    * vec_id < nQueries). The query side is broadcast; ranking is a
    * window partitioned by query id — fully parallel. */
  def bruteForceTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("sim", r4(cosineComposable(col("q_emb"), col("c_emb"))))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "sim")
      .orderBy("q_id", "rnk")
  }

  /** Multi-table random-hyperplane LSH buckets. `tables` independent
    * hash tables of `bits` sign-bits each; a pair is a candidate if it
    * collides in ANY table — recall = 1-(1-p^bits)^tables for per-bit
    * agreement p = 1-θ/π. Hyperplane coefficients are derived
    * deterministically from xxhash64(dimension, plane): no driver
    * randomness, identical on every executor, nothing to broadcast.
    *
    * Computed ENTIRELY map-side by the codegen'd
    * [[graft.functions.HyperplaneBuckets]] kernel — one fused
    * primitive loop per row, so the bucket stage fuses into the scan
    * projection with zero shuffle (the same signature-is-row-local
    * argument as [[Dedup.simhashes]]; see the kernel's scaladoc for
    * why the two column-algebra formulations lose).
    * Returns (vec_id, b0..b{tables-1}).
    */
  def lshBuckets(emb: DataFrame, idCol: String, embCol: String,
      bits: Int, tables: Int): DataFrame = {
    import graft.functions.HyperplaneBuckets
    val bucketed = emb.select(col(idCol),
      HyperplaneBuckets(col(embCol), bits, tables).as("_bk"))
    bucketed.select(col(idCol) +:
      (0 until tables).map(tb => element_at(col("_bk"), tb + 1).as(s"b$tb")): _*)
  }

  /** Rank a (q_id, c_id, sim) frame to top-k per query with the
    * bounded-heap [[TopKRowsAgg]] kernel — O(k) state and
    * shuffle bytes per query on BOTH the partial (map) and final
    * (reduce) aggregation sides, where the `row_number` window must
    * shuffle and sort every candidate of a group before cutting at k.
    * At 100 TB ANN scoring (millions of candidates behind a hot query)
    * that is the difference between a spilling sort and a pipeline.
    * Ties break on ascending c_id — identical to the window's
    * `ORDER BY sim DESC, c_id` contract, so swapping the two
    * formulations is byte-identical. `keys` are the grouping columns;
    * [[sweepTopK]] adds the curve point in front of `q_id`. */
  private[ops] def topKPerQuery(s: SparkSession, scored: DataFrame, k: Int,
      sorted: Boolean = true, keys: Seq[String] = Seq("q_id")): DataFrame = {
    // r20: the typed-Aggregator formulation (groupByKey + mapValues +
    // agg + flatMap) ran under DeserializeToObject/AppendColumns/
    // SerializeFromObject — every candidate row converted Tungsten →
    // Scala tuple → Tungsten, the one non-codegen stage on every ANN
    // ranking path. The native [[TopKRowsAgg]] kernel keeps the same
    // bounded heap (same (sim desc, c_id asc) order, same O(k) state
    // both aggregation sides) but reads rows directly; results are
    // bit-identical (TopKRowsSpec pins the matrix, the 25 consumer
    // oracles pin the paths). The casts replicate the old
    // `as[(Long, Long, Double)]` conversions (no-ops when already
    // long/double).
    val keyCols = keys.map(c => if (c == "q_id") col(c).cast("long").as(c) else col(c))
    val ranked = scored.select(keyCols ++ Seq(col("c_id").cast("long").as("c_id"),
        col("sim").cast("double").as("sim")): _*)
      .groupBy(keys.map(col): _*)
      .agg(TopKRows(k, col("c_id"), col("sim")).as("tops"))
      .select(keys.map(col) :+ posexplode(col("tops")): _*)
      .select(keys.map(col) ++ Seq((col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("c_id"), col("col.score").as("sim")): _*)
    // the presentation sort is for terminal results only — mid-plan
    // callers (IVF probe selection) immediately re-join and would pay
    // the exchange+sort for nothing
    if (sorted) ranked.orderBy(keys.map(col) :+ col("rnk"): _*) else ranked
  }

  /** Every point of a recall curve ranked in ONE bounded-heap pass.
    * `points` are (label, visible) pairs: a candidate row takes part
    * in point `label` where `visible` holds. Each row is exploded to
    * the labels it is visible at, and [[topKPerQuery]] ranks the
    * (point, q_id) groups once — group (p, q) holds exactly q's rows of
    * `cands.filter(visible_p)`, so each point's top-k is the one a
    * separate per-point ranking would give. Visibility need not be
    * nested in the points. Returns (point, q_id, rnk, c_id, sim). */
  private[ops] def sweepTopK(cands: DataFrame, k: Int,
      points: Seq[(Column, Column)]): DataFrame =
    topKPerQuery(cands.sparkSession,
      cands.withColumn("point",
        explode(array_compact(array(points.map { case (l, v) => when(v, l) }: _*)))),
      k, sorted = false, keys = Seq("point", "q_id"))

  /** The recall tail every curve shares: `truth` (q_id, c_id) is
    * exploded over the curve's point `labels` and left-joined to the
    * `ranked` (point, q_id, c_id, rnk) rows, so a point whose top-k
    * misses every truth pair still yields its row. Per point: n_truth,
    * n_hits, recall_milli, and the ranking sums s23 reports — rr_sum
    * (floor-div micros of each query's first-hit reciprocal rank) and
    * dcg_sum (the [[ndcgGainsMicro]] gains of the hits). Queries with
    * no hit drop out of both sums (null, not 0). A caller that selects
    * only the recall columns has the ranking aggregates pruned. */
  private[ops] def recallTally(truth: DataFrame, ranked: DataFrame,
      labels: Seq[Column], k: Int): DataFrame = {
    // the gain is looked up on the ranked side, where rnk is never null
    val gain = element_at(array(ndcgGainsMicro(k).map(g => lit(g)): _*),
      col("rnk").cast("int"))
    // both sides are |labels|·k·nQueries rows at most: the ranked side
    // broadcasts, so the truth side keeps its partitioning and is never
    // shuffled for the join
    truth.select(explode(array(labels: _*)).as("point"), col("q_id"), col("c_id"))
      .join(broadcast(ranked.select(col("point"), col("q_id"), col("c_id"),
          col("rnk"), gain.as("gain"))),
        Seq("point", "q_id", "c_id"), "left")
      .groupBy("point", "q_id")
      .agg(count(lit(1)).as("q_truth"), count("rnk").as("q_hits"),
        min("rnk").as("first_rnk"), sum("gain").as("q_dcg"))
      .groupBy("point")
      .agg(sum("q_hits").as("n_hits"), sum("q_truth").as("n_truth"),
        coalesce(sum(expr("1000000 div first_rnk")), lit(0L)).as("rr_sum"),
        coalesce(sum("q_dcg"), lit(0L)).as("dcg_sum"))
      .withColumn("recall_milli", expr("n_hits * 1000 div n_truth"))
  }

  /** LSH-bucketed ANN: candidates = pairs colliding in any of the
    * `tables` hash tables; only candidates are scored and ranking is
    * the bounded-heap [[topKPerQuery]] (no window sort). Approximate —
    * the 100 TB path where the brute-force cross product is
    * impossible; tune bits up (smaller buckets) as the corpus grows.
    */
  def lshTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      bits: Int = 4, tables: Int = 8): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // nothing materialized: bucketing is the cheap map-side kernel,
    // so recomputing it for the query melt and the corpus melt beats
    // an eager checkpoint write+read (same reasoning as
    // [[Dedup.embeddingNearDupPairs]])
    val buckets = lshBuckets(emb, "vec_id", "embedding", bits, tables)
    // melt the tables to (tbl, bk) rows so candidate generation is ONE
    // broadcast join of the (tiny) query buckets against the corpus
    // buckets — instead of `tables` band-wise joins unioned (the same
    // melt shape as the dedup sketches; 8× fewer stages)
    val melted = Dedup.meltSketch(buckets, Seq(col("vec_id")), tables,
      tb => col(s"b$tb"), "tbl", "bk")
    val qmelt = melted.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bk"))
    val candidates = melted.select(col("vec_id").as("c_id"), col("tbl"), col("bk"))
      .join(broadcast(qmelt), Seq("tbl", "bk"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
      .distinct()
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = candidates
      .join(broadcast(queries), "q_id")
      .join(corpus, "c_id")
      .withColumn("sim", r4(cosine(col("q_emb"), col("c_emb"))))
    topKPerQuery(s, scored, k)
  }

  /** Exact top-k like [[bruteForceTopK]] but on the scale path: the
    * codegen'd native [[graft.functions.CosineSimilarity]] expression
    * scores pairs, and the bounded-heap [[TopKRowsAgg]] aggregate
    * (via [[topKPerQuery]]) replaces the ranking window —
    * O(k) state and shuffle bytes per query instead of a full
    * per-group sort. Produces byte-identical results to
    * [[bruteForceTopK]] (same oracle). */
  def nativeTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, corpusFilter: Option[Column] = None): DataFrame = {
    import graft.functions.CosineSimilarity
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // corpusFilter PRE-filters candidates before scoring/ranking — the
    // filtered-search seam (s10); pushed to the scan by Catalyst
    val corpus = corpusFilter.fold(emb)(emb.filter)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        r4(CosineSimilarity(col("q_emb"), col("c_emb"))).as("sim"))
    topKPerQuery(s, scored, k)
  }

  /** One IVF (inverted-file) top-k read, as a value: every IVF
    * registry entry is an `AnnRead`, and every field combination runs
    * through the ONE body in [[AnnRead.apply]] — queries → fine
    * codebook → probes → candidates → filter, tombstone and shadow
    * anti-joins → exact r4 scoring → the bounded-heap
    * [[topKPerQuery]]. A coarse quantizer partitions the corpus into
    * `nlist` cells and a query probes only its `nprobe` nearest
    * cells; approximate by design (recall < 1 vs [[bruteForceTopK]]
    * when a true neighbor lives in an unprobed cell), deterministic
    * by construction (every stage ranks r4-rounded sims with the
    * (sim desc, id asc) tie contract), so each DuckDB oracle replays
    * its entry exactly.
    *
    * | field | values | registry entries |
    * |---|---|---|
    * | `codebook` | `Seeded` (ids [100, 100+nlist)) · `Trained(iters)` (the persisted Lloyd codebook, [[ensureCodebook]]) | s05 s11 s20 s22 s26–s30 · s07 s31 s33–s37 |
    * | `layout` | `Inline` · `At(path)` · `Current` | s05 s07 s20 s31 · s11 s22 s26 s27 s33 s34 · s28 s29 s30 s35 s36 s37 |
    * | `router` | `Router(ncoarse, cprobe)` | s20 s22 s29–s31 s33–s37 |
    * | `filter` | a predicate on the layout's `label` column | s30 s34 s36 |
    * | `tombstones` | anti-join [[tombstoneSet]] | s26 |
    * | `shadow` | a fresh-ingest buffer, [[freshBuffer]]'s schema | s37 |
    *
    * Scale and freshness contracts, per field:
    *
    *  - `Inline` assigns cells per query with [[seededAssign]] (one
    *    map-side scan, the vector stays in its row); the codebook is
    *    nlist-wide regardless of corpus size and broadcasts. Trained
    *    centroids are doubles; the float corpus scores against them
    *    inside the codegen'd cosine kernel.
    *  - `At(path)` reads a [[buildIvfIndex]] / [[ensureTrainedIvfIndex]]
    *    layout partitioned BY cell: dynamic partition pruning turns
    *    the broadcast probe join into a partition filter on the
    *    `cell` directories (IvfIndexSpec asserts the pruning subquery),
    *    so a query reads nprobe/nlist of the data. Results equal the
    *    `Inline` read of the same codebook — the layout's cells ARE
    *    the per-query assignment — so s11/s22/s33 share the
    *    s05/s20/s31 oracles.
    *  - `Current` resolves the epoch pointer of the family `codebook`
    *    names ([[ivfCurrentEpoch]] / [[trainedIvfEpoch]]), so a seeded
    *    read never follows the trained pointer. Before the family's
    *    compaction flip it reads the live layout with the tombstone
    *    anti-join; after it, the compacted layout PLAIN — the
    *    anti-join leaves the plan, not just the result. Rows are
    *    identical either side (compaction folds the same
    *    [[tombstoneSet]]), so a reader racing the flip sees only the
    *    pre- or post-flip plan of the same answer, and ONE oracle
    *    certifies whichever epoch the gate finds.
    *  - `router`: two-level routing (the inverted-multi-index /
    *    routed-IVF family, Babenko & Lempitsky 2012). An `ncoarse`
    *    coarse codebook (ids [200, 200+ncoarse)) partitions the fine
    *    codebook; per query level 1 keeps `cprobe` coarse cells and
    *    level 2 ranks only the fine centroids routed under them.
    *    Routing costs ncoarse + cprobe·(nlist/ncoarse) dot products
    *    instead of nlist (≈1.4k vs 131k at 10^10 vectors) and adds no
    *    shuffle. Doubly approximate; with cprobe = ncoarse the router
    *    is exhaustive and the read equals the one-level read exactly
    *    (OpsSpec pins s20 ≡ s05 and s31 ≡ s07).
    *  - `filter` is applied to the index scan itself, so Catalyst
    *    pushes it into the parquet read (PushedFilters), composed with
    *    the DPP cell pruning: candidates are filtered BEFORE the
    *    ranking heap, never after it (post-filtering a fixed-k result
    *    starves label-diverse neighborhoods — the trap s10's oracle
    *    certifies against). A probed cell with fewer than k
    *    qualifying candidates legitimately returns fewer rows.
    *  - `tombstones`: deletes as one broadcast left-anti join on the
    *    candidate stream (the LSM shape: immutable layout + a small
    *    delete table until compaction); the partition-pruned scan,
    *    probes and heap are untouched, and deleted vectors still count
    *    toward cell assignment, as FAISS `remove_ids` behaves.
    *  - `shadow`: ids in the buffer leave the index's candidate stream
    *    (their indexed rows are stale versions — the anti-join uses
    *    the UNFILTERED buffer ids), and the buffer rows, filtered by
    *    the same `filter`, are brute-scored into the SAME heap. The
    *    buffer is strictly newer than the tombstone set, so a
    *    delete-then-reingest id is served from the buffer; compaction
    *    folds tombstones, never the buffer, so the shadowed read is
    *    valid in both epochs.
    *
    * Combinations the body cannot run are rejected here, with a
    * message: a `filter` on `Inline` (per-query candidates carry no
    * metadata), `tombstones` on `Current` (the epoch decides), and
    * non-positive sizes. */
  final case class AnnRead(
      codebook: AnnRead.Codebook = AnnRead.Seeded,
      layout: AnnRead.Layout = AnnRead.Inline,
      router: Option[AnnRead.Router] = None,
      filter: Option[Column] = None,
      tombstones: Boolean = false,
      shadow: Option[DataFrame] = None,
      nQueries: Int = 10, k: Int = 5, nlist: Int = 32, nprobe: Int = 4)
    extends ((SparkSession, String) => DataFrame) {
    import AnnRead._
    require(k >= 1 && nlist >= 1 && nprobe >= 1,
      s"AnnRead: k, nlist and nprobe must be >= 1 (k=$k, nlist=$nlist, nprobe=$nprobe)")
    require(!(layout == Current && tombstones),
      "AnnRead: a Current layout applies tombstones from its epoch pointer; " +
        "do not set tombstones with it")
    require(!(layout == Inline && filter.isDefined),
      "AnnRead: a filter needs a persisted layout (At or Current) — " +
        "Inline candidates carry no label column")

    def apply(s: SparkSession, dir: String): DataFrame = {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val fine = codebook match {
        case Seeded => seededCentroids(emb, nlist)
        case Trained(iters) => trainedFineCodebook(s, dir, nlist, iters)
      }
      val probes = router match {
        case Some(r) => routedFineProbes(s, emb, queries, fine, r.ncoarse,
          r.cprobe, nprobe)
        case None => probeCells(s, queries, fine, nprobe)
          .select(col("q_id"), col("cell"))
      }
      val (index, tombstoned) = layout match {
        case Inline => (seededAssign(emb.select(col("vec_id").as("c_id"),
          col("embedding").as("c_emb")), fine), tombstones)
        case At(path) => (Tables.read(s, path), tombstones)
        case Current =>
          val (path, live) = currentLayout(s, dir)
          (Tables.read(s, path), live)
      }
      val candidates = filter.fold(index)(index.filter)
        .join(broadcast(probes), "cell")
      val fresh = if (tombstoned) candidates.join(
        broadcast(tombstoneSet(s, dir)), Seq("c_id"), "left_anti")
        else candidates
      val veiled = shadow.fold(fresh)(b => fresh.join(
        broadcast(b.select(col("c_id"))), Seq("c_id"), "left_anti"))
      val scored = veiled
        .filter(col("q_id") =!= col("c_id"))
        .join(broadcast(queries), "q_id")
        .withColumn("sim", r4(cosine(col("q_emb"), col("c_emb"))))
        .select(col("q_id"), col("c_id"), col("sim"))
      val all = shadow.fold(scored) { b0 =>
        val b = filter.fold(b0)(b0.filter)
        scored.unionByName(
          queries.crossJoin(broadcast(b))
            .filter(col("q_id") =!= col("c_id"))
            .withColumn("sim", r4(cosine(col("q_emb"), col("c_emb"))))
            .select(col("q_id"), col("c_id"), col("sim")))
      }
      topKPerQuery(s, all, k)
    }

    /** The ONE epoch resolver: (layout path, apply tombstones) for the
      * family `codebook` names — the compacted layout read plain once
      * the family's pointer says "compact", else the live layout
      * (ensured) with the tombstone anti-join. */
    private def currentLayout(s: SparkSession, dir: String): (String, Boolean) = {
      val (marker, live, compact) = codebook match {
        case Seeded => (ivfEpochMarker(s, dir, nlist),
          () => ensureIvfIndex(s, dir, nlist), seededIvf("compact", nlist))
        case Trained(iters) => (trainedEpochMarker(s, dir, nlist, iters),
          () => ensureTrainedIvfIndex(s, dir, nlist, iters),
          trainedIvf(nlist, iters, "_compact"))
      }
      if (epochOf(s, marker) == "compact") (compact.path(s, dir), false)
      else (live(), true)
    }
  }

  object AnnRead {
    sealed trait Codebook
    case object Seeded extends Codebook
    final case class Trained(iters: Int = 2) extends Codebook {
      require(iters >= 1, s"AnnRead.Trained: iters must be >= 1, got $iters")
    }

    sealed trait Layout
    case object Inline extends Layout
    final case class At(path: String) extends Layout
    case object Current extends Layout

    final case class Router(ncoarse: Int = 8, cprobe: Int = 3) {
      require(ncoarse >= 1 && cprobe >= 1 && cprobe <= ncoarse,
        s"AnnRead.Router: need 1 <= cprobe <= ncoarse, got cprobe=$cprobe, ncoarse=$ncoarse")
    }
  }

  /** The seeded coarse codebook: `nlist` deterministic corpus vectors
    * (ids [100, 100+nlist)) as (cent_id, cent_emb). ONE definition of
    * the seed-range convention, shared by s05/s17/s18 so the
    * assignment they certify against each other cannot drift. */
  private def seededCentroids(emb: DataFrame, nlist: Int): DataFrame =
    emb.filter(col("vec_id") >= 100 && col("vec_id") < 100 + nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  /** The seeded codebook collapsed to ONE broadcastable row — the
    * [[trainedCodebookRow]] shape for the seeded family: a `cents`
    * array of (cell, cemb) structs, nlist×dim floats regardless of
    * corpus size. The static half of [[seededAssign]]'s in-row argmax. */
  private def seededCodebookRow(cent: DataFrame): DataFrame =
    // Empty-codebook guard (r19 advisory): with zero seed vectors the
    // old crossJoin+groupBy shape produced zero rows, but the one-row
    // collected form would yield cents=[] and assign every corpus row
    // cell=NULL — harmless for probe joins (null never matches) but
    // buildIvfIndex would write a cell=null partition instead of
    // nothing. The raise_error lives INSIDE `cents` (the data
    // dependency of every assignment), so a seedless corpus fails
    // loudly at first action instead of degrading; costs one branch
    // on a ONE-ROW frame, nothing corpus-sized.
    cent.agg(collect_list(struct(col("cent_id").as("cell"),
      col("cent_emb").as("cemb"))).as("c0"))
      .select(when(size(col("c0")) === 0, raise_error(lit(
        "seededCodebookRow: no seed centroids — corpus lacks vec_ids " +
          "in the seed range [100, 100+nlist)"))).otherwise(col("c0"))
        .as("cents"))

  /** Cell assignment with the vector carried IN-ROW: (c_id, cell,
    * c_emb). Nearest centroid by (r4 sim desc, cent_id asc), computed
    * per-row by [[bestCellStruct]] against the one-row broadcast
    * codebook — value-identical to the old groupBy
    * `max(struct(sim, -cent_id))` aggregation (same r4-rounded kernel
    * cosine, same highest-sim-then-lowest-cell tie-break; the
    * [[trainedAssignedVectors]] equivalence argument, applied to the
    * seeded family). The old shape cost a corpus×nlist melt +
    * Sort + Exchange + SortAggregate (struct-max is not
    * hash-aggregable) and DROPPED the embedding, forcing every scorer
    * to equi-join the corpus back on c_id — a second corpus-sized
    * exchange at 100 TB. Here assignment is one map-side scan, zero
    * shuffles, and the embedding never leaves its row. */
  private def seededAssign(corpus: DataFrame, cent: DataFrame): DataFrame =
    corpus.filter(col("c_emb").isNotNull)
      .crossJoin(broadcast(seededCodebookRow(cent)))
      .withColumn("best", bestCellStruct(col("cents"), col("c_emb")))
      .select(col("c_id"), (-col("best.nc")).as("cell"), col("c_emb"))

  /** Probe selection — itself a top-k (k = nprobe) over the broadcast
    * centroid table: same bounded heap, no window even on the tiny
    * query×centroid frame. Returns (q_id, cell, probe_rnk); callers
    * that need only the cells project the rank away, s17's curve
    * keeps it (nested probe lists: rank ≤ p IS the nprobe=p set). */
  private def probeCells(s: SparkSession, queries: DataFrame,
      cent: DataFrame, nprobe: Int): DataFrame =
    topKPerQuery(s,
      queries.crossJoin(broadcast(cent))
        .select(col("q_id"), col("cent_id").as("c_id"),
          r4(cosine(col("q_emb"), col("cent_emb"))).as("sim")),
      nprobe, sorted = false)
      .select(col("q_id"), col("c_id").as("cell"), col("rnk").as("probe_rnk"))

  /** Materialize the IVF index an `Inline` [[AnnRead]] recomputes per query: the
    * corpus is written PARTITIONED BY cell (one directory per coarse
    * cell), so the index layout IS the inverted file. A query then
    * touches only its `nprobe` cells through partition pruning —
    * reading nprobe/nlist of the data, the selectivity that makes IVF
    * an index rather than a scan strategy. At 100 TB: build once
    * (one broadcast-join scan + one partitioned write), amortize over
    * every query batch. */
  def buildIvfIndex(s: SparkSession, dir: String, indexPath: String,
      nlist: Int = 32): Unit =
    buildIvfIndexWith(s, dir, indexPath,
      seededCentroids(t(s, dir, "embeddings"), nlist))

  /** The ONE index-layout build body behind [[buildIvfIndex]] (seeded
    * codebook) and [[ensureTrainedIvfIndex]] (persisted TRAINED
    * codebook): assignment against the given (cent_id, cent_emb)
    * frame, then the [[writePartitionedByCell]] layout — so the two
    * index families can never diverge in anything but their
    * centroids. */
  private def buildIvfIndexWith(s: SparkSession, dir: String,
      indexPath: String, cent: DataFrame): Unit = {
    val emb = t(s, dir, "embeddings")
    // v2 layout: the filterable METADATA (label) rides every index
    // row — filtered search (s30) then pushes its predicate into the
    // (already partition-pruned) index scan instead of joining the
    // corpus back in per query, which at 100 TB is the difference
    // between pruned I/O and a corpus-sized equi-join
    // in-row argmax against the one-row broadcast codebook (the
    // [[seededAssign]] shape) — the build's only shuffle is the
    // by-cell write repartition; the old groupBy assignment paid a
    // corpus×nlist Sort + Exchange + SortAggregate first
    val corpus = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("label"))
    val assigned = corpus.filter(col("c_emb").isNotNull)
      .crossJoin(broadcast(seededCodebookRow(cent)))
      .withColumn("best", bestCellStruct(col("cents"), col("c_emb")))
      .select(col("c_id"), col("c_emb"), col("label"),
        (-col("best.nc")).as("cell"))
    writePartitionedByCell(assigned, indexPath)
  }

  /** The ONE partitioned-write discipline for by-cell index layouts
    * ([[buildIvfIndex]], [[ensureSemanticIndex]]): one shuffle on
    * `cell`, then `partitionBy("cell")`. Without the repartition,
    * every upstream task writes its own file into every cell
    * directory it touches, so the layout holds O(tasks × cells)
    * files — measured 7,866 files for 500 cells on a ×16 corpus
    * (53,793 at ×64) — and every probe pays that many listings +
    * footer reads; d18's probe measured 2× wall at ×16 purely from
    * the layout. Repartitioned, the file count is exactly the cell
    * count, independent of the writing job's parallelism; a big
    * cell's single file stays row-group-splittable, so hot cells
    * still read in parallel at 100 TB.
    *
    * The shuffle is given the session's shuffle width explicitly (the
    * width `repartition(col)` asks for). An exchange with a partition
    * count is one AQE does not coalesce; without it AQE merges
    * partitions by bytes and a small index (1.5 MB, 32 cells) is
    * written by ONE task that creates every cell file in turn. A
    * partitioned write costs per file, not per byte — a create, a
    * permission set and a commit rename on a local file system,
    * store round trips on a cluster — so the files are spread over
    * `min(cells, shuffle partitions)` tasks. Each cell still hashes
    * to exactly one task, so the one-file-per-cell contract holds. */
  private[graft] def writePartitionedByCell(df: DataFrame,
      path: String): Unit =
    df.repartition(GraftBridge.shufflePartitions(df.sparkSession), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** IVF layout FORMAT VERSION — part of every layout address (the
    * [[graft.ops.TextAnalysis.qualityModelVersion]] discipline): the
    * warehouse outlives code, so a semantic change to what
    * [[buildIvfIndex]] writes (v2: the `label` metadata column rides
    * every index row for filtered search — s30) must move the address
    * or ensure would serve a layout the new read path cannot filter.
    * Superseded-format trees inside a live generation are deleted by
    * [[sweepLegacyLayouts]] (they are unreadable by current code —
    * keeping them only leaks disk). */
  private val ivfFormatVersion = "v2"

  /** Every IVF layout and epoch pointer of one corpus generation lives
    * at `<warehouse>/graft_ivf_index/<corpus tag>/st<stamp>/<name>`
    * (the embeddings content stamp: a corpus re-derived in place gets
    * a fresh build instead of serving neighbors from data that no
    * longer exists). nlist is part of every name (an index built at a
    * different cell count is a DIFFERENT index, and resolving one
    * through the other would silently drop probes for cells the
    * stored layout never wrote). The seeded family is
    * `main_v2_nl<n>`, `compact_v2_nl<n>` and the `CURRENT_v2_nl<n>`
    * pointer. */
  private def ivfEntry(name: String): Artifact =
    Artifact("graft_ivf_index", None, "embeddings", "/", Some(name))

  private def seededIvf(kind: String, nlist: Int): Artifact =
    ivfEntry(s"${kind}_${ivfFormatVersion}_nl$nlist")

  /** The TRAINED family — `trained_v2_cbv1_nl<n>_it<i>` plus
    * `_compact` and `_CURRENT`. EVERY semantic input is in the name:
    * iters because an index assigned by a differently-trained codebook
    * is a different index, and BOTH format versions — the layout's
    * own ([[ivfFormatVersion]]) and the codebook's
    * ([[codebookVersion]]): a codebook format bump retrains the
    * centroids, and a trained layout whose cells were assigned by the
    * OLD centroids must not be served against routing that uses the
    * new ones (the r19 self-review find). */
  private def trainedIvf(nlist: Int, iters: Int, suffix: String = ""): Artifact =
    ivfEntry(s"trained_${ivfFormatVersion}_cb${codebookVersion}_nl${nlist}_it$iters$suffix")

  /** A live layout's ensure: the [[Artifact]] ensure, then the
    * superseded-format sweep of its generation. */
  private def ensureLayout(s: SparkSession, dir: String, layout: Artifact)(
      build: String => Unit): String = {
    val path = layout.ensure(s, dir)(build)
    sweepLegacyLayouts(s, path.substring(0, path.lastIndexOf('/')))
    path
  }

  /** Idempotent build: writes the [[buildIvfIndex]] layout for `dir`
    * unless a completed index is already there. Registry entries call
    * it while they build their DataFrame; the read itself stays a pure
    * parquet scan. */
  def ensureIvfIndex(s: SparkSession, dir: String, nlist: Int = 32): String =
    ensureLayout(s, dir, seededIvf("main", nlist))(
      buildIvfIndex(s, dir, _, nlist))

  /** Delete SUPERSEDED-FORMAT layout entries inside the live
    * generation dir. The stamp-level sweep only matches sibling
    * GENERATIONS (prefix "st"); a format bump renames the leaf
    * entries under the SAME generation, so pre-bump trees (the
    * unsuffixed pre-r18 `main`/`compact`/`CURRENT`, r18's
    * `main_nlN` family, any `_vK_` older than [[ivfFormatVersion]])
    * would otherwise sit unreferenced forever — and, worse, an
    * r18-era deployment that had flipped its unsuffixed or nl-only
    * CURRENT would silently re-resolve to "main" and rebuild. No
    * current code path can read an old-format tree (v2 reads expect
    * the label column), so deletion is the only correct disposition;
    * one marker-or-tree delete per name pattern, driver-side, once
    * per ensure. Assumes a SINGLE-VERSION fleet per warehouse
    * (stated, not hidden — the [[Artifact.ensure]] contract): an
    * r18 binary sharing this warehouse mid-upgrade would see its
    * layout deleted under a running query and rebuild it; a
    * deployment upgrading a shared warehouse drains old-binary
    * readers first, exactly as the [[Artifact]] migration
    * note prescribes for address-scheme changes. Entries of a NEWER
    * format than this binary's are never touched. */
  private def sweepLegacyLayouts(s: SparkSession, gen: String): Unit = {
    val genPath = new org.apache.hadoop.fs.Path(gen)
    val fs = genPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(genPath)) {
      val curV = ivfFormatVersion.stripPrefix("v").toInt
      val curCb = codebookVersion.stripPrefix("v").toInt
      val legacy = "^(main|compact|CURRENT)(_nl\\d+)?(\\.tmp)?$".r
      val versioned =
        "^(main|compact|CURRENT)_v(\\d+)_nl\\d+(\\.tmp)?$".r
      val trained =
        "^trained_v(\\d+)_cbv(\\d+)_nl\\d+_it\\d+(_compact|_CURRENT)?(\\.tmp)?$".r
      fs.listStatus(genPath).foreach { st =>
        val name = st.getPath.getName
        val stale = name match {
          case legacy(_*) => true
          case versioned(_, v, _) => v.toInt < curV
          case trained(v, cb, _, _) => v.toInt < curV || cb.toInt < curCb
          case _ => false
        }
        if (stale) fs.delete(st.getPath, true)
      }
    }
  }

  /** Idempotent build of the trained-codebook index layout (the s33
    * half of the production stack): the SAME [[buildIvfIndexWith]]
    * body as the seeded index, assigned against the PERSISTED
    * [[ensureCodebook]] centroids at their published r4 precision —
    * so the layout's cells are exactly the cells every trained-IVF
    * query computes per-query (s07/s31), and the persisted read is
    * identical to the per-query plan by construction. Build chain on
    * a cold warehouse: ensureCodebook (train once) → one assignment
    * scan → one partitioned write; on a warm one: two marker reads. */
  def ensureTrainedIvfIndex(s: SparkSession, dir: String,
      nlist: Int = 32, iters: Int = 2): String = {
    require(nlist >= 1 && iters >= 1)
    ensureLayout(s, dir, trainedIvf(nlist, iters))(
      buildIvfIndexWith(s, dir, _, trainedFineCodebook(s, dir, nlist, iters)))
  }

  /** [[ensureCompactedIvfIndex]] for the TRAINED family — the same
    * compaction body (one anti-join of the SAME [[tombstoneSet]] +
    * one partitionBy(cell) rewrite; the trained cells and the label
    * column flow through untouched), the same write-then-flip: the
    * family's own `_CURRENT` pointer re-points every trained reader
    * atomically, independently of the seeded family's lifecycle.
    * With this the delete → tombstoned-read → compact → flip loop is
    * symmetric across both index families. */
  def ensureCompactedTrainedIvfIndex(s: SparkSession, dir: String,
      nlist: Int = 32, iters: Int = 2): String =
    ensureCompactedAt(s, dir, ensureTrainedIvfIndex(s, dir, nlist, iters),
      trainedIvf(nlist, iters, "_compact"),
      trainedEpochMarker(s, dir, nlist, iters))

  /** The compact-then-flip body — ONE definition for both index
    * families, parameterized by the (live ensure, compacted layout,
    * marker) triple that IS a family, the same way [[epochOf]] /
    * [[writeEpochMarker]] already share the pointer primitives: a
    * lifecycle-policy change (e.g. a flip-failure protocol, a third
    * layout family) lands here once or not at all. */
  private def ensureCompactedAt(s: SparkSession, dir: String,
      livePath: => String, compact: Artifact,
      marker: org.apache.hadoop.fs.Path): String = {
    val path = compact.ensure(s, dir)(compactIvfIndex(s, dir, livePath, _))
    if (epochOf(s, marker) != "compact")
      writeEpochMarker(s, marker, "compact")
    path
  }

  /** The fresh-ingest BUFFER — vectors (re-)ingested since the last
    * index build, not yet in any indexed layout: the LSM memtable of
    * the ANN story. Deterministic stand-in for a real ingest table:
    * ids `vec_id % 13 == 7` re-arrive with an UPDATED embedding (the
    * sign-flipped original — exact in both engines, so the oracle
    * hash-matches), which makes formerly anti-correlated corpus
    * vectors strong matches: the buffer genuinely changes top-k, in
    * both directions. Size contract mirrors [[tombstoneSet]]'s: the
    * buffer resets at every index rebuild, so smallness is an
    * operational invariant — an unbroadcastable buffer IS the
    * rebuild trigger. */
  def freshBuffer(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(13)) === 7)
      .select(col("vec_id").as("c_id"), col("label"),
        transform(col("embedding"), v => -v).as("c_emb"))

  /** The s26/s27 tombstone set — ONE definition (the deterministic
    * vec_id ≡ 3 (mod 7) slice) shared by the tombstoned read path
    * and the compaction, so a query and the compactor can never
    * disagree about what is deleted. Production swaps this for the
    * real delete table; everything downstream is shape-identical. */
  def tombstoneSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id").as("c_id"))

  /** COMPACTION (s27) — the other half of the s26 LSM contract: fold
    * the accumulated tombstones into a fresh immutable layout (one
    * anti-join + one [[writePartitionedByCell]] rewrite; cell
    * assignment is inherited from the index rows, so no re-training
    * and no re-scoring), after which queries drop the per-read
    * tombstone join and the delete table resets to empty. Results
    * over the compacted index are IDENTICAL to tombstoned reads of
    * the old one by construction — the s11/s22 oracle-sharing
    * pattern certifies it cross-engine every gate run. */
  def compactIvfIndex(s: SparkSession, dir: String, indexPath: String,
      outPath: String): Unit =
    writePartitionedByCell(
      Tables.read(s, indexPath)
        .join(broadcast(tombstoneSet(s, dir)), Seq("c_id"), "left_anti"),
      outPath)

  /** Idempotent [[compactIvfIndex]] at a deterministic address (the
    * [[ensureIvfIndex]] contract; `/compact` keeps the live and
    * compacted layouts side by side under one generation dir), then
    * FLIPS the epoch pointer: readers resolving through
    * [[ivfCurrentEpoch]] (a `Current` [[AnnRead]], s28) switch to the
    * plain path over the compacted layout, and the tombstone set is
    * thereby RETIRED for this generation — a production delete TABLE
    * would be truncated at the same moment; the deterministic
    * [[tombstoneSet]] simply stops being applied. This closes the
    * s26 → s27 LSM lifecycle as a loop instead of a manual step. */
  def ensureCompactedIvfIndex(s: SparkSession, dir: String,
      nlist: Int = 32): String =
    ensureCompactedAt(s, dir, ensureIvfIndex(s, dir, nlist),
      seededIvf("compact", nlist), ivfEpochMarker(s, dir, nlist))

  /** The index EPOCH pointer — the LSM-manifest CURRENT idiom for
    * the s26/s27 lifecycle: a tiny file under the generation's stamp
    * dir naming which layout readers resolve. Absent (no compaction
    * has completed for this generation) ⇒ "main", whose reads apply
    * the per-query tombstone anti-join; "compact" ⇒ the folded
    * layout, read PLAIN. The two sides return identical rows by
    * construction (the s26 ≡ s27 shared-oracle contract), so a
    * reader racing the flip can never see a wrong answer — only the
    * pre- or post-compaction plan for the same result. */
  def ivfCurrentEpoch(s: SparkSession, dir: String,
      nlist: Int = 32): String =
    epochOf(s, ivfEpochMarker(s, dir, nlist))

  /** The trained family's epoch pointer — [[ivfCurrentEpoch]] keyed
    * by the trained layout's full address tag (both format versions,
    * nlist, iters), so the two families' lifecycles are independent:
    * compacting the seeded index never re-points a trained reader. */
  def trainedIvfEpoch(s: SparkSession, dir: String, nlist: Int = 32,
      iters: Int = 2): String =
    epochOf(s, trainedEpochMarker(s, dir, nlist, iters))

  private def epochOf(s: SparkSession,
      marker: org.apache.hadoop.fs.Path): String = {
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    // open DIRECTLY and treat not-found as "main": an exists-then-open
    // pair has a window where a reader concurrent with the flip's
    // delete+rename sees exists=true then open fail — the fallback on
    // the open itself is what makes the scaladoc's "a reader racing
    // the flip only ever sees the pre- or post-flip plan" actually true
    try {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => "main"
    }
  }

  private def ivfEpochMarker(s: SparkSession, dir: String, nlist: Int) =
    new org.apache.hadoop.fs.Path(seededIvf("CURRENT", nlist).path(s, dir))

  private def trainedEpochMarker(s: SparkSession, dir: String,
      nlist: Int, iters: Int) =
    new org.apache.hadoop.fs.Path(
      trainedIvf(nlist, iters, "_CURRENT").path(s, dir))

  private def writeEpochMarker(s: SparkSession,
      marker: org.apache.hadoop.fs.Path, epoch: String): Unit = {
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(marker.getParent,
      s"${marker.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(epoch.getBytes("UTF-8")) finally out.close()
    // write-then-rename; the delete+rename pair is the portable
    // overwrite (HDFS rename refuses to clobber). The tiny no-marker
    // window is harmless by construction: a reader that misses
    // CURRENT falls back to "main", whose tombstoned read returns
    // the same rows the compacted read does. The flip itself must be
    // LOUD on failure — HDFS rename reports false instead of
    // throwing, and a silently unflipped pointer would leave every
    // reader paying the tombstone join while the caller believes
    // compaction completed.
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(
        s"ivf epoch flip failed: rename($tmp -> $marker) returned false")
  }

  /** The seeded coarse codebook for two-level routing: `ncoarse`
    * deterministic corpus vectors (ids [200, 200+ncoarse)) — a range
    * disjoint from [[seededCentroids]]' fine seeds so the route is a
    * real argmax, not a self-match. ONE definition shared by s20/s21
    * so the identity they certify against each other cannot drift. */
  private def coarseCodebook(emb: DataFrame, ncoarse: Int): DataFrame =
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 200 + ncoarse)
      .select(col("vec_id").as("co_id"), col("embedding").as("co_emb"))

  /** Build-time route: each fine centroid under its nearest coarse
    * cell (nlist×ncoarse broadcast cross, map-side max-struct — the
    * [[seededAssign]] shape on the CODEBOOK, not the corpus). */
  private def fineToCoarseRoute(coarse: DataFrame,
      fine: DataFrame): DataFrame =
    fine.crossJoin(broadcast(coarse))
      .withColumn("sim_r", r4(cosine(col("cent_emb"), col("co_emb"))))
      .groupBy("cent_id")
      .agg(max(struct(col("sim_r").as("s"), (-col("co_id")).as("nc"))).as("m"),
        first(col("cent_emb")).as("cent_emb"))
      .select(col("cent_id"), col("cent_emb"), (-col("m.nc")).as("co_cell"))

  /** The two-level probe selection shared by s20/s22/s29/s30/s31:
    * level 1 ranks the coarse codebook (cprobe cells), level 2 ranks
    * ONLY the fine centroids routed under them (nprobe cells) — the
    * scan this family exists to shrink. The FINE codebook is a
    * parameter ((cent_id, cent_emb) — [[seededCentroids]] for the
    * seeded family, the persisted trained codebook for s31), so
    * every routed variant shares ONE routing definition and cannot
    * drift from the s20 identity its oracles certify. Returns
    * (q_id, cell). */
  private def routedFineProbes(s: SparkSession, emb: DataFrame,
      queries: DataFrame, fine: DataFrame, ncoarse: Int, cprobe: Int,
      nprobe: Int): DataFrame = {
    val coarse = coarseCodebook(emb, ncoarse)
    val route = fineToCoarseRoute(coarse, fine)
    val coarseProbes = topKPerQuery(s,
      queries.crossJoin(broadcast(coarse))
        .select(col("q_id"), col("co_id").as("c_id"),
          r4(cosine(col("q_emb"), col("co_emb"))).as("sim")),
      cprobe, sorted = false)
      .select(col("q_id"), col("c_id").as("co_cell"))
    topKPerQuery(s,
      route.join(broadcast(coarseProbes), "co_cell")
        .join(broadcast(queries), "q_id")
        .select(col("q_id"), col("cent_id").as("c_id"),
          r4(cosine(col("q_emb"), col("cent_emb"))).as("sim")),
      nprobe, sorted = false)
      .select(col("q_id"), col("c_id").as("cell"))
  }

  /** Router recall curve (s21) — the s17 measured-advisory pattern on
    * the COARSE-PROBE axis: how much of the one-level IVF result does
    * the s20 router keep at each `cprobe`, on the same
    * queries. The baseline is deliberately the one-level [[AnnRead]] (not brute
    * force): the curve isolates the ROUTER's loss from IVF's own
    * unprobed-fine-cell loss — and the cprobe = ncoarse row must read
    * exactly 1000, the exhaustive-router identity of the s20
    * scaladoc, here hash-certified by the oracle on every gate run.
    *
    * Scale design: ONE [[sweepTopK]] ranks the fine probes of every
    * cp from the routed-sims frame (≤ nQueries·nlist rows — codebook
    * arithmetic, not data), each routed centroid visible at the cps
    * whose coarse cut holds it. Fine probes per cp must genuinely
    * re-rank (the top-nprobe of a routed SUBSET is not a prefix of the
    * superset's ranking), which is why the fine level cannot reuse
    * s17's nested rank≤p trick. The corpus is scanned ONCE against the
    * union of all curve points' probe cells (≤ |cprobes|·nprobe cells
    * per query); joining the scored candidates to every cp's probe
    * cells tags each row with its cprobe, so ONE ranking over
    * (cprobe, q_id) groups gives every point's top-k, and ONE
    * [[recallTally]] counts them — one s20 corpus pass and a fixed
    * number of rankings regardless of curve length. Reference analog:
    * the group/agg chains of streamable/stream.py:230-326, specialized
    * to recall accounting over the routing depth. */
  def cprobeRecallCurve(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32, ncoarse: Int = 8, nprobe: Int = 4,
      cprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(cprobes.nonEmpty && cprobes.forall(c => c >= 1 && c <= ncoarse))
    val emb = t(s, dir, "embeddings")
    val fine = seededCentroids(emb, nlist)
    val coarse = coarseCodebook(emb, ncoarse)
    val route = fineToCoarseRoute(coarse, fine)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // coarse probes once at max depth, rank kept: rank ≤ cp IS the
    // cprobe=cp coarse set (the nested trick holds at THIS level —
    // the coarse pool is the same for every cp)
    val coarseProbes = topKPerQuery(s,
      queries.crossJoin(broadcast(coarse))
        .select(col("q_id"), col("co_id").as("c_id"),
          r4(cosine(col("q_emb"), col("co_emb"))).as("sim")),
      cprobes.max, sorted = false)
      .select(col("q_id"), col("c_id").as("co_cell"),
        col("rnk").as("co_rnk"))
    val routedSims = route.join(broadcast(coarseProbes), "co_cell")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("cent_id").as("c_id"), col("co_rnk"),
        r4(cosine(col("q_emb"), col("cent_emb"))).as("sim"))
    // every curve point's fine probes from ONE ranking of the routed sims
    val probesAll = sweepTopK(routedSims, nprobe,
        cprobes.map(cp => lit(cp.toLong) -> (col("co_rnk") <= cp)))
      .select(col("point"), col("q_id"), col("c_id").as("cell"))
      .localCheckpoint(eager = false)
    // ONE corpus pass over the union of all probed cells
    val corpus = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"))
    val assign = seededAssign(corpus, fine)
    val cells = probesAll.select("q_id", "cell").distinct()
    val scoredCand = assign.join(broadcast(cells), "cell")
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("cell"), col("c_id"),
        r4(cosine(col("q_emb"), col("c_emb"))).as("sim"))
    val baseline = AnnRead(nQueries = nQueries, k = k, nlist = nlist,
      nprobe = nprobe)(s, dir).select("q_id", "c_id")
    // each candidate row joined to every cprobe that probes its cell
    // carries that cprobe: ONE ranking over (cprobe, q_id) groups
    val ranked = topKPerQuery(s,
      scoredCand.join(broadcast(probesAll), Seq("q_id", "cell")),
      k, sorted = false, keys = Seq("point", "q_id"))
    recallTally(baseline, ranked, cprobes.map(cp => lit(cp.toLong)), k)
      .select(col("point").as("cprobe"), col("n_hits"), col("n_truth"),
        col("recall_milli"))
      .orderBy("cprobe")
  }

  /** Trained IVF codebook: `iters` rounds of Lloyd's k-means over the
    * corpus, upgrading the seeded [[AnnRead]] stand-in codebook to the
    * real thing — the missing piece between "IVF plan shape" and "IVF
    * index you would actually ship". Each round is the classic
    * two-step as declarative Spark:
    *
    *  - ASSIGN: argmax cosine(v, c_j) via one broadcast of the (tiny)
    *    centroid table against the corpus — a map-side scan, the same
    *    shape as [[seededAssign]]'s cell assignment (max of an orderable
    *    struct, ties to the lowest cell id; no window).
    *  - UPDATE: per-(cell, dim) mean of member components over the
    *    melted corpus — one shuffle on (cell, dim), fully parallel.
    *
    * Cross-engine determinism (what makes this ORACLE-able, which an
    * ML-library kmeans is not): component sums run in
    * DECIMAL(20,10) — decimal addition is exact and associative, so
    * the shuffle's reduction order cannot change a ULP, and DuckDB's
    * decimal sum lands on the identical value; the mean then casts to
    * double once (deterministic) and cosines fold dimensions in array
    * order on both engines. At 100 TB you would run plain double
    * sums (a ULP of centroid drift is immaterial to recall) — the
    * decimal path costs ~2× on the update shuffle and buys exact
    * reproducibility, the right trade for a certified index build.
    * Empty cells keep their previous centroid (standard Lloyd
    * degeneracy handling), mirrored in the oracle.
    *
    * Output: the final codebook melted to (cell, n_members, dim,
    * cval) — n_members from the final assignment, cval r4-rounded.
    * Per-round `localCheckpoint` keeps lineage O(1) across
    * iterations (the [[graft.ops.Dedup.connectedComponents]]
    * discipline). */
  def kmeansCodebook(s: SparkSession, dir: String, nlist: Int = 32,
      iters: Int = 2): DataFrame = {
    val (cent, assign) = trainedCentroids(s, dir, nlist, iters)
    // n_members needs one extra assignment pass — the PUBLISHED
    // codebook carries it, but the trained [[AnnRead]] (which immediately
    // re-assigns the corpus anyway) skips straight to the centroids:
    // at 100 TB this pass is a full corpus×nlist cosine scan, paid
    // only where the counts are actually consumed
    val counts = assign.groupBy("cell").agg(count(lit(1)).as("n_members"))
    cent.join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("dim").cast("long").as("dim"), r4(col("cval")).as("cval"))
      .orderBy("cell", "dim")
  }

  /** Codebook artifact FORMAT VERSION — the
    * [[graft.ops.TextAnalysis.qualityModelVersion]] discipline for
    * the trained k-means codebook: any semantic change to
    * [[trainCodebookFrame]] (seeding, update rule, degeneracy
    * handling, the decimal-sum freeze) must bump it, or ensure would
    * serve centroids trained by code that no longer exists while the
    * six consumers' retraining oracles diverge. */
  val codebookVersion = "v1"

  /** Idempotent train-once for the k-means codebook — the r18
    * verdict's missing artifact: [[trainedCentroids]] was memoized
    * per SESSION, so every new driver retrained (a full Lloyd corpus
    * pass × iters) before any trained-IVF query could run; at 100 TB
    * that is the restart cost [[graft.ops.TextAnalysis
    * .ensureQualityModel]] already retired for the classifier. Same
    * [[Artifact]] discipline: every training hyperparameter (nlist,
    * iters), the format version and the embeddings content stamp in
    * the address (a codebook trained at different settings or on a
    * re-derived corpus is a DIFFERENT codebook), superseded corpus
    * generations and format versions swept with one-predecessor
    * retention. The
    * persisted frame is the melted (cell, dim, cval) codebook at
    * FULL double precision — parquet round-trips IEEE-754 doubles
    * bit-exactly, so a served codebook is bit-identical to a freshly
    * trained one (KmeansSpec pins row-level equality; the s32
    * datasheet oracle retrains in DuckDB and certifies the served
    * grid cross-engine every gate run). */
  def ensureCodebook(s: SparkSession, dir: String, nlist: Int = 32,
      iters: Int = 2): String = {
    // the guard the session memo used to enforce at its single entry
    // point — here at the ARTIFACT boundary, because a degenerate
    // nl0/it0 tree persisted under a completion marker would be served
    // forever (the r19 self-review find)
    require(nlist >= 1 && iters >= 1)
    Artifact("graft_codebook", Some(codebookVersion), "embeddings",
      s"/nl${nlist}_it${iters}_").ensure(s, dir)(
      trainCodebookFrame(s, dir, nlist, iters).write.mode("overwrite").parquet(_))
  }

  /** The ONE definition of the per-cell pairwise-cosine arithmetic
    * shared by [[graft.ops.Dedup.semDedup]] (d12) and [[knnGraph]]
    * (s13): left-to-right double dot, sqrt·sqrt norm product, r4
    * floor-rounding — operation-for-operation the codegen kernel's,
    * held in one place so the two JVM loops can never desynchronize
    * from each other or from the DuckDB-certified contract.
    * Zero-norm inputs yield NaN here where the kernel yields null;
    * both compare false against any threshold (d12's prune can never
    * fire on a degenerate vector, matching the kernel-backed join
    * formulation), and rank-consumers (s13) must SKIP NaN pairs
    * explicitly — the kernel's null would never rank. */
  private[ops] object CellMath {
    def norm(e: Array[Double]): Double = {
      var s2 = 0.0; var i = 0
      while (i < e.length) { s2 += e(i) * e(i); i += 1 }
      math.sqrt(s2)
    }
    def r4Cosine(ea: Array[Double], eb: Array[Double],
        na: Double, nb: Double): Double = {
      var dot = 0.0; var i = 0
      while (i < ea.length) { dot += ea(i) * eb(i); i += 1 }
      math.floor(dot / (na * nb) * 10000 + 0.5) / 10000.0
    }
  }

  /** One Lloyd-assignment pass of `emb` against a melted codebook
    * frame — ONE definition shared by the trainer's per-round update
    * and every consumer's final lazy assignment, so training-time
    * and serve-time assignment can never see differently-built
    * codebooks. */
  private def assignAgainstCodebook(emb: DataFrame,
      c: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("demb"))
      .crossJoin(broadcast(collapseCodebook(c)))
      .select(col("vec_id"), col("cell"),
        r4(cosine(col("demb"), col("cemb"))).as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim").as("s"), (-col("cell")).as("nc"))).as("x"))
      .select(col("vec_id"), (-col("x.nc")).as("cell"))

  /** The Lloyd TRAINING pass — [[ensureCodebook]]'s build lambda,
    * kept separately callable so KmeansSpec can certify
    * persisted ≡ retrained at full double bits every suite run.
    * Returns the final codebook melted to (cell, dim, cval — raw
    * doubles, NOT r4-rounded). */
  private[ops] def trainCodebookFrame(s: SparkSession, dir: String,
      nlist: Int, iters: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // melted corpus: (vec_id, dim, v) — v widened to double (exact).
    // NOT checkpointed: the melt is a narrow projection off the scan
    // (cheap to recompute per round), and measured, materializing
    // it costs more than the re-reads — the [[embeddingNearDupPairs]]
    // reasoning; only the ITERATED frame (cent) needs the lineage cut
    val m = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v0")))
      .select(col("vec_id"), col("dim"), col("v0").cast("double").as("v"))
    // round-0 codebook: the s05 seed vectors (ids [100, 100+nlist))
    var cent = m.filter(col("vec_id") >= 100 && col("vec_id") < 100 + nlist)
      .select((col("vec_id") - 100).as("cell"), col("dim"), col("v").as("cval"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val a = assignAgainstCodebook(emb, cent)
      val updated = m.join(a, "vec_id")
        .groupBy("cell", "dim")
        .agg((sum(col("v").cast("decimal(20,10)")).cast("double") /
          count(lit(1))).as("cval"))
      // Lloyd degeneracy: a cell that attracted no members keeps its
      // previous centroid rather than vanishing
      val kept = cent.join(updated.select("cell").distinct(),
        Seq("cell"), "left_anti")
      cent = updated.unionByName(kept).localCheckpoint()
    }
    cent
  }

  /** The trained-codebook SERVE path shared by [[kmeansCodebook]]
    * (publishes centroids + member counts) and the trained [[AnnRead]]
    * (needs only the centroids — skipping the counts saves a whole
    * corpus assignment pass). Returns (melted centroid frame (cell,
    * dim, cval — raw doubles, NOT r4-rounded), a LAZY
    * final-assignment frame). Served from the PERSISTED
    * [[ensureCodebook]] artifact: the lineage of the centroid frame
    * is one KB-sized file scan — a fresh driver against a populated
    * warehouse runs zero training jobs (the warm-start contract),
    * where the r18 session memo retrained per driver. Only the
    * nlist×dim codebook is stored (corpus-size-independent);
    * assignment stays lazy, so every consumer still pays its own
    * honest corpus scan. */
  private[ops] def trainedCentroids(s: SparkSession, dir: String,
      nlist: Int, iters: Int): (DataFrame, DataFrame) = {
    require(nlist >= 1 && iters >= 1)
    val trained = Tables.read(s, ensureCodebook(s, dir, nlist, iters))
    (trained, assignAgainstCodebook(t(s, dir, "embeddings"), trained))
  }

  /** Final trained assignment with the vector carried IN-ROW:
    * (vec_id, cell, emb as double[]). [[trainedCentroids]]'s lazy
    * assignment frame drops the embedding at its argmax aggregation,
    * so a consumer that needs (cell, emb) together — d12's
    * within-cluster pairwise pass — would have to join the corpus
    * back to it on vec_id: a corpus×corpus equi-join that AQE saves
    * at test SF but that becomes a genuine sort-merge shuffle at
    * 100 TB. Here the argmax runs per-row instead: the trained
    * codebook collapses to ONE row (nlist × dim doubles — bounded by
    * the codebook, not the corpus), broadcasts, and a higher-order
    * `array_max` over struct(sim, -cell) picks each vector's cell
    * inside the projection — value-identical to `assign`'s
    * max(struct) aggregation (same r4-rounded kernel cosine, same
    * highest-sim-then-lowest-cell tie-break, certified against the
    * same unrolled-Lloyd oracle CTEs) with zero joins and zero
    * shuffles: one corpus scan, embeddings never leave their row. */
  private[ops] def trainedAssignedVectors(s: SparkSession, dir: String,
      nlist: Int, iters: Int): DataFrame = {
    t(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .crossJoin(broadcast(trainedCodebookRow(s, dir, nlist, iters)))
      .withColumn("best", bestCellStruct(col("cents"), col("emb")))
      .select(col("vec_id"), (-col("best.nc")).as("cell"),
        col("best.s").as("csim"), col("emb"))
  }

  /** The trained codebook at its PUBLISHED r4 precision as
    * (cent_id, cent_emb) — the exact frame every trained-IVF query
    * ranks against, ONE definition shared by every trained
    * [[AnnRead]] (s07, s31, s33–s37) so the identity they certify
    * against each other (cprobe = ncoarse ⇒ s31 ≡ s07) cannot drift.
    * cvals are r4-rounded exactly like the published codebook (the
    * oracle quantizes identically), but via [[trainedCentroids]]
    * directly: the published n_members requires a whole extra corpus
    * assignment pass that these queries — which re-assign the corpus
    * themselves — would pay for nothing. */
  private[ops] def trainedFineCodebook(s: SparkSession, dir: String,
      nlist: Int, iters: Int): DataFrame =
    trainedCentroids(s, dir, nlist, iters)._1
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), r4(col("cval")).as("cval")))).as("p"))
      .select(col("cell").as("cent_id"), transform(col("p"), x => x("cval")).as("cent_emb"))

  /** Codebook-artifact datasheet (s32) — the
    * [[graft.ops.TextAnalysis.qualityModelDatasheet]] pattern for
    * the persisted k-means codebook: ensure → read → describe runs
    * inside a pure registry query, so every gate run certifies the
    * train → persist → serve round-trip, and the DuckDB oracle
    * RETRAINS the codebook from the corpus (the unrolled Lloyd
    * chain) and must land on the identical row — persisted ≡
    * retrained certified cross-engine on the r4 grid every consumer
    * reads (integer ten-thousandths, so the sum is exact and
    * order-free; KmeansSpec separately pins FULL-double-bit equality
    * in-engine). One aggregate over the nlist×dim artifact frame —
    * corpus untouched beyond the ensure-guarded training pass. */
  def codebookDatasheet(s: SparkSession, dir: String, nlist: Int = 32,
      iters: Int = 2): DataFrame =
    Tables.read(s, ensureCodebook(s, dir, nlist, iters))
      .select(col("cell"), col("dim"),
        floor(col("cval") * lit(1e4) + lit(0.5)).cast("long").as("cv4"))
      .agg(countDistinct(col("cell")).as("cells"),
        countDistinct(col("dim")).as("dims"),
        count(lit(1)).as("n"),
        sum("cv4").as("cv4_sum"),
        min("cv4").as("cv4_min"),
        max("cv4").as("cv4_max"))

  /** The trained codebook collapsed to ONE broadcastable row — a
    * `cents` array of (cell, cemb) structs, nlist×dim doubles
    * regardless of corpus size. The static half of every in-row
    * assignment (batch [[trainedAssignedVectors]], streaming
    * [[graft.streaming.Streams.semanticProbeStream]]). */
  def trainedCodebookRow(s: SparkSession, dir: String,
      nlist: Int, iters: Int): DataFrame = {
    val (cent, _) = trainedCentroids(s, dir, nlist, iters)
    collapseCodebook(cent)
      .agg(collect_list(struct(col("cell"), col("cemb"))).as("cents"))
  }

  /** Melted centroids (cell, dim, cval) → per-cell embedding arrays
    * (cell, cemb), dim-sorted — the ONE definition of the collapse,
    * consumed by the Lloyd loop's per-round assignment AND the final
    * [[trainedCodebookRow]], so iteration-time and final/streaming
    * assignment can never see differently-built codebooks. */
  private def collapseCodebook(cent: DataFrame): DataFrame =
    cent.groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("cval")))).as("p"))
      .select(col("cell"), transform(col("p"), x => x("cval")).as("cemb"))

  /** In-row cell argmax against a collected codebook array column —
    * struct(s = r4 cosine to the winning centroid, nc = -cell), the
    * max picking highest sim then lowest cell (the oracle's
    * row_number tie contract). ONE definition shared by the batch
    * assignment and the streaming probe so the two can never
    * desynchronize. It is the native `nearest_cell` kernel
    * ([[graft.functions.NearestCellExpr]]), equal for every input to
    * the interpreted `array_max(transform(cents, c => struct(
    * r4(cosine(emb, c.cemb)) AS s, -c.cell AS nc)))` it replaced, except
    * that a null `emb` gives null: every caller drops the rows whose
    * vector is null before it assigns a cell, so a row with no vector
    * is in no cell. */
  def bestCellStruct(cents: Column, emb: Column): Column =
    graft.functions.NearestCell(cents, emb)

  /** The static side of the streaming semantic near-dup gate: the
    * trained per-cell member index (cell, match_id, emb_a) plus the
    * one-row codebook. Build ONCE and persist (the
    * [[graft.streaming.Streams.nearDupBandIndex]] advice — the static
    * side of a stream-static join re-evaluates per micro-batch). */
  def semanticIndex(s: SparkSession, dir: String, nlist: Int = 0,
      iters: Int = 2): (DataFrame, DataFrame) = {
    val nl = graft.ops.Dedup.resolvedNlist(s, nlist)
    (trainedAssignedVectors(s, dir, nl, iters)
       .select(col("cell"), col("vec_id").as("match_id"),
         col("emb").as("emb_a")),
     trainedCodebookRow(s, dir, nl, iters))
  }

  /** Idempotent write-once build of [[semanticIndex]]: the member
    * table partitioned by trained cell under `<root>/members`, the
    * one-row codebook under `<root>/codebook` — written LAST, so its
    * completion marker certifies the PAIR is complete (a crash between
    * the two writes leaves no marker and the next call rebuilds).
    * Probe-side jobs ([[graft.ops.Dedup.incrementalSemanticNearDups]],
    * and the static side of
    * [[graft.streaming.Streams.semanticProbeStream]]) read this
    * layout instead of re-running the Lloyd training per call: at
    * 100 TB the one training scan amortizes over every ingestion
    * batch, and the by-cell partitioning keeps the member scan
    * prunable to probed cells — the [[ensureIvfIndex]] contract for
    * the trained index. */
  def ensureSemanticIndex(s: SparkSession, dir: String, nlist: Int = 0,
      iters: Int = 2): String = {
    val nl = graft.ops.Dedup.resolvedNlist(s, nlist)
    Artifact("graft_semantic_index", None, "embeddings",
      s"_nl${nl}_it${iters}_", lastPart = Some("codebook")).ensure(s, dir) { root =>
      val (index, cb) = semanticIndex(s, dir, nl, iters)
      writePartitionedByCell(index, s"$root/members")
      cb.write.mode("overwrite").parquet(s"$root/codebook")
    }
  }

  /** Pure-reader side of [[ensureSemanticIndex]]: the (members,
    * codebook) pair read back from the layout. `cell` is re-cast to
    * long — partition-column inference reads the directory values as
    * int, and the probe side's cell (from the in-row argmax) is long,
    * so the cast keeps the equi-join key types aligned. Doubles
    * round-trip parquet exactly, so results are hash-identical to the
    * in-memory [[semanticIndex]] frames. */
  def readSemanticIndex(s: SparkSession, root: String): (DataFrame, DataFrame) =
    (Tables.read(s, s"$root/members")
       .withColumn("cell", col("cell").cast("long")),
     Tables.read(s, s"$root/codebook"))

  /** Cell-bounded k-NN graph (s13): for every corpus vector, its
    * top-`k` most-similar neighbors WITHIN its own trained IVF cell —
    * the approximate neighbor graph that diversity sampling,
    * graph-based clustering, and SemDeDup-family curation build as
    * their first step at scale. The cell restriction is the same
    * recall trade as [[graft.ops.Dedup.semDedup]] (the cluster
    * granularity bounds the quadratic term; cross-cell neighbors are
    * invisible by design, measured by d13), and `nlist` resolves
    * through the same sized rule, so per-cell work is a constant
    * ~occupancy²·dim as the corpus grows.
    *
    * Plan shape: no join exists — assignment is the in-row argmax
    * scan ([[trainedAssignedVectors]]), then ONE shuffle groups each
    * cell and a `flatMapGroups` pass scores members pairwise and
    * emits each member's bounded top-k (sim desc r4-rounded, then
    * neighbor id — the s01 tie contract). Per-group memory is
    * |cell|·dim·8 B; output is the n·k-row graph, written, never
    * collected. Cosine arithmetic is operation-for-operation the
    * kernel's (precomputed norms, left-to-right double dot), keeping
    * the DuckDB oracle hash-exact. Reference analog: the per-element
    * transform/group chains of streamable/stream.py:96-151, here as a
    * whole-corpus graph materialization. */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3,
      nlist: Int = 0, iters: Int = 2): DataFrame = {
    import s.implicits._
    val nl = graft.ops.Dedup.resolvedNlist(s, nlist)
    trainedAssignedVectors(s, dir, nl, iters)
      .select(col("cell"), col("vec_id"), col("emb"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.toArray.sortBy(_._2)
        val es = members.map(_._3)
        val norms = es.map(CellMath.norm)
        // symmetric sims computed ONCE per unordered pair (the upper
        // triangle), mirrored into a flat |cell|² lookup — halves the
        // dominant occupancy²·dim cost; the lookup is ~32 KB at the
        // sized occupancy (64² doubles), bounded by the same knob as
        // everything else in the group. Zero-norm members score NaN
        // and are skipped below (the kernel's null-never-ranks
        // contract — see [[CellMath]]).
        val nM = members.length
        val simArr = new Array[Double](nM * nM)
        var a0 = 0
        while (a0 < nM) {
          var b0 = a0 + 1
          while (b0 < nM) {
            val sim =
              if (norms(a0) == 0 || norms(b0) == 0) Double.NaN
              else CellMath.r4Cosine(es(a0), es(b0), norms(a0), norms(b0))
            simArr(a0 * nM + b0) = sim
            simArr(b0 * nM + a0) = sim
            b0 += 1
          }
          a0 += 1
        }
        members.indices.iterator.flatMap { a =>
          val sims = members.indices.collect {
            case b if b != a && !simArr(a * nM + b).isNaN =>
              (members(b)._2, simArr(a * nM + b))
          }
          sims.sortBy { case (nbId, sim) => (-sim, nbId) }
            .take(k).zipWithIndex.map { case ((nbId, sim), i) =>
              (members(a)._2, (i + 1).toLong, nbId, sim)
            }
        }
      }
      .toDF("vec_id", "rnk", "nb_id", "sim")
      .orderBy("vec_id", "rnk")
  }

  /** Cell-bounded kNN-graph centrality (s14) — PageRank-style power
    * iteration over [[knnGraph]]'s directed top-k cosine edges,
    * scoring each vector's REPRESENTATIVENESS among its semantic
    * neighbors: a vector many neighbors point at (and whose pointers
    * are themselves pointed at) accumulates rank. This is the graph-
    * centrality data-selection signal (keep the most central exemplar
    * per region, cf. the density/coverage selection literature around
    * SemDeDup/SSL-prototypes) — the inverse of [[prototypePruneStats]],
    * which ranks by geometry to the centroid; centrality ranks by the
    * neighbor GRAPH, which survives elongated clusters where the
    * centroid sits in empty space. Emits the full per-vector ranking
    * (cell, vec_id, rnk, score, outdeg). Reference analog: the
    * group/agg chains of streamable/stream.py:230-326, specialized to
    * iterative graph scoring.
    *
    * Scale design: kNN edges NEVER CROSS CELLS by construction, so
    * every cell is an independent subgraph and the ENTIRE power
    * iteration runs inside one `groupByKey(cell)` pass — ONE shuffle
    * total for any number of rounds, where the textbook edge-join
    * formulation costs two corpus-sized shuffle joins per round.
    * Under the [[graft.ops.Dedup.sizedNlist]] occupancy rule a group
    * holds ~64 members (the sim matrix + rank arrays are ~40 KB), and
    * the number of independent groups grows as n/64 with the corpus —
    * the same parallelism story as d12/s13, with per-group work
    * occupancy²·dim for the one-off sim matrix and occupancy·k per
    * round thereafter.
    *
    * Cross-engine determinism: ranks live in integer MICRO-UNITS
    * (r₀ = 10⁶) and every round is pure integer arithmetic — r' =
    * 150 000 + Σ_in (r·85 / 100) / outdeg with floor division at each
    * step — so sums are order-free and the DuckDB oracle unrolls the
    * rounds as exact-integer CTEs (the s06 unrolled-Lloyd discipline
    * applied to power iteration; damping d=0.85 as 85/100). Rank mass
    * is bounded by occupancy·10⁶ ≪ 2⁶³ at any corpus size. Members
    * with no out-edges (singleton cells, zero-norm vectors) simply
    * contribute nothing and settle at the 150 000 base — the dangling-
    * mass leak classic PageRank redistributes; here dropped, and
    * identically dropped in the oracle. */
  def knnCentrality(s: SparkSession, dir: String, k: Int = 3,
      rounds: Int = 3, nlist: Int = 0, iters: Int = 2): DataFrame = {
    import s.implicits._
    val nl = graft.ops.Dedup.resolvedNlist(s, nlist)
    trainedAssignedVectors(s, dir, nl, iters)
      .select(col("cell"), col("vec_id"), col("emb"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val members = it.toArray.sortBy(_._2)
        val nM = members.length
        val es = members.map(_._3)
        val norms = es.map(CellMath.norm)
        // one symmetric sim matrix, the knnGraph kernel shape: upper
        // triangle computed once, mirrored; zero-norm pairs NaN
        val simArr = new Array[Double](nM * nM)
        var a0 = 0
        while (a0 < nM) {
          var b0 = a0 + 1
          while (b0 < nM) {
            val sim =
              if (norms(a0) == 0 || norms(b0) == 0) Double.NaN
              else CellMath.r4Cosine(es(a0), es(b0), norms(a0), norms(b0))
            simArr(a0 * nM + b0) = sim
            simArr(b0 * nM + a0) = sim
            b0 += 1
          }
          a0 += 1
        }
        // directed out-edges: each member's top-k neighbors under the
        // knnGraph tie contract (sim desc r4-rounded, neighbor id asc)
        val out: Array[Array[Int]] = members.indices.map { a =>
          members.indices.collect {
            case b if b != a && !simArr(a * nM + b).isNaN =>
              (members(b)._2, b)
          }.sortBy { case (nbId, b) => (-simArr(a * nM + b), nbId) }
            .take(k).map(_._2).toArray
        }.toArray
        // power iteration in integer micro-units: order-free exact
        var r = Array.fill(nM)(1000000L)
        var round = 0
        while (round < rounds) {
          val next = Array.fill(nM)(150000L)
          var a = 0
          while (a < nM) {
            val oa = out(a)
            if (oa.nonEmpty) {
              val contrib = r(a) * 85L / 100L / oa.length
              var j = 0
              while (j < oa.length) { next(oa(j)) += contrib; j += 1 }
            }
            a += 1
          }
          r = next
          round += 1
        }
        val order = members.indices.sortBy(i => (-r(i), members(i)._2))
        order.iterator.zipWithIndex.map { case (i, idx) =>
          (cell, members(i)._2, (idx + 1).toLong,
            r(i).toDouble / 1e6, out(i).length.toLong)
        }
      }
      .toDF("cell", "vec_id", "rnk", "score", "outdeg")
      .orderBy("cell", "rnk")
  }

  /** MMR-diversified retrieval (s15; Carbonell & Goldstein 1998,
    * maximal marginal relevance): greedily pick k results that trade
    * query relevance against redundancy with what is ALREADY picked —
    * argmax λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s). The standard
    * diversity reranker for retrieval-augmented pipelines: a plain
    * top-k returns five near-copies of the best hit; MMR returns the
    * best hit plus its best non-redundant alternatives. λ = 0.7 here.
    * Reference analog: the chained filter/distinct consumption of
    * streamable/stream.py:230-326 — dedup applied INSIDE a ranked
    * selection.
    *
    * Scale design: relevance scoring is the s01/s04 shape (broadcast
    * query rows, one corpus scan, codegen'd cosine kernel) and the
    * pool cut is the bounded-heap [[topKPerQuery]] — no window, no
    * sort. The greedy selection is inherently sequential, but only
    * over the POOL (|pool| per query, not the corpus): candidates
    * regroup per query in one `groupByKey` over nQ·pool 16-byte rows
    * and the k·pool-pairwise loop runs in-executor — the s12 rerank
    * asymmetry (full corpus through the cheap pass, quadratic work
    * only on the bounded candidate set). Candidate embeddings attach
    * via a broadcast join of the tiny pool frame against the corpus.
    *
    * Cross-engine determinism: both sim scales live as ×10⁴ integers
    * (the r4 grid), and λ = 0.7 is cleared of floats — score =
    * 7·sq4 − 3·md4 in LONG arithmetic, ties → min c_id — so the
    * DuckDB oracle replays the greedy steps as unrolled CTEs (the s06
    * discipline) and lands on identical integers at every pick. */
  def mmrTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      pool: Int = 16): DataFrame = {
    import s.implicits._
    import graft.functions.CosineSimilarity
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        Relational.r4(CosineSimilarity(col("q_emb"), col("c_emb"))).as("sim"))
    val poolDf = topKPerQuery(s, scored, pool, sorted = false)
      .select(col("q_id"), col("c_id"),
        round(col("sim") * 10000).cast("long").as("sq4"))
    val withEmb = corpus
      .join(broadcast(poolDf), "c_id")
      .select(col("q_id"), col("c_id"), col("sq4"),
        col("c_emb").cast("array<double>").as("emb"))
    withEmb.as[(Long, Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val cands = it.toArray.sortBy(_._2)
        val n = cands.length
        val norms = cands.map(c => CellMath.norm(c._4))
        val selected = Array.fill(n)(false)
        // max ×10⁴ similarity to the selected set; MinValue = "empty
        // set" (the true max can be NEGATIVE — clamping at 0 would
        // diverge from the oracle's max())
        val md4 = Array.fill(n)(Long.MinValue)
        val out = Array.newBuilder[(Long, Long, Long, Double, Long)]
        var r = 0
        while (r < math.min(k, n)) {
          var best = -1; var bestScore = Long.MinValue
          var i = 0
          while (i < n) {
            if (!selected(i)) {
              val div = if (r == 0) 0L else 3L * md4(i)
              val score = 7L * cands(i)._3 - div
              // strict > with ascending-c_id traversal = min-id ties
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          out += ((q, (r + 1).toLong, cands(best)._2,
            cands(best)._3.toDouble / 10000.0, bestScore))
          selected(best) = true
          var j = 0
          while (j < n) {
            if (!selected(j)) {
              val s4 = math.round(CellMath.r4Cosine(cands(j)._4, cands(best)._4,
                norms(j), norms(best)) * 10000)
              if (s4 > md4(j)) md4(j) = s4
            }
            j += 1
          }
          r += 1
        }
        out.result().iterator
      }
      .toDF("q_id", "rnk", "c_id", "sim", "mmr_i")
      .orderBy("q_id", "rnk")
  }

  /** SSL-prototypes pruning statistics (c13; Sorscher et al. 2022,
    * "Beyond neural scaling laws", arXiv:2206.14486): within each
    * trained cluster, rank members by cosine to their OWN centroid —
    * the most prototypical (easiest, most redundant) quarter is the
    * prune candidate set the paper's data-pruning rule discards on
    * large corpora. Emits the full per-vector ranking with the prune
    * flag so downstream curation can anti-join survivors.
    *
    * Scale design: assignment sim comes free from the
    * [[trainedAssignedVectors]] argmax (no second scoring pass); the
    * only shuffle is the rank window PARTITIONED BY cell — under the
    * sized-nlist rule that is n/64 independent ~64-row partitions,
    * parallelism growing with the corpus, never a global sort. The
    * prune count is integer floor(n/4) per cell, and the rank tie
    * contract (csim desc, vec_id) makes the flag deterministic on
    * both engines. Reference analog: the filter/distinct curation
    * chains of streamable/stream.py:230-326, specialized to
    * geometry-ranked pruning. */
  def prototypePruneStats(s: SparkSession, dir: String,
      nlist: Int = 0, iters: Int = 2): DataFrame = {
    val nl = graft.ops.Dedup.resolvedNlist(s, nlist)
    val w = Window.partitionBy("cell")
    trainedAssignedVectors(s, dir, nl, iters)
      .select(col("cell"), col("vec_id"), col("csim"))
      .withColumn("rnk", row_number()
        .over(w.orderBy(col("csim").desc, col("vec_id"))).cast("long"))
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("pruned",
        (col("rnk") <= col("n_members") / lit(4L)).cast("int"))
      .select(col("cell"), col("vec_id"), col("rnk"), col("csim"), col("pruned"))
      .orderBy("cell", "rnk")
  }

  /** Scalar-quantized (int8) exact-rerank-free top-k: the ANN
    * memory/bandwidth play — each dimension is affinely mapped to a
    * [-127, 127] code against PER-DIMENSION corpus min/max, shrinking
    * the vector table 4× (int8 vs float32; 8× vs the double math),
    * which at 100 TB is the difference between an in-memory and a
    * spilling scan. Search scores DEQUANTIZED codes, so results are
    * approximate exactly to the quantization error and NOTHING else —
    * which is what makes it oracle-able: the DuckDB oracle replicates
    * the same min/max, the same floor(x+0.5) code assignment and the
    * same dequantized cosine, so the hash-match certifies the whole
    * quantize → dequantize → rank path bit-for-bit.
    *
    * Plan shape at scale: the per-dim stats are one posexplode +
    * partial-agg shuffle of d-row output (runs ONCE at index build —
    * here inline for the certified query); the (mins, maxs) row is a
    * broadcast-NLJ constant; quantization fuses into the scan
    * projection; ranking is the bounded-heap [[topKPerQuery]]. A
    * constant dimension (mx == mn) dequantizes to that constant. */
  def sqTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    // r20: per-dim min/max via the one-pass [[MinMaxVecAgg]] kernel —
    // O(dim) state per partition, ONE aggregation — instead of the
    // posexplode melt, which materialized corpus×dim rows and paid
    // two aggregation rounds (measured: ~30% of s08 at sf0.1). Values
    // are identical by the kernel's melt-equivalence contract (same
    // per-dim min/max doubles, shorter/null rows contribute exactly
    // what the explode contributed). A flat 2·dim-scalar-aggregate
    // formulation was tried first and REGRESSED ~1.4× — 128 aggregate
    // buffer fields fall out of whole-stage codegen; the imperative
    // kernel is the shape that wins (the TopKRowsAgg lesson).
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    val params = emb.groupBy().agg(MinMaxVec(col("emb")).as("mm"))
      .select(col("mm.mins").as("mins"), col("mm.maxs").as("maxs"))
    // dequantized vector: deq_i = mn_i + code_i * (mx_i - mn_i) / 254,
    // code_i = floor((v_i - mn_i) / (mx_i - mn_i) * 254 + 0.5) ∈ [0,254]
    // (stored int8 as code_i - 127; the shift cancels in dequant)
    def dequant(v: Column): Column =
      transform(sequence(lit(0), size(v) - 1), i => {
        val x = element_at(v, i + 1)
        val mn = element_at(col("mins"), i + 1)
        val mx = element_at(col("maxs"), i + 1)
        when(mx === mn, mn).otherwise(
          mn + floor((x - mn) / (mx - mn) * 254 + 0.5) * (mx - mn) / 254)
      })
    val dq = emb.crossJoin(broadcast(params))
      .select(col("vec_id"), dequant(col("emb")).as("dq"))
    val queries = dq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("dq").as("q_dq"))
    val corpus = dq.select(col("vec_id").as("c_id"), col("dq").as("c_dq"))
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        r4(cosine(col("q_dq"), col("c_dq"))).as("sim"))
    topKPerQuery(s, scored, k)
  }

  /** Two-stage retrieval: compressed RETRIEVE → exact RERANK — the
    * standard production shape every vector stack converges on
    * (quantized index recall, exact final scores). Stage 1 runs the
    * [[sqTopK]] scan over the int8-quantized table for an EXPANDED
    * candidate set (k·expand per query); stage 2 fetches the exact
    * float vectors for those candidates only and re-scores with true
    * cosine, cutting back to k.
    *
    * Scale story: the full corpus is touched once, through the 4×-
    * compressed quantized representation; exact vectors — the 100 TB
    * column — are read for nQueries·k·expand rows, fetched via a
    * broadcast join on the (tiny by construction) candidate list, so
    * the corpus neither shuffles nor decompresses. Quantization error
    * only costs RECALL at the k'→k boundary (a true top-k neighbor
    * missing from the top-k' candidates); every returned score is
    * exact — the property the rerank stage exists to buy. */
  def rerankTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, expand: Int = 4): DataFrame = {
    val cands = sqTopK(s, dir, nQueries, k * expand).select("q_id", "c_id")
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val rescored = emb
      .join(broadcast(cands), col("vec_id") === col("c_id"))
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("c_id"),
        r4(cosine(col("q_emb"), col("emb"))).as("sim"))
    topKPerQuery(s, rescored, k)
  }

  /** Product-quantized (PQ) top-k with ADC (asymmetric distance
    * computation) — the OTHER big quantization family next to [[sqTopK]]'s
    * scalar codes: the vector splits into `m` subspaces, each encoded as
    * its nearest codeword id in a per-subspace codebook of
    * `codebookSize` entries, so a 64-dim float vector compresses to
    * m = 8 BYTES (32× smaller than float32 — the memory story that
    * makes billion-scale ANN fit in RAM). Search never decodes the
    * corpus: a query precomputes its dot product against every
    * codeword (m × codebookSize values, broadcast as a lookup map) and
    * a candidate's approximate cosine is m in-row lookups — zero
    * arithmetic per dimension at scan time.
    *
    * Codebooks are the s05 determinism pattern: the `codebookSize`
    * seed vectors' subspace slices (a real index trains them per
    * subspace with k-means — [[kmeansCodebook]] shows that machinery;
    * deterministic codebooks are what make this ORACLE-able).
    * Encoding assigns each subvector by (r4-rounded L2 distance,
    * codeword id) — the rounding pins cross-engine tie order. Every
    * reduction folds in a deterministic order (in-row index-order
    * aggregates on the Spark side, `list_sum(list(... ORDER BY j))` in
    * the oracle), so the hash-match certifies codebook → encode → ADC
    * → rank bit-for-bit; approximation lives in the algorithm only.
    *
    * Scale shape: the codebook (m × codebookSize rows) broadcasts;
    * encoding is one corpus melt (×m rows) + an argmin partial-agg
    * back to one row per vector — an index-build cost, here inline for
    * the certified query; the ADC scan crossJoins the tiny per-query
    * lookup maps and shuffles nothing; ranking is the bounded-heap
    * [[topKPerQuery]]. */
  def pqTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      m: Int = PqM, codebookSize: Int = PqCodebookSize,
      dimParam: Int = PqDimParam,
      shared: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // `shared`: a caller-materialized (codes, qtab) pair — the s19
    // audit seam: the encode pass is an index-build cost, and an
    // audit running several PQ members over the SAME codebook params
    // should pay it once, not once per member
    val (codes, qtab) = shared.getOrElse(
      pqCodesAndQueryTables(s, dir, nQueries, m, codebookSize, dimParam))
    // ADC scan: m in-row map lookups per candidate, summed in j order
    val scored = codes.crossJoin(broadcast(qtab))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        adcSim(m, codebookSize).as("sim"))
    topKPerQuery(s, scored, k)
  }

  /** The ONE set of PQ hyperparameter defaults. [[pqTopK]] (s09),
    * [[ivfPqTopK]] (s18) and [[quantRecallAudit]] (s19) all read
    * THESE constants, so the audit can never silently measure a
    * different quantization config than the standalone queries it
    * certifies (r19 advisory: the audit hardcoded its own copy of
    * the defaults, which would drift invisibly if either signature
    * changed). */
  private[graft] val PqM = 8
  private[graft] val PqCodebookSize = 16
  private[graft] val PqDimParam = 0

  /** The ADC cosine for one candidate row: m in-row lookups into the
    * broadcast per-query table, summed in j order, normalized by
    * ‖q‖·√(reconstructed norm²). Shared by s09's full scan and s18's
    * cell-pruned scan so the two paths score identically. */
  private def adcSim(m: Int, codebookSize: Int): Column =
    r4(aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(col("tab"),
        j.cast("long") * codebookSize + element_at(col("codes"), j + 1)))
      / (col("qn") * sqrt(col("vnorm2"))))

  /** The PQ index machinery shared by s09 and s18: returns
    * (codes, qtab) — per-vector j-ordered code arrays + reconstructed
    * norm², and per-query ADC lookup maps + query norms. Pure code
    * motion from [[pqTopK]]; its scaladoc carries the contracts. */
  private def pqCodesAndQueryTables(s: SparkSession, dir: String,
      nQueries: Int, m: Int, codebookSize: Int,
      dimParam: Int): (DataFrame, DataFrame) = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    // dimParam=0 (default) resolves from session conf `graft.pq.dim`
    // (itself defaulting to the testdata's 64), so a non-64-dim corpus
    // is a config change, not a code change, for every caller
    // including the s09 registry entry. Resolution reads a conf —
    // zero driver jobs, construction stays action-free.
    val dim = if (dimParam > 0) dimParam else s.conf.get("graft.pq.dim", "64").toInt
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val w = dim / m
    // `dim` is a declared parameter (an index build knows its dim), not
    // a probe — the old `head()` probe cost a driver-blocking job per
    // call (PlanSpec pins construction at zero actions). A mismatched
    // corpus still fails LOUDLY, inside the query itself, via a FILTER
    // on the raw array's size: one integer comparison per row. (r7
    // instead wrapped the emb column itself in when/raise_error; every
    // downstream subspace slice then re-branched through that
    // conditional and s09 doubled — the guard must cost a predicate,
    // not an expression tree around the data.) A hardcoded dim on
    // short vectors would otherwise slice short subvectors and return
    // arbitrary codes with no error.
    val emb = t(s, dir, "embeddings")
      .filter(when(size(col("embedding")) === dim, lit(true))
        .otherwise(raise_error(concat(
          lit(s"pqTopK: expected dim=$dim, row has "),
          size(col("embedding")).cast("string")))))
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    def subspaces(v: Column): Column =
      transform(sequence(lit(0), lit(m - 1)),
        j => struct(j.cast("long").as("j"), slice(v, j * w + 1, lit(w)).as("sv")))
    // codebook: seed vectors' subspace slices + codeword norms
    val cbRaw = emb.filter(col("vec_id") >= 100 && col("vec_id") < 100 + codebookSize)
      .select((col("vec_id") - 100).as("c"), explode(subspaces(col("emb"))).as("s"))
      .select(col("s.j").as("j"), col("c"), col("s.sv").as("cw"))
      .withColumn("norm2", dot(col("cw"), col("cw")))
    // Codebook-presence guard, validated structurally: a corpus
    // lacking seed vec_ids yields a partial/empty codebook, and inner
    // joins would silently return degraded or empty results. The full
    // EXPECTED (subspace, codeword) grid — m × codebookSize literal
    // rows, never empty — left-joins the seed-derived rows on BOTH
    // keys, and the frame's output keys come from the GRID side, so
    // they are provably non-null: the downstream inner joins'
    // inferred IsNotNull(j) cannot prune the guard rows (the r8 shape
    // keyed the frame on nullable cbRaw.j, and Catalyst pushed the
    // null-pruning filter below the projection — the guard was dead
    // code and missing seeds returned silently-empty results). The
    // raise_error lives INSIDE `cw`/`norm2`, which feed the encode
    // and ADC dot products — a data dependency of every output row,
    // unprunable. Check costs m×codebookSize branch evaluations,
    // zero driver jobs; the corpus-sized hot path stays guard-free
    // (r7 instead threaded per-group counts through the encode
    // aggregation and s09 doubled).
    val missingMsg = lit(s"pqTopK: codebook incomplete — seed vec_ids " +
      s"[100, ${100 + codebookSize}) missing from corpus")
    val cb = s.range(1)
      .select(explode(sequence(lit(0L), lit(m - 1L))).as("jexp"))
      .select(col("jexp"), explode(sequence(lit(0L), lit(codebookSize - 1L))).as("cexp"))
      .join(cbRaw, col("jexp") === col("j") && col("cexp") === col("c"), "left")
      .select(col("jexp").as("j"), col("cexp").as("c"),
        when(col("cw").isNull, raise_error(missingMsg)).otherwise(col("cw")).as("cw"),
        when(col("cw").isNull, raise_error(missingMsg)).otherwise(col("norm2")).as("norm2"))
    // encode: the codegen [[graft.functions.PqEncodeExpr]] kernel —
    // one fused compiled loop per row over the one-row broadcast
    // codebook, ZERO exchanges. Replaces (r20) the melt → broadcast
    // join → struct-argmin aggregate → collect_list shape, which paid
    // two corpus-sized Sort + Exchange + SortAggregate rounds per
    // encode. History: the r19-opt round tried the in-row form
    // WITHOUT codegen (interpreted zip_with/aggregate lambdas nested
    // in transform/array_min) and correctly reverted it — a
    // lambda-bound slice() re-evaluates per codeword, ~1.5× worse at
    // ×16. The kernel is the follow-up that experiment queued: the
    // per-codeword work is one compiled loop (the seededAssign
    // profile, where in-row wins). Value identity is argued at the
    // kernel (same fold order, same r4 sequence, same argmin
    // tie-break) and pinned by the s09/s18/s19 oracles end to end.
    // The codebook collapses to ONE broadcastable row: codewords
    // flattened j-major (the sort key (j, c) is the struct's leading
    // fields), norms at j·codebookSize + c. The incomplete-codebook
    // raise_error still rides inside cw/norm2 — collect_list is a
    // data dependency of every encoded row, unprunable.
    val cbRow = cb
      .agg(array_sort(collect_list(struct(col("j"), col("c"), col("cw"),
        col("norm2")))).as("e"))
      .select(flatten(transform(col("e"), x => x("cw"))).as("cwflat"),
        transform(col("e"), x => x("norm2")).as("norm2s"))
    val codes = emb.crossJoin(broadcast(cbRow))
      .select(col("vec_id"), graft.functions.PqEncode(col("emb"),
        col("cwflat"), col("norm2s"), m, codebookSize).as("pe"))
      .select(col("vec_id"), col("pe.codes").as("codes"),
        col("pe.vnorm2").as("vnorm2"))
    // per-query ADC table: dot(query subvector, codeword) for every
    // (subspace, codeword), as a broadcastable lookup map; plus ‖q‖.
    // Plain inner join: `cb` already certified itself complete above.
    val qtab = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("emb"),
        explode(subspaces(col("emb"))).as("s"))
      .join(broadcast(cb), col("s.j") === cb("j"))
      .groupBy("q_id")
      .agg(map_from_entries(collect_list(struct(
          (col("j") * codebookSize + col("c")).as("key"),
          dot(col("s.sv"), col("cw")).as("dq")))).as("tab"),
        first(sqrt(dot(col("emb"), col("emb")))).as("qn"))
    (codes, qtab)
  }

  /** IVF-PQ (s18) — the production ANN composition (Jégou et al.
    * 2011, the FAISS `IVFPQ` structure): the coarse IVF quantizer
    * prunes the corpus to `nprobe` cells and PQ-ADC scores ONLY the
    * surviving candidates. s05 contributes the cell selectivity
    * (touch nprobe/nlist of the data), s09 the 32× compression and
    * per-candidate m-lookup scoring — composed, a billion-vector
    * search reads a fraction of a compressed index and never decodes
    * a vector. Assignment, probes, codebooks, encoding, and the ADC
    * arithmetic are the EXACT machinery of s05 and s09 (shared
    * builders — [[pqCodesAndQueryTables]], [[adcSim]]), so the oracle
    * composes the two certified replications and the hash pins the
    * whole pipeline. Vectors are PQ-encoded RAW, not as residuals
    * from their cell centroid (FAISS's `by_residual=false` option):
    * residual encoding buys quantization accuracy at the cost of a
    * per-cell re-derivation of the query's ADC tables (nprobe× table
    * builds per query) and would need its own oracle chain — the
    * composition contract here is deliberately "s09's exact codes,
    * s05's exact cells".
    *
    * Scale shape: centroids and probe table broadcast; one
    * assignment scan; the candidate frame (nprobe/nlist of the
    * corpus) joins the 8-byte code table — hint-free, AQE picks the
    * strategy (candidates are query-batch-sized at gate SF, shuffle
    * at production batch sizes); bounded-heap ranking. Recall
    * compounds BOTH approximations (unprobed-cell misses × ADC
    * ranking error) — the trade the curve advisories (s17, d13)
    * exist to measure. */
  def ivfPqTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32, nprobe: Int = 4, m: Int = PqM,
      codebookSize: Int = PqCodebookSize, dimParam: Int = PqDimParam,
      shared: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cent = seededCentroids(emb, nlist)
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val assign = seededAssign(corpus, cent)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = probeCells(s, queries, cent, nprobe)
      .select(col("q_id"), col("cell"))
    val cand = assign.join(broadcast(probes), "cell")
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
    val (codes, qtab) = shared.getOrElse(
      pqCodesAndQueryTables(s, dir, nQueries, m, codebookSize, dimParam))
    val scored = cand
      .join(codes.withColumnRenamed("vec_id", "c_id"), "c_id")
      .join(broadcast(qtab), "q_id")
      .select(col("q_id"), col("c_id"), adcSim(m, codebookSize).as("sim"))
    topKPerQuery(s, scored, k)
  }

  /** Filtered vector search — top-k restricted to candidates matching
    * a metadata predicate (here label), the composition every retrieval
    * stack needs and most ANN libraries bolt on badly. The declarative
    * engine gets it right for free: the predicate PRE-filters the
    * corpus (pushed to the parquet scan — at 100 TB with
    * label-partitioned or z-ordered storage that is pruned I/O, not a
    * scan), and ranking sees only qualifying candidates, so top-k is
    * never starved the way post-filtering a fixed-k result is (filter
    * after rank returns < k rows whenever the neighborhood is
    * label-diverse). Same kernel + bounded-heap shape as
    * [[nativeTopK]]. */
  def filteredTopK(s: SparkSession, dir: String, label: Int = 2,
      nQueries: Int = 10, k: Int = 5): DataFrame =
    nativeTopK(s, dir, nQueries, k,
      corpusFilter = Some(col("label") === label))

  /** Per-label centroid stats: mean vector norm and intra-label mean
    * cosine-to-centroid — an IVF-style coarse quantization summary
    * (the centroid table is what an IVF index would broadcast). */
  def labelCentroidStats(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("norm",
        r4(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, v) => acc + v.cast("double") * v.cast("double")))))
    emb.groupBy("label")
      .agg(count(lit(1)).as("n"),
        r4(sum("norm") / count(lit(1))).as("avg_norm"),
        r4(min("norm")).as("min_norm"),
        r4(max("norm")).as("max_norm"))
      .orderBy("label")
  }

  /** Cosine range search (s16) — the fixed-radius dual of top-k: for
    * each query vector, how many corpus vectors sit within cosine ≥
    * τ, with the max and mean similarity of the in-range set. The
    * radius query is what density-threshold applications run
    * (near-dup candidate counting, local-density estimation for
    * outlier scoring) where top-k's fixed cardinality is the wrong
    * contract. Reference analog: the predicate-filter chains of
    * streamable/stream.py:230-253, specialized to a metric predicate.
    *
    * Scale design: identical shape to [[bruteForceTopK]] — queries
    * broadcast, corpus never shuffles, one codegen'd kernel scan; no
    * ranking window at all (the range predicate filters BEFORE the
    * per-query aggregate, so the only shuffle is |queries|-keyed
    * partial aggregation of in-range rows). The IVF variants (s05+)
    * give the probe-limited version when τ is tight.
    *
    * Cross-engine determinism: membership thresholds the ROUNDED
    * similarity (integer ten-thousandths, the same r4 grid every
    * s-oracle certifies), and the mean is summed in those integer
    * units — order-free, one final double division per query. */
  def rangeSearch(s: SparkSession, dir: String, nQueries: Int = 10,
      tau: Double = 0.25): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val tau4 = math.floor(tau * 10000 + 0.5).toLong
    corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("sim4",
        floor(cosine(col("q_emb"), col("c_emb")) * lit(1e4) + lit(0.5))
          .cast("long"))
      .where(col("sim4") >= tau4)
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_in_range"),
        (max("sim4").cast("double") / lit(1e4)).as("max_sim"),
        r4(sum("sim4").cast("double") / lit(1e4) / count(lit(1)))
          .as("avg_sim"))
      .orderBy("q_id")
  }

  /** IVF nprobe recall curve (s17) — the measured cost/recall table
    * that picks s05's `nprobe`: exact recall@k of the IVF path
    * against the brute-force truth at every probe depth in
    * `nprobes`, from ONE shared pass. The same measured-advisory
    * discipline as [[Dedup.simhashRecallAdvisory]] / d13: the
    * scaladoc claim "recall < 1 when a true neighbor lives in an
    * unprobed cell" becomes a per-setting table instead of prose.
    *
    * Scale design: this is [[retrievalMetricsCurve]] with its ranking
    * columns pruned (Catalyst drops the unused MRR/nDCG aggregates).
    * Probe selection runs once at max(nprobes) with the probe RANK
    * carried through — the nprobe=p candidate set is exactly the rows
    * with probe_rnk ≤ p (probe lists are nested by construction: same
    * order, deeper cut), so the corpus is scanned once for assignment,
    * once for candidate scoring, once for the exact truth; then ONE
    * [[sweepTopK]] ranks every curve point (queries×candidates×points
    * sized, not corpus sized) and ONE [[recallTally]] counts the hits.
    * Counts and the floor-div milli recall are exact integers —
    * nothing on the curve is a float. */
  def nprobeRecallCurve(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame =
    retrievalMetricsCurve(s, dir, nQueries, k, nlist, nprobes)
      .select("nprobe", "n_hits", "n_truth", "recall_milli")

  /** Compression recall audit (s19) — the s17 measured-advisory
    * pattern applied across the QUANTIZATION axis instead of the
    * probe-depth axis: how much top-k recall does each compressed
    * ranking (int8 scalar quantization s08, product quantization s09,
    * IVF-PQ s18) give up against the exact brute-force truth, on the
    * same queries, in one table. This is the accuracy half of the
    * accuracy/compression trade the ANN ladder's scaladocs argue;
    * here it is measured, every gate run, and hash-certified — the
    * DuckDB oracle recomputes each method END TO END (the hoisted
    * s08/s09/s18 oracle texts composed as subqueries against the s01
    * truth), so the recall figures pin the entire production-ANN
    * pipeline family at once.
    *
    * Scale design: each member pipeline keeps its own certified scale
    * shape (broadcast codebooks/params, corpus never shuffled, bounded-
    * heap ranking); the audit tags the members' k·nQueries-row outputs
    * with their method, unions them once and counts them in ONE
    * [[recallTally]] against the truth set. Advisory cost = the sum of
    * its members — linear path throughout, unlike the declared-
    * quadratic d03/d13 validators. Reference analog: the group/agg chains of
    * streamable/stream.py:230-326, specialized to recall accounting. */
  def quantRecallAudit(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    val truth = nativeTopK(s, dir, nQueries, k).select("q_id", "c_id")
    // ONE PQ encode pass feeds both quantization members (s09's full
    // ADC scan and s18's cell-pruned one): the per-vector code table
    // is an index-build artifact, identical for both, so the audit
    // materializes it once instead of paying the corpus encode twice
    val (codesRaw, qtabRaw) = pqCodesAndQueryTables(s, dir, nQueries,
      m = PqM, codebookSize = PqCodebookSize, dimParam = PqDimParam)
    val sharedPq = Some((codesRaw.localCheckpoint(eager = false),
      qtabRaw.localCheckpoint(eager = false)))
    def tagged(method: String, df: DataFrame): DataFrame =
      df.select(lit(method).as("point"), col("q_id"), col("c_id"), col("rnk"))
    val ranked = tagged("s08_sq", sqTopK(s, dir, nQueries, k))
      .union(tagged("s09_pq", pqTopK(s, dir, nQueries, k, shared = sharedPq)))
      .union(tagged("s18_ivfpq", ivfPqTopK(s, dir, nQueries, k, shared = sharedPq)))
    recallTally(truth, ranked, Seq("s08_sq", "s09_pq", "s18_ivfpq").map(lit), k)
      .select(col("point").as("method"), col("n_hits"), col("n_truth"),
        col("recall_milli"))
      .orderBy("method")
  }

  /** Position-discount table for nDCG@k in integer micro-units:
    * gain(rank) = floor(1e6 / log2(rank+1) + 0.5). ONE Scala
    * computation feeds BOTH the Spark query and the DuckDB oracle
    * text (as literals), so the two engines cannot disagree on a
    * float log — the s06 "make every step cross-engine
    * deterministic" discipline applied to ranking metrics. */
  def ndcgGainsMicro(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Retrieval-quality metrics curve (s23) — the s17 recall curve
    * widened to the metrics an embedding-retrieval pipeline actually
    * tunes on: per probe depth, recall@k, MRR and nDCG@k of the
    * seeded-IVF ranking against the brute-force truth. Everything is
    * exact integer arithmetic: reciprocal ranks are floor-div micros
    * (1e6 div rank), position discounts come from [[ndcgGainsMicro]],
    * and the final figures are floor-div millis/micros — nothing on
    * the curve is a float, so the DuckDB oracle hash-matches.
    *
    * Scale design (s17 shares it): ONE corpus assignment pass at
    * max(nprobes) with the probe rank carried through, one exact
    * truth pass, then ONE [[sweepTopK]] ranking over (nprobe, q_id)
    * groups — a candidate takes part at every depth whose probe cut
    * holds its cell — and ONE [[recallTally]] aggregation of every
    * depth's hits, first-hit ranks and gains. Reference analog:
    * streamable/stream.py:230-326 group/agg chains, specialized to
    * ranking-metric accounting. */
  def retrievalMetricsCurve(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1))
    val maxNp = nprobes.max
    val emb = t(s, dir, "embeddings")
    val cent = seededCentroids(emb, nlist)
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val assign = seededAssign(corpus, cent)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = probeCells(s, queries, cent, maxNp)
    val scored = assign.join(broadcast(probes), "cell")
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("c_id"), col("probe_rnk"),
        r4(cosine(col("q_emb"), col("c_emb"))).as("sim"))
    val truth = nativeTopK(s, dir, nQueries, k).select("q_id", "c_id")
    val idcgMicro = ndcgGainsMicro(k).sum
    recallTally(truth,
        sweepTopK(scored, k,
          nprobes.map(np => lit(np.toLong) -> (col("probe_rnk") <= np))),
        nprobes.map(np => lit(np.toLong)), k)
      .withColumn("mrr_micro", expr(s"rr_sum div $nQueries"))
      .withColumn("ndcg_milli",
        expr(s"dcg_sum * 1000 div (${nQueries.toLong} * $idcgMicro)"))
      .select(col("point").as("nprobe"), col("n_hits"), col("n_truth"),
        col("recall_milli"), col("mrr_micro"), col("ndcg_milli"))
      .orderBy("nprobe")
  }

  /** LSH candidates with hamming-≤1 multiprobe: each query probes its
    * exact bucket PLUS the `bits` buckets one sign-flip away, in every
    * table. Returns (q_id, c_id, min_dist) where min_dist = 0 iff the
    * pair collides exactly in some table — so the single-probe
    * candidate set is the min_dist=0 subset and an audit can rank
    * both from ONE scoring pass (the s17 probe_rnk discipline).
    *
    * The 100 TB argument (Lv et al., VLDB'07 multi-probe LSH): recall
    * comes from probing perturbed buckets instead of from more hash
    * tables, so the corpus-side index is `tables`× smaller in memory
    * and shuffle while the probe fan-out lives on the tiny broadcast
    * query side — here 4 tables + hamming-1 probing replaces s02's 8
    * exact tables. */
  private def lshProbeCandidates(emb: DataFrame, nQueries: Int,
      bits: Int, tables: Int): DataFrame = {
    val buckets = lshBuckets(emb, "vec_id", "embedding", bits, tables)
    val melted = Dedup.meltSketch(buckets, Seq(col("vec_id")), tables,
      tb => col(s"b$tb"), "tbl", "bk")
    // probe variants are generated on the QUERY side only: dist 0 is
    // the exact bucket, dist 1 each single-bit flip — the corpus keeps
    // one row per (vec, table), nothing corpus-sized is expanded
    val variants = struct(col("bk"), lit(0).as("dist")) +:
      (0 until bits).map(b =>
        struct(col("bk").bitwiseXOR(lit(1L << b)).as("bk"), lit(1).as("dist")))
    val qprobes = melted.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl"),
        explode(array(variants: _*)).as("p"))
      .select(col("q_id"), col("tbl"), col("p.bk").as("bk"),
        col("p.dist").as("dist"))
    melted.select(col("vec_id").as("c_id"), col("tbl"), col("bk"))
      .join(broadcast(qprobes), Seq("tbl", "bk"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy("q_id", "c_id")
      .agg(min("dist").as("min_dist"))
  }

  /** Multi-probe LSH top-k (s24): [[lshTopK]]'s candidate generation
    * with hamming-1 bucket perturbation over HALF the tables (4 vs
    * s02's 8) — same exact re-rank, same bounded-heap ranking. The
    * DuckDB oracle replays the splitmix64 hyperplanes and the
    * xor-popcount≤1 collision predicate, so the approximation lives
    * in the algorithm, not the engines. */
  def multiprobeLshTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, bits: Int = 4, tables: Int = 4): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val candidates = lshProbeCandidates(emb, nQueries, bits, tables)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = candidates
      .join(broadcast(queries), "q_id")
      .join(corpus, "c_id")
      .select(col("q_id"), col("c_id"),
        r4(cosine(col("q_emb"), col("c_emb"))).as("sim"))
    topKPerQuery(s, scored, k)
  }

  /** Multiprobe recall audit (s25) — the measured-advisory table that
    * justifies s24's table-count halving: recall@k against the exact
    * truth for the SAME 4 tables probed exactly (`single_t4`) vs with
    * hamming-1 perturbation (`multi_t4`). One bucket pass, one
    * scoring pass, ONE [[sweepTopK]] ranking in which every candidate
    * is visible to `multi_t4` and the min_dist=0 subset (the
    * single-probe set) to `single_t4`, and ONE [[recallTally]]. */
  def multiprobeRecallAudit(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, bits: Int = 4, tables: Int = 4): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = lshProbeCandidates(emb, nQueries, bits, tables)
      .join(broadcast(queries), "q_id")
      .join(corpus, "c_id")
      .select(col("q_id"), col("c_id"), col("min_dist"),
        r4(cosine(col("q_emb"), col("c_emb"))).as("sim"))
    val truth = nativeTopK(s, dir, nQueries, k).select("q_id", "c_id")
    val modes = Seq(
      lit("multi_t4") -> lit(true),
      lit("single_t4") -> (col("min_dist") === 0))
    recallTally(truth, sweepTopK(scored, k, modes), modes.map(_._1), k)
      .select(col("point").as("mode"), col("n_hits"), col("n_truth"),
        col("recall_milli"))
      .orderBy("mode")
  }
}
