package graft.ops

import graft.SparkSpec
import graft.ops.Similarity.AnnRead
import graft.ops.Similarity.AnnRead.{At, Current, Router, Trained}
import org.apache.spark.sql.functions.col
import graft.stream.{PartitionPreview, PartitionPreviewExec, Pipe}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan quality gates — the properties that decide whether a
  * query survives a 100× scale-up: filters reach the parquet scan,
  * small dims broadcast (no fact-table sort-merge), aggregates
  * partial-aggregate map-side, scans prune columns.
  *
  * Every sf0.001 input is one file split, which [[OneSplitScanStrategy]]
  * plans with no exchange above the scan. The cases that pin the
  * exchanges and joins a multi-split input plans (`testWithout`) run
  * with that strategy out of the planner, so they keep gating the
  * plan of the scaled-up query.
  */
class PlanSpec extends SparkSpec {

  /** Plan string with any AQE "Initial Plan" section stripped: once a
    * query runs, `AdaptiveSparkPlan.toString` prints the FINAL plan
    * followed by the pre-execution guess — asserting on the raw string
    * would flag joins AQE already replanned away (e.g. d08's anti join,
    * which AQE demotes from the stats-blind SortMergeJoin guess to a
    * BroadcastHashJoin at runtime). */
  private def finalOnly(p: String): String = {
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.substring(0, cut) else p
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    finalOnly(df.queryExecution.executedPlan.toString)

  test("q02: all predicates push down to the parquet scan") {
    val p = plan(Relational.revenueForecast(spark, sf0001))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("l_shipdate") && p.contains("l_discount"))
    // projection pruning: scan must not read uninvolved wide columns
    assert(!p.contains("l_comment"))
  }

  test("q04: star join broadcasts via AQE/stats, never sort-merge, with no fact-side hints") {
    val df = Relational.regionNationRevenue(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "at test SF every side fits the broadcast threshold — AQE/stats must pick BHJ")
    // the broadcasts must come from size estimates, not forced hints:
    // a forced hint is honored regardless of size, so one on the
    // fact-proportional orders/customer sides would OOM the driver at
    // scale. Only the two true dims (nation, region) may carry hints.
    val hints = "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).length
    assert(hints == 2, s"expected hints on nation+region only, found $hints")
  }

  test("q03: joins broadcast via AQE/stats at test SF, no forced fact-side hints") {
    val df = Relational.topRevenueOrders(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "at test SF the filtered orders⋈customer side fits the broadcast threshold")
    val hints = "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).length
    assert(hints == 0, s"q03 must carry no forced broadcast hints, found $hints")
  }

  test("q01: aggregation is map-side partial (two HashAggregate phases)") {
    val p = plan(Relational.pricingSummary(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial+final HashAggregate expected (map-side combine)")
  }

  test("q01: scan prunes to the referenced columns only") {
    val p = plan(Relational.pricingSummary(spark, sf0001))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_partkey"),
      s"scan should read only query columns: $readSchema")
  }

  test("q18: semi join stays a semi join in the physical plan") {
    val p = plan(Relational.customersWithOpenOrders(spark, sf0001))
    assert(p.contains("LeftSemi"))
  }

  test("s01: corpus side never shuffles for the broadcast query set") {
    val p = plan(Similarity.bruteForceTopK(spark, sf0001))
    assert(p.contains("Broadcast"))
  }

  test("p01: the sampling predicate pushes into the scan stage (no shuffle)") {
    val df = Sampling.stratifiedHashSample(
      Relational.t(spark, sf0001, "documents"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("lang"), Map("en" -> 0.2), 0.5)
    val p = plan(df)
    assert(!p.contains("Exchange"),
      "hash sampling must be a pure scan+filter — no shuffle")
  }

  test("e04: as-of attribution shuffles once on user_id, no broadcast/range join") {
    val p = plan(Events.purchaseAttribution(spark, sf0001))
    // one hashpartitioning exchange for the window, one for the final
    // groupBy on the same key (Catalyst reuses it), plus the ORDER BY
    // range exchange for oracle determinism — but no join at all
    assert(!p.contains("Join"), "as-of via carry-forward window must not join")
  }

  test("q26: explicit pivot values produce a single-shuffle agg (no Expand/discovery)") {
    val p = plan(Relational.orderStatusPivot(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(!p.contains("Expand"), "pivot with explicit values should not Expand")
  }

  test("s05: IVF codebook and probe tables broadcast; corpus never SMJs") {
    val p = plan(AnnRead()(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "IVF probe joins must broadcast — the corpus side cannot shuffle-sort at scale")
  }

  test("s20: two-level routing adds no shuffle over s05 — both codebooks, " +
      "the route, and all probe tables broadcast; no window anywhere") {
    val df = AnnRead(router = Some(Router()))(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "routed-IVF joins must broadcast — the corpus side cannot shuffle-sort at scale")
    assert(!p.contains("CartesianProduct"),
      "codebook crosses must be broadcast nested loops, never a shuffled cartesian")
    assert(!finalOnly(p).contains("Window"), "s20 plans a Window sort")
    assert(p.contains("topk_rows"), "s20 missing the bounded-heap topk_rows kernel")
  }

  test("s30: the label predicate is pushed into the index parquet scan — " +
      "filter BEFORE the bounded-heap ranking, composed with DPP, " +
      "everything else s29's plan shape") {
    Similarity.ensureIvfIndex(spark, sf0001)
    val df = AnnRead(layout = Current, router = Some(Router()),
      filter = Some(col("label") === 2))(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the predicate reaches the SCAN (PushedFilters), so qualifying
    // candidates are selected before any join or ranking operator —
    // post-filtering a fixed-k result would show the filter ABOVE the
    // TopKRowsAgg instead (the starvation trap)
    assert(p.contains("EqualTo(label,2)"),
      s"label predicate must be pushed into the index scan:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the pushed filter must not cost the DPP cell pruning:\n$p")
    assert(p.contains("topk_rows"), "s30 missing the bounded-heap topk_rows kernel")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "s30 must keep s29's broadcast-only join shape")
  }

  test("s31: routing over the trained codebook keeps s20's shape — " +
      "codebook lineage is ONE artifact file scan, no training joins, " +
      "no SMJ, bounded-heap ranking") {
    val df = AnnRead(codebook = Trained(), router = Some(Router()))(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "trained-routed joins must broadcast — the corpus cannot shuffle-sort")
    assert(!p.contains("CartesianProduct"),
      "codebook crosses must be broadcast nested loops, never shuffled")
    assert(!finalOnly(p).contains("Window"), "s31 plans a Window sort")
    assert(p.contains("topk_rows"), "s31 missing the bounded-heap topk_rows kernel")
  }

  test("sketch signatures run as native kernels, not interpreted lambda folds") {
    // regression gate: the fused Expression kernels must stay in the
    // plans — a revert to transform/aggregate higher-order functions
    // (interpreted per element) would pass every value test and
    // silently cost ~5× on the signature stages
    Seq("d04" -> Dedup.minhashLshPairs(spark, sf0001),
        "d05" -> Dedup.simhashPairs(spark, sf0001),
        "s02" -> Similarity.lshTopK(spark, sf0001)).foreach { case (name, df) =>
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val expected = name match {
        case "d04" => "minhash_sig"
        case "d05" => "simhash"
        case _     => "hyperplane_buckets"
      }
      assert(p.contains(expected), s"$name plan lost the $expected kernel")
    }
  }

  test("ANN ranking uses the bounded-heap aggregate, never a window sort") {
    // s01 keeps the window formulation as the didactic baseline; every
    // scale-path ranker (s02 LSH, s04 native, s05 IVF — including the
    // IVF probe selection) must plan the O(k) TopKRowsAgg instead:
    // a per-query window sorts ALL candidates of a hot query before
    // cutting at k, which at 100 TB is a spilling sort, not a pipeline.
    Seq("s02" -> Similarity.lshTopK(spark, sf0001),
        "s04" -> Similarity.nativeTopK(spark, sf0001),
        "s05" -> AnnRead()(spark, sf0001),
        "s07" -> AnnRead(codebook = Trained())(spark, sf0001),
        "c05" -> Curation.qualityQuota(spark, sf0001)).foreach { case (name, df) =>
      df.collect()
      val p = finalOnly(df.queryExecution.executedPlan.toString)
      assert(!p.contains("Window"), s"$name plans a Window sort")
      assert(p.contains("topk_rows"), s"$name missing the bounded-heap topk_rows kernel")
      // s07 assigns cells in-row like s05: no per-vector groupBy
      // exchange and no corpus re-join on c_id
      if (name == "s07") assert(!p.contains("hashpartitioning(c_id"),
        s"s07 shuffles the corpus on c_id:\n$p")
    }
  }

  test("c01: benchmark shingle set broadcasts; overlap test is a semi join") {
    val df = Curation.contaminationReport(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastExchange"), "benchmark set must broadcast")
    assert(p.contains("LeftSemi"), "overlap test must be a semi join")
  }

  test("p02: split assignment plans no shuffle before the summary aggregation") {
    // the md5-threshold CASE is a pure projection: exactly ONE exchange
    // (the groupBy), nothing upstream of it
    val df = Curation.splitStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert("Exchange".r.findAllIn(p).length <= 2, // partial->final agg + presentation sort
      s"split assignment must stay map-side:\n$p")
  }

  test("t08: the rule filter plans no shuffle before the per-lang summary") {
    // all four rules evaluate inside one scan projection: exactly the
    // partial->final agg exchange plus the presentation sort
    val df = TextAnalysis.gopherRuleStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"gopher rules must stay map-side:\n$p")
  }

  test("p03: rate table broadcasts; the corpus never shuffles for membership") {
    val df = Sampling.temperatureMixStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus-side SMJ on the rate join dies at 100 TB")
  }

  test("s08: quantization params broadcast and ranking is the bounded heap") {
    val df = Similarity.sqTopK(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the (mins,maxs) row must broadcast")
    assert(!p.contains("Window"), "s08 plans a Window sort")
    assert(p.contains("topk_rows"), "s08 missing the bounded-heap topk_rows kernel")
  }

  test("s09: codebook and ADC tables broadcast; ranking is the bounded heap") {
    val df = Similarity.pqTopK(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastExchange"), "codebook/ADC tables must broadcast")
    assert(!p.contains("Window"), "s09 plans a Window sort")
    assert(p.contains("topk_rows"), "s09 missing the bounded-heap topk_rows kernel")
  }

  test("s18: probes and ADC tables broadcast; ranking is the bounded heap") {
    val df = Similarity.ivfPqTopK(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastExchange"),
      "centroids/probes/codebook/ADC tables must broadcast")
    assert(!p.contains("Window"), "s18 plans a Window sort")
    assert(p.contains("topk_rows"), "s18 missing the bounded-heap topk_rows kernel")
  }

  test("c07: the PII scrub plans no shuffle before the per-lang summary") {
    val df = Curation.piiRedactionStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"pii scrub must stay map-side:\n$p")
  }

  test("t09: the scoring path is a broadcast-fed scan (no corpus explode)") {
    // the vocab build legitimately shuffles (token partial-agg +
    // TakeOrdered); the SCORING side must consume the rank map via
    // broadcast with in-row lookups — no second corpus-wide exchange
    // keyed on tokens
    val df = TextAnalysis.zipfRankStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "rank map must broadcast")
  }

  test("e05: interval containment runs as an equi hash join, never a theta probe") {
    val df = Events.purchasesInSessions(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned range join must not theta-probe:\n$p")
  }

  testWithout(OneSplitScanStrategy)(
    "c08: vocab map broadcasts; packing window is lang-partitioned") {
    val df = Curation.packedIdsStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "vocab rank map must broadcast")
    assert(p.contains("hashpartitioning(lang"),
      "packing window must partition by the stream key, not sort globally")
  }

  test("c09: chunk construction stays in-row before the per-lang summary") {
    val df = Curation.chunkStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    // the single fp-distinct plans (lang, fp) + (lang) exchanges plus
    // the presentation sort — and crucially NO Expand: a second
    // distinct column would multiply every chunk row through the
    // shuffle (the multi-distinct rewrite c09 deliberately avoids by
    // counting k=0 chunks instead of distinct doc ids)
    assert("Exchange".r.findAllIn(p).length <= 3,
      s"chunking must stay map-side:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand crept back in:\n$p")
  }

  testWithout(OneSplitScanStrategy)(
    "c10: stratum classification broadcasts; only the boundary stratum windows") {
    val df = Curation.tokenBudgetStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastExchange"),
      "the <=10001-row classification must broadcast back onto the corpus")
    // exactly ONE per-doc window (the boundary stratum's cumsum,
    // recognizable by its doc_id ordering) — a second would mean a
    // wholesale branch is sorting documents it admits unconditionally.
    // The ≤10001-row histogram window appears once per union branch
    // (each branch rebuilds the tiny classification; duplication of a
    // 10001-row window is free, duplication of a corpus sort is not).
    val docWindows = p.linesIterator
      .filter(l => l.contains("Window [") && l.contains("doc_id")).length
    assert(docWindows == 1, s"expected 1 per-doc window, got $docWindows:\n$p")
    // and that one window is q-partitioned (one stratum), never a
    // global total sort of the corpus
    assert(p.contains("hashpartitioning(q"),
      s"boundary window must partition by the quality stratum:\n$p")
  }

  test("d10: the canonical election is a partial agg, never a per-cluster sort") {
    val df = Dedup.dedupSurvivorsByQuality(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("partial_max"),
      s"election must be map-side partial max(struct(q, -id)):\n$p")
    assert(!p.contains("Window ["),
      s"election must not window-sort cluster members:\n$p")
  }

  test("p04: the exact-n draw plans as TakeOrderedAndProject, never a global sort") {
    val df = Sampling.fixedSample(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-n by hash must be the bounded-heap take, not sort+limit:\n$p")
    // no draw-ordered global sort: the only Sort allowed is the 5-row
    // presentation ORDER BY lang after aggregation
    assert(!p.contains("Sort [draw"), s"global sort on the draw crept in:\n$p")
  }

  testWithout(OneSplitScanStrategy)(
    "e14: the three stacked funnel windows share one user_id exchange, no join") {
    val df = Events.multiStepFunnel(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!p.contains("Join"),
      "the ordered chain must come from stacked windows, not per-step joins")
    // exchanges: ONE user_id hash partitioning feeds all three Window
    // ops and the per-user aggregate (Catalyst reuses it); the final
    // global aggregate adds its single-partition exchange
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length >= 1)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"the funnel must not re-shuffle between steps:\n$p")
  }

  test("t17: the bigram scoring path is broadcast-fed — no join, no explode") {
    val df = TextAnalysis.bigramCrossEntropy(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    // the model tables arrive as broadcast one-row maps; the scoring
    // scan probes them in-row. (The count-build passes behind the
    // localCheckpoints have their own plans — this is the judged
    // scoring query's plan.)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "model maps must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join may touch the corpus scoring path:\n$p")
    assert(!p.contains("Generate"),
      s"scoring must stay in-row — no (doc, token) explode:\n$p")
  }

  test("d19: the containment verify threshold is integer arithmetic; no forced hints") {
    val df = Dedup.containmentPairs(spark, sf0001)
    df.collect()
    // no hint anywhere: the shingle-frequency join and the prefix ⋈
    // full candidate join are both corpus-proportional — a forced
    // broadcast on either would OOM at exactly the scale the prefix
    // filter exists for; AQE picks BHJ at gate SF from real sizes
    val hints = "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).length
    assert(hints == 0, s"d19 must carry no forced broadcast hints, found $hints")
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!p.contains("SortMergeJoin"), s"d19 plan regressed to SMJ:\n$p")
  }

  testWithout(OneSplitScanStrategy)(
    "no query in the registry plans a CartesianProduct or a SortMergeJoin") {
    // the global gate behind the per-query ones above: every join in
    // the full query registry broadcasts (or is a broadcast nested
    // loop for deliberate small-side non-equi joins) — a cartesian or
    // fact-side SMJ anywhere is a 100 TB plan bug. Each query is
    // EXECUTED first so AQE finalizes the plan (pre-execution,
    // executedPlan is only the stats-based initial guess — the runtime
    // plan is the one that matters). Runs on sf0.001 for speed.
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf0001)
      df.collect()
      val p = finalOnly(df.queryExecution.executedPlan.toString)
      val flags = Seq(
        if (p.contains("CartesianProduct")) Some("CartesianProduct") else None,
        if (p.contains("SortMergeJoin")) Some("SortMergeJoin") else None).flatten
      if (flags.nonEmpty) Some(s"$name: ${flags.mkString(",")}") else None
    }
    assert(bad.isEmpty, s"plan regressions:\n${bad.mkString("\n")}")
  }

  test("no registry query plans an unpartitioned window over unaggregated input") {
    // the q37 bug class: `Window.orderBy(...)` with no partitionBy is
    // a ONE-TASK global sort of its whole input — fine over a bounded
    // aggregated frame (a histogram, a capped vocab), dead at 100 TB
    // over a corpus-sized scan. The gate is semantic, not an
    // allowlist: an unpartitioned logical Window is legal only when
    // an Aggregate sits somewhere below it in the SAME lineage (the
    // input is group-reduced, hence bounded by the operator's own
    // key-cardinality argument). The three documented tiny-frame
    // sites (TextAnalysis.vocabRankMap's v-row vocab, Dedup's ≤65-row
    // hamming histogram, Curation's quality histogram) all carry
    // their groupBy in-lineage and pass the rule; a future q37-shaped
    // window straight over a table scan fails loudly, like SMJ does
    // in the gate below. Inspects the OPTIMIZED logical plan — no
    // execution needed, and checkpoint lineage cuts (LogicalRDD)
    // correctly count as "unaggregated" so a checkpointed corpus
    // can't smuggle a global sort past the gate.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, LocalRelation, LogicalPlan, Window => LWindow}
    // "bounded" must hold on EVERY path to a leaf, not collectFirst
    // anywhere in the subtree: a join of one aggregated frame with a
    // corpus-sized scan is NOT bounded — the Aggregate has to
    // dominate all leaves feeding the window (or the leaf must be a
    // literal LocalRelation), else one unaggregated branch smuggles
    // the whole corpus into the one-task sort.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate      => true
      case _: LocalRelation  => true // driver-side literal frame
      case leaf if leaf.children.isEmpty => false // scan / LogicalRDD
      case other => other.children.forall(bounded)
    }
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.optimizedPlan
      val offenders = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      if (offenders.nonEmpty)
        Some(s"$name: ${offenders.size} unpartitioned window(s) over unaggregated input")
      else None
    }
    assert(bad.isEmpty, s"single-task global-sort windows:\n${bad.mkString("\n")}")
  }

  test("q37: exact deciles with no Window at all — index arithmetic, fully parallel") {
    val df = Relational.orderPriceDeciles(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!p.contains("Window"),
      s"q37 must assign deciles by row-index arithmetic, not a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row count frame must broadcast")
  }

  test("c11: only the one-row bloom is hinted; the verify join is never hint-forced") {
    val df = Curation.bloomDecontaminatedStats(spark, sf0001)
    df.collect()
    // exactly ONE forced broadcast: the bloom bitset (a one-row frame
    // by construction). The exact-verify semi join against the
    // benchmark set must stay hint-free — the benchmark is huge by
    // this operator's premise, and a forced broadcast there would OOM
    // the driver at exactly the scale the operator exists for (AQE
    // may still choose BHJ at test SF from real size estimates).
    val hints = "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).length
    assert(hints == 1, s"expected the bloom hint only, found $hints")
  }

  testWithout(OneSplitScanStrategy)(
    "e16: OHLC is ONE partial+final aggregate pair — no window, no second shuffle") {
    val p = plan(Events.ohlcDownsample(spark, sf0001))
    assert(!p.contains("Window"), "OHLC must not plan a window")
    assert("HashAggregate|SortAggregate".r.findAllIn(p).length >= 2,
      "partial+final aggregate expected (map-side combine of the struct picks)")
    // exactly one width-changing exchange before the terminal sort:
    // the groupBy(hour, event_type) shuffle (plus the orderBy's range
    // exchange, which the oracle protocol owns)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q45: percentile bounds broadcast as a one-row frame; clip is in-scan") {
    val p = plan(Relational.winsorizedStats(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "bounds frame must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  testWithout(OneSplitScanStrategy)(
    "l01: z computation is in-scan project; one hash shuffle for the bucket agg") {
    val df = graft.SparkEntry.queries("l01_zorder")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "dimension bounds must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly the bucket-agg shuffle expected:\n$p")
    // the interleave cascade stays inside whole-stage codegen
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  testWithout(OneSplitScanStrategy)(
    "l02: hilbert kernel runs in-scan; one hash shuffle; codegen span holds") {
    val df = graft.SparkEntry.queries("l02_hilbert")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "dimension bounds must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly the bucket-agg shuffle expected:\n$p")
    assert(p.contains("hilbert_index"), "the native kernel must appear in the plan")
    df.collect()
    // the kernel's doGenCode keeps the whole project inside codegen
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("l06: hilbert3 kernel runs in-scan and its codegen span holds " +
    "(no interpreted fallback)") {
    val df = graft.SparkEntry.queries("l06_cube_hilbert")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("hilbert_index3"), "the native 3-d kernel must appear in the plan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "dimension bounds must broadcast")
    // both curve keys are generated in ONE pass over orders
    assert("Generate explode".r.findAllIn(p).length == 1,
      s"exactly one explode expected:\n$p")
    // the r15 defect: the kernel's generated Java failed Janino and the
    // whole enclosing stage silently ran interpreted. Execute with the
    // fallback OFF so a compile failure aborts the test, then assert
    // the executed plan still carries whole-stage spans.
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.codegen.fallback")
    try {
      conf.set("spark.sql.codegen.fallback", "false")
      df.collect()
    } finally {
      prev.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
    }
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("l03: one scan fans out to all three layout keys; one bucket-agg shuffle") {
    val df = graft.SparkEntry.queries("l03_curve_pruning")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "dimension bounds must broadcast")
    // the three (layout, bucket) keys are generated in ONE pass — a
    // single Generate over the scan, not three scans unioned
    assert("Generate explode".r.findAllIn(p).length == 1,
      s"exactly one explode expected:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 2,
      s"orders scanned once for rows + once for the broadcast bounds:\n$p")
    // per-(layout,bucket) stats shuffle once; the 3-row layout rollup
    // rides AQE's coalesced second agg
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"bucket agg + tiny rollup only:\n$p")
    assert(p.contains("hilbert_index"), "the native kernel must appear in the plan")
  }

  test("r14 additions: window-free e18; broadcast BPE vocabulary; single-fan-out e19") {
    // executed plans (the q04 pattern): AQE demotes the stats-blind
    // SMJ guesses on the tiny per-lang frames at runtime
    def ran(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); finalOnly(df.queryExecution.executedPlan.toString)
    }
    // e18 funnel timing: two keyed aggregations + an equi-join — the
    // latency distribution must NOT lean on a per-user window
    val pe18 = ran(Events.funnelTiming(spark, sf0001))
    assert(!pe18.contains("Window"), s"e18 must be window-free:\n$pe18")
    assert(!pe18.contains("SortMergeJoin"), s"e18 join must hash:\n$pe18")
    // t19 encode: the segmented vocabulary joins the corpus as a
    // BROADCAST — the corpus side never reshuffles for the tokenizer
    val pt19 = ran(TextAnalysis.bpeEncodeStats(spark, sf0001))
    assert(pt19.contains("BroadcastHashJoin") ||
      pt19.contains("BroadcastExchange"),
      s"t19 vocabulary must broadcast:\n$pt19")
    assert(!pt19.contains("SortMergeJoin"), s"t19 must not SMJ:\n$pt19")
    // e19 rolling active: ONE in-row fan-out of the activity matrix
    // (explode(sequence)), no second Generate, no cartesian
    val pe19 = ran(Events.rollingActiveUsers(spark, sf0001))
    assert("Generate explode".r.findAllIn(pe19).length == 1,
      s"e19 must fan out exactly once:\n$pe19")
    assert(!pe19.contains("CartesianProduct"), s"e19 cartesian:\n$pe19")
  }

  test("c20: tokenizer maps broadcast; corpus never reshuffles for encoding") {
    val df = Curation.bpePackedIdsStats(spark, sf0001)
    df.collect()
    val p = finalOnly(df.queryExecution.executedPlan.toString)
    // the symbol-id and word→ids maps ride broadcast one-row frames
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"c20 tokenizer maps must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"c20 must not sort-merge or go cartesian:\n$p")
  }

  test("t21/c21: trained model broadcasts; scoring pass never shuffles the corpus") {
    Seq(TextAnalysis.qualityClassifierStats(spark, sf0001),
      Curation.classifierFilteredStats(spark, sf0001)).foreach { df =>
      df.collect()
      val p = finalOnly(df.queryExecution.executedPlan.toString)
      // the weight map / prior ride broadcast one-row frames into the
      // in-row scoring fold
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"model must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"must not sort-merge or go cartesian:\n$p")
      // shuffles: the model is ARTIFACT-SERVED (one file read — the
      // training token-count exchange runs once per corpus generation
      // inside ensure, not per query), so only the tiny report agg
      // remains; the scoring scan itself is in-row
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
        s"report agg (and nothing heavier) only:\n$p")
    }
  }

  test("c22/t23: composed chain broadcasts every artifact; corpus shuffles " +
    "only for the pack window; curve fans out in-row") {
    // c22: benchmark fps, model row, tokenizer maps all broadcast —
    // the corpus-side heavy path is fp anti-join + in-row score +
    // in-row encode + the ONE lang-partitioned pack window
    val c = Curation.llmIngestChainStats(spark, sf0001)
    c.collect()
    val pc = finalOnly(c.queryExecution.executedPlan.toString)
    assert(pc.contains("BroadcastNestedLoopJoin") || pc.contains("BroadcastExchange"),
      s"c22 artifacts must broadcast:\n$pc")
    assert(!pc.contains("SortMergeJoin") && !pc.contains("CartesianProduct"),
      s"c22 must not sort-merge or go cartesian:\n$pc")
    // t23: one scoring pass, a ×7 in-row Generate on the per-doc
    // summary (never on text), one 7-group rollup. TWO explodes
    // total: the training pass's token-count explode + the grid
    // fan-out — a third would mean the curve re-exploded the corpus
    val t = TextAnalysis.classifierThresholdCurve(spark, sf0001)
    t.collect()
    val pt = finalOnly(t.queryExecution.executedPlan.toString)
    assert("Generate explode".r.findAllIn(pt).length <= 2,
      s"t23: training token explode + grid fan-out only:\n$pt")
    assert(!pt.contains("SortMergeJoin") && !pt.contains("CartesianProduct"),
      s"t23 must not sort-merge or go cartesian:\n$pt")
  }

  test("layout explodes fan out PRE-COMPUTED keys — no curve kernel inside " +
    "a Generate (the 8000-byte JIT ceiling pin)") {
    // the r17 lesson: curve kernels inlined into explode(array(struct(..)))
    // fuse into ONE generated method past HotSpot's 8000-byte JIT limit
    // — the stage compiles (the codegen gate passes), values stay exact,
    // and the scan runs 40-90× slower in the bytecode interpreter. The
    // fix pre-projects each key as its own column; this pin guards that
    // shape against an optimizer change (or a future edit) re-inlining
    // the kernels: every Generate's generator must reference only
    // attributes and literals — no hilbert/morton arithmetic.
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    for ((name, df) <- Seq(
        "l03" -> graft.SparkEntry.queries("l03_curve_pruning")(spark, sf0001),
        "l05" -> graft.SparkEntry.queries("l05_cube_pruning")(spark, sf0001),
        "l06" -> graft.SparkEntry.queries("l06_cube_hilbert")(spark, sf0001),
        "l07" -> graft.SparkEntry.queries("l07_cube_file_boxes")(spark, sf0001))) {
      val gens = df.queryExecution.optimizedPlan.collect { case g: Generate => g }
      assert(gens.nonEmpty, s"$name lost its layout explode entirely")
      gens.foreach { g =>
        val gs = g.generator.toString.toLowerCase
        // kernel MARKERS, not layout labels: 'hilbert' alone is the
        // struct's literal layout tag and must stay
        assert(!gs.contains("hilbert_index") && !gs.contains("shiftleft"),
          s"$name: a curve kernel was inlined back into the Generate — " +
            s"the fused method exceeds the JIT ceiling and the stage " +
            s"runs interpreted:\n$gs")
      }
    }
  }

  test("perplexityGate tokenizes each doc ONCE — the id array stays " +
    "lambda-bound, never inlined into the fold (the inline-quadratic pin)") {
    // the r17 lesson: phrased as a projected-then-dropped ids column,
    // CollapseProject + filter pushdown inline the tokenize-normalize
    // into the fold's per-step element_at — O(tokens²) per doc (92 s vs
    // 1.5 s at ×16, identical survivors). The exists-let-binding keeps
    // ONE tokenize per row; this pin counts the split() occurrences in
    // the optimized gate predicate so a regression (any rephrasing that
    // lets Catalyst duplicate the normalize) fails loudly.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, Join => LJoin}
    val df = TextAnalysis.perplexityGate(
      Relational.t(spark, sf0001, "documents")
        .select("doc_id", "lang", "text"),
      TextAnalysis.readBigramLmModel(spark, sf0001))
    // the predicate may live in a Filter or get folded into the
    // broadcast join's condition — collect both
    val conds = df.queryExecution.optimizedPlan.collect {
      case f: LFilter => f.condition.toString
      case j: LJoin if j.condition.isDefined => j.condition.get.toString
    }
    val gateConds = conds.filter(_.toLowerCase.contains("split"))
    assert(gateConds.nonEmpty, "the gate predicate vanished from the plan")
    gateConds.foreach { c =>
      val n = "split\\(".r.findAllIn(c.toLowerCase).length
      assert(n == 1,
        s"the tokenizer appears $n times in the gate predicate — the id " +
          s"array is no longer evaluated once per document:\n$c")
    }
    // and the gate genuinely evaluates (sanity: it keeps a nonempty,
    // strict subset at the gate corpus)
    val kept = df.count()
    val all = Relational.t(spark, sf0001, "documents").count()
    assert(kept > 0 && kept < all)
  }

  testWithout(OneSplitScanStrategy)(
    "p11: replica explosion collapses map-side — partial agg below the exchange") {
    val p = plan(Sampling.bootstrapMeans(spark, sf0001))
    val lines = p.linesIterator.toVector
    val firstAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    val exch = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(exch >= 0 && firstAgg > exch,
      "a partial HashAggregate must sit BELOW the replica shuffle " +
        "(the explode must never cross the wire unaggregated)")
    assert(p.contains("Generate explode") || p.contains("Generate"),
      "replica fan-out should be a Generate, not a join")
  }

  test("whole-stage codegen covers the text-analysis hot path") {
    // AQE finalizes the plan only after execution
    val df = TextAnalysis.tokenStats(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n)" markers in the plan string
    assert(p.contains("*(1)"), s"no codegen span in:\n$p")
  }

  test("ordered family stays in Catalyst: q07/q09/q16/q31/q37 and zipByIndex " +
      "plan the row-index node, with no RDD round trip") {
    val s = spark
    import s.implicits._
    val zipped = Pipe(s.range(0, 5, 1, 2).as[Long])
      .zipByIndex(Pipe(s.createDataset(Seq("a", "b", "c")))).ds.toDF()
    val frames = Seq(
      "q07" -> Relational.skipTakeOrders(spark, sf0001),
      "q09" -> Relational.distinctConsecutiveFlags(spark, sf0001),
      "q16" -> Relational.chunkedLineitem(spark, sf0001),
      "q31" -> Relational.zipTopOrdersFirstCustomers(spark, sf0001),
      "q37" -> Relational.orderPriceDeciles(spark, sf0001),
      "zipByIndex" -> zipped)
    val roundTrip = Set("LogicalRDD", "ExternalRDD", "SerializeFromObject")
    frames.foreach { case (name, df) =>
      val optimized = df.queryExecution.optimizedPlan
      val bad = optimized.collectWithSubqueries {
        case n if roundTrip.contains(n.nodeName) => n.nodeName
      }
      assert(bad.isEmpty, s"$name leaves Catalyst through $bad:\n$optimized")
      assert(optimized.exists(_.isInstanceOf[PartitionPreview]),
        s"$name does not plan the row-index node:\n$optimized")
    }
  }

  test("q31: no range exchange under the row-index nodes (TakeOrdered feeds them)") {
    val df = Relational.zipTopOrdersFirstCustomers(spark, sf0001)
    df.collect()
    val nodes = AqeNodes.collect(df.queryExecution.executedPlan) {
      case p: PartitionPreviewExec => p
    }
    assert(nodes.size == 2, s"expected one index node per side, got ${nodes.size}")
    nodes.foreach { n =>
      val ranges = AqeNodes.collect(n.child) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.isEmpty, s"range exchange under the index node:\n$n")
    }
  }

  test("graft.stream leaves Catalyst nowhere: no .rdd, createDataFrame or Row.fromSeq") {
    val dir = new java.io.File("src/main/scala/graft/stream")
    val files = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    val hits = for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if !line.trim.startsWith("import ") &&
        Seq(".rdd", "createDataFrame", "Row.fromSeq").exists(line.contains)
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

/** Walks adaptive plans into their query stages. */
private object AqeNodes extends AdaptiveSparkPlanHelper
