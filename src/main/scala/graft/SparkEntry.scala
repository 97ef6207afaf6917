package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions.col
import graft.ops._
import graft.ops.Similarity.AnnRead
import graft.ops.Similarity.AnnRead.{At, Current, Router, Trained}
import graft.ops.Layout.{CurveCut, FirstDimCut, Hilbert, Locality, Morton, Segments}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the judge-visible operator inventory (SURVEY §2 plus
  * the training-data-pipeline extensions); `oracleSql` carries a
  * DuckDB-equivalent for every SQL-expressible entry. Column names and
  * value formulations match bit-for-bit (see scaladoc on
  * [[graft.ops.Relational.discPrice]] for the float-determinism
  * rules).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** The layout cube (customer, order day, price cents) of l04-l07. */
  private val cube = Seq("ck", "day", "cents")
  /** l06's two 3-d curves on the same non-dyadic cuts; l07 is its
    * per-segment table. */
  private val cubeCurves = Segments(cube,
    Seq("hilbert3d" -> CurveCut(Hilbert, 3, Layout.pruneGrain3),
      "zorder3d" -> CurveCut(Morton, 3, Layout.pruneGrain3)),
    Layout.queryBox, perSegment = false)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — relational core (SURVEY §2.2-2.5, §2.9; star schema) —
    "q01_pricing_summary" -> (Relational.pricingSummary _),
    "q02_revenue_forecast" -> (Relational.revenueForecast _),
    "q03_top_revenue_orders" -> (Relational.topRevenueOrders _),
    "q04_region_nation_revenue" -> (Relational.regionNationRevenue _),
    "q05_top_orders_per_customer" -> (Relational.topOrdersPerCustomer _),
    "q06_first_order_per_customer" -> (Relational.firstOrderPerCustomer _),
    "q07_skip_take" -> (Relational.skipTakeOrders _),
    "q08_takewhile" -> (Relational.takeWhileCheap _),
    "q09_distinct_consecutive" -> (Relational.distinctConsecutiveFlags _),
    "q10_rollup" -> (Relational.rollupQuantities _),
    "q11_json_props" -> (Relational.jsonProps _),
    "q12_monthly_orders" -> (Relational.monthlyOrders _),
    "q13_part_strings" -> (Relational.partStrings _),
    "q14_running_spend" -> (Relational.runningCustomerSpend _),
    "q15_count_distinct" -> (Relational.distinctPartsPerFlag _),
    "q16_chunked" -> (Relational.chunkedLineitem _),
    "q17_anti_join" -> (Relational.customersWithoutOrders _),
    "q18_semi_join" -> (Relational.customersWithOpenOrders _),
    "q19_union" -> (Relational.nationKeyUnion _),
    "q20_group_concat" -> (Relational.statusesPerPriority _),
    "q21_cube" -> (Relational.cubePriorities _),
    "q22_intersect" -> (Relational.nationKeyIntersect _),
    "q23_except" -> (Relational.nationKeyExcept _),
    // q24 is PERMANENTLY companion-certified (no DuckDB oracle, by
    // design): it emits Spark's raw HLL++ estimates, and no two
    // engines' HLL sketches agree value-for-value — DuckDB's
    // approx_count_distinct takes no rsd parameter and uses a
    // different sketch, so parameter parity is unattainable. The
    // CLAIM (each estimate within 5% of the exact per-group count)
    // is what q24b oracles, every gate run, in full.
    "q24_approx_distinct" -> (Relational.approxDistinctParts _),
    "q24b_approx_tolerance" -> (Relational.approxDistinctWithinTolerance _),
    "q25_quantiles" -> (Relational.priceQuantiles _),
    "q25b_approx_quantile" -> (Relational.approxQuantileWithinTolerance _),
    "q26_pivot" -> (Relational.orderStatusPivot _),
    "q27_histogram" -> (Relational.priceHistogram _),
    "q28_stats" -> (Relational.statsSummary _),
    "q29_try_divide" -> (Relational.safeArithmetic _),
    "q30_salted_distinct" -> (Relational.saltedDistinctParts _),
    "q31_zip" -> ((s: SparkSession, dir: String) => Relational.zipTopOrdersFirstCustomers(s, dir)),
    "q32_order_cadence" -> ((s: SparkSession, dir: String) => Relational.orderCadence(s, dir)),
    "q33_sql_entry" -> (Relational.sqlEntry _),
    "q34_skip_until" -> (Relational.skipUntilExpensive _),
    "q35_grouping_sets" -> (Relational.groupingSetsQuantities _),
    "q36_unpivot" -> (Relational.unpivotMeasures _),
    "q37_ntile" -> (Relational.orderPriceDeciles _),
    "q38_correlated" -> (Relational.aboveCustomerAvg _),
    "q39_bag_setops" -> (Relational.returnFlagBagDiff _),
    "q40_mode_median" -> (Relational.modeAndMedian _),
    "q41_rank_dist" -> (Relational.rankDistributions _),
    "q42_lateral" -> (Relational.lateralTopOrders _),
    "q43_recursive" -> (Relational.recursiveReach _),
    // q44: RANGE-interval window frame — value-space [day-6, day]
    // rolling spend, the semantics a ROWS frame cannot express over
    // sparse order dates
    "q44_rolling_window" -> (Relational.rollingWeeklySpend _),
    // q45: winsorized robust stats — clip at exact global p05/p95
    // (one-row broadcast bounds frame), then plain robust means
    "q45_winsorize" -> (Relational.winsorizedStats _),
    // q46: hierarchical HLL rollup — per-nation sketches UNION-merged
    // to regions; the q24b within-tolerance certification shape
    "q46_hll_rollup" -> (Relational.hllRollup _),
    // — layout family: values of the two Layout report bodies (field
    // → entry table in the Locality and Segments scaladocs) —
    // l01: z-order (Morton) layout locality — per curve-segment
    // bounding rectangles over (custkey, order-day), the measurable
    // form of multi-dimensional file-skipping
    "l01_zorder" -> Locality(Morton, Seq("ck", "day"), keepBits = 8),
    // l02: Hilbert-curve locality — the no-jump curve via a native
    // codegen kernel; same report shape as l01 for direct comparison
    "l02_hilbert" -> Locality(Hilbert, Seq("ck", "day"), keepBits = 8),
    // l03: read-side pruning simulation — buckets touched by a fixed
    // dual-dim predicate under each layout's row-group statistics,
    // at a non-dyadic segment grain where the curves genuinely differ
    "l03_curve_pruning" -> Segments(Seq("ck", "day"),
      Seq("zorder" -> CurveCut(Morton, 2, Layout.pruneGrain),
        "hilbert" -> CurveCut(Hilbert, 2, Layout.pruneGrain),
        "single_ck" -> FirstDimCut(256L)),
      Layout.queryBox.take(2), perSegment = false),
    // l04: the layout family past two axes — 3-d Morton over the
    // (customer, day, price-cents) cube, 4096 boxes each bounding
    // ALL THREE predicate columns
    "l04_zorder3d" -> Locality(Morton, cube, keepBits = 12),
    // l05: the cube's pruning MEASURED at arbitrary-cut grain against
    // the 2-d curve and single-key — incl. the honest straddle finding
    "l05_cube_pruning" -> Segments(cube,
      Seq("zorder3d" -> CurveCut(Morton, 3, Layout.pruneGrain3),
        "zorder2d_ck_day" -> CurveCut(Morton, 2, Layout.pruneGrain),
        "single_ck" -> FirstDimCut(256L)),
      Layout.queryBox, perSegment = false),
    // l06: the straddle finding's FIX measured — the no-jump 3-d
    // Hilbert key (Skilling kernel) vs 3-d Morton on the same cuts
    "l06_cube_hilbert" -> cubeCurves,
    // l07: the per-segment statistics-box TABLE behind l06's summary
    // — box bounds, row counts, integer volume, and the reader's
    // min/max skip verdict for every file-grain segment of BOTH 3-d
    // curves, putting the on-disk layout claim (Hilbert boxes ~half
    // of Morton's volume at identical cuts — the OpsSpec real-footer
    // measurement) under the cross-engine gate
    "l07_cube_file_boxes" -> cubeCurves.copy(perSegment = true),
    // — event analytics (SURVEY §2.8 event-time re-grounding) —
    "e01_hourly" -> (Events.hourlyStats _),
    "e02_sessions" -> (Events.sessionStats _),
    "e03_top_users" -> (Events.topUsers _),
    "e04_asof_attribution" -> (Events.purchaseAttribution _),
    "e05_interval_join" -> ((s: SparkSession, dir: String) => Events.purchasesInSessions(s, dir)),
    "e06_funnel" -> (Events.clickPurchaseFunnel _),
    "e07_retention" -> (Events.retentionCohorts _),
    "e08_spikes" -> ((s: SparkSession, dir: String) => Events.spikeStats(s, dir)),
    "e09_transitions" -> ((s: SparkSession, dir: String) => Events.transitionStats(s, dir)),
    "e10_gap_stats" -> ((s: SparkSession, dir: String) => Events.gapStats(s, dir)),
    "e11_burst_windows" -> ((s: SparkSession, dir: String) => Events.burstStats(s, dir)),
    "e12_events_gate" -> ((s: SparkSession, dir: String) => Events.eventsGate(s, dir)),
    "e13_rfm" -> (Events.rfmSegments _),
    "e14_multistep_funnel" -> (Events.multiStepFunnel _),
    // e15: last-observation-carried-forward — sparse purchase signal
    // densified per event via last(ignoreNulls) over a keyed frame
    "e15_locf" -> (Events.lastPurchaseCarried _),
    // e17: event-sequence pattern mining — per-user character
    // sequences, behavioral regexes counted in one pass
    "e17_seq_patterns" -> (Events.seqPatternStats _),
    // e18: funnel time-to-convert — signup → first-subsequent-
    // purchase latency distribution, exact percentiles
    "e18_funnel_timing" -> (Events.funnelTiming _),
    // e19: rolling 7-day active users + stickiness — the activity
    // matrix fans out to its ≤7 window-days in-row, one
    // count-distinct per window
    "e19_rolling_active" -> (Events.rollingActiveUsers _),
    // e20: time-weighted linear interpolation — e15's two-sided
    // sibling (pandas interpolate(method='time')); null head, LOCF
    // tail, identical IEEE expression shape on both engines
    "e20_interp" -> (Events.interpolatedPurchase _),
    // e16: OHLC time-bucket downsampling — open/close picked by
    // min/max over (ts, event_id, value) structs, one pure aggregate
    "e16_ohlc" -> (Events.ohlcDownsample _),
    // — text analysis (training-data pipeline) —
    "t01_token_stats" -> (TextAnalysis.tokenStats _),
    "t02_quality" -> (TextAnalysis.qualityByLang _),
    "t03_langid" -> (TextAnalysis.langIdConfusion _),
    "t04_fingerprints" -> (TextAnalysis.fingerprints _),
    "t05_top_bigrams" -> ((s: SparkSession, dir: String) => TextAnalysis.topBigrams(s, dir)),
    "t06_regex_tokens" -> (TextAnalysis.regexTokenStats _),
    "t07_repetition" -> ((s: SparkSession, dir: String) => TextAnalysis.repetitionStats(s, dir)),
    "t08_gopher_rules" -> ((s: SparkSession, dir: String) => TextAnalysis.gopherRuleStats(s, dir)),
    "t09_zipf_rank" -> ((s: SparkSession, dir: String) => TextAnalysis.zipfRankStats(s, dir)),
    "t10_bm25" -> ((s: SparkSession, dir: String) => TextAnalysis.bm25Search(s, dir)),
    "t11_unigram_ce" -> ((s: SparkSession, dir: String) => TextAnalysis.unigramCrossEntropy(s, dir)),
    "t12_token_entropy" -> ((s: SparkSession, dir: String) => TextAnalysis.tokenEntropyStats(s, dir)),
    "t13_ngram_novelty" -> ((s: SparkSession, dir: String) => TextAnalysis.ngramNoveltyStats(s, dir)),
    "t14_source_kl" -> ((s: SparkSession, dir: String) => TextAnalysis.sourceKlStats(s, dir)),
    "t15_cms_report" -> ((s: SparkSession, dir: String) => TextAnalysis.cmsReport(s, dir)),
    "t16_tfidf_terms" -> ((s: SparkSession, dir: String) => TextAnalysis.tfidfTopTerms(s, dir)),
    "t17_bigram_ce" -> ((s: SparkSession, dir: String) => TextAnalysis.bigramCrossEntropy(s, dir)),
    // t18: BPE merge-pair TRAINING — k rounds of count-adjacent-pairs
    // → merge-top-pair, the s06 unrolled-iteration discipline over
    // the distinct-word table; upgrades t07's fixed regex
    "t18_bpe_merges" -> ((s: SparkSession, dir: String) => TextAnalysis.bpeMerges(s, dir)),
    // t19: the trained tokenizer APPLIED — per-lang subword stats
    // from the broadcast segmented vocabulary (train once, encode
    // everywhere; the corpus never reshuffles for the tokenizer)
    "t19_bpe_encode" -> ((s: SparkSession, dir: String) => TextAnalysis.bpeEncodeStats(s, dir)),
    // t20: Heaps'-law vocabulary growth over nested md5-sliced
    // snapshots — first-appearance slices, no per-snapshot rescan
    "t20_heaps_curve" -> (TextAnalysis.heapsLawCurve _),
    // t21: TRAINED quality classifier — Naive Bayes on the t08 Gopher
    // weak labels, integer-micronat log-odds broadcast model; the
    // n_disagree column is the live proof it learned a lexical
    // boundary the raw rules don't encode
    "t21_quality_classifier" -> ((s: SparkSession, dir: String) => TextAnalysis.qualityClassifierStats(s, dir)),
    // t22: the t21 model as a PERSISTED artifact — train → write →
    // read → describe runs inside the query (ensureQualityModel is
    // an idempotent no-op once the artifact exists, the ivf-index
    // contract), and the oracle RETRAINS from the corpus: persisted
    // vs retrained bit-equality certified cross-engine every gate run
    "t22_quality_model" -> ((s: SparkSession, dir: String) => TextAnalysis.qualityModelDatasheet(s, dir)),
    // t23: the classifier's OPERATING CURVE — kept docs/token mass/
    // rule disagreement at each micronat threshold on the shared
    // grid, ONE corpus pass (c21 is this table's thr=0 row)
    "t23_threshold_curve" -> ((s: SparkSession, dir: String) => TextAnalysis.classifierThresholdCurve(s, dir)),
    // t24: the bigram LM as a PERSISTED artifact (the t22 pattern for
    // the fourth gate's model) — train → write → read → describe
    // inside the query; the oracle RETRAINS the LM from the corpus,
    // so persisted-vs-retrained is certified cross-engine per gate run
    "t24_bigram_lm_model" -> ((s: SparkSession, dir: String) => TextAnalysis.bigramLmDatasheet(s, dir)),
    // — sampling (training-data pipeline) —
    "p01_stratified_sample" -> (Sampling.sampledDocStats _),
    "p02_train_val_test" -> ((s: SparkSession, dir: String) => Curation.splitStats(s, dir)),
    "p03_temperature_mix" -> ((s: SparkSession, dir: String) => Sampling.temperatureMixStats(s, dir)),
    "p04_fixed_sample" -> ((s: SparkSession, dir: String) => Sampling.fixedSample(s, dir)),
    "p05_weighted_sample" -> (Sampling.qualityWeightedSample _),
    "p06_dsir" -> ((s: SparkSession, dir: String) => Sampling.dsirStats(s, dir)),
    "p07_stratified_fixed" -> ((s: SparkSession, dir: String) => Sampling.stratifiedFixedSample(s, dir)),
    "p08_epoch_plan" -> ((s: SparkSession, dir: String) => Sampling.epochPlan(s, dir)),
    "p09_resample_mult" -> ((s: SparkSession, dir: String) => Sampling.importanceResample(s, dir)),
    // p10: leakage-free k-fold — fold is a pure function of the
    // CUSTOMER key (md5 hex ranges), so no fold shares a customer
    "p10_kfold" -> ((s: SparkSession, dir: String) => Sampling.kfoldStats(s, dir)),
    // p11: Poisson-bootstrap replica means — one-pass deterministic
    // uncertainty quantification (md5-derived Poisson(1) weights)
    "p11_bootstrap" -> ((s: SparkSession, dir: String) => Sampling.bootstrapMeans(s, dir)),
    // — corpus curation (training-data pipeline) —
    "c01_contamination" -> ((s: SparkSession, dir: String) => Curation.contaminationReport(s, dir)),
    "c02_seq_packing" -> ((s: SparkSession, dir: String) => Curation.packingStats(s, dir)),
    "c03_blocklist_scrub" -> ((s: SparkSession, dir: String) => Curation.blocklistScrubStats(s, dir)),
    "c04_decontaminated" -> ((s: SparkSession, dir: String) => Curation.decontaminatedStats(s, dir)),
    "c05_quality_quota" -> ((s: SparkSession, dir: String) => Curation.qualityQuota(s, dir)),
    "c06_full_curation" -> ((s: SparkSession, dir: String) => Curation.fullCurationStats(s, dir)),
    "c07_pii_redaction" -> ((s: SparkSession, dir: String) => Curation.piiRedactionStats(s, dir)),
    "c08_packed_ids" -> ((s: SparkSession, dir: String) => Curation.packedIdsStats(s, dir)),
    "c09_chunking" -> ((s: SparkSession, dir: String) => Curation.chunkStats(s, dir)),
    "c10_token_budget" -> ((s: SparkSession, dir: String) => Curation.tokenBudgetStats(s, dir)),
    "c11_bloom_decontam" -> ((s: SparkSession, dir: String) => Curation.bloomDecontaminatedStats(s, dir)),
    "c12_span_scrub" -> ((s: SparkSession, dir: String) => Curation.spanScrubStats(s, dir)),
    // — deduplication —
    "d01_exact_dedup" -> (Dedup.exactDedupByLang _),
    // d02 passes with 0 rows at gate SF (the corpus has no exact
    // dups); the non-empty branch is witnessed by OpsSpec
    // "d02 witness: duplicateGroups emits groups on a
    // planted-duplicate corpus"
    "d02_dup_groups" -> (Dedup.duplicateGroups _),
    "d03_ngram_jaccard" -> ((s: SparkSession, dir: String) => Dedup.ngramJaccardPairs(s, dir)),
    "d04_minhash_lsh" -> ((s: SparkSession, dir: String) => Dedup.minhashLshPairs(s, dir)),
    // d05 is PERMANENTLY companion-certified (no DuckDB oracle, by
    // design): its rows are raw 64-bit SimHash band-collision
    // candidates — sketch internals with no SQL-expressible ground
    // truth (the sketch IS the definition). The CLAIM (candidates
    // that verify at the Hamming cut match the exact pairwise
    // computation) is what d05b oracles, every gate run, in full.
    "d05_simhash_pairs" -> ((s: SparkSession, dir: String) => Dedup.simhashPairs(s, dir)),
    "d05b_simhash_verified" -> ((s: SparkSession, dir: String) => Dedup.simhashVerifiedPairs(s, dir)),
    "d06_embedding_neardup" -> ((s: SparkSession, dir: String) => Dedup.embeddingNearDups(s, dir)),
    "d07_dup_clusters" -> ((s: SparkSession, dir: String) => Dedup.dupClusters(s, dir)),
    "d08_dedup_survivors" -> ((s: SparkSession, dir: String) => Dedup.dedupSurvivors(s, dir)),
    "d09_incremental_dedup" -> ((s: SparkSession, dir: String) => Dedup.incrementalNearDups(s, dir)),
    "d10_survivors_by_quality" -> ((s: SparkSession, dir: String) => Dedup.dedupSurvivorsByQuality(s, dir)),
    "d11_repeated_spans" -> ((s: SparkSession, dir: String) => Dedup.repeatedSpans(s, dir)),
    "d12_semdedup" -> ((s: SparkSession, dir: String) => Dedup.semDedup(s, dir)),
    "d13_semdedup_recall" -> ((s: SparkSession, dir: String) => Dedup.semDedupRecallAdvisory(s, dir)),
    "c13_proto_prune" -> ((s: SparkSession, dir: String) => Similarity.prototypePruneStats(s, dir)),
    "c14_contamination_curve" -> ((s: SparkSession, dir: String) => Curation.contaminationCurve(s, dir)),
    "c15_validation_gate" -> ((s: SparkSession, dir: String) => Curation.validationGate(s, dir)),
    "s13_knn_graph" -> ((s: SparkSession, dir: String) => Similarity.knnGraph(s, dir)),
    "s14_centrality" -> ((s: SparkSession, dir: String) => Similarity.knnCentrality(s, dir)),
    "s15_mmr_topk" -> ((s: SparkSession, dir: String) => Similarity.mmrTopK(s, dir)),
    "d14_cross_source_dups" -> ((s: SparkSession, dir: String) => Dedup.crossSourceNearDupMatrix(s, dir)),
    "d15_block_dedup" -> ((s: SparkSession, dir: String) => Dedup.blockDedupStats(s, dir)),
    "d16_dedup_funnel" -> ((s: SparkSession, dir: String) => Dedup.dedupFunnel(s, dir)),
    "d17_threshold_curve" -> ((s: SparkSession, dir: String) => Dedup.thresholdCurve(s, dir)),
    "c16_semantic_decontam" -> ((s: SparkSession, dir: String) => Curation.semanticDecontamStats(s, dir)),
    "c17_split_leakage" -> ((s: SparkSession, dir: String) => Curation.splitLeakageStats(s, dir)),
    "c18_datasheet" -> (Curation.datasheet _),
    // c19: corpus snapshot diff — added/removed/modified/unchanged
    // accounting by md5 fingerprint, one full-outer hash join on ids
    "c19_corpus_diff" -> (Curation.corpusDiff _),
    // c20: c08's packing over the TRAINED t18/t19 tokenizer — packed
    // ids are BPE vocabulary ids (alphabet then merge products, in
    // creation order), closing counts → merges → vocab → PACK
    "c20_bpe_packed_ids" -> ((s: SparkSession, dir: String) => Curation.bpePackedIdsStats(s, dir)),
    // c21: the t21 model USED as a filter — kept/dropped docs and
    // surviving token mass per (lang, source), the CCNet stage shape
    "c21_classifier_filtered" -> ((s: SparkSession, dir: String) => Curation.classifierFilteredStats(s, dir)),
    // c22: the INGEST pipeline composed end-to-end — exact-fp
    // decontam → trained-classifier filter (served from the t22
    // persisted artifact) → LM-perplexity gate (served from the t24
    // persisted artifact, the c23 predicate) → trained-tokenizer ids
    // → budget packs, with per-lang four-stage drop accounting
    // (n_raw → n_contam / n_lowq / n_surprising → n_kept); the batch
    // twin of the full streaming serve stack (all four gates)
    "c22_llm_ingest_chain" -> ((s: SparkSession, dir: String) => Curation.llmIngestChainStats(s, dir)),
    // c23: the OTHER CCNet gate — the corpus bigram LM as the quality
    // signal (keep what the model finds unsurprising), the t17 chain
    // behind a pure-integer lm < thr·nb predicate; bigram-less docs
    // counted n_unscored, never silently kept
    "c23_perplexity_gate" -> ((s: SparkSession, dir: String) => TextAnalysis.perplexityGateStats(s, dir)),
    "d18_incr_semdedup" -> ((s: SparkSession, dir: String) => Dedup.incrementalSemanticNearDups(s, dir)),
    "d19_containment" -> ((s: SparkSession, dir: String) => Dedup.containmentPairs(s, dir)),
    // d20: edit-distance near-dups — MinHash-banded candidates (the
    // d04 funnel), exact levenshtein verify; oracle is the unfiltered
    // quadratic, so the funnel is certified lossless per gate run
    "d20_editdist" -> ((s: SparkSession, dir: String) => Dedup.editDistancePairs(s, dir)),
    "s16_range_search" -> ((s: SparkSession, dir: String) => Similarity.rangeSearch(s, dir)),
    // — similarity search —
    "s01_brute_topk" -> ((s: SparkSession, dir: String) => Similarity.bruteForceTopK(s, dir)),
    "s02_lsh_topk" -> ((s: SparkSession, dir: String) => Similarity.lshTopK(s, dir)),
    "s03_label_stats" -> (Similarity.labelCentroidStats _),
    "s04_native_topk" -> ((s: SparkSession, dir: String) => Similarity.nativeTopK(s, dir)),
    "s05_ivf_topk" -> AnnRead(),
    "s06_kmeans_codebook" -> ((s: SparkSession, dir: String) => Similarity.kmeansCodebook(s, dir)),
    "s07_ivf_trained" -> AnnRead(codebook = Trained()),
    "s08_sq_topk" -> ((s: SparkSession, dir: String) => Similarity.sqTopK(s, dir)),
    "s09_pq_topk" -> ((s: SparkSession, dir: String) => Similarity.pqTopK(s, dir)),
    "s10_filtered_topk" -> ((s: SparkSession, dir: String) => Similarity.filteredTopK(s, dir)),
    "s12_rerank_topk" -> ((s: SparkSession, dir: String) => Similarity.rerankTopK(s, dir)),
    "s17_nprobe_recall" -> ((s: SparkSession, dir: String) => Similarity.nprobeRecallCurve(s, dir)),
    "s18_ivfpq_topk" -> ((s: SparkSession, dir: String) => Similarity.ivfPqTopK(s, dir)),
    "s19_quant_recall" -> ((s: SparkSession, dir: String) => Similarity.quantRecallAudit(s, dir)),
    // s11 reads the PERSISTED index layout (built once in Verify/Bench
    // setup via ensureIvfIndex — the call here is an idempotent no-op
    // when the index exists); results are identical to s05 by
    // construction, so the s05 oracle certifies the persisted path too
    "s11_ivf_indexed" -> ((s: SparkSession, dir: String) =>
      AnnRead(layout = At(Similarity.ensureIvfIndex(s, dir)))(s, dir)),
    // s20: two-level routed IVF — the query ranks ncoarse=8 coarse
    // cells then only the routed subset of the 32 fine centroids,
    // instead of all 32; the corpus-side plan is s05's unchanged
    "s20_ivf2_topk" -> AnnRead(router = Some(Router())),
    // s21: router recall curve vs the ONE-LEVEL IVF baseline — the
    // cprobe=8 row must read exactly 1000 (s20's exhaustive-router
    // identity, oracle-certified every gate run)
    "s21_cprobe_recall" -> ((s: SparkSession, dir: String) =>
      Similarity.cprobeRecallCurve(s, dir)),
    // s22: the COMPOSED production path — routed probe selection (s20)
    // over the persisted partition-pruned index layout (s11); results
    // identical to s20 by construction, certified by the shared oracle
    "s22_routed_indexed" -> ((s: SparkSession, dir: String) =>
      AnnRead(layout = At(Similarity.ensureIvfIndex(s, dir)),
        router = Some(Router()))(s, dir)),
    // s26: index FRESHNESS — deletes as a broadcast tombstone
    // anti-join on the persisted index's candidate stream (the LSM
    // shape: immutable index files + a small delete table until
    // compaction); the vec_id ≡ 3 (mod 7) slice is deterministic
    // and provably hits live top-k lists
    "s26_ivf_tombstoned" -> ((s: SparkSession, dir: String) =>
      AnnRead(layout = At(Similarity.ensureIvfIndex(s, dir)),
        tombstones = true)(s, dir)),
    // s27: COMPACTION — tombstones folded into a fresh immutable
    // layout (one anti-join + one partitionBy(cell) rewrite, no
    // retraining), after which the plain s11 read path applies with
    // no per-query tombstone join; ≡ s26 by construction, certified
    // by the shared oracle (the s11/s22 pattern)
    "s27_ivf_compacted" -> ((s: SparkSession, dir: String) =>
      AnnRead(layout = At(Similarity.ensureCompactedIvfIndex(s, dir)))(s, dir)),
    // s28: the EPOCH-RESOLVED read — ensureCompactedIvfIndex flips
    // the CURRENT pointer, so this resolves to the PLAIN read over
    // the compacted layout (no per-query tombstone join in the
    // plan); ≡ s26/s27 by construction, the shared-oracle pattern;
    // IvfIndexSpec pins both sides of the switch
    "s28_ivf_epoch" -> ((s: SparkSession, dir: String) => {
      Similarity.ensureCompactedIvfIndex(s, dir)
      AnnRead(layout = Current)(s, dir)
    }),
    // s29: the epoch-resolved ROUTED read — s22's recommended
    // production query shape given the s28 freshness lifecycle
    // (tombstone anti-join over /main before the flip, plain read of
    // /compact after); rows identical either side by construction,
    // so ONE tombstoned-s20 oracle certifies whichever epoch the
    // gate finds; IvfIndexSpec pins both plan shapes + row identity
    "s29_routed_current" -> AnnRead(layout = Current, router = Some(Router())),
    // s30: FILTERED search on the production path — s10's metadata
    // pre-filter composed into the epoch-resolved routed read: the
    // predicate lands on the v2 index layout's in-row label column
    // (pushed into the DPP-pruned parquet scan), filtering candidates
    // BEFORE the ranking heap — never post-filtering a fixed-k
    // result (the starvation trap s10's oracle certifies against);
    // PlanSpec pins the pushed filter, IvfIndexSpec pins parity
    // across the epoch flip with the filter on
    "s30_filtered_routed" -> AnnRead(layout = Current,
      router = Some(Router()), filter = Some(col("label") === 2)),
    // s31: routing over the TRAINED codebook — the s07 → s20
    // composition: the persisted Lloyd codebook (ensureCodebook) as
    // the router's fine level; with cprobe = ncoarse this reduces to
    // s07 exactly (OpsSpec pins the identity)
    "s31_routed_trained" -> AnnRead(codebook = Trained(),
      router = Some(Router())),
    // s32: the codebook-artifact datasheet — ensure → read → describe
    // inside a pure query; the oracle RETRAINS the codebook (unrolled
    // Lloyd) and must land on the identical row: persisted ≡
    // retrained certified cross-engine every gate run (t22's pattern)
    "s32_codebook_datasheet" -> ((s: SparkSession, dir: String) =>
      Similarity.codebookDatasheet(s, dir)),
    // s33: the COMPLETE production stack — persisted trained codebook
    // + persisted trained-cell DPP-pruned layout + router + exact
    // verify; ≡ s31 by construction (the layout's cells are the
    // per-query trained assignment), so s31's retraining oracle
    // certifies it
    "s33_trained_indexed" -> ((s: SparkSession, dir: String) =>
      AnnRead(codebook = Trained(),
        layout = At(Similarity.ensureTrainedIvfIndex(s, dir)),
        router = Some(Router()))(s, dir)),
    // s34: s30's metadata pre-filter on the TRAINED stack — the label
    // predicate pushed into the trained layout's DPP-pruned scan,
    // filter-before-heap; filter capability symmetric across both
    // index families through the one AnnRead body
    "s34_filtered_trained" -> ((s: SparkSession, dir: String) =>
      AnnRead(codebook = Trained(),
        layout = At(Similarity.ensureTrainedIvfIndex(s, dir)),
        router = Some(Router()),
        filter = Some(col("label") === 2))(s, dir)),
    // s35: the trained family's freshness lifecycle — tombstoned reads
    // over the persisted trained layout pre-flip, plain compacted read
    // after its own _CURRENT flips; ONE tombstoned-s31 oracle valid in
    // both epochs (the s29 pattern, now symmetric across families)
    "s35_trained_current" -> AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router())),
    // s36: THE production read — trained codebook + trained DPP-pruned
    // layout + router + pushed metadata filter + freshness, one query;
    // oracle = s31's trained text + tombstone + label membership
    "s36_production_read" -> AnnRead(codebook = Trained(), layout = Current,
      router = Some(Router()), filter = Some(col("label") === 2)),
    // s37: the fresh-ingest SHADOW read — ids re-ingested since the
    // last index build leave the index's candidate stream (broadcast
    // anti-join) and their updated buffer rows are brute-scored into
    // the same ranking heap: the LSM memtable read path on the
    // candidate axis; deletes-then-reingests resolve to the buffer
    "s37_shadowed_current" -> ((s: SparkSession, dir: String) =>
      AnnRead(codebook = Trained(), layout = Current, router = Some(Router()),
        shadow = Some(Similarity.freshBuffer(s, dir)))(s, dir)),
    // s23: the s17 curve widened to the metrics retrieval pipelines
    // tune on — recall@k, MRR, nDCG@k per probe depth, all exact
    // integer arithmetic so the oracle hash-matches
    "s23_retrieval_metrics" -> ((s: SparkSession, dir: String) =>
      Similarity.retrievalMetricsCurve(s, dir)),
    // s24: multi-probe LSH (hamming-1 bucket perturbation, Lv et al.
    // VLDB'07) over HALF of s02's tables — the memory/recall trade
    "s24_multiprobe_lsh" -> ((s: SparkSession, dir: String) =>
      Similarity.multiprobeLshTopK(s, dir)),
    // s25: the measured advisory for s24 — recall@k of the same 4
    // tables probed exactly vs with hamming-1 perturbation
    "s25_multiprobe_recall" -> ((s: SparkSession, dir: String) =>
      Similarity.multiprobeRecallAudit(s, dir)),
    // — multimodal plumbing —
    "m01_media_meta" -> (Multimodal.mediaMetadata _),
    "m02_decode_features" -> (Multimodal.decodeFeatures _),
    "m03_frames" -> ((s: SparkSession, dir: String) => Multimodal.sampleFrames(s, dir)),
    "m04_resize" -> ((s: SparkSession, dir: String) => Multimodal.resizeMeta(s, dir)),
    "m05_audio_decode" -> (Multimodal.decodeAudio _),
    "m06_gif_frames" -> (Multimodal.decodeFrames _),
    "m07_scene_deltas" -> (Multimodal.sceneDeltas _),
    "m08_image_neardups" -> ((s: SparkSession, dir: String) => Multimodal.imageNearDupPairs(s, dir)),
    "m09_audio_neardups" -> ((s: SparkSession, dir: String) => Multimodal.audioNearDupPairs(s, dir)),
    "m10_avi_frames" -> (Multimodal.decodeAviFrames _),
    "m11_png_meta" -> (Multimodal.pngMetadataReport _),
    "m12_jpeg_meta" -> (Multimodal.jpegMetadataReport _),
    "m13_mixed_ingest" -> (Multimodal.mixedIngestGate _),
    "m14_mjpeg_frames" -> ((s: SparkSession, dir: String) => Multimodal.mjpegFrameReport(s, dir)),
  )

  /** Shared DuckDB CTE prefix for every shingle-based oracle:
    * tokenize -> distinct 5-gram shingles -> set sizes -> pairwise
    * intersection counts. ONE definition interpolated into
    * d03/d04/d05b/d07/d08 so a change to the shingle semantics cannot
    * silently desynchronize one oracle from the others. */
  private val shingleCtes =
    """toks AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, source, array_to_string(w[i:i+4], ' ') AS shingle
           FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
           WHERE len(w) >= 5),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""

  /** Per-n CTE block for the c14 contamination-curve oracle — the
    * c01 pipeline at shingle size `n`, reduced to one (n, counts,
    * mean) row. Shares the single `toks` CTE across sizes. */
  private def contamCurveCtes(n: Int): String =
    s"""sh$n AS (
           SELECT DISTINCT doc_id, source, array_to_string(w[i:i+${n - 1}], ' ') AS g
           FROM toks, UNNEST(range(1, len(w) - ${n - 2})) AS t(i)
           WHERE len(w) >= $n),
         bench$n AS (SELECT DISTINCT g FROM sh$n WHERE source = 'src0'),
         corp$n AS (SELECT doc_id, g FROM sh$n WHERE source <> 'src0'),
         sz$n AS (SELECT doc_id, count(*) AS n_sh FROM corp$n GROUP BY 1),
         hit$n AS (SELECT c.doc_id, count(*) AS n_hit
           FROM corp$n c JOIN bench$n USING (g) GROUP BY 1),
         ov$n AS (SELECT h.doc_id,
             CAST(floor(h.n_hit / z.n_sh * 1000 + 0.5) AS BIGINT) AS ov3
           FROM hit$n h JOIN sz$n z USING (doc_id))"""

  private def contamCurveSelect(n: Int): String =
    s"""SELECT CAST($n AS BIGINT) AS n, count(*) AS n_hit_docs,
           CAST(coalesce(sum(CASE WHEN ov3 >= 500 THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_flagged,
           floor(CAST(sum(ov3) AS DOUBLE) / 1000 / count(*) * 1000 + 0.5)
             / 1000 AS avg_overlap
         FROM ov$n"""

  /** Exact-Jaccard pair select over [[shingleCtes]] (threshold 0.6,
    * 3-decimal rounding - mirrors `Dedup.pairJaccard`/`r3`). */
  private val exactJaccardSelect =
    """SELECT doc_a, doc_b, floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 AS jaccard
         FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 >= 0.6
         ORDER BY doc_a, doc_b"""

  /** Transitive-closure CTEs over the exact near-dup pairs (the d07/
    * d08 recursive min-label closure; composes after [[shingleCtes]]
    * under WITH RECURSIVE). */
  private val closureCtes =
    """pairs AS (
           SELECT doc_a, doc_b
           FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
           WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 >= 0.6),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT x.id, e.dst FROM reach x JOIN edges e ON e.src = x.r),
         labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"""

  /** DuckDB replica of the [[graft.functions.HyperplaneBuckets]]
    * kernel for the s02 oracle — the s05 pattern (replicate the
    * deterministic index structure, so approximation lives in the
    * ALGORITHM, not the engines). splitmix64 is 64-bit wrapping
    * arithmetic; DuckDB BIGINT/HUGEINT raise on overflow, so the
    * multiply is done in 32-bit halves under HUGEINT with explicit
    * `% 2^64` (verified value-identical to the JVM kernel for every
    * sf0.01 vector, buckets AND final top-k). The dot products match
    * bit-for-bit because both engines fold the dimensions in array
    * order (`list_dot_product` ≡ the kernel's ascending-i loop).
    */
  private def splitmix64Sql: String = {
    def mulmod(a: String, b: BigInt): String = {
      val bl = b & 0xFFFFFFFFL
      val bh = b >> 32
      s"((($a) % 4294967296 * $bl + ((($a) % 4294967296 * $bh + (($a) // 4294967296) * $bl) % 4294967296) * 4294967296) % 18446744073709551616)"
    }
    def xs(z: String, n: Int): String =
      s"CAST(xor(CAST($z AS UBIGINT), CAST($z AS UBIGINT) >> $n) AS HUGEINT)"
    val z0 = "((CAST(p * 1000003 + i AS HUGEINT) + 11400714819323198485) % 18446744073709551616)"
    val z1 = mulmod(xs(z0, 30), BigInt("BF58476D1CE4E5B9", 16))
    val z2 = mulmod(xs(z1, 27), BigInt("94D049BB133111EB", 16))
    xs(z2, 31)
  }

  /** s02's full LSH oracle: hyperplane coefficients from
    * [[splitmix64Sql]], sign-bit buckets per table, any-table
    * collision candidates, exact rerank — the hash-match certifies
    * the kernel's determinism cross-engine AND the candidate/rank
    * pipeline (recall loss vs s01 is identical on both sides because
    * both replay the same hyperplanes). */
  private def s02OracleSql(bits: Int, tables: Int): String =
    s"""WITH ${lshBucketCtes(bits, tables)},
       cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
                FROM bks q JOIN bks c ON q.tb = c.tb AND q.bucket = c.bucket
                WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       sc AS (SELECT q_id, c_id,
                floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
              FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
       r AS (SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
       SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The splitmix64 hyperplane-bucket CTE block shared by the s02,
    * s24 and s25 oracles (e → grid → coefficients → dots → per-table
    * sign-bit buckets as BIGINT) — one definition so the three
    * replays of [[graft.functions.HyperplaneBuckets]] cannot drift. */
  private def lshBucketCtes(bits: Int, tables: Int): String = {
    val z = splitmix64Sql
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                  len(embedding) AS dims FROM embeddings),
       grid AS (SELECT p, i FROM (SELECT UNNEST(range(${bits * tables})) AS p),
                                 (SELECT UNNEST(range((SELECT max(dims) FROM e))) AS i)),
       co AS (SELECT p, i,
         CAST(CASE WHEN $z >= 9223372036854775808 THEN $z - 18446744073709551616 ELSE $z END AS BIGINT)
           / 9223372036854775807.0 AS c FROM grid),
       cl AS (SELECT p, list(c ORDER BY i) AS coef FROM co GROUP BY p),
       dots AS (SELECT vec_id, p, list_dot_product(emb, coef) AS dot FROM e, cl),
       bks AS (SELECT vec_id, p // $bits AS tb,
                      CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % $bits) ELSE 0 END) AS BIGINT) AS bucket
               FROM dots GROUP BY 1, 2)"""
  }

  /** p10's oracle: the k-fold CASE chain from the SAME
    * [[graft.ops.Sampling.kfoldCuts]] literals the Spark side
    * compiles, so the two engines' fold assignments cannot drift. */
  private def p10OracleSql(k: Int): String = {
    val cases = graft.ops.Sampling.kfoldCuts(k).zipWithIndex.map {
      case (c, i) =>
        s"WHEN substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8) < '$c' THEN $i"
    }.mkString(" ")
    s"""SELECT CAST(CASE $cases ELSE ${k - 1} END AS BIGINT) AS fold,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
       FROM orders GROUP BY 1 ORDER BY fold"""
  }

  /** l02's oracle: the order-16 Hilbert descent as sixteen GENERATED
    * CTE stages — per level the same (reflect-if-rx, swap-if-ry0,
    * 4^k digit) arithmetic the [[graft.functions.HilbertIndexExpr]]
    * kernel runs, on the same floor-div quantization as l01, so the
    * native codegen loop is certified against an independent engine's
    * evaluation of the identical recurrence at every gate run. */
  private def l02OracleSql: String = {
    val stages = (15 to 0 by -1).map { k =>
      val s2 = 1L << (2 * k)
      val prev = if (k == 15) "q" else s"h${k + 1}"
      s"""h$k AS (SELECT ck, day,
         CASE WHEN ((y >> $k) & 1) = 0
              THEN (CASE WHEN ((x >> $k) & 1) = 1 THEN 65535 - y ELSE y END)
              ELSE x END AS x,
         CASE WHEN ((y >> $k) & 1) = 0
              THEN (CASE WHEN ((x >> $k) & 1) = 1 THEN 65535 - x ELSE x END)
              ELSE y END AS y,
         d + $s2 * (3 * ((x >> $k) & 1) + ((y >> $k) & 1)
           - 2 * ((x >> $k) & 1) * ((y >> $k) & 1)) AS d
       FROM $prev)"""
    }.mkString(",\n")
    s"""WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(date_diff('day', DATE '1992-01-01',
           CAST(o_orderdate AS DATE)) AS BIGINT) AS day
       FROM orders),
     r AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
         min(day) AS day_min, max(day) AS day_max FROM o),
     q AS (SELECT ck, day,
         ((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS x,
         ((day - day_min) * 65535) // greatest(day_max - day_min, 1) AS y,
         CAST(0 AS BIGINT) AS d
       FROM o, r),
     $stages
     SELECT d // 16777216 AS bucket, count(*) AS n,
       min(ck) AS ck_lo, max(ck) AS ck_hi,
       min(day) AS day_lo, max(day) AS day_hi
     FROM h0 GROUP BY 1 ORDER BY 1"""
  }

  /** l03's oracle: all three layout keys replayed over ONE quantized
    * scan — the l01 morton spread cascade, the sixteen l02 Hilbert
    * CTE stages (here carrying (qa, qb) through the descent), and the
    * single-key floor-div — then the identical per-bucket min/max
    * statistics + rectangle-intersection rollup per layout, unioned.
    * Grain/rectangle constants mirror [[graft.ops.Layout]]
    * (pruneGrain / rectCk / rectDay). */
  private def l03OracleSql: String = {
    val g = graft.ops.Layout.pruneGrain
    val (ra0, ra1) = (graft.ops.Layout.rectCkLo, graft.ops.Layout.rectCkHi)
    val (rb0, rb1) = (graft.ops.Layout.rectDayLo, graft.ops.Layout.rectDayHi)
    val stages = (15 to 0 by -1).map { k =>
      val s2 = 1L << (2 * k)
      val prev = if (k == 15) "q2" else s"h${k + 1}"
      s"""h$k AS (SELECT qa, qb,
         CASE WHEN ((y >> $k) & 1) = 0
              THEN (CASE WHEN ((x >> $k) & 1) = 1 THEN 65535 - y ELSE y END)
              ELSE x END AS x,
         CASE WHEN ((y >> $k) & 1) = 0
              THEN (CASE WHEN ((x >> $k) & 1) = 1 THEN 65535 - x ELSE x END)
              ELSE y END AS y,
         d + $s2 * (3 * ((x >> $k) & 1) + ((y >> $k) & 1)
           - 2 * ((x >> $k) & 1) * ((y >> $k) & 1)) AS d
       FROM $prev)"""
    }.mkString(",\n")
    def rollup(name: String, src: String, key: String) =
      s"""p_$name AS (SELECT $key // ${if (name == "single_ck") 256L else g} AS bucket,
           min(qa) AS a_lo, max(qa) AS a_hi,
           min(qb) AS b_lo, max(qb) AS b_hi,
           sum(CASE WHEN qa BETWEEN $ra0 AND $ra1
                     AND qb BETWEEN $rb0 AND $rb1 THEN 1 ELSE 0 END) AS rin
         FROM $src GROUP BY 1),
       a_$name AS (SELECT '$name' AS layout,
           CAST(count(*) AS BIGINT) AS buckets_total,
           CAST(sum(CASE WHEN a_hi >= $ra0 AND a_lo <= $ra1
             AND b_hi >= $rb0 AND b_lo <= $rb1 THEN 1 ELSE 0 END) AS BIGINT)
             AS buckets_touched,
           CAST(sum(rin) AS BIGINT) AS rows_matched
         FROM p_$name)"""
    s"""WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(date_diff('day', DATE '1992-01-01',
           CAST(o_orderdate AS DATE)) AS BIGINT) AS day
       FROM orders),
     r AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
         min(day) AS day_min, max(day) AS day_max FROM o),
     q AS (SELECT
         ((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS qa,
         ((day - day_min) * 65535) // greatest(day_max - day_min, 1) AS qb
       FROM o, r),
     s1 AS (SELECT qa, qb, (qa | (qa << 8)) & 16711935 AS a1,
         (qb | (qb << 8)) & 16711935 AS b1 FROM q),
     s2 AS (SELECT qa, qb, (a1 | (a1 << 4)) & 252645135 AS a2,
         (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
     s3 AS (SELECT qa, qb, (a2 | (a2 << 2)) & 858993459 AS a3,
         (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
     s4 AS (SELECT qa, qb, (a3 | (a3 << 1)) & 1431655765 AS a4,
         (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3),
     z AS (SELECT qa, qb, (a4 | (b4 << 1)) AS z FROM s4),
     q2 AS (SELECT qa, qb, qa AS x, qb AS y, CAST(0 AS BIGINT) AS d FROM q),
     $stages,
     ${rollup("zorder", "z", "z")},
     ${rollup("hilbert", "h0", "d")},
     ${rollup("single_ck", "q", "qa")}
     SELECT * FROM a_zorder
     UNION ALL SELECT * FROM a_hilbert
     UNION ALL SELECT * FROM a_single_ck
     ORDER BY layout"""
  }

  /** t18's oracle: the BPE training rounds UNROLLED as generated CTE
    * stages (the s06 Lloyd discipline) — per round a freq-weighted
    * adjacent-pair count via zipped parallel unnests, the top pair
    * under the identical (count desc, left, right) total order, and
    * the greedy merge as a POSITION-SKIPPING recursive walk over each
    * word's original symbol list: structurally different from the
    * Spark side's accumulate-and-check fold, but the same
    * non-overlapping left-to-right contract (a merged token is never
    * re-examined — the walk advances past both constituents). All
    * integers and strings, nothing floating. Every chained CTE is
    * AS MATERIALIZED: DuckDB otherwise INLINES referenced CTEs, and
    * inlining a chain of recursions re-evaluates round i-1 once per
    * round-i iteration — exponential replay of a linear training
    * loop (observed: the un-hinted form ran minutes on a corpus the
    * hinted form finishes in milliseconds). */
  private def t18OracleSql(rounds: Int): String =
    s"""WITH RECURSIVE
       ${bpeTrainingCtes(rounds)}
       SELECT * FROM (${(1 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_round, l AS left_sym,
          r2 AS right_sym, cnt AS pair_count FROM t$i"""
    }.mkString("\n UNION ALL ")}) ORDER BY merge_round"""

  /** t19's oracle: the SAME generated training chain, then the final
    * vocabulary w{rounds} joined back to the per-(lang, word) counts
    * and rolled up to the subword statistics — integer floor-div for
    * the milli ratio, count(DISTINCT) for the effective vocab. */
  private def t19OracleSql(rounds: Int): String =
    s"""WITH RECURSIVE
       ${bpeTrainingCtes(rounds)},
       occ AS (SELECT lang,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         FROM documents),
       oc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS n
         FROM occ GROUP BY 1, 2),
       sg AS MATERIALIZED (SELECT lang, n, syms
         FROM oc JOIN w$rounds USING (word)),
       base AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
           CAST(sum(n * len(syms)) AS BIGINT) AS n_subwords
         FROM sg GROUP BY 1),
       voc AS (SELECT lang, CAST(count(DISTINCT sw) AS BIGINT) AS n_vocab
         FROM (SELECT lang, unnest(syms) AS sw FROM sg) GROUP BY 1)
       SELECT lang, n_words, n_subwords,
         (n_subwords * 1000) // n_words AS spw_milli, n_vocab
       FROM base JOIN voc USING (lang) ORDER BY lang"""

  /** l06's oracle: Skilling's order-16 3-d Hilbert transform replayed
    * as generated CTE stages (the l02 discipline — DuckDB certifies
    * the native kernel) next to the morton3 spread cascade, then the
    * l05 statistics-box rollup over both layouts. Per bit plane
    * (2^15 … 2) the transform's three axis steps are three CHAINED
    * MATERIALIZED CTEs (42 total — un-hinted, DuckDB's inlining
    * re-evaluates each multi-referenced stage per reference: the t18
    * exponential-replay trap); then the Gray encode, the parity-
    * driven low-bit flip (one xor-chain column, materialized once),
    * and the Hilbert index as the SAME five-stage interleave spread
    * the morton3 side uses, with x0 at the top bit of each triple. */
  private def cube3PerBucketCtes: String = {
    val planes = (15 to 1 by -1).map { k =>
      val q = 1L << k; val p = q - 1L
      val prev = if (k == 15) "h0" else s"pC${k + 1}"
      s"""pA$k AS MATERIALIZED (SELECT qa, qb, qc, in_box, z3,
           CASE WHEN (x0 & $q) <> 0 THEN xor(x0, $p) ELSE x0 END AS x0,
           x1, x2 FROM $prev),
         pB$k AS MATERIALIZED (SELECT qa, qb, qc, in_box, z3,
           CASE WHEN (x1 & $q) <> 0 THEN xor(x0, $p)
                ELSE xor(x0, xor(x0, x1) & $p) END AS x0,
           CASE WHEN (x1 & $q) <> 0 THEN x1
                ELSE xor(x1, xor(x0, x1) & $p) END AS x1,
           x2 FROM pA$k),
         pC$k AS MATERIALIZED (SELECT qa, qb, qc, in_box, z3,
           CASE WHEN (x2 & $q) <> 0 THEN xor(x0, $p)
                ELSE xor(x0, xor(x0, x2) & $p) END AS x0,
           x1,
           CASE WHEN (x2 & $q) <> 0 THEN x2
                ELSE xor(x2, xor(x0, x2) & $p) END AS x2 FROM pB$k)"""
    }.mkString(",\n         ")
    val parity = (15 to 1 by -1)
      .map(k => s"CASE WHEN (x2 & ${1L << k}) <> 0 THEN ${(1L << k) - 1} ELSE 0 END")
      .reduce((a, b) => s"xor($a, $b)")
    def spread(src: String, pre: String, from: String): String =
      s"""s${pre}1 AS (SELECT *, ($src | ($src << 32)) & 8725724278095871 AS ${pre}v1 FROM $from),
         s${pre}2 AS (SELECT *, (${pre}v1 | (${pre}v1 << 16)) & 8725728556220671 AS ${pre}v2 FROM s${pre}1),
         s${pre}3 AS (SELECT *, (${pre}v2 | (${pre}v2 << 8)) & 1157144660301377551 AS ${pre}v3 FROM s${pre}2),
         s${pre}4 AS (SELECT *, (${pre}v3 | (${pre}v3 << 4)) & 1207822528635744451 AS ${pre}v4 FROM s${pre}3),
         s${pre}5 AS (SELECT *, (${pre}v4 | (${pre}v4 << 2)) & 1317624576693539401 AS ${pre}v5 FROM s${pre}4)"""
    // the three h-spreads chain: each reads the previous chain's full
    // row (SELECT * accumulates the stage columns — harmless, hz
    // projects what it needs)
    val spreads = Seq(
      spread("x0", "a", "fin"),
      spread("x1", "b", "sa5"),
      spread("x2", "c", "sb5")).mkString(",\n         ")
    s"""WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
           CAST(date_diff('day', DATE '1992-01-01',
             CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders),
       r AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
           min(day) AS day_min, max(day) AS day_max,
           min(cents) AS c_min, max(cents) AS c_max FROM o),
       q0 AS (SELECT
           ((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS qa,
           ((day - day_min) * 65535) // greatest(day_max - day_min, 1) AS qb,
           ((cents - c_min) * 65535) // greatest(c_max - c_min, 1) AS qc
         FROM o, r),
       qx AS (SELECT qa, qb, qc,
           CASE WHEN qa BETWEEN 9000 AND 17191
             AND qb BETWEEN 25000 AND 33191
             AND qc BETWEEN 41000 AND 49191 THEN 1 ELSE 0 END AS in_box
         FROM q0),
       m1 AS (SELECT *,
           (qa | (qa << 32)) & 8725724278095871 AS ma1,
           (qb | (qb << 32)) & 8725724278095871 AS mb1,
           (qc | (qc << 32)) & 8725724278095871 AS mc1 FROM qx),
       m2 AS (SELECT *,
           (ma1 | (ma1 << 16)) & 8725728556220671 AS ma2,
           (mb1 | (mb1 << 16)) & 8725728556220671 AS mb2,
           (mc1 | (mc1 << 16)) & 8725728556220671 AS mc2 FROM m1),
       m3 AS (SELECT *,
           (ma2 | (ma2 << 8)) & 1157144660301377551 AS ma3,
           (mb2 | (mb2 << 8)) & 1157144660301377551 AS mb3,
           (mc2 | (mc2 << 8)) & 1157144660301377551 AS mc3 FROM m2),
       m4 AS (SELECT *,
           (ma3 | (ma3 << 4)) & 1207822528635744451 AS ma4,
           (mb3 | (mb3 << 4)) & 1207822528635744451 AS mb4,
           (mc3 | (mc3 << 4)) & 1207822528635744451 AS mc4 FROM m3),
       m5 AS (SELECT *,
           (ma4 | (ma4 << 2)) & 1317624576693539401 AS ma5,
           (mb4 | (mb4 << 2)) & 1317624576693539401 AS mb5,
           (mc4 | (mc4 << 2)) & 1317624576693539401 AS mc5 FROM m4),
       h0 AS MATERIALIZED (SELECT qa, qb, qc, in_box,
           (ma5 | (mb5 << 1) | (mc5 << 2)) AS z3,
           qa AS x0, qb AS x1, qc AS x2 FROM m5),
       $planes,
       gray AS MATERIALIZED (SELECT qa, qb, qc, in_box, z3,
           x0, xor(x1, x0) AS x1, xor(x2, xor(x1, x0)) AS x2 FROM pC1),
       par AS MATERIALIZED (SELECT *, $parity AS tt FROM gray),
       fin AS MATERIALIZED (SELECT qa, qb, qc, in_box, z3,
           xor(x0, tt) AS x0, xor(x1, tt) AS x1, xor(x2, tt) AS x2
         FROM par),
       $spreads,
       hz AS MATERIALIZED (SELECT qa, qb, qc, in_box, z3,
           ((av5 << 2) | (bv5 << 1) | cv5) AS h3 FROM sc5),
       tagged AS (
         SELECT 'hilbert3d' AS layout, h3 // 1095233372416 AS bucket,
           qa, qb, qc, in_box FROM hz
         UNION ALL
         SELECT 'zorder3d', z3 // 1095233372416, qa, qb, qc, in_box FROM hz),
       pb AS (SELECT layout, bucket,
           min(qa) AS a_lo, max(qa) AS a_hi,
           min(qb) AS b_lo, max(qb) AS b_hi,
           min(qc) AS c_lo, max(qc) AS c_hi,
           count(*) AS n_rows,
           CAST(sum(in_box) AS BIGINT) AS rows_in
         FROM tagged GROUP BY 1, 2)"""
  }

  private def l06OracleSql: String =
    s"""$cube3PerBucketCtes
       SELECT layout, count(*) AS buckets_total,
         CAST(sum(CASE WHEN a_hi >= 9000 AND a_lo <= 17191
           AND b_hi >= 25000 AND b_lo <= 33191
           AND c_hi >= 41000 AND c_lo <= 49191 THEN 1 ELSE 0 END) AS BIGINT)
           AS buckets_touched,
         CAST(sum(rows_in) AS BIGINT) AS rows_matched
       FROM pb GROUP BY 1 ORDER BY layout"""

  /** l07's oracle: the SAME 42-CTE dual-curve replay, ending at the
    * per-segment statistics boxes themselves instead of l06's
    * touched-count rollup — box bounds, row counts, integer volume,
    * and the reader's skip verdict per segment. */
  private def l07OracleSql: String =
    s"""$cube3PerBucketCtes
       SELECT layout, bucket, a_lo, a_hi, b_lo, b_hi, c_lo, c_hi,
         n_rows, rows_in,
         (a_hi - a_lo + 1) * (b_hi - b_lo + 1) * (c_hi - c_lo + 1)
           AS volume,
         CAST(CASE WHEN a_hi >= 9000 AND a_lo <= 17191
           AND b_hi >= 25000 AND b_lo <= 33191
           AND c_hi >= 41000 AND c_lo <= 49191 THEN 1 ELSE 0 END AS BIGINT)
           AS touched
       FROM pb ORDER BY layout, bucket"""

  /** The shared t17/c23/t24/c22 bigram-LM chain: tokenize, top-24+OOV
    * class normalization, bigram/context count tables, per-bigram
    * micronat terms — ends at CTE `terms` (doc_id, lang, source, vs).
    * ONE definition feeding the t17 report, the c23 perplexity gate,
    * the t24 datasheet retrain, and (prefixed, so its CTE names
    * cannot collide with the t21 chain's `tk`/`cnt` in one WITH
    * block) the c22 composed-chain oracle — mirroring the ONE
    * `bigramScoredDocs` on the Spark side. */
  /** The c23/c22 perplexity-gate threshold literal, generated from
    * the ONE Scala default so the oracle predicate cannot drift from
    * the Spark gate's. */
  private def c23Thr: Long = graft.ops.TextAnalysis.perplexityThrDefault

  private def bigramLmCtes: String = bigramLmCtes("")
  private def bigramLmCtes(q: String): String =
    raw"""${q}toks AS (SELECT doc_id, lang, source,
             string_split_regex(trim(text), '\s+') AS w FROM documents),
         ${q}tk AS (SELECT doc_id, lang, source, i, w[i] AS tok
           FROM ${q}toks, UNNEST(range(1, len(w) + 1)) AS t(i)),
         ${q}cnt AS (SELECT tok, count(*) AS c FROM ${q}tk GROUP BY 1),
         ${q}vocab AS (SELECT tok FROM ${q}cnt ORDER BY c DESC, tok
           LIMIT ${graft.ops.TextAnalysis.lmVocabDefault}),
         ${q}ntk AS (SELECT doc_id, lang, source, i,
             CASE WHEN v.tok IS NULL THEN chr(2) ELSE ${q}tk.tok END AS ntok
           FROM ${q}tk LEFT JOIN ${q}vocab v USING (tok)),
         ${q}bg AS (SELECT a.doc_id, a.lang, a.source, a.ntok AS p,
             b.ntok AS c2
           FROM ${q}ntk a JOIN ${q}ntk b
             ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         ${q}cb AS (SELECT p, c2, count(*) AS cbi FROM ${q}bg GROUP BY 1, 2),
         ${q}cx AS (SELECT p, sum(cbi) AS cxx FROM ${q}cb GROUP BY 1),
         ${q}terms AS (SELECT ${q}bg.doc_id, lang, source,
             CAST(floor(ln(CAST(cxx + ${
      graft.ops.TextAnalysis.lmVocabDefault + 1} AS DOUBLE)
               / CAST(cbi + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS vs
           FROM ${q}bg JOIN ${q}cb USING (p, c2) JOIN ${q}cx USING (p))"""

  /** The shared t21/c21 oracle chain: weak Gopher labels (the t08
    * rule SQL) → per-token class counts → top-N vocabulary cap
    * (count desc, token asc — the LIMIT literal is generated from
    * the ONE [[graft.ops.TextAnalysis.classifierVocabDefault]], so
    * the engines cannot cap apart) with the below-cap class mass
    * trained into the single OOV outcome → add-one-smoothed log-odds
    * frozen to integer micronats (floor(ln·1e6+½) per class BEFORE
    * the difference — the t11 discipline, so weights/scores/verdicts
    * are exact longs on both engines) → per-doc score>0 verdicts
    * (out-of-cap tokens score the trained `w_oov`). Ends at CTE
    * `fin` (lang, source, y, n_tok, pred); Spark folds each doc's
    * token array in-row while this chain unnest-joins in hash order,
    * but integer sums are order-free. ONE definition feeding both
    * rollups, mirroring the ONE `classifierScoreCol` on the Spark
    * side. */
  private def t21ChainCtes: String =
    raw"""x AS MATERIALIZED (
           SELECT doc_id, lang, source,
             string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         r AS MATERIALIZED (
           SELECT doc_id, lang, source, w,
             CASE WHEN NOT (len(w) < 50 OR len(w) > 100000)
               AND NOT (CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                 / greatest(len(w), 1) < 3.0
                 OR CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                 / greatest(len(w), 1) > 10.0)
               AND NOT (len(list_filter(w, x -> x IN ('the', 'a'))) < 2)
               AND NOT (CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                 / greatest(len(w), 1) < 0.8)
             THEN 1 ELSE 0 END AS y
           FROM x),
         tk AS MATERIALIZED (SELECT doc_id, y, unnest(w) AS tok FROM r),
         cnt AS MATERIALIZED (SELECT tok, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cf
           FROM tk GROUP BY tok),
         vcap AS MATERIALIZED (SELECT tok, cp, cf FROM cnt
           ORDER BY cp + cf DESC, tok
           LIMIT ${graft.ops.TextAnalysis.classifierVocabDefault}),
         tot AS (SELECT a.np, a.nf, b.v,
             a.np - b.npi AS cpo, a.nf - b.nfi AS cfo
           FROM (SELECT CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cf) AS BIGINT) AS nf FROM cnt) a
           CROSS JOIN (SELECT count(*) AS v,
               CAST(coalesce(sum(cp), 0) AS BIGINT) AS npi,
               CAST(coalesce(sum(cf), 0) AS BIGINT) AS nfi FROM vcap) b),
         pri AS (SELECT
             CAST(floor(ln(CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(CAST(sum(1 - y) AS BIGINT) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS prior
           FROM r),
         wt AS (SELECT tok,
             CAST(floor(ln(CAST(cp + 1 AS DOUBLE) / CAST(np + v + 1 AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(cf + 1 AS DOUBLE) / CAST(nf + v + 1 AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS w
           FROM vcap CROSS JOIN tot),
         oov AS (SELECT
             CAST(floor(ln(CAST(cpo + 1 AS DOUBLE) / CAST(np + v + 1 AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(cfo + 1 AS DOUBLE) / CAST(nf + v + 1 AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS w_oov
           FROM tot),
         sc AS (SELECT tk.doc_id,
             CAST(sum(coalesce(wt.w, oov.w_oov)) AS BIGINT) AS s
           FROM tk LEFT JOIN wt USING (tok) CROSS JOIN oov GROUP BY 1),
         fin AS (SELECT r.lang, r.source, r.y,
             CAST(len(r.w) AS BIGINT) AS n_tok,
             CASE WHEN pri.prior + coalesce(sc.s, 0) > 0 THEN 1 ELSE 0 END AS pred
           FROM r LEFT JOIN sc USING (doc_id) CROSS JOIN pri)"""

  /** c20's oracle: the SAME generated training chain through the
    * final vocabulary, then the standard BPE id numbering (alphabet
    * ranked by the total string order takes 1..A, merge round r's
    * product takes A+r, a string created twice keeps its FIRST id),
    * per-word and per-doc encoding via zipped parallel unnests with
    * order restored by `list(... ORDER BY pos)`, and the c08 packing
    * window replayed verbatim — so the oracle certifies the whole
    * counts → merges → vocab → pack chain end-to-end. */
  /** The shared s26/s27 oracle: the s11 text with the tombstone
    * filter on the candidate stream only (deleted vectors still
    * shaped cell assignment — codebook rows aren't corpus members);
    * s27 reads the compacted layout, identical by construction. */
  private def s26Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < 132),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qc AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < 10),
         probes AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qc) WHERE rn <= 4),
         cand AS (SELECT q_id, c_id FROM assign JOIN probes USING (cell)
           WHERE q_id <> c_id AND c_id % 7 <> 3),
         sc AS (SELECT q_id, c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The BPE id-numbering CTE block (alphabet rank ids 1..A, merge
    * round r's product A+r, first-creation wins; ends at `wids`:
    * word → ordered id list) — ONE definition shared by the c20 and
    * c22 oracles, mirroring the ONE [[graft.ops.Curation
    * .bpeSymbolIdRow]] on the Spark side. */
  private def bpeIdCtes(rounds: Int): String = {
    val mt = (1 to rounds)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rnd, l, r2 FROM t$i")
      .mkString("\n         UNION ALL ")
    s"""alpha AS (SELECT DISTINCT unnest(regexp_extract_all(word, '.')) AS sym
         FROM wf),
       aid AS (SELECT sym,
           CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS id
         FROM alpha),
       ac AS (SELECT count(*) AS a FROM alpha),
       mt AS ($mt),
       mid AS (SELECT l || r2 AS sym, CAST(a + rnd AS BIGINT) AS id
         FROM mt CROSS JOIN ac),
       sid AS (SELECT sym, min(id) AS id FROM
         (SELECT * FROM aid UNION ALL SELECT * FROM mid) GROUP BY sym),
       wx AS (SELECT word, unnest(syms) AS sym,
           unnest(range(1, len(syms) + 1)) AS pos
         FROM w$rounds),
       wids AS MATERIALIZED (SELECT word, list(id ORDER BY pos) AS ids
         FROM wx JOIN sid USING (sym) GROUP BY word)"""
  }

  private def c20OracleSql(rounds: Int): String = {
    s"""WITH RECURSIVE
       ${bpeTrainingCtes(rounds)},
       ${bpeIdCtes(rounds)},
       dw AS (SELECT doc_id, lang,
           regexp_extract_all(lower(text), '[a-z]+') AS ws
         FROM documents),
       dtok AS (SELECT doc_id, unnest(ws) AS word,
           unnest(range(1, len(ws) + 1)) AS wpos
         FROM dw),
       enc AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
         FROM dtok JOIN wids USING (word) GROUP BY doc_id),
       di AS (SELECT dw.doc_id, dw.lang,
           coalesce(e.ids, CAST([] AS BIGINT[])) AS ids,
           CAST(coalesce(len(e.ids), 0) AS BIGINT) AS n_tok
         FROM dw LEFT JOIN enc e USING (doc_id)),
       packed AS (SELECT doc_id, lang, ids, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
         FROM di)
       SELECT lang, CAST(start // 2048 AS BIGINT) AS pack_id,
         count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         coalesce(string_agg(CASE WHEN len(ids) > 0
           THEN array_to_string(ids, ',') END, ',' ORDER BY doc_id), '')
           AS ids_csv
       FROM packed GROUP BY 1, 2 ORDER BY lang, pack_id"""
  }

  /** c22's oracle: the whole ingest chain replayed in one SQL text —
    * exact-fingerprint decontamination (the d01 md5 key), per-doc
    * classifier verdicts from the shared t21 chain (trained on the
    * FULL corpus, the production artifact order), the LM-perplexity
    * gate from the shared (prefixed) bigram-LM chain under the same
    * pure-integer lm < thr·nb predicate (an inner join to the terms
    * rollup drops bigram-less docs exactly as the Spark size filter
    * does), the shared BPE id numbering applied to the survivors,
    * the c08/c20 packing window, and the per-lang four-stage
    * accounting. Every stage is an already-certified oracle fragment
    * (c04, t21/c21, c23/t24, c20); what this text certifies is the
    * COMPOSITION. */
  private def c22OracleSql(rounds: Int, budget: Long,
      thrMicronat: Long): String = {
    val fpOf = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    s"""WITH RECURSIVE
       ${bpeTrainingCtes(rounds)},
       ${bpeIdCtes(rounds)},
       $t21ChainCtes,
       ${bigramLmCtes("lm_")},
       lmdoc AS (SELECT lm_terms.doc_id AS doc_id, count(*) AS nb,
           CAST(sum(vs) AS BIGINT) AS lm
         FROM lm_terms GROUP BY 1),
       fpb AS (SELECT DISTINCT $fpOf AS fp
         FROM documents WHERE source = 'src0'),
       rawd AS (SELECT doc_id, lang, text, $fpOf AS fp
         FROM documents WHERE source <> 'src0'),
       surv AS (SELECT doc_id, lang, text FROM rawd
         WHERE fp NOT IN (SELECT fp FROM fpb)),
       verd AS (SELECT r.doc_id,
           CASE WHEN pri.prior + coalesce(sc.s, 0) > 0 THEN 1 ELSE 0 END AS pred
         FROM r LEFT JOIN sc USING (doc_id) CROSS JOIN pri),
       clsk AS (SELECT s2.doc_id, s2.lang, s2.text
         FROM surv s2 JOIN verd USING (doc_id) WHERE verd.pred = 1),
       lmk AS (SELECT clsk.doc_id, clsk.lang, clsk.text
         FROM clsk JOIN lmdoc USING (doc_id)
         WHERE lm < $thrMicronat * nb),
       dwk AS (SELECT doc_id, lang,
           regexp_extract_all(lower(text), '[a-z]+') AS ws
         FROM lmk),
       dtokk AS (SELECT doc_id, unnest(ws) AS word,
           unnest(range(1, len(ws) + 1)) AS wpos
         FROM dwk),
       enck AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
         FROM dtokk JOIN wids USING (word) GROUP BY doc_id),
       dik AS (SELECT dwk.doc_id, dwk.lang,
           CAST(coalesce(len(e.ids), 0) AS BIGINT) AS n_tok
         FROM dwk LEFT JOIN enck e USING (doc_id)),
       packedk AS (SELECT doc_id, lang, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
         FROM dik),
       prk AS (SELECT lang, count(*) AS n_kept,
           count(DISTINCT start // $budget) AS n_packs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM packedk GROUP BY 1),
       rawn AS (SELECT lang, count(*) AS n_raw FROM rawd GROUP BY 1),
       survn AS (SELECT lang, count(*) AS n_surv FROM surv GROUP BY 1),
       clsn AS (SELECT lang, count(*) AS n_cls FROM clsk GROUP BY 1)
     SELECT rawn.lang AS lang, rawn.n_raw AS n_raw,
       rawn.n_raw - coalesce(survn.n_surv, 0) AS n_contam,
       coalesce(survn.n_surv, 0) - coalesce(clsn.n_cls, 0) AS n_lowq,
       coalesce(clsn.n_cls, 0) - coalesce(prk.n_kept, 0) AS n_surprising,
       coalesce(prk.n_kept, 0) AS n_kept,
       coalesce(prk.n_packs, 0) AS n_packs,
       coalesce(prk.n_tokens, 0) AS n_tokens
     FROM rawn LEFT JOIN survn USING (lang) LEFT JOIN clsn USING (lang)
       LEFT JOIN prk USING (lang)
     ORDER BY lang"""
  }

  /** The shared t18/t19 CTE chain — training rounds as generated
    * MATERIALIZED stages (see [[t18OracleSql]]'s scaladoc for the
    * contract and the inlining trap). */
  private def bpeTrainingCtes(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""p$i AS MATERIALIZED (SELECT l, r2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq,
             unnest(syms[1:len(syms) - 1]) AS l,
             unnest(syms[2:len(syms)]) AS r2
           FROM $prev WHERE len(syms) >= 2) GROUP BY 1, 2),
         t$i AS MATERIALIZED (SELECT l, r2, cnt FROM p$i
           ORDER BY cnt DESC, l, r2 LIMIT 1),
         m$i AS (
           SELECT word, freq, syms, 1 AS pos,
             CAST([] AS VARCHAR[]) AS acc FROM $prev
           UNION ALL
           SELECT word, freq, syms,
             CASE WHEN pos + 1 <= len(syms)
                   AND syms[pos] = t.l AND syms[pos + 1] = t.r2
                  THEN pos + 2 ELSE pos + 1 END,
             CASE WHEN pos + 1 <= len(syms)
                   AND syms[pos] = t.l AND syms[pos + 1] = t.r2
                  THEN list_append(acc, t.l || t.r2)
                  ELSE list_append(acc, syms[pos]) END
           FROM m$i, t$i t WHERE pos <= len(syms)),
         w$i AS MATERIALIZED (SELECT word, freq, acc AS syms FROM m$i
           WHERE pos = len(syms) + 1)"""
    }.mkString(",\n")
    s"""wd AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
              FROM documents),
       wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
              FROM wd GROUP BY 1),
       w0 AS MATERIALIZED (SELECT word, freq,
              regexp_extract_all(word, '.') AS syms FROM wf),
       $stages"""
  }

  /** e17's oracle: the per-user character sequence via ordered
    * string_agg, the three patterns via len(regexp_extract_all) —
    * RE2's leftmost-greedy non-overlapping scan agrees with
    * java.util.regex's regexp_count for this pattern class. Pattern
    * list and column order generated from the ONE Scala definition
    * ([[graft.ops.Events.seqPatterns]]) so the engines can never
    * disagree on what is being counted. */
  private def e17OracleSql: String = {
    val pats = graft.ops.Events.seqPatterns
    val aggs = pats.zipWithIndex.map { case ((_, re), i) =>
      s"""CAST(sum(CASE WHEN len(regexp_extract_all(seq, '$re')) > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS u$i,
          CAST(sum(len(regexp_extract_all(seq, '$re'))) AS BIGINT) AS t$i"""
    }.mkString(",\n")
    val rows = pats.zipWithIndex.map { case ((name, _), i) =>
      s"SELECT '$name' AS pattern, u$i AS n_users, t$i AS n_matches FROM a"
    }.mkString("\n UNION ALL ")
    s"""WITH sq AS (SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
       FROM events GROUP BY 1),
     a AS (SELECT $aggs FROM sq)
     SELECT * FROM ($rows) ORDER BY pattern"""
  }

  /** t20's oracle: identical md5-threshold slice draw (thresholds
    * interpolated from the ONE [[graft.ops.Sampling.rateThreshold]]
    * definition), word-min-slice first appearances, LEFT-joined
    * cumulative rollup. */
  private def t20OracleSql: String = {
    def thr(r: Double) = graft.ops.Sampling.rateThreshold(r)
    s"""WITH d AS (SELECT doc_id, text,
         1 + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                >= '${thr(0.25)}' THEN 1 ELSE 0 END)
           + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                >= '${thr(0.5)}' THEN 1 ELSE 0 END)
           + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                >= '${thr(0.75)}' THEN 1 ELSE 0 END) AS slice
       FROM documents),
     tk AS (SELECT slice,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       FROM d),
     fs AS (SELECT word, min(slice) AS s0 FROM tk GROUP BY 1),
     vs AS (SELECT s0 AS slice, CAST(count(*) AS BIGINT) AS nv
       FROM fs GROUP BY 1),
     ds AS (SELECT slice, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY 1),
     ns AS (SELECT slice, CAST(count(*) AS BIGINT) AS nt FROM tk GROUP BY 1)
     SELECT slice,
       CAST(sum(nd) OVER w AS BIGINT) AS n_docs,
       CAST(sum(nt) OVER w AS BIGINT) AS n_tokens,
       CAST(sum(COALESCE(nv, 0)) OVER w AS BIGINT) AS n_vocab
     FROM ds JOIN ns USING (slice) LEFT JOIN vs USING (slice)
     WINDOW w AS (ORDER BY slice ROWS BETWEEN UNBOUNDED PRECEDING
       AND CURRENT ROW)
     ORDER BY slice"""
  }

  /** s24's oracle: the s02 hyperplane replay with the multiprobe
    * collision predicate — a pair is a candidate when some table's
    * buckets differ in AT MOST ONE sign bit (xor is 0 or a power of
    * two), exactly the hamming-≤1 probe set the Spark side generates
    * by query-side bucket perturbation. */
  private def s24OracleSql(bits: Int, tables: Int): String =
    s"""WITH ${lshBucketCtes(bits, tables)},
       cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
                FROM bks q JOIN bks c ON q.tb = c.tb
                  AND (xor(q.bucket, c.bucket) & (xor(q.bucket, c.bucket) - 1)) = 0
                WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       sc AS (SELECT q_id, c_id,
                floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
              FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
       r AS (SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
       SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** s25's oracle: both collision predicates over ONE bucket replay,
    * each re-ranked and scored against the s01 brute-force truth —
    * recall@k per probing mode as exact integer counts. */
  private def s25OracleSql(bits: Int, tables: Int, nQueries: Int = 10,
      k: Int = 5): String =
    s"""WITH ${lshBucketCtes(bits, tables)},
       candm AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
                FROM bks q JOIN bks c ON q.tb = c.tb
                  AND (xor(q.bucket, c.bucket) & (xor(q.bucket, c.bucket) - 1)) = 0
                WHERE q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       cands AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
                FROM bks q JOIN bks c ON q.tb = c.tb AND q.bucket = c.bucket
                WHERE q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       scm AS (SELECT q_id, c_id,
                floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
              FROM candm JOIN e q ON q.vec_id = candm.q_id JOIN e c ON c.vec_id = candm.c_id),
       scs AS (SELECT q_id, c_id,
                floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
              FROM cands JOIN e q ON q.vec_id = cands.q_id JOIN e c ON c.vec_id = cands.c_id),
       topm AS (SELECT q_id, c_id FROM (
                SELECT q_id, c_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
                FROM scm) WHERE rnk <= $k),
       tops AS (SELECT q_id, c_id FROM (
                SELECT q_id, c_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
                FROM scs) WHERE rnk <= $k),
       ts AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
              FROM e q, e c
              WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       truth AS (SELECT q_id, c_id FROM (
                SELECT q_id, c_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
                FROM ts) WHERE rnk <= $k),
       hm AS (SELECT count(*) AS hits FROM topm JOIN truth USING (q_id, c_id)),
       hs AS (SELECT count(*) AS hits FROM tops JOIN truth USING (q_id, c_id))
       SELECT 'multi_t$tables' AS mode, CAST(hits AS BIGINT) AS n_hits,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         CAST(hits * 1000 // (SELECT count(*) FROM truth) AS BIGINT) AS recall_milli
       FROM hm
       UNION ALL
       SELECT 'single_t$tables' AS mode, CAST(hits AS BIGINT) AS n_hits,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         CAST(hits * 1000 // (SELECT count(*) FROM truth) AS BIGINT) AS recall_milli
       FROM hs
       ORDER BY mode"""

  /** s06's oracle: `iters` Lloyd rounds UNROLLED as CTE blocks —
    * possible because the Spark side made every step cross-engine
    * deterministic (decimal-exact component sums, in-order cosine
    * folds, r4-rounded sims with explicit tie-breaks; see
    * [[graft.ops.Similarity.kmeansCodebook]]). Approximation lives in
    * the algorithm (finite rounds), not the engines — the s05/s02
    * replicate-the-structure pattern applied to an iterative
    * training loop. */
  private def oracleR4(x: String) = s"floor($x * 10000 + 0.5) / 10000"

  private def kmeansAssignCte(name: String, carr: String) =
    s"""$name AS (SELECT vec_id, cell FROM (
       SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY ${oracleR4(s"list_cosine_similarity(q.emb, c.cemb)")} DESC, c.cell) AS rn
       FROM e q, $carr c) WHERE rn = 1)"""

  /** The shared Lloyd-round CTE chain (melted corpus, seed codebook,
    * `iters` unrolled assign/update/degeneracy rounds ending at
    * c{iters}m / c{iters}a) — one definition interpolated into the s06
    * and s07 oracles so the two cannot desynchronize. */
  private def kmeansCtes(nlist: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""${kmeansAssignCte(s"a$i", if (i == 1) "c0a" else s"c${i - 1}a")},
         u$i AS (SELECT a$i.cell, m.dim,
           CAST(sum(CAST(m.v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS cval
         FROM m JOIN a$i USING (vec_id) GROUP BY 1, 2),
         c${i}m AS (SELECT * FROM u$i
           UNION ALL
           SELECT * FROM c${i - 1}m WHERE cell NOT IN (SELECT DISTINCT cell FROM u$i)),
         c${i}a AS (SELECT cell, list(cval ORDER BY dim) AS cemb FROM c${i}m GROUP BY cell)"""
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
       m AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim, emb[CAST(i AS INT)] AS v
             FROM e, UNNEST(range(1, len(emb) + 1)) AS t(i)),
       c0a AS (SELECT vec_id - 100 AS cell, emb AS cemb FROM e
               WHERE vec_id >= 100 AND vec_id < ${100 + nlist}),
       c0m AS (SELECT vec_id - 100 AS cell, dim, v AS cval FROM m
               WHERE vec_id >= 100 AND vec_id < ${100 + nlist}),
       $rounds"""
  }

  private def s06OracleSql(nlist: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       cnt AS (SELECT cell, count(*) AS n_members FROM af GROUP BY cell)
       SELECT c${iters}m.cell, COALESCE(cnt.n_members, 0) AS n_members,
         CAST(c${iters}m.dim AS BIGINT) AS dim, ${oracleR4(s"c${iters}m.cval")} AS cval
       FROM c${iters}m LEFT JOIN cnt ON cnt.cell = c${iters}m.cell
       ORDER BY c${iters}m.cell, dim"""

  /** s32's oracle: retrain the codebook (the s06 Lloyd CTEs) and
    * describe it on the integer ten-thousandths grid — the Spark side
    * serves the PERSISTED artifact, so hash-equality here IS the
    * persisted-vs-retrained certification (the t22 pattern; sums over
    * exact integers are order-free, so nothing in the row is a
    * float). */
  private def s32OracleSql(nlist: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       g AS (SELECT cell, dim, CAST(floor(cval * 10000 + 0.5) AS BIGINT) AS cv4
         FROM c${iters}m)
       SELECT count(DISTINCT cell) AS cells, count(DISTINCT dim) AS dims,
         count(*) AS n, CAST(sum(cv4) AS BIGINT) AS cv4_sum,
         min(cv4) AS cv4_min, max(cv4) AS cv4_max FROM g"""

  /** s07's oracle: the trained codebook (quantized to the same r4
    * published precision the Spark side consumes) driving s05's IVF
    * probe/score/rank structure — train → index → query, one SQL. */
  private def s07OracleSql(nlist: Int, iters: Int, nQueries: Int, k: Int,
      nprobe: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       cta AS (SELECT cell AS cent_id,
           list(${oracleR4("cval")} ORDER BY dim) AS cemb
         FROM c${iters}m GROUP BY cell),
       ac AS (SELECT a.vec_id AS c_id, cent_id,
           ${oracleR4("list_cosine_similarity(a.emb, cta.cemb)")} AS sim_c
         FROM e a, cta),
       assign AS (SELECT c_id, cent_id AS cell FROM (
         SELECT c_id, cent_id,
           row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
         FROM ac) WHERE rn = 1),
       qc AS (SELECT q.vec_id AS q_id, cent_id,
           ${oracleR4("list_cosine_similarity(q.emb, cta.cemb)")} AS sim_c
         FROM e q, cta WHERE q.vec_id < $nQueries),
       probes AS (SELECT q_id, cent_id AS cell FROM (
         SELECT q_id, cent_id,
           row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
         FROM qc) WHERE rn <= $nprobe),
       cand AS (SELECT q_id, c_id FROM assign JOIN probes USING (cell) WHERE q_id <> c_id),
       sc AS (SELECT q_id, c_id,
           ${oracleR4("list_cosine_similarity(q.emb, c.emb)")} AS sim
         FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
       r AS (SELECT q_id, c_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
       SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** d12's oracle: trained assignment (the s06 CTE chain) + within-
    * cluster first-wins pruning at the r4-rounded cosine boundary. */
  private def d12OracleSql(nlist: Int, iters: Int, threshold: Double): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       w AS (SELECT af.vec_id, af.cell, e.emb FROM af JOIN e USING (vec_id)),
       dropped AS (SELECT DISTINCT b.cell, b.vec_id FROM w a JOIN w b
         ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE ${oracleR4("list_cosine_similarity(a.emb, b.emb)")} >= $threshold),
       cnt AS (SELECT cell, count(*) AS n_members FROM af GROUP BY cell),
       dc AS (SELECT cell, count(*) AS n_dropped FROM dropped GROUP BY cell)
       SELECT cnt.cell, cnt.n_members, COALESCE(dc.n_dropped, 0) AS n_dropped
       FROM cnt LEFT JOIN dc ON dc.cell = cnt.cell
       ORDER BY cnt.cell"""

  /** d13's oracle: the identical unrolled-Lloyd assignment, a
    * brute-force pair scan at the r4-rounded cosine boundary, and the
    * per-decile captured-pair recall — the SQL restatement of "which
    * near-dup pairs does within-cluster-only pruning even see". */
  private def d13OracleSql(nlist: Int, iters: Int, threshold: Double): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
           ${oracleR4("list_cosine_similarity(a.emb, b.emb)")} AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id),
       f AS (SELECT sim, CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END AS cap
         FROM p JOIN af ca ON ca.vec_id = p.ia JOIN af cb ON cb.vec_id = p.ib
         WHERE sim >= $threshold)
       SELECT floor(sim * 10) / 10 AS sim_bin,
         count(*) AS n_pairs,
         CAST(sum(cap) AS BIGINT) AS n_captured,
         floor(CAST(sum(cap) AS DOUBLE) / count(*) * 1000 + 0.5) / 1000 AS recall
       FROM f GROUP BY 1 ORDER BY 1"""

  /** d18's oracle: the identical unrolled-Lloyd assignment, then the
    * batch-restricted within-cell pair scan — probe side vec_id ≥
    * splitId, match side any smaller same-cell id, r4-cosine
    * threshold (the d09 incremental contract in embedding space). */
  private def d18OracleSql(nlist: Int, iters: Int, splitId: Long,
      threshold: Double): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       w AS (SELECT af.vec_id, af.cell, e.emb FROM af JOIN e USING (vec_id))
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ${oracleR4("list_cosine_similarity(a.emb, b.emb)")} AS sim
       FROM w a JOIN w b ON a.cell = b.cell AND a.vec_id < b.vec_id
       WHERE b.vec_id >= $splitId
         AND ${oracleR4("list_cosine_similarity(a.emb, b.emb)")} >= $threshold
       ORDER BY vec_a, vec_b"""

  /** s13's oracle: the unrolled-Lloyd assignment + a within-cell
    * self-join ranked per vector — rank ≤ k under the (sim desc
    * r4-rounded, neighbor id) tie contract. */
  private def s13OracleSql(nlist: Int, iters: Int, k: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       w AS (SELECT af.vec_id, af.cell, e.emb FROM af JOIN e USING (vec_id)),
       p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
           ${oracleR4("list_cosine_similarity(a.emb, b.emb)")} AS sim
         FROM w a JOIN w b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       r AS (SELECT vec_id, nb_id, sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rnk
         FROM p)
       SELECT vec_id, rnk, nb_id, sim FROM r WHERE rnk <= $k
       ORDER BY vec_id, rnk"""

  /** s14's oracle: the s13 edge construction (unrolled-Lloyd
    * assignment + within-cell top-k under the r4-rounded-sim tie
    * contract) feeding `rounds` UNROLLED power-iteration CTEs in pure
    * integer micro-unit arithmetic — r' = 150000 + Σ_in
    * ((r·85)//100)//outdeg — so both engines land on the identical
    * longs in any summation order (the s06 unrolled-training pattern
    * applied to PageRank). */
  private def s14OracleSql(nlist: Int, iters: Int, k: Int,
      rounds: Int): String = {
    val rounds_ = (1 to rounds).map { i =>
      s"""r$i AS (SELECT n.vec_id,
           150000 + COALESCE(sum(((pr.r * 85) // 100) // od.outdeg), 0) AS r
         FROM nodes n
         LEFT JOIN edges g ON g.dst = n.vec_id
         LEFT JOIN r${i - 1} pr ON pr.vec_id = g.src
         LEFT JOIN od ON od.src = g.src
         GROUP BY n.vec_id)"""
    }.mkString(",\n")
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       w AS (SELECT af.vec_id, af.cell, e.emb FROM af JOIN e USING (vec_id)),
       p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
           ${oracleR4("list_cosine_similarity(a.emb, b.emb)")} AS sim
         FROM w a JOIN w b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       edges AS (SELECT src, dst FROM (
         SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
         FROM p) WHERE rnk <= $k),
       od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       nodes AS (SELECT vec_id, cell FROM af),
       r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       $rounds_
       SELECT cell, vec_id, rnk, score, outdeg FROM (
         SELECT n.cell, n.vec_id,
           row_number() OVER (PARTITION BY n.cell
             ORDER BY fr.r DESC, n.vec_id) AS rnk,
           CAST(fr.r AS DOUBLE) / 1000000 AS score,
           COALESCE(od.outdeg, 0) AS outdeg
         FROM nodes n JOIN r$rounds fr USING (vec_id)
         LEFT JOIN od ON od.src = n.vec_id)
       ORDER BY cell, rnk"""
  }

  /** s15's oracle: exact ×10⁴-integer relevance scores, the top-`pool`
    * cut, pairwise candidate sims, then the GREEDY MMR selection
    * unrolled one CTE block per pick — score 7·sq4 − 3·md4 in pure
    * BIGINT arithmetic with min-c_id ties, so every pick is the
    * identical integer argmax on both engines. */
  private def s15OracleSql(nQueries: Int, k: Int, pool: Int): String = {
    val steps = (2 to k).map { i =>
      s"""r${i}c AS (SELECT p.q_id, p.c_id, p.sq4, max(pp.s4) AS md4
         FROM pool p JOIN pp ON pp.q_id = p.q_id AND pp.ca = p.c_id
         JOIN sel${i - 1} s ON s.q_id = pp.q_id AND s.c_id = pp.cb
         WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
           WHERE x.q_id = p.q_id AND x.c_id = p.c_id)
         GROUP BY 1, 2, 3),
       p$i AS (SELECT q_id, c_id, sq4, md4 FROM (
         SELECT q_id, c_id, sq4, md4, row_number() OVER (PARTITION BY q_id
           ORDER BY 7 * sq4 - 3 * md4 DESC, c_id) AS rn
         FROM r${i}c) WHERE rn = 1),
       sel$i AS (SELECT q_id, c_id FROM sel${i - 1}
         UNION ALL SELECT q_id, c_id FROM p$i),
       out$i AS (SELECT q_id, CAST($i AS BIGINT) AS rnk, c_id, sq4,
         7 * sq4 - 3 * md4 AS mmr_i FROM p$i)"""
    }.mkString(",\n")
    val unions = (2 to k).map(i => s"SELECT * FROM out$i").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           CAST(floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) AS BIGINT) AS sq4
         FROM e q JOIN e c ON q.vec_id <> c.vec_id
         WHERE q.vec_id < $nQueries),
       pool AS (SELECT q_id, c_id, sq4 FROM (
         SELECT q_id, c_id, sq4, row_number() OVER (PARTITION BY q_id
           ORDER BY sq4 DESC, c_id) AS rn FROM sc) WHERE rn <= $pool),
       pp AS (SELECT a.q_id, a.c_id AS ca, b.c_id AS cb,
           CAST(floor(list_cosine_similarity(ea.emb, eb.emb) * 10000 + 0.5) AS BIGINT) AS s4
         FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.c_id <> b.c_id
         JOIN e ea ON ea.vec_id = a.c_id JOIN e eb ON eb.vec_id = b.c_id),
       p1 AS (SELECT q_id, c_id, sq4 FROM (
         SELECT q_id, c_id, sq4, row_number() OVER (PARTITION BY q_id
           ORDER BY sq4 DESC, c_id) AS rn FROM pool) WHERE rn = 1),
       sel1 AS (SELECT q_id, c_id FROM p1),
       out1 AS (SELECT q_id, CAST(1 AS BIGINT) AS rnk, c_id, sq4,
         7 * sq4 AS mmr_i FROM p1),
       $steps
       SELECT q_id, rnk, c_id, CAST(sq4 AS DOUBLE) / 10000 AS sim, mmr_i
       FROM (SELECT * FROM out1 UNION ALL $unions)
       ORDER BY q_id, rnk"""
  }

  /** c13's oracle: per-vector cosine to the ASSIGNED cell's trained
    * centroid, ranked within the cell (csim desc, vec_id), pruned =
    * the top floor(n/4) most-prototypical members. */
  private def c13OracleSql(nlist: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
       ${kmeansAssignCte("af", s"c${iters}a")},
       sims AS (SELECT af.vec_id, af.cell,
           ${oracleR4("list_cosine_similarity(e.emb, c.cemb)")} AS csim
         FROM af JOIN e ON e.vec_id = af.vec_id
         JOIN c${iters}a c ON c.cell = af.cell),
       r AS (SELECT cell, vec_id, csim,
           row_number() OVER (PARTITION BY cell ORDER BY csim DESC, vec_id) AS rnk,
           count(*) OVER (PARTITION BY cell) AS n_members
         FROM sims)
       SELECT cell, vec_id, rnk, csim,
         CAST(CASE WHEN rnk <= n_members // 4 THEN 1 ELSE 0 END AS INT) AS pruned
       FROM r ORDER BY cell, rnk"""

  /** s17 oracle builder: replays s05's seeded-IVF structure ONCE with
    * the probe rank carried through, the s01 brute-force truth, and
    * one rank/hit block per probe depth — recall@k as exact integer
    * counts and a floor-div milli ratio. Parameterized like
    * [[s06OracleSql]] so the oracle and the Spark default cannot
    * drift separately. */
  private def s17OracleSql(nprobes: Seq[Int], nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32): String = {
    val perNp = nprobes.map { np =>
      s"""r$np AS (SELECT q_id, c_id FROM (
             SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
             FROM sc WHERE probe_rnk <= $np) WHERE rnk <= $k),
         h$np AS (SELECT count(*) AS hits FROM r$np JOIN truth USING (q_id, c_id))"""
    }.mkString(",\n         ")
    val selects = nprobes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, CAST(hits AS BIGINT) AS n_hits,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           CAST(hits * 1000 // (SELECT count(*) FROM truth) AS BIGINT) AS recall_milli
         FROM h$np"""
    }.mkString("\n         UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < ${100 + nlist}),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qc AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < $nQueries),
         pr AS (SELECT q_id, cent_id AS cell, rn AS probe_rnk FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qc) WHERE rn <= ${nprobes.max}),
         cand AS (SELECT q_id, c_id, probe_rnk
           FROM assign JOIN pr USING (cell) WHERE q_id <> c_id),
         sc AS (SELECT q_id, c_id, probe_rnk,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
         ts AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM e q, e c
           WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
         truth AS (SELECT q_id, c_id FROM (
           SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM ts) WHERE rnk <= $k),
         $perNp
         $selects ORDER BY nprobe"""
  }

  /** s23's oracle: the s17 replay widened to ranking metrics. The
    * nDCG position discounts are the SAME Scala-computed micro
    * constants the Spark side uses ([[graft.ops.Similarity.ndcgGainsMicro]]),
    * embedded as a CASE literal — no float log crosses an engine
    * boundary; reciprocal ranks and all final figures are floor-div
    * integers. */
  private def s23OracleSql(nprobes: Seq[Int], nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32): String = {
    val gains = graft.ops.Similarity.ndcgGainsMicro(k)
    val idcg = gains.sum
    val gainCase = "CASE rnk " + gains.zipWithIndex.map {
      case (g, i) => s"WHEN ${i + 1} THEN $g" }.mkString(" ") + " END"
    val perNp = nprobes.map { np =>
      s"""r$np AS (SELECT q_id, c_id, rnk FROM (
             SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
             FROM sc WHERE probe_rnk <= $np) WHERE rnk <= $k),
         h$np AS (SELECT q_id, count(*) AS q_hits, min(rnk) AS first_rnk,
               sum($gainCase) AS dcg
             FROM r$np JOIN truth USING (q_id, c_id) GROUP BY q_id),
         a$np AS (SELECT coalesce(sum(q_hits), 0) AS n_hits,
               coalesce(sum(1000000 // first_rnk), 0) AS rr_sum,
               coalesce(sum(dcg), 0) AS dcg_sum FROM h$np)"""
    }.mkString(",\n         ")
    val selects = nprobes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, CAST(n_hits AS BIGINT) AS n_hits,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           CAST(n_hits * 1000 // (SELECT count(*) FROM truth) AS BIGINT) AS recall_milli,
           CAST(rr_sum // $nQueries AS BIGINT) AS mrr_micro,
           CAST(dcg_sum * 1000 // ($nQueries * $idcg) AS BIGINT) AS ndcg_milli
         FROM a$np"""
    }.mkString("\n         UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < ${100 + nlist}),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qc AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < $nQueries),
         pr AS (SELECT q_id, cent_id AS cell, rn AS probe_rnk FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qc) WHERE rn <= ${nprobes.max}),
         cand AS (SELECT q_id, c_id, probe_rnk
           FROM assign JOIN pr USING (cell) WHERE q_id <> c_id),
         sc AS (SELECT q_id, c_id, probe_rnk,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
         ts AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM e q, e c
           WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
         truth AS (SELECT q_id, c_id FROM (
           SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM ts) WHERE rnk <= $k),
         $perNp
         $selects ORDER BY nprobe"""
  }

  /** The routed-IVF oracle body shared by s20/s22/s29/s30/s31 — the
    * full two-level routing replayed in SQL, parameterized by (a) the
    * FINE-codebook prefix CTEs (`prefix` must define `e(vec_id, emb
    * [, label])` and `cent(cent_id, cent_emb)` — the seeded range for
    * s20's family, the unrolled-Lloyd chain for s31), and (b) a
    * candidate-stream filter: empty for s20/s22/s31, the vec_id ≡ 3
    * (mod 7) tombstone drop for s29's epoch-resolved read, tombstone
    * + label membership for s30's filtered production read (the
    * filter sits in the `cand` CTE — BEFORE the ranking window,
    * mirroring the Spark side's filter-before-heap contract). One
    * body, so no routed variant's oracle can drift from the s20
    * structure its identity claims certify against. */
  private def routedIvfSql(prefix: String, candFilter: String,
      scExtra: String = ""): String =
    s"""WITH $prefix,
         co AS (SELECT vec_id AS co_id, emb AS co_emb FROM e
           WHERE vec_id >= 200 AND vec_id < 208),
         rt AS (SELECT cent_id, co_id,
             floor(list_cosine_similarity(cent_emb, co_emb) * 10000 + 0.5) / 10000 AS sim_r
           FROM cent, co),
         route AS (SELECT cent_id, co_id AS co_cell FROM (
           SELECT cent_id, co_id,
             row_number() OVER (PARTITION BY cent_id ORDER BY sim_r DESC, co_id) AS rn
           FROM rt) WHERE rn = 1),
         qco AS (SELECT q.vec_id AS q_id, co_id,
             floor(list_cosine_similarity(q.emb, co_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, co WHERE q.vec_id < 10),
         cop AS (SELECT q_id, co_id AS co_cell FROM (
           SELECT q_id, co_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, co_id) AS rn
           FROM qco) WHERE rn <= 3),
         qf AS (SELECT cop.q_id, route.cent_id,
             floor(list_cosine_similarity(q.emb, cent.cent_emb) * 10000 + 0.5) / 10000 AS sim_f
           FROM cop JOIN route ON route.co_cell = cop.co_cell
           JOIN cent ON cent.cent_id = route.cent_id
           JOIN e q ON q.vec_id = cop.q_id),
         probes AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_f DESC, cent_id) AS rn
           FROM qf) WHERE rn <= 4),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         cand AS (SELECT q_id, c_id FROM assign JOIN probes USING (cell)
           WHERE q_id <> c_id$candFilter),
         sc AS (SELECT q_id, c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
         scAll AS (SELECT q_id, c_id, sim FROM sc$scExtra),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM scAll)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The seeded fine-codebook prefix (s20's family). `label` rides
    * the `e` CTE for s30's candidate-membership filter — harmless
    * surplus for the variants that never reference it. */
  private val seededRoutedPrefix: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < 132)"""

  private val s20Sql: String = routedIvfSql(seededRoutedPrefix, "")
  private val s29Sql: String =
    routedIvfSql(seededRoutedPrefix, " AND c_id % 7 <> 3")
  /** s30: s29's tombstone drop + the label pre-membership — both on
    * the CANDIDATE stream, before the ranking window (the
    * starvation-trap contract). */
  private val s30Sql: String = routedIvfSql(seededRoutedPrefix,
    " AND c_id % 7 <> 3 AND c_id IN (SELECT vec_id FROM e WHERE label = 2)")
  /** s31: the unrolled-Lloyd chain (s07's trained codebook at its
    * published r4 precision) driving s20's routing structure — the
    * trained fine codebook as `cent`, everything downstream the
    * shared routed body verbatim. */
  /** The trained fine-codebook prefix (s31's family): the unrolled
    * Lloyd chain at s07's published r4 precision as `cent`. */
  private val trainedRoutedPrefix: String =
    s"""${kmeansCtes(32, 2)},
         cent AS (SELECT cell AS cent_id,
           list(${oracleR4("cval")} ORDER BY dim) AS cent_emb
         FROM c2m GROUP BY cell)"""

  private val s31Sql: String = routedIvfSql(trainedRoutedPrefix, "")
  /** s34: the label pre-membership on s31's candidate stream — the
    * s30 filter on the trained family, deliberately WITHOUT the
    * freshness terms so it isolates the filter cost (the delete
    * lifecycle landed the same round as s35/s36, which compose it). */
  private val s34Sql: String = routedIvfSql(trainedRoutedPrefix,
    " AND c_id IN (SELECT vec_id FROM e WHERE label = 2)")
  /** s35: the trained family's epoch-resolved read — tombstone slice
    * on s31's candidate stream (both epochs return these rows). */
  private val s35Sql: String = routedIvfSql(trainedRoutedPrefix,
    " AND c_id % 7 <> 3")
  /** s36: the full production composition — tombstones + label. */
  private val s36Sql: String = routedIvfSql(trainedRoutedPrefix,
    " AND c_id % 7 <> 3 AND c_id IN (SELECT vec_id FROM e WHERE label = 2)")
  /** s37: tombstone + shadow exclusion on the index candidates, the
    * fresh-buffer brute branch (sign-flipped embeddings = the
    * updated versions) unioned before the one rank window; buffer
    * rows carry NO tombstone filter — the buffer is strictly newer,
    * so delete-then-reingest resolves to the re-ingested row. */
  private val s37Sql: String = routedIvfSql(trainedRoutedPrefix,
    " AND c_id % 7 <> 3 AND c_id % 13 <> 7",
    """
           UNION ALL SELECT q.vec_id AS q_id, b.vec_id AS c_id,
             floor(list_cosine_similarity(q.emb, list_transform(b.emb, v -> -v)) * 10000 + 0.5) / 10000 AS sim
           FROM e q, e b
           WHERE q.vec_id < 10 AND b.vec_id % 13 = 7 AND q.vec_id <> b.vec_id""")

  /** s21's oracle: shared routing CTEs (codebooks, fine→coarse route,
    * corpus assignment, the s05 one-level baseline), then per curve
    * point the two-level pipeline replayed end to end. The fine probe
    * CTEs must re-rank per cp (a routed subset's top-nprobe is not a
    * prefix of the superset's ranking), mirroring the Spark side. */
  private def s21OracleSql(cprobes: Seq[Int], nQueries: Int = 10,
      k: Int = 5, nlist: Int = 32, ncoarse: Int = 8,
      nprobe: Int = 4): String = {
    val perCp = cprobes.map { cp =>
      s"""cop$cp AS (SELECT q_id, co_cell FROM qcor WHERE rn <= $cp),
         qf$cp AS (SELECT cop$cp.q_id, route.cent_id,
             floor(list_cosine_similarity(q.emb, cent.cent_emb) * 10000 + 0.5) / 10000 AS sim_f
           FROM cop$cp JOIN route ON route.co_cell = cop$cp.co_cell
           JOIN cent ON cent.cent_id = route.cent_id
           JOIN e q ON q.vec_id = cop$cp.q_id),
         probes$cp AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_f DESC, cent_id) AS rn
           FROM qf$cp) WHERE rn <= $nprobe),
         sc$cp AS (SELECT cnd.q_id, cnd.c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM (SELECT q_id, c_id FROM assign JOIN probes$cp USING (cell)
             WHERE q_id <> c_id) cnd
           JOIN e q ON q.vec_id = cnd.q_id JOIN e c ON c.vec_id = cnd.c_id),
         top$cp AS (SELECT q_id, c_id FROM (
           SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM sc$cp) WHERE rnk <= $k),
         h$cp AS (SELECT count(*) AS hits FROM top$cp JOIN base USING (q_id, c_id))"""
    }.mkString(",\n         ")
    val selects = cprobes.map { cp =>
      s"""SELECT CAST($cp AS BIGINT) AS cprobe, CAST(hits AS BIGINT) AS n_hits,
           (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_truth,
           CAST(hits * 1000 // (SELECT count(*) FROM base) AS BIGINT) AS recall_milli
         FROM h$cp"""
    }.mkString("\n         UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < ${100 + nlist}),
         co AS (SELECT vec_id AS co_id, emb AS co_emb FROM e
           WHERE vec_id >= 200 AND vec_id < ${200 + ncoarse}),
         rt AS (SELECT cent_id, co_id,
             floor(list_cosine_similarity(cent_emb, co_emb) * 10000 + 0.5) / 10000 AS sim_r
           FROM cent, co),
         route AS (SELECT cent_id, co_id AS co_cell FROM (
           SELECT cent_id, co_id,
             row_number() OVER (PARTITION BY cent_id ORDER BY sim_r DESC, co_id) AS rn
           FROM rt) WHERE rn = 1),
         qco AS (SELECT q.vec_id AS q_id, co_id,
             floor(list_cosine_similarity(q.emb, co_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, co WHERE q.vec_id < $nQueries),
         qcor AS (SELECT q_id, co_id AS co_cell,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, co_id) AS rn
           FROM qco),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qcf AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < $nQueries),
         bprobes AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qcf) WHERE rn <= $nprobe),
         bsc AS (SELECT cnd.q_id, cnd.c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM (SELECT q_id, c_id FROM assign JOIN bprobes USING (cell)
             WHERE q_id <> c_id) cnd
           JOIN e q ON q.vec_id = cnd.q_id JOIN e c ON c.vec_id = cnd.c_id),
         base AS (SELECT q_id, c_id FROM (
           SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM bsc) WHERE rnk <= $k),
         $perCp
         $selects ORDER BY cprobe"""
  }

  /** The multi-frame decode oracle — per-frame formula replay over
    * the video-kind corpus. ONE definition bound to BOTH m06 (animated
    * GIF via ImageIO) and m10 (AVI/DIB via the pure-JVM RIFF demuxer):
    * the two container paths decode the same bytes, so sharing the
    * oracle text is the contract that they cannot diverge (the s11
    * persisted-path pattern). */
  private val multiFrameSql: String =
    """WITH vid AS (
         SELECT doc_id, (doc_id % 15) + 4 AS w, (doc_id % 9) + 4 AS h,
           (doc_id % 4) + 2 AS nf
         FROM documents WHERE doc_id % 3 = 2),
       fr AS (
         SELECT doc_id, w, h, f.v AS frame_no
         FROM vid, UNNEST(range(0, nf)) AS f(v)),
       px AS (
         SELECT doc_id, frame_no,
           sum((7*x.v + 13*y.v + 23*frame_no + doc_id) % 256) AS psum
         FROM fr, UNNEST(range(0, w)) AS x(v), UNNEST(range(0, h)) AS y(v)
         GROUP BY doc_id, frame_no)
       SELECT f.doc_id AS media_id, CAST(f.frame_no AS BIGINT) AS frame_no,
         CAST(f.w AS INT) AS width, CAST(f.h AS INT) AS height,
         CAST(px.psum AS BIGINT) AS pixel_sum
       FROM fr f JOIN px ON px.doc_id = f.doc_id AND px.frame_no = f.frame_no
       ORDER BY media_id, frame_no"""

  /** The s01_brute_topk oracle text, hoisted so the s19 recall audit can
    * compose it as a subquery. */
  private val s01Sql: String =
    """WITH q AS (
           SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         s AS (
           SELECT q_id, vec_id AS c_id,
             floor(list_cosine_similarity(q_emb, CAST(embedding AS DOUBLE[])) * 10000 + 0.5) / 10000 AS sim
           FROM embeddings, q WHERE vec_id <> q_id),
         r AS (
           SELECT q_id, c_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM s)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The s08_sq_topk oracle text, hoisted so the s19 recall audit can
    * compose it as a subquery. */
  private val s08Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         dims AS (SELECT i, min(emb[i]) AS mn, max(emb[i]) AS mx
           FROM e, UNNEST(range(1, len(emb) + 1)) AS t(i) GROUP BY i),
         params AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
           FROM dims),
         dq AS (SELECT vec_id,
             list_transform(range(1, len(emb) + 1), i ->
               CASE WHEN maxs[i] = mins[i] THEN mins[i]
                 ELSE mins[i] + floor((emb[i] - mins[i]) / (maxs[i] - mins[i]) * 254 + 0.5)
                   * (maxs[i] - mins[i]) / 254 END) AS dq
           FROM e, params),
         q AS (SELECT vec_id AS q_id, dq AS q_dq FROM dq WHERE vec_id < 10),
         sc AS (SELECT q_id, vec_id AS c_id,
             floor(list_cosine_similarity(q_dq, dq) * 10000 + 0.5) / 10000 AS sim
           FROM dq, q WHERE vec_id <> q_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The s09_pq_topk oracle text, hoisted so the s19 recall audit can
    * compose it as a subquery. */
  private val s09Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cb AS (SELECT j, vec_id - 100 AS c, list_slice(emb, j*8 + 1, j*8 + 8) AS cw
           FROM e, UNNEST(range(0, 8)) AS t(j)
           WHERE vec_id >= 100 AND vec_id < 116),
         cbn AS (SELECT j, c, cw,
             list_sum(list_transform(cw, x -> x * x)) AS norm2 FROM cb),
         sub AS (SELECT vec_id, j, list_slice(emb, j*8 + 1, j*8 + 8) AS sv
           FROM e, UNNEST(range(0, 8)) AS t(j)),
         dmat AS (SELECT vec_id, j, c, norm2,
             floor(list_sum(list_transform(range(1, 9),
               i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 10000 + 0.5) / 10000 AS dr
           FROM sub JOIN cbn USING (j)),
         enc AS (SELECT vec_id, j, c AS code, norm2 FROM (
             SELECT vec_id, j, c, norm2,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dr, c) AS rn
             FROM dmat) WHERE rn = 1),
         vn AS (SELECT vec_id, list_sum(list(norm2 ORDER BY j)) AS vnorm2
           FROM enc GROUP BY vec_id),
         qnorm AS (SELECT vec_id AS q_id,
             sqrt(list_sum(list_transform(emb, x -> x * x))) AS qn
           FROM e WHERE vec_id < 10),
         qd AS (SELECT qs.vec_id AS q_id, qs.j, cbn.c,
             list_sum(list_transform(range(1, 9), i -> sv[i] * cw[i])) AS dq
           FROM (SELECT vec_id, j, list_slice(emb, j*8 + 1, j*8 + 8) AS sv
                 FROM e, UNNEST(range(0, 8)) AS t(j) WHERE vec_id < 10) qs
           JOIN cbn USING (j)),
         sc AS (SELECT qd.q_id, enc.vec_id AS c_id,
             list_sum(list(dq ORDER BY qd.j)) AS sumdot
           FROM enc JOIN qd ON enc.j = qd.j AND enc.code = qd.c
           WHERE qd.q_id <> enc.vec_id
           GROUP BY qd.q_id, enc.vec_id),
         sim AS (SELECT sc.q_id, c_id,
             floor(sumdot / (qnorm.qn * sqrt(vn.vnorm2)) * 10000 + 0.5) / 10000 AS sim
           FROM sc JOIN qnorm ON qnorm.q_id = sc.q_id
           JOIN vn ON vn.vec_id = sc.c_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM sim)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The s18_ivfpq_topk oracle text, hoisted so the s19 recall audit can
    * compose it as a subquery. */
  private val s18Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < 132),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qc AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < 10),
         probes AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qc) WHERE rn <= 4),
         cand AS (SELECT q_id, c_id FROM assign JOIN probes USING (cell) WHERE q_id <> c_id),
         cb AS (SELECT j, vec_id - 100 AS c, list_slice(emb, j*8 + 1, j*8 + 8) AS cw
           FROM e, UNNEST(range(0, 8)) AS t(j)
           WHERE vec_id >= 100 AND vec_id < 116),
         cbn AS (SELECT j, c, cw,
             list_sum(list_transform(cw, x -> x * x)) AS norm2 FROM cb),
         sub AS (SELECT vec_id, j, list_slice(emb, j*8 + 1, j*8 + 8) AS sv
           FROM e, UNNEST(range(0, 8)) AS t(j)),
         dmat AS (SELECT vec_id, j, c, norm2,
             floor(list_sum(list_transform(range(1, 9),
               i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 10000 + 0.5) / 10000 AS dr
           FROM sub JOIN cbn USING (j)),
         enc AS (SELECT vec_id, j, c AS code, norm2 FROM (
             SELECT vec_id, j, c, norm2,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dr, c) AS rn
             FROM dmat) WHERE rn = 1),
         vn AS (SELECT vec_id, list_sum(list(norm2 ORDER BY j)) AS vnorm2
           FROM enc GROUP BY vec_id),
         qnorm AS (SELECT vec_id AS q_id,
             sqrt(list_sum(list_transform(emb, x -> x * x))) AS qn
           FROM e WHERE vec_id < 10),
         qd AS (SELECT qs.vec_id AS q_id, qs.j, cbn.c,
             list_sum(list_transform(range(1, 9), i -> sv[i] * cw[i])) AS dq
           FROM (SELECT vec_id, j, list_slice(emb, j*8 + 1, j*8 + 8) AS sv
                 FROM e, UNNEST(range(0, 8)) AS t(j) WHERE vec_id < 10) qs
           JOIN cbn USING (j)),
         sc AS (SELECT qd.q_id, enc.vec_id AS c_id,
             list_sum(list(dq ORDER BY qd.j)) AS sumdot
           FROM enc JOIN qd ON enc.j = qd.j AND enc.code = qd.c
           JOIN cand ON cand.q_id = qd.q_id AND cand.c_id = enc.vec_id
           GROUP BY qd.q_id, enc.vec_id),
         sim AS (SELECT sc.q_id, c_id,
             floor(sumdot / (qnorm.qn * sqrt(vn.vnorm2)) * 10000 + 0.5) / 10000 AS sim
           FROM sc JOIN qnorm ON qnorm.q_id = sc.q_id
           JOIN vn ON vn.vec_id = sc.c_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM sim)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The s19 oracle: each compressed ranking recomputed END TO END
    * (the hoisted s08/s09/s18 texts as subqueries) and intersected
    * with the s01 brute-force truth — one hash pins the recall of
    * the whole production-ANN family. The VALUES + LEFT JOIN keeps a
    * zero-hit method visible as an explicit 0 row (matching Spark's
    * always-3-rows union of global aggregates). */
  private val s19Sql: String =
    s"""WITH truth AS (SELECT q_id, c_id FROM ($s01Sql)),
       mm AS (
         SELECT 's08_sq' AS method, q_id, c_id FROM ($s08Sql)
         UNION ALL SELECT 's09_pq', q_id, c_id FROM ($s09Sql)
         UNION ALL SELECT 's18_ivfpq', q_id, c_id FROM ($s18Sql)),
       h AS (SELECT method, count(*) AS hits
         FROM mm JOIN truth USING (q_id, c_id) GROUP BY 1),
       ml AS (SELECT * FROM (VALUES ('s08_sq'), ('s09_pq'), ('s18_ivfpq'))
         AS t(method)),
       tt AS (SELECT count(*) AS n_truth FROM truth)
       SELECT ml.method, CAST(coalesce(hits, 0) AS BIGINT) AS n_hits,
         CAST(n_truth AS BIGINT) AS n_truth,
         CAST(coalesce(hits, 0) * 1000 // n_truth AS BIGINT) AS recall_milli
       FROM ml LEFT JOIN h USING (method) CROSS JOIN tt
       ORDER BY ml.method"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted — PERMANENTLY, by design, not
    * as debt: d05/q24, whose rows are engine-specific hash-sketch
    * internals (SimHash band candidates; HLL++ estimates) that no
    * second engine can reproduce value-for-value. Their CLAIMS are
    * fully oracled every gate run via the d05b/q24b companions; see
    * the registry-row comments on each for the argument.
    */
  def oracleSql: Map[String, String] = Map(
    // m10: the AVI/RIFF demux path must reproduce the GIF path's
    // decoded frames exactly — oracle text shared with m06 verbatim
    "m10_avi_frames" -> multiFrameSql,
    // s17: the nprobe cost/recall table — seeded-IVF replay with the
    // probe rank carried, s01 truth, integer recall per depth
    "s17_nprobe_recall" -> s17OracleSql(nprobes = Seq(1, 2, 4, 8)),
    "s23_retrieval_metrics" -> s23OracleSql(nprobes = Seq(1, 2, 4, 8)),
    // s21: the router recall curve — per curve point the oracle
    // replays the FULL two-level pipeline (route, coarse probes at
    // rn<=cp, fine probes re-ranked over the routed subset, exact
    // scan) and counts overlap with the one-level s05 baseline; the
    // cprobe=8 row hash-certifies the exhaustive-router identity
    "s21_cprobe_recall" -> s21OracleSql(cprobes = Seq(1, 2, 4, 8)),
    // s19: the composed end-to-end recall audit (see s19Sql scaladoc)
    "s19_quant_recall" -> s19Sql,
    // t15: the count-min sketch replayed bit-for-bit (md5-derived
    // buckets, depth 2 × width 32) against the exact wordcount — the
    // hash certifies the one-sided error: est ≥ exact for every
    // token, `over` only on full-row collisions
    "t15_cms_report" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         tk AS (SELECT tok,
             CAST(('0x' || substring(md5('cms0:' || tok), 1, 8)) AS BIGINT) % 32 AS b0,
             CAST(('0x' || substring(md5('cms1:' || tok), 1, 8)) AS BIGINT) % 32 AS b1
           FROM toks WHERE tok <> ''),
         m AS (SELECT 0 AS i, b0 AS b FROM tk
           UNION ALL SELECT 1, b1 FROM tk),
         cms AS (SELECT i, b, count(*) AS cnt FROM m GROUP BY 1, 2),
         wc AS (SELECT tok, count(*) AS exact_n,
             min(b0) AS b0, min(b1) AS b1 FROM tk GROUP BY tok),
         est AS (SELECT tok, exact_n, least(c0.cnt, c1.cnt) AS est_n
           FROM wc
           JOIN cms c0 ON c0.i = 0 AND c0.b = wc.b0
           JOIN cms c1 ON c1.i = 1 AND c1.b = wc.b1)
         SELECT tok, CAST(exact_n AS BIGINT) AS exact_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(CASE WHEN est_n > exact_n THEN 1 ELSE 0 END AS BIGINT) AS over
         FROM est ORDER BY tok""",
    // c16: semantic decontamination — per-doc max r4-cosine vs the
    // broadcast src0 benchmark embeddings, thresholded BEFORE the
    // per-lang stats (r4-first pins the cut cross-engine)
    "c16_semantic_decontam" ->
      """WITH d AS (SELECT doc_id, lang, source FROM documents),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         bench AS (SELECT emb FROM e JOIN d ON doc_id = vec_id WHERE source = 'src0'),
         corp AS (SELECT vec_id, lang, emb FROM e JOIN d ON doc_id = vec_id
           WHERE source <> 'src0'),
         mx AS (SELECT vec_id, lang,
             max(floor(list_cosine_similarity(corp.emb, bench.emb) * 10000 + 0.5)
               / 10000) AS mx
           FROM corp, bench GROUP BY 1, 2),
         f AS (SELECT lang, CASE WHEN mx >= 0.35 THEN 1 ELSE 0 END AS fl FROM mx)
         SELECT lang, count(*) AS n_docs, CAST(sum(fl) AS BIGINT) AS n_flagged,
           CAST(count(*) - sum(fl) AS BIGINT) AS n_kept
         FROM f GROUP BY lang ORDER BY lang""",
    // c17: split leakage — the exact near-dup pairs tagged with p02's
    // verbatim md5-split CASE, bucketed per unordered split pair on a
    // zero-filled 6-row grid; off-diagonal rows are the leak
    "c17_split_leakage" ->
      s"""WITH $shingleCtes,
         jp AS (SELECT doc_a, doc_b,
             CAST(floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) AS BIGINT) AS jm
           FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
           WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) >= 600),
         sp AS (SELECT doc_id, CASE
             WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.rateThreshold(0.8)}' THEN 'train'
             WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.rateThreshold(0.9)}' THEN 'val'
             ELSE 'test' END AS split FROM documents),
         tagged AS (SELECT least(sa.split, sb.split) AS s_lo,
             greatest(sa.split, sb.split) AS s_hi,
             count(*) AS n_pairs, sum(jm) AS sj
           FROM jp JOIN sp sa ON sa.doc_id = doc_a
           JOIN sp sb ON sb.doc_id = doc_b GROUP BY 1, 2),
         grid AS (SELECT a.s AS s_lo, b.s AS s_hi
           FROM (VALUES ('test'), ('train'), ('val')) a(s),
                (VALUES ('test'), ('train'), ('val')) b(s)
           WHERE a.s <= b.s)
         SELECT g.s_lo, g.s_hi,
           CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(sj, 0) AS BIGINT) AS sum_j_milli,
           CAST(CASE WHEN g.s_lo <> g.s_hi THEN 1 ELSE 0 END AS BIGINT) AS is_leak
         FROM grid g LEFT JOIN tagged USING (s_lo, s_hi)
         ORDER BY s_lo, s_hi""",
    // s18: IVF-PQ — s05's certified assignment/probe replication
    // composed with s09's certified codebook/encode/ADC replication,
    // the scoring restricted to the probed candidates; one hash pins
    // the whole production-ANN pipeline
    "s18_ivfpq_topk" -> s18Sql,
    // m11: PNG IHDR fields re-derived from the fixture formula the
    // chunk parser never sees — certifies signature walk + header
    // parse against the JDK encoder's real output (CRC/chunk-count
    // claims are spec-asserted; encoder-version detail)
    "m11_png_meta" ->
      """SELECT doc_id AS media_id,
           CAST(doc_id % 29 + 4 AS INT) AS width,
           CAST(doc_id % 19 + 4 AS INT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS BIGINT) AS color_type
         FROM documents WHERE doc_id % 3 = 0 AND doc_id % 4 < 2
         ORDER BY media_id""",
    // m12: the m11 formula-oracle discipline for the JPEG walk — SOF
    // geometry recomputed from the fixture params the parser never
    // sees (gray = 1 component, RGB = 3; baseline precision 8)
    "m12_jpeg_meta" ->
      """SELECT doc_id AS media_id,
           CAST(doc_id % 29 + 4 AS INT) AS width,
           CAST(doc_id % 19 + 4 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT)
             AS n_components,
           CAST(8 AS BIGINT) AS precision
         FROM documents WHERE doc_id % 3 = 0
         ORDER BY media_id""",
    "s06_kmeans_codebook" -> s06OracleSql(nlist = 32, iters = 2),
    // d12: SemDeDup — the oracle replays the identical unrolled Lloyd
    // rounds (raw-double centroids, the same CTE chain s06/s07
    // interpolate, so the three cannot desynchronize), re-assigns the
    // corpus, and prunes within-cluster pairs at the same r4-rounded
    // cosine boundary with the first-wins (min vec_id) contract
    "d12_semdedup" -> d12OracleSql(nlist = 32, iters = 2, threshold = 0.4),
    // d18: incremental semantic dedup — the d12 assignment replay with
    // the pair scan restricted to the probing batch (b ≥ 400)
    "d18_incr_semdedup" -> d18OracleSql(nlist = 32, iters = 2,
      splitId = 400L, threshold = 0.4),
    // d19: UNFILTERED quadratic containment — equality against the
    // prefix-filtered Spark plan certifies the PPJoin filter lossless
    "d19_containment" ->
      s"""WITH $shingleCtes
         SELECT doc_a, doc_b,
           floor(CAST(i AS DOUBLE) / a.n_sh * 1000 + 0.5) / 1000 AS cont_a,
           floor(CAST(i AS DOUBLE) / b.n_sh * 1000 + 0.5) / 1000 AS cont_b
         FROM inter JOIN sz a ON doc_a = a.doc_id
         JOIN sz b ON doc_b = b.doc_id
         WHERE i * 1000 >= 700 * a.n_sh OR i * 1000 >= 700 * b.n_sh
         ORDER BY doc_a, doc_b""",
    // d20: UNFILTERED quadratic edit distance — equality against the
    // MinHash-banded Spark funnel certifies the candidate stage
    // lossless for ed≤τ pairs on the gate corpus (the d19 discipline)
    "d20_editdist" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
         FROM documents a JOIN documents b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.text, b.text) <= 10
         ORDER BY doc_a, doc_b""",
    // d13: the measured recall of d12's within-cluster-only trade —
    // same Lloyd CTEs, brute-force pair ground truth, per-decile
    // captured fraction
    "d13_semdedup_recall" -> d13OracleSql(nlist = 32, iters = 2, threshold = 0.4),
    // s13: cell-bounded kNN graph — the oracle replays assignment and
    // ranks the within-cell pairs; c13: SSL-prototype pruning —
    // cosine to the assigned trained centroid, top-quarter flagged
    "s13_knn_graph" -> s13OracleSql(nlist = 32, iters = 2, k = 3),
    // s14: kNN-graph centrality — the s13 edges feeding unrolled
    // integer-micro-unit power-iteration rounds (d=0.85 as 85/100
    // floor division), rank ties broken by vec_id
    "s14_centrality" -> s14OracleSql(nlist = 32, iters = 2, k = 3, rounds = 3),
    // s15: MMR-diversified top-k — greedy picks unrolled as CTEs over
    // integer scores (7·sq4 − 3·md4, min-c_id ties)
    "s15_mmr_topk" -> s15OracleSql(nQueries = 10, k = 5, pool = 16),
    "c13_proto_prune" -> c13OracleSql(nlist = 32, iters = 2),
    // d14: cross-source near-dup matrix — exact-Jaccard pair ground
    // truth (the d04 identity on this corpus) joined to each side's
    // source; the mean sums r3-scaled integer millis so the per-group
    // average is order-free on both engines
    "d14_cross_source_dups" ->
      s"""WITH $shingleCtes,
         jp AS (SELECT doc_a, doc_b,
             floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 AS jaccard
           FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
           WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 >= 0.6),
         srcs AS (SELECT DISTINCT doc_id, source FROM toks),
         m AS (SELECT least(sa.source, sb.source) AS src_a,
             greatest(sa.source, sb.source) AS src_b, jaccard
           FROM jp JOIN srcs sa ON sa.doc_id = jp.doc_a
           JOIN srcs sb ON sb.doc_id = jp.doc_b)
         SELECT src_a, src_b, count(*) AS n_pairs,
           floor(CAST(sum(CAST(floor(jaccard * 1000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000 / count(*) * 1000 + 0.5) / 1000 AS avg_jaccard
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    "s07_ivf_trained" -> s07OracleSql(nlist = 32, iters = 2, nQueries = 10, k = 5, nprobe = 4),
    "s02_lsh_topk" -> s02OracleSql(bits = 4, tables = 8),
    // s24/s25: the same hyperplane replay with the hamming-≤1
    // collision predicate (xor of per-table buckets is 0 or a power
    // of two) over half the tables — the multiprobe trade, measured
    "s24_multiprobe_lsh" -> s24OracleSql(bits = 4, tables = 4),
    "s25_multiprobe_recall" -> s25OracleSql(bits = 4, tables = 4),
    // c01: contamination vs the src0 "benchmark" — string shingles in
    // the oracle vs xxhash64 shingles in Spark (the d03 equivalence
    // argument: distinct-set sizes match absent 64-bit collisions)
    "c01_contamination" ->
      s"""WITH $shingleCtes,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
         hits AS (SELECT c.doc_id, count(*) AS n_hit
                  FROM corpus c JOIN bench b USING (shingle) GROUP BY 1)
         SELECT h.doc_id, z.n_sh, h.n_hit,
           floor(h.n_hit / z.n_sh * 1000 + 0.5) / 1000 AS overlap
         FROM hits h JOIN sz z ON z.doc_id = h.doc_id
         WHERE floor(h.n_hit / z.n_sh * 1000 + 0.5) / 1000 >= 0.5
         ORDER BY h.doc_id""",
    // c06: the whole curation chain in one recursive-CTE statement —
    // decontaminate, then near-dup closure over the CLEAN corpus only
    // (pairs restricted to unflagged docs), then split + summarize
    "c06_full_curation" ->
      s"""WITH RECURSIVE $shingleCtes,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
         hits AS (SELECT c.doc_id, count(*) AS n_hit
                  FROM corpus c JOIN bench b USING (shingle) GROUP BY 1),
         flagged AS (SELECT h.doc_id FROM hits h JOIN sz z ON z.doc_id = h.doc_id
                     WHERE floor(h.n_hit / z.n_sh * 1000 + 0.5) / 1000 >= 0.5),
         clean AS (SELECT doc_id FROM documents WHERE source <> 'src0'
                   AND doc_id NOT IN (SELECT doc_id FROM flagged)),
         cpairs AS (
           SELECT doc_a, doc_b
           FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
           WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 >= 0.6
             AND doc_a IN (SELECT doc_id FROM clean)
             AND doc_b IN (SELECT doc_id FROM clean)),
         cedges AS (SELECT doc_a AS src, doc_b AS dst FROM cpairs
                    UNION SELECT doc_b, doc_a FROM cpairs),
         creach(id, r) AS (
           SELECT src, src FROM cedges
           UNION
           SELECT x.id, e.dst FROM creach x JOIN cedges e ON e.src = x.r),
         clabels AS (SELECT id, min(r) AS cluster FROM creach GROUP BY id),
         cdropped AS (SELECT id FROM clabels WHERE id <> cluster),
         surv AS (SELECT * FROM documents WHERE source <> 'src0'
                  AND doc_id NOT IN (SELECT doc_id FROM flagged)
                  AND doc_id NOT IN (SELECT id FROM cdropped))
         SELECT CASE
             WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.rateThreshold(0.8)}' THEN 'train'
             WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.rateThreshold(0.9)}' THEN 'val'
             ELSE 'test' END AS split,
           lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS sum_tokens
         FROM surv GROUP BY 1, 2 ORDER BY split, lang""",
    // c04: the decontamination end state — same CTEs as c01, then the
    // anti-join drop and per-lang survivor summary
    "c04_decontaminated" ->
      s"""WITH $shingleCtes,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
         hits AS (SELECT c.doc_id, count(*) AS n_hit
                  FROM corpus c JOIN bench b USING (shingle) GROUP BY 1),
         flagged AS (SELECT h.doc_id FROM hits h JOIN sz z ON z.doc_id = h.doc_id
                     WHERE floor(h.n_hit / z.n_sh * 1000 + 0.5) / 1000 >= 0.5)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM flagged)
         GROUP BY lang ORDER BY lang""",
    // c11: Bloom-prefiltered decontamination — the oracle is the SAME
    // exact-overlap formulation as c04 (threshold 0.4): the bloom is a
    // no-false-negative PRUNE whose false positives die in the exact
    // verify join, so the two-phase plan must reproduce the exact
    // answer bit-for-bit
    "c11_bloom_decontam" ->
      s"""WITH $shingleCtes,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
         hits AS (SELECT c.doc_id, count(*) AS n_hit
                  FROM corpus c JOIN bench b USING (shingle) GROUP BY 1),
         flagged AS (SELECT h.doc_id FROM hits h JOIN sz z ON z.doc_id = h.doc_id
                     WHERE floor(h.n_hit / z.n_sh * 1000 + 0.5) / 1000 >= 0.4)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM flagged)
         GROUP BY lang ORDER BY lang""",
    // c12: span scrubbing — the oracle replays the whole contract on
    // span STRINGS (find cross-doc repeated 8-token windows, keep the
    // min-doc_id copy intact, excise covered token indices elsewhere,
    // rebuild the text in token order), certifying that the Spark
    // side's hash-only shuffle + in-row higher-order excision equals
    // plain string manipulation end to end
    "c12_span_scrub" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS wd FROM documents),
         wins AS (
           SELECT doc_id, i - 1 AS pos, array_to_string(wd[i:i+7], ' ') AS span
           FROM toks, UNNEST(range(1, len(wd) - 6)) AS t(i)
           WHERE len(wd) >= 8),
         rep AS (
           SELECT span, min(doc_id) AS first_doc
           FROM (SELECT DISTINCT doc_id, span FROM wins)
           GROUP BY span HAVING count(*) >= 2),
         hits AS (
           SELECT DISTINCT w.doc_id, w.pos FROM wins w
           JOIN rep r ON r.span = w.span AND r.first_doc <> w.doc_id),
         tok_rows AS (
           SELECT doc_id, i - 1 AS idx, wd[i] AS tok
           FROM toks, UNNEST(range(1, len(wd) + 1)) AS t(i)),
         keep AS (
           SELECT t.doc_id, t.idx, t.tok FROM tok_rows t
           WHERE NOT EXISTS (SELECT 1 FROM hits h
             WHERE h.doc_id = t.doc_id AND t.idx BETWEEN h.pos AND h.pos + 7))
         SELECT z.doc_id, z.n_tokens,
           z.n_tokens - count(k.idx) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.idx), '') AS scrubbed
         FROM (SELECT doc_id, len(wd) AS n_tokens FROM toks
               WHERE doc_id IN (SELECT doc_id FROM hits)) z
         LEFT JOIN keep k ON k.doc_id = z.doc_id
         GROUP BY z.doc_id, z.n_tokens ORDER BY z.doc_id""",
    // c05: per-lang quality top-k — the window formulation is the
    // oracle for the bounded-heap TopKRowsAgg path (identical
    // tie-break contract: quality desc, doc_id asc)
    "c05_quality_quota" ->
      """WITH q AS (
           SELECT lang, doc_id,
             floor(least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) *
               (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> x IN ('the', 'a'))) AS DOUBLE) /
                 greatest(len(string_split_regex(trim(text), '\s+')), 1) * 10000 + 0.5) / 10000)
               * 10000 + 0.5) / 10000 AS quality
           FROM documents),
         r AS (SELECT lang, doc_id, quality,
                 row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rnk
               FROM q)
         SELECT lang, rnk, doc_id, quality FROM r WHERE rnk <= 3
         ORDER BY lang, rnk""",
    "p02_train_val_test" ->
      s"""SELECT CASE
           WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.rateThreshold(0.8)}' THEN 'train'
           WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.rateThreshold(0.9)}' THEN 'val'
           ELSE 'test' END AS split,
         lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1, 2 ORDER BY split, lang""",
    "c02_seq_packing" ->
      """WITH d AS (SELECT doc_id, lang,
           len(string_split_regex(trim(text), '\s+')) AS n_tok FROM documents),
         c AS (SELECT lang, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
           FROM d)
         SELECT lang, CAST(start // 2048 AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""",
    // c08: vocab ranks (t09's CTE) turn tokens into ids; docs pack per
    // lang exactly like c02; each pack's comma-joined id sequence is
    // hash-matched, so the oracle certifies the exact trainer-visible
    // token stream (doc order, then token order).
    "c08_packed_ids" ->
      """WITH toks AS (
           SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         cnt AS (SELECT tok, count(*) AS n
           FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
         vocab AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rnk
           FROM cnt ORDER BY n DESC, tok LIMIT 30),
         ex AS (SELECT doc_id, lang, i, w[i] AS tok, len(w) AS n_tok
           FROM toks, UNNEST(range(1, len(w) + 1)) AS u(i)),
         ids AS (SELECT e.doc_id, any_value(e.lang) AS lang,
             list(coalesce(v.rnk, 31) ORDER BY e.i) AS ids,
             any_value(e.n_tok) AS n_tok
           FROM ex e LEFT JOIN vocab v ON v.tok = e.tok
           GROUP BY e.doc_id),
         packed AS (SELECT doc_id, lang, ids, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
           FROM ids)
         SELECT lang, CAST(start // 2048 AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           string_agg(array_to_string(ids, ','), ',' ORDER BY doc_id) AS ids_csv
         FROM packed GROUP BY 1, 2 ORDER BY lang, pack_id""",
    // c09: window count via exact double floor; list_slice's inclusive
    // (begin, end) equals Spark slice's (start, length) here; md5 of
    // the space-joined chunk certifies boundaries + content.
    "c09_chunking" ->
      """WITH toks AS (
           SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
           FROM documents),
         wins AS (
           SELECT doc_id, lang, w, k
           FROM toks, UNNEST(range(0, CAST(greatest(1,
             floor((n_tok - 128 + 63) / 64.0) + 1) AS BIGINT))) AS t(k)),
         ch AS (
           SELECT doc_id, lang, k,
             md5(array_to_string(list_slice(w, k*64 + 1, k*64 + 128), ' ')) AS fp,
             len(list_slice(w, k*64 + 1, k*64 + 128)) AS clen
           FROM wins)
         SELECT lang,
           CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           count(*) AS n_chunks,
           count(DISTINCT fp) AS n_distinct_chunks,
           CAST(sum(clen) AS BIGINT) AS sum_chunk_tokens
         FROM ch GROUP BY lang ORDER BY lang""",
    // c10: the oracle IS the naive global-window formulation the Spark
    // side's histogram-threshold design replaces — equality certifies
    // both the selection contract (prior-tokens < budget in quality
    // desc, doc_id asc order) and the stratum decomposition
    "c10_token_budget" ->
      """WITH q AS (
           SELECT lang, doc_id,
             floor(least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) *
               (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> x IN ('the', 'a'))) AS DOUBLE) /
                 greatest(len(string_split_regex(trim(text), '\s+')), 1) * 10000 + 0.5) / 10000)
               * 10000 + 0.5) / 10000 AS q,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
           FROM documents),
         r AS (SELECT lang, q, n_tok,
                 sum(n_tok) OVER (ORDER BY q DESC, doc_id) - n_tok AS prior
               FROM q)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens, min(q) AS min_quality
         FROM r WHERE prior < 15000
         GROUP BY lang ORDER BY lang""",
    "c03_blocklist_scrub" ->
      """WITH d AS (SELECT lang,
           len(string_split_regex(trim(text), '\s+')) AS n_tok,
           len(list_filter(string_split_regex(trim(text), '\s+'),
             t -> t NOT IN ('spark', 'hash'))) AS n_kept
           FROM documents)
         SELECT lang, count(*) FILTER (n_tok <> n_kept) AS n_docs_hit,
           CAST(sum(n_tok - n_kept) AS BIGINT) AS tokens_removed,
           CAST(sum(n_kept) AS BIGINT) AS tokens_after
         FROM d GROUP BY lang ORDER BY lang""",
    // m02: the Spark side encodes REAL PNG/BMP files from a doc_id-
    // derived pixel formula, then ImageIO-DECODES the bytes and reports
    // width/height/bands/pixel_sum from the decoded raster only. The
    // oracle recomputes the formula directly (lateral UNNEST over the
    // pixel grid), so a hash match certifies the codec round-trip: a
    // stubbed, wrong, or lossy decode would diverge on pixel_sum.
    "m02_decode_features" ->
      """WITH img AS (
           SELECT doc_id, (doc_id % 29) + 4 AS w, (doc_id % 19) + 4 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             CASE WHEN doc_id % 4 < 2 THEN 'png' ELSE 'bmp' END AS fmt
           FROM documents WHERE doc_id % 3 = 0),
         px AS (
           SELECT doc_id, sum((7*x.v + 13*y.v + 17*b.v + doc_id) % 256) AS psum
           FROM img, UNNEST(range(0, w)) AS x(v), UNNEST(range(0, h)) AS y(v),
                UNNEST(range(0, ch)) AS b(v)
           GROUP BY doc_id)
         SELECT i.doc_id AS media_id, i.fmt, CAST(i.w AS INT) AS width,
           CAST(i.h AS INT) AS height, CAST(i.ch AS INT) AS channels,
           CAST(px.psum AS BIGINT) AS pixel_sum
         FROM img i JOIN px USING (doc_id) ORDER BY media_id""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS sum_disc_price,
         floor(sum(l_quantity) / count(*) * 100 + 0.5) / 100 AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_revenue_forecast" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 10""",
    "q03_top_revenue_orders" ->
      """SELECT o_orderkey, o_orderdate,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q04_region_nation_revenue" ->
      """SELECT n_name,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name ORDER BY n_name""",
    "q05_top_orders_per_customer" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3
         ORDER BY o_custkey, rnk""",
    "q06_first_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey""",
    "q07_skip_take" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 50 OFFSET 100""",
    "q08_takewhile" ->
      """SELECT o_orderkey, o_totalprice FROM (
           SELECT o_orderkey, o_totalprice,
             max(CASE WHEN o_totalprice > 490000 THEN 1 ELSE 0 END)
               OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit
           FROM orders) WHERE hit = 0
         ORDER BY o_orderkey""",
    "q09_distinct_consecutive" ->
      """SELECT l_returnflag, count(*) AS n FROM (
           SELECT l_returnflag,
             lag(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber) AS prev
           FROM lineitem)
         WHERE prev IS NULL OR prev <> l_returnflag
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q10_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",
    "q11_json_props" ->
      """SELECT event_type, count(*) AS n, floor(sum(value) / count(*) * 100 + 0.5) / 100 AS avg_value,
         max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q12_monthly_orders" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1 ORDER BY month""",
    "q13_part_strings" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_type, 1, 5) AS type5,
         length(p_name) AS name_len, concat_ws('/', p_brand, p_type) AS brand_type
         FROM part ORDER BY p_partkey""",
    "q14_running_spend" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q15_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q16_chunked" ->
      """SELECT chunk, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty FROM (
           SELECT l_quantity,
             CAST(floor((row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) / 1000) AS BIGINT) AS chunk
           FROM lineitem)
         GROUP BY chunk ORDER BY chunk""",
    "q17_anti_join" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q18_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q19_union" ->
      """SELECT nationkey, count(*) AS n FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey FROM supplier)
         GROUP BY nationkey ORDER BY nationkey""",
    "q20_group_concat" ->
      """SELECT o_orderpriority,
         string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q21_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q22_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "q23_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    // q24b: the HLL numbers themselves differ per engine, but the
    // approximation contract (within 5% of exact per group) holds in
    // any compliant engine — Spark computes both sides; the oracle
    // derives the same group list expecting `true` everywhere.
    "q24b_approx_tolerance" ->
      """SELECT DISTINCT l_returnflag, CAST(1 AS BOOLEAN) AS within_5pct
         FROM lineitem ORDER BY l_returnflag""",
    // q46: the q24b shape on the MERGE axis — the within-5% claim is
    // about union-merged per-nation sketches (lgK=14 ⇒ ~1% rse, 5×
    // slack, stable at any SF); the oracle derives the region list
    // independently and expects `true` everywhere
    "q46_hll_rollup" ->
      """SELECT DISTINCT n_regionkey, CAST(1 AS BOOLEAN) AS within_5pct
         FROM nation ORDER BY n_regionkey""",
    // c19: snapshot derivation + fingerprint diff replayed verbatim —
    // md5 agrees byte-for-byte, statuses are string copies, counts and
    // char sums exact integers
    "c19_corpus_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS fp_old,
             n_chars AS chars_old
           FROM documents WHERE doc_id % 10 <> 7),
         nw AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
                 ELSE text END) AS fp_new,
             n_chars AS chars_new
           FROM documents WHERE doc_id % 10 <> 4),
         d AS (SELECT fp_old, fp_new,
             coalesce(chars_new, chars_old) AS chars
           FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
         SELECT CASE WHEN fp_old IS NULL THEN 'added'
                     WHEN fp_new IS NULL THEN 'removed'
                     WHEN fp_old = fp_new THEN 'unchanged'
                     ELSE 'modified' END AS status,
           count(*) AS n_docs, CAST(sum(chars) AS BIGINT) AS n_chars
         FROM d GROUP BY 1 ORDER BY 1""",
    "q31_zip" ->
      """WITH o AS (SELECT o_orderkey,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS pos
           FROM orders),
         c AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS pos
           FROM customer)
         SELECT pos, o_orderkey, c_custkey FROM o JOIN c USING (pos)
         WHERE pos < 100 ORDER BY pos""",
    // q33: the oracle IS the Spark-side SQL text — one string, two
    // engines, hash-equal results (the portability claim made literal).
    "q33_sql_entry" -> graft.ops.Relational.topSupplierNationsSql,
    // q34: skip(until=) as a running-max flag — the flag flips to 1 at
    // the first expensive order and stays, exactly the ">= first
    // satisfying row" value-cut semantics (triggering row kept).
    "q34_skip_until" ->
      """SELECT o_orderkey, o_totalprice FROM (
           SELECT o_orderkey, o_totalprice,
             max(CASE WHEN o_totalprice > 499000 THEN 1 ELSE 0 END)
               OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit
           FROM orders) WHERE hit = 1
         ORDER BY o_orderkey""",
    // q35: GROUPING SETS — the named-combination general form under
    // rollup/cube, with explicit grouping() flags (the form that stays
    // correct on nullable keys)
    "q35_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY rf, ls""",
    // q36: UNPIVOT / melt — the oracle spells the reshape as the
    // per-measure UNION ALL the Expand node is equivalent to
    "q36_unpivot" ->
      """WITH u AS (
           SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS v FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
         SELECT l_returnflag, measure, count(*) AS n, round(sum(v), 2) AS sum_v
         FROM u GROUP BY 1, 2 ORDER BY 1, 2""",
    // q37: equal-frequency deciles — ntile over a total order (ties
    // by o_orderkey) so bucket membership incl. remainder buckets is
    // engine-identical
    "q37_ntile" ->
      """WITH d AS (
           SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
           FROM orders)
         SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(sum(o_totalprice), 2) AS sum_price
         FROM d GROUP BY decile ORDER BY decile""",
    // q38: the q33 pattern — the oracle IS the Spark-side SQL text
    // (correlated scalar subqueries, integer-cents boundary)
    "q38_correlated" -> graft.ops.Relational.aboveCustomerAvgSql,
    // q39: EXCEPT ALL / INTERSECT ALL — the bag-semantics forms
    // (max(m−n,0) / min(m,n) copies), aggregated per part
    "q39_bag_setops" ->
      """WITH r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
         a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
         ex AS (SELECT l_partkey, count(*) AS n_unmatched
           FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM a) GROUP BY 1),
         ia AS (SELECT l_partkey, count(*) AS n_matched
           FROM (SELECT * FROM r INTERSECT ALL SELECT * FROM a) GROUP BY 1)
         SELECT coalesce(ex.l_partkey, ia.l_partkey) AS l_partkey,
           CAST(coalesce(n_unmatched, 0) AS BIGINT) AS n_unmatched,
           CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched
         FROM ex FULL JOIN ia ON ex.l_partkey = ia.l_partkey
         ORDER BY l_partkey""",
    // q40: deterministic mode (count desc, status asc tiebreak —
    // native mode() is tie-nondeterministic) + exact median
    "q40_mode_median" ->
      """WITH med AS (
           SELECT l_returnflag,
             floor(quantile_cont(l_quantity, 0.5) * 100 + 0.5) / 100
               AS median_qty,
             count(*) AS n
           FROM lineitem GROUP BY 1),
         c AS (SELECT l_returnflag, l_linestatus, count(*) AS mode_n
           FROM lineitem GROUP BY 1, 2),
         m AS (SELECT l_returnflag, l_linestatus AS mode_status, mode_n,
           row_number() OVER (PARTITION BY l_returnflag
             ORDER BY mode_n DESC, l_linestatus) AS rnk FROM c)
         SELECT med.l_returnflag, median_qty, med.n, mode_status,
           CAST(mode_n AS BIGINT) AS mode_n
         FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND rnk = 1
         ORDER BY med.l_returnflag""",
    // q42: the q33/q38 pattern — the oracle IS the Spark-side SQL
    // text (correlated LATERAL with LIMIT, integer cents)
    "q42_lateral" -> graft.ops.Relational.lateralTop2Sql,
    // q43: same pattern — ONE recursive-CTE text (UNION ALL + depth
    // bound, the Spark 4 recursion subset both engines run)
    "q43_recursive" -> graft.ops.Relational.recursiveReachSql,
    // q44: RANGE frame over integer day offsets — both engines window
    // in value space, so sparse order dates share the same [day-6,day]
    // frame; money sums carry the established round(…, 2) discipline
    "q44_rolling_window" ->
      """WITH daily AS (
           SELECT o_custkey,
             CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             round(sum(o_totalprice), 2) AS day_spend
           FROM orders GROUP BY 1, 2)
         SELECT o_custkey, day, day_spend,
           round(sum(day_spend) OVER (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS spend_7d
         FROM daily ORDER BY o_custkey, day""",
    // q45: winsorize — bounds are exact interpolated percentiles (the
    // q25 percentile ≡ quantile_cont contract), clip is branchless
    // least/greatest, means round at 2dp on both engines
    "q45_winsorize" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi FROM orders)
         SELECT o_orderpriority,
           round(avg(least(greatest(o_totalprice, lo), hi)), 2) AS wins_mean,
           round(avg(o_totalprice), 2) AS raw_mean,
           round(min(least(greatest(o_totalprice, lo), hi)), 2) AS wins_min,
           round(max(least(greatest(o_totalprice, lo), hi)), 2) AS wins_max,
           count(*) AS n
         FROM orders, b GROUP BY 1 ORDER BY 1""",
    // l01: z-order locality — the quantize/spread/interleave cascade
    // replayed verbatim in integer arithmetic (// is floor-div; all
    // values non-negative so it matches Spark's floor(exact-double
    // quotient)); masks are 0x00FF00FF/0x0F0F0F0F/0x33333333/
    // 0x55555555 in decimal
    "l01_zorder" ->
      """WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(date_diff('day', DATE '1992-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day
           FROM orders),
         r AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
             min(day) AS day_min, max(day) AS day_max FROM o),
         q AS (SELECT ck, day,
             ((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS qa,
             ((day - day_min) * 65535) // greatest(day_max - day_min, 1) AS qb
           FROM o, r),
         s1 AS (SELECT ck, day, (qa | (qa << 8)) & 16711935 AS a1,
             (qb | (qb << 8)) & 16711935 AS b1 FROM q),
         s2 AS (SELECT ck, day, (a1 | (a1 << 4)) & 252645135 AS a2,
             (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
         s3 AS (SELECT ck, day, (a2 | (a2 << 2)) & 858993459 AS a3,
             (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
         s4 AS (SELECT ck, day, (a3 | (a3 << 1)) & 1431655765 AS a4,
             (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3),
         z AS (SELECT ck, day, (a4 | (b4 << 1)) AS z FROM s4)
         SELECT z // 16777216 AS bucket, count(*) AS n,
           min(ck) AS ck_lo, max(ck) AS ck_hi,
           min(day) AS day_lo, max(day) AS day_hi
         FROM z GROUP BY 1 ORDER BY 1""",
    // l02: the sixteen-stage Hilbert descent, generated (see
    // l02OracleSql) — certifies the native codegen kernel
    "l02_hilbert" -> l02OracleSql,
    // l04: the 3-d spread cascade (the published 21-bit magic
    // constants in decimal) + three-way interleave, replayed in
    // DuckDB integer arithmetic; price cents via the identically-
    // associated floor(o_totalprice * 100) on both engines
    "l04_zorder3d" ->
      """WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(date_diff('day', DATE '1992-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         r AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
             min(day) AS day_min, max(day) AS day_max,
             min(cents) AS c_min, max(cents) AS c_max FROM o),
         q AS (SELECT ck, day, cents,
             ((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS qa,
             ((day - day_min) * 65535) // greatest(day_max - day_min, 1) AS qb,
             ((cents - c_min) * 65535) // greatest(c_max - c_min, 1) AS qc
           FROM o, r),
         s1 AS (SELECT ck, day, cents,
             (qa | (qa << 32)) & 8725724278095871 AS a1,
             (qb | (qb << 32)) & 8725724278095871 AS b1,
             (qc | (qc << 32)) & 8725724278095871 AS c1 FROM q),
         s2 AS (SELECT ck, day, cents,
             (a1 | (a1 << 16)) & 8725728556220671 AS a2,
             (b1 | (b1 << 16)) & 8725728556220671 AS b2,
             (c1 | (c1 << 16)) & 8725728556220671 AS c2 FROM s1),
         s3 AS (SELECT ck, day, cents,
             (a2 | (a2 << 8)) & 1157144660301377551 AS a3,
             (b2 | (b2 << 8)) & 1157144660301377551 AS b3,
             (c2 | (c2 << 8)) & 1157144660301377551 AS c3 FROM s2),
         s4 AS (SELECT ck, day, cents,
             (a3 | (a3 << 4)) & 1207822528635744451 AS a4,
             (b3 | (b3 << 4)) & 1207822528635744451 AS b4,
             (c3 | (c3 << 4)) & 1207822528635744451 AS c4 FROM s3),
         s5 AS (SELECT ck, day, cents,
             (a4 | (a4 << 2)) & 1317624576693539401 AS a5,
             (b4 | (b4 << 2)) & 1317624576693539401 AS b5,
             (c4 | (c4 << 2)) & 1317624576693539401 AS c5 FROM s4),
         z AS (SELECT ck, day, cents,
             (a5 | (b5 << 1) | (c5 << 2)) AS z3 FROM s5)
         SELECT z3 // 68719476736 AS bucket, count(*) AS n,
           min(ck) AS ck_lo, max(ck) AS ck_hi,
           min(day) AS day_lo, max(day) AS day_hi,
           min(cents) AS cents_lo, max(cents) AS cents_hi
         FROM z GROUP BY 1 ORDER BY 1""",
    // l05: both interleave cascades (2-d four-stage + 3-d five-stage)
    // over one quantized scan, three layouts tagged by UNION, the
    // statistics-box intersection rollup — the l03 oracle shape on
    // the cube
    "l05_cube_pruning" ->
      """WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(date_diff('day', DATE '1992-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         r AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
             min(day) AS day_min, max(day) AS day_max,
             min(cents) AS c_min, max(cents) AS c_max FROM o),
         q AS (SELECT
             ((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS qa,
             ((day - day_min) * 65535) // greatest(day_max - day_min, 1) AS qb,
             ((cents - c_min) * 65535) // greatest(c_max - c_min, 1) AS qc
           FROM o, r),
         t1 AS (SELECT qa, qb, qc, (qa | (qa << 8)) & 16711935 AS a1,
             (qb | (qb << 8)) & 16711935 AS b1 FROM q),
         t2 AS (SELECT qa, qb, qc, (a1 | (a1 << 4)) & 252645135 AS a2,
             (b1 | (b1 << 4)) & 252645135 AS b2 FROM t1),
         t3 AS (SELECT qa, qb, qc, (a2 | (a2 << 2)) & 858993459 AS a3,
             (b2 | (b2 << 2)) & 858993459 AS b3 FROM t2),
         t4 AS (SELECT qa, qb, qc, (a3 | (a3 << 1)) & 1431655765 AS a4,
             (b3 | (b3 << 1)) & 1431655765 AS b4 FROM t3),
         z2t AS (SELECT qa, qb, qc, (a4 | (b4 << 1)) AS z2 FROM t4),
         s1 AS (SELECT qa, qb, qc, z2,
             (qa | (qa << 32)) & 8725724278095871 AS a1,
             (qb | (qb << 32)) & 8725724278095871 AS b1,
             (qc | (qc << 32)) & 8725724278095871 AS c1 FROM z2t),
         s2 AS (SELECT qa, qb, qc, z2,
             (a1 | (a1 << 16)) & 8725728556220671 AS a2,
             (b1 | (b1 << 16)) & 8725728556220671 AS b2,
             (c1 | (c1 << 16)) & 8725728556220671 AS c2 FROM s1),
         s3 AS (SELECT qa, qb, qc, z2,
             (a2 | (a2 << 8)) & 1157144660301377551 AS a3,
             (b2 | (b2 << 8)) & 1157144660301377551 AS b3,
             (c2 | (c2 << 8)) & 1157144660301377551 AS c3 FROM s2),
         s4 AS (SELECT qa, qb, qc, z2,
             (a3 | (a3 << 4)) & 1207822528635744451 AS a4,
             (b3 | (b3 << 4)) & 1207822528635744451 AS b4,
             (c3 | (c3 << 4)) & 1207822528635744451 AS c4 FROM s3),
         s5 AS (SELECT qa, qb, qc, z2,
             (a4 | (a4 << 2)) & 1317624576693539401 AS a5,
             (b4 | (b4 << 2)) & 1317624576693539401 AS b5,
             (c4 | (c4 << 2)) & 1317624576693539401 AS c5 FROM s4),
         k AS MATERIALIZED (SELECT qa, qb, qc, z2,
             (a5 | (b5 << 1) | (c5 << 2)) AS z3,
             CASE WHEN qa BETWEEN 9000 AND 17191
               AND qb BETWEEN 25000 AND 33191
               AND qc BETWEEN 41000 AND 49191 THEN 1 ELSE 0 END AS in_box
           FROM s5),
         tagged AS (
           SELECT 'zorder3d' AS layout, z3 // 1095233372416 AS bucket,
             qa, qb, qc, in_box FROM k
           UNION ALL
           SELECT 'zorder2d_ck_day', z2 // 16712070, qa, qb, qc, in_box FROM k
           UNION ALL
           SELECT 'single_ck', qa // 256, qa, qb, qc, in_box FROM k),
         pb AS (SELECT layout, bucket,
             min(qa) AS a_lo, max(qa) AS a_hi,
             min(qb) AS b_lo, max(qb) AS b_hi,
             min(qc) AS c_lo, max(qc) AS c_hi,
             CAST(sum(in_box) AS BIGINT) AS rows_in
           FROM tagged GROUP BY 1, 2)
         SELECT layout, count(*) AS buckets_total,
           CAST(sum(CASE WHEN a_hi >= 9000 AND a_lo <= 17191
             AND b_hi >= 25000 AND b_lo <= 33191
             AND c_hi >= 41000 AND c_lo <= 49191 THEN 1 ELSE 0 END) AS BIGINT)
             AS buckets_touched,
           CAST(sum(rows_in) AS BIGINT) AS rows_matched
         FROM pb GROUP BY 1 ORDER BY layout""",
    // l06: Skilling's 3-d Hilbert transform generated as 42 chained
    // MATERIALIZED plane CTEs + gray/parity + the interleave spread,
    // next to the morton3 cascade (see l06OracleSql)
    "l06_cube_hilbert" -> l06OracleSql,
    // l07: the same dual-curve replay, read out per segment
    "l07_cube_file_boxes" -> l07OracleSql,
    // l03: all three layout keys + the statistics-intersection
    // rollup replayed over one quantized scan (see l03OracleSql)
    "l03_curve_pruning" -> l03OracleSql,
    // q41: percent_rank/cume_dist — exact rationals of integers
    // under a total tie-break; the top-10 cut mirrors the Spark limit
    "q41_rank_dist" ->
      """WITH r AS (
           SELECT o_orderkey, o_orderpriority,
             round(o_totalprice, 2) AS o_totalprice,
             floor(percent_rank() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) * 10000 + 0.5) / 10000
               AS pct_rank,
             floor(cume_dist() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) * 10000 + 0.5) / 10000
               AS cume
           FROM orders)
         SELECT o_orderkey, o_orderpriority, o_totalprice, pct_rank, cume
         FROM r ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    // e15: LOCF — both engines run the same keyed running frame with
    // IGNORE NULLS semantics; the carried value is a COPY (no
    // arithmetic), so no float discipline is needed
    "e15_locf" ->
      """SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
         FROM events ORDER BY event_id""",
    // e20: the e15 backward frame + its forward mirror; the
    // interpolation expression keeps the IDENTICAL association as the
    // Spark side — v1 + (v2-v1)*(CAST Δms / CAST Δms_total) — so both
    // engines run the same correctly-rounded IEEE ops, then r4; the
    // (ms, value) pair comes from the same bounding row on both sides
    // because the CASE marks both columns null together
    "e20_interp" ->
      """WITH p AS (
           SELECT event_id, user_id, epoch_ms(ts) AS ms, ts,
             CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END AS pms,
             CASE WHEN event_type = 'purchase' THEN value END AS pval
           FROM events),
         w AS (
           SELECT event_id, user_id, ms,
             last_value(pms IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ms1,
             last_value(pval IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v1,
             first_value(pms IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ms2,
             first_value(pval IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v2
           FROM p)
         SELECT event_id, user_id,
           CASE WHEN ms1 IS NULL THEN NULL
                WHEN ms2 IS NULL OR ms2 = ms1
                  THEN floor(v1 * 10000 + 0.5) / 10000
                ELSE floor((v1 + (v2 - v1) *
                  (CAST(ms - ms1 AS DOUBLE) / CAST(ms2 - ms1 AS DOUBLE)))
                  * 10000 + 0.5) / 10000 END AS interp_purchase
         FROM w ORDER BY event_id""",
    // e16: OHLC — open/close are the values of the unique rows first/
    // last under the total (ts, event_id) order; the oracle picks the
    // same rows via row_number windows (unique key ⇒ same row as the
    // Spark side's min/max-of-struct). All outputs copies or counts —
    // no float arithmetic anywhere
    "e16_ohlc" ->
      """WITH b AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
             event_type, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
               ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
               ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
         SELECT hour, event_type,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           count(*) AS n
         FROM b GROUP BY 1, 2 ORDER BY hour, event_type""",
    // e14: the e06 chain extended to three ordered steps — the oracle
    // formulates the stacked-window chain as three joins
    "e14_multistep_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
           FROM events),
         u AS (SELECT DISTINCT user_id FROM e),
         s1 AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ms END) AS fv
           FROM e GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ms) AS fc
           FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ms >= fv GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ms) AS fp
           FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ms >= fc GROUP BY 1)
         SELECT count(*) AS n_users,
           count(fv) AS n_viewed,
           count(fc) AS n_clicked,
           count(fp) AS n_purchased,
           floor(CAST(sum(fp - fv) AS DOUBLE)
             / (count(fp) * 3600000.0) * 100 + 0.5) / 100
             AS avg_hours_to_convert
         FROM u LEFT JOIN s1 USING (user_id)
           LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    // e13: RFM segmentation — integer metrics, exact-quarter
    // quantile_cont cutpoints, score = 1 + Σ (v > q_i)
    "e13_rfm" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS ms,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         per AS (SELECT user_id, max(ms) AS last_ms, count(*) AS freq,
             sum(cents) AS mon_cents
           FROM p GROUP BY 1),
         c AS (SELECT
             quantile_cont(last_ms, [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(mon_cents, [0.25, 0.5, 0.75]) AS mq
           FROM per),
         sc AS (SELECT
             CAST(1 + CAST(last_ms > rq[1] AS INT)
               + CAST(last_ms > rq[2] AS INT)
               + CAST(last_ms > rq[3] AS INT) AS BIGINT) AS r_score,
             CAST(1 + CAST(freq > fq[1] AS INT)
               + CAST(freq > fq[2] AS INT)
               + CAST(freq > fq[3] AS INT) AS BIGINT) AS f_score,
             CAST(1 + CAST(mon_cents > mq[1] AS INT)
               + CAST(mon_cents > mq[2] AS INT)
               + CAST(mon_cents > mq[3] AS INT) AS BIGINT) AS m_score,
             mon_cents
           FROM per CROSS JOIN c)
         SELECT r_score, f_score, m_score, count(*) AS n_users,
           CAST(sum(mon_cents) AS BIGINT) AS sum_cents
         FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // t16: TF-IDF top terms — idf snapped to integer micronats (the
    // t11 discipline) before the tf multiply, so ranks are integer
    "t16_tfidf_terms" ->
      """WITH tk AS (SELECT doc_id, tok, count(*) AS tf FROM (
             SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS tok
             FROM documents)
           GROUP BY 1, 2),
         dfr AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
         nn AS (SELECT count(*) AS n_corpus FROM documents),
         sc AS (SELECT doc_id, tok,
             tf * CAST(floor(ln(CAST(n_corpus AS DOUBLE)
               / CAST(df AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS sm
           FROM tk JOIN dfr USING (tok) CROSS JOIN nn),
         r AS (SELECT doc_id, tok, sm,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY sm DESC, tok) AS rnk FROM sc)
         SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok,
           floor(CAST(sm AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
             AS score
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // t17: the t11 discipline over bigram transitions — identical
    // vocab rule, add-one over V+1 classes, integer micronat terms;
    // chr(1)/chr(2) are the separator/OOV symbols outside the corpus
    // alphabet
    "t17_bigram_ce" ->
      s"""WITH $bigramLmCtes,
         doc AS (SELECT doc_id, lang, source, count(*) AS nb,
             CAST(sum(vs) AS DOUBLE) / 1000000 / count(*) AS ce
           FROM terms GROUP BY 1, 2, 3)
         SELECT lang, source, count(*) AS n_docs,
           floor(CAST(sum(CAST(floor(ce * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(*) * 1000 + 0.5) / 1000 AS avg_ce,
           floor(min(ce) * 1000 + 0.5) / 1000 AS min_ce,
           floor(max(ce) * 1000 + 0.5) / 1000 AS max_ce
         FROM doc GROUP BY 1, 2 ORDER BY 1, 2""",
    // t18: the six BPE training rounds generated as CTE stages, the
    // merge replayed as a position-skipping recursive walk (see
    // t18OracleSql)
    "t18_bpe_merges" -> t18OracleSql(6),
    // t19: same training chain, final vocabulary applied per lang
    "t19_bpe_encode" -> t19OracleSql(6),
    // c20: same training chain through BPE id numbering + the c08
    // packing window — the end-to-end counts→merges→vocab→pack oracle
    "c20_bpe_packed_ids" -> c20OracleSql(6),
    // t20: md5-threshold slice draw + first-appearance rollup
    "t20_heaps_curve" -> t20OracleSql,
    // t21: the oracle retrains the full Naive Bayes model (the shared
    // t21/c21 chain) and rolls up verdict-vs-label agreement per lang
    "t21_quality_classifier" ->
      s"""WITH $t21ChainCtes
         SELECT lang, count(*) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_weak_pass,
           CAST(sum(pred) AS BIGINT) AS n_pred_pass,
           CAST(sum(CASE WHEN pred <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
         FROM fin GROUP BY lang ORDER BY lang""",
    // t22: the oracle RETRAINS the model the Spark side serves from
    // its persisted artifact — the datasheet row (vocab size, OOV
    // weight, prior, weight sign counts and extremes) must be
    // bit-identical, certifying the parquet round-trip loses nothing
    "t22_quality_model" ->
      s"""WITH $t21ChainCtes
         SELECT tot.v AS v, oov.w_oov AS w_oov, pri.prior AS prior,
           CAST(sum(CASE WHEN wt.w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN wt.w < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(sum(CASE WHEN wt.w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           min(wt.w) AS wt_min, max(wt.w) AS wt_max
         FROM wt CROSS JOIN tot CROSS JOIN pri CROSS JOIN oov
         GROUP BY 1, 2, 3""",
    // t23: the trained chain scored once, fanned over the shared
    // micronat threshold grid — the grid literal is generated from
    // the ONE Scala definition so the engines cannot grid apart
    "t23_threshold_curve" ->
      s"""WITH $t21ChainCtes,
         sc2 AS (SELECT r.doc_id, r.y, CAST(len(r.w) AS BIGINT) AS n_tok,
             pri.prior + coalesce(sc.s, 0) AS score
           FROM r LEFT JOIN sc USING (doc_id) CROSS JOIN pri),
         th AS (SELECT CAST(unnest([${
        graft.ops.TextAnalysis.thresholdGridMicronats.mkString(", ")}])
           AS BIGINT) AS thr)
         SELECT th.thr AS thr,
           CAST(sum(CASE WHEN score > thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN score > thr THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           CAST(sum(CASE WHEN (CASE WHEN score > thr THEN 1 ELSE 0 END) <> y
             THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
         FROM sc2 CROSS JOIN th GROUP BY 1 ORDER BY 1""",
    // t24: the oracle retrains the bigram LM (the shared t17/c23
    // chain's count tables) and must land on the ARTIFACT-served
    // datasheet bit-for-bit — the t22 persisted-vs-retrained
    // certification for the fourth gate's model (vp1 = V + 1, the
    // same add-one-over-V+1 constant the terms CTE smooths with —
    // both literals generated from the ONE lmVocabDefault)
    "t24_bigram_lm_model" ->
      s"""WITH $bigramLmCtes
         SELECT (SELECT count(*) FROM vocab) AS v,
           CAST(${graft.ops.TextAnalysis.lmVocabDefault + 1} AS BIGINT) AS vp1,
           (SELECT count(*) FROM cb) AS n_bigrams,
           (SELECT count(*) FROM cx) AS n_contexts,
           (SELECT CAST(sum(cbi) AS BIGINT) FROM cb) AS n_transitions,
           (SELECT CAST(max(cbi) AS BIGINT) FROM cb) AS c_max""",
    // c22: the composed ingest chain — decontam → verdict → ids →
    // packs, one SQL text certifying the composition
    "c22_llm_ingest_chain" ->
      c22OracleSql(6, 2048, graft.ops.TextAnalysis.perplexityThrDefault),
    // c23: the shared t17 chain to per-doc integer (lm, nb), the
    // SAME pure-integer keep predicate, stage-accounted rollup
    "c23_perplexity_gate" ->
      s"""WITH $bigramLmCtes,
         doc AS (SELECT doc_id, lang, source, count(*) AS nb,
             CAST(sum(vs) AS BIGINT) AS lm
           FROM terms GROUP BY 1, 2, 3),
         g AS (SELECT lang, source, count(*) AS n_scored,
             CAST(sum(CASE WHEN lm < $c23Thr * nb THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN lm < $c23Thr * nb THEN nb + 1 ELSE 0 END)
               AS BIGINT) AS kept_tokens
           FROM doc GROUP BY 1, 2),
         al AS (SELECT lang, source, count(*) AS n_docs
           FROM documents GROUP BY 1, 2)
         SELECT al.lang AS lang, al.source AS source, al.n_docs AS n_docs,
           coalesce(g.n_scored, 0) AS n_scored,
           al.n_docs - coalesce(g.n_scored, 0) AS n_unscored,
           coalesce(g.n_kept, 0) AS n_kept,
           coalesce(g.kept_tokens, 0) AS kept_tokens,
           (coalesce(g.n_kept, 0) * 1000)
             // greatest(coalesce(g.n_scored, 0), 1) AS keep_rate_milli
         FROM al LEFT JOIN g USING (lang, source) ORDER BY 1, 2""",
    // c21: the SAME trained chain, rolled up as the filter it exists
    // for — kept/dropped docs and surviving token mass per (lang,
    // source), floor-div milli drop rate
    "c21_classifier_filtered" ->
      s"""WITH $t21ChainCtes
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(pred) AS BIGINT) AS n_kept,
           count(*) - CAST(sum(pred) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN pred = 1 THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           ((count(*) - CAST(sum(pred) AS BIGINT)) * 1000) // count(*)
             AS drop_rate_milli
         FROM fin GROUP BY 1, 2 ORDER BY 1, 2""",
    // e17: ordered string_agg sequences, patterns generated from the
    // one Scala definition
    "e17_seq_patterns" -> e17OracleSql,
    // e12: the c15 expectation-check pattern on the events table —
    // same checks, same stacked report shape
    "e12_events_gate" ->
      """WITH a AS (SELECT count(*) AS n,
           count(*) - count(DISTINCT event_id) AS v_dup,
           sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS v_ts,
           sum(CASE WHEN event_type NOT IN
             ('click', 'error', 'purchase', 'signup', 'view')
             THEN 1 ELSE 0 END) AS v_type,
           sum(CASE WHEN value IS NULL OR NOT (value > 0.0)
             THEN 1 ELSE 0 END) AS v_value,
           sum(CASE WHEN user_id IS NULL OR user_id < 0
             THEN 1 ELSE 0 END) AS v_user,
           sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS v_props
         FROM events),
         r AS (
           SELECT 'evt_id_unique' AS check_name, n, v_dup AS v FROM a
           UNION ALL SELECT 'evt_ts_present', n, v_ts FROM a
           UNION ALL SELECT 'evt_type_known', n, v_type FROM a
           UNION ALL SELECT 'evt_value_positive', n, v_value FROM a
           UNION ALL SELECT 'evt_user_valid', n, v_user FROM a
           UNION ALL SELECT 'evt_props_present', n, v_props FROM a)
         SELECT check_name, CAST(n AS BIGINT) AS n_rows,
           CAST(v AS BIGINT) AS n_violations,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
         FROM r ORDER BY check_name""",
    // e11: trailing-window burst profile — RANGE frame over epoch-ms,
    // peers-at-same-ms included by both engines by definition of RANGE
    "e11_burst_windows" ->
      """WITH e AS (
           SELECT event_type, user_id, epoch_ms(ts) AS ms FROM events),
         w AS (
           SELECT event_type,
             count(*) OVER (PARTITION BY user_id ORDER BY ms
               RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) AS win
           FROM e)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(win) AS BIGINT) AS sum_win,
           CAST(max(win) AS BIGINT) AS max_win,
           CAST(sum(CASE WHEN win >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bursty
         FROM w GROUP BY 1 ORDER BY 1""",
    "q32_order_cadence" ->
      """WITH g AS (
           SELECT o_custkey,
             CAST(date_diff('day',
               CAST(lag(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
               CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
           FROM orders)
         SELECT o_custkey, count(*) AS n_orders,
           max(gap_days) AS max_gap_days,
           floor(avg(gap_days) * 100 + 0.5) / 100 AS avg_gap_days
         FROM g GROUP BY o_custkey HAVING count(*) >= 12
         ORDER BY o_custkey""",
    "c07_pii_redaction" ->
      """WITH m AS (
           SELECT lang, concat(text,
             CASE WHEN doc_id % 3 = 0
               THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com')
               ELSE '' END,
             CASE WHEN doc_id % 5 = 0
               THEN concat(' tel 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
               ELSE '' END) AS m
           FROM documents),
         x AS (
           SELECT lang, m,
             len(regexp_extract_all(m, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_em,
             len(regexp_extract_all(m, '555-[0-9]{4}')) AS n_ph,
             length(m) - length(regexp_replace(regexp_replace(m,
               '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
               '555-[0-9]{4}', '<PHONE>', 'g')) AS removed
           FROM m)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_em) AS BIGINT) AS n_emails,
           CAST(sum(n_ph) AS BIGINT) AS n_phones,
           CAST(sum(removed) AS BIGINT) AS chars_removed
         FROM x GROUP BY lang ORDER BY lang""",
    "q25b_approx_quantile" ->
      """SELECT DISTINCT o_orderpriority, CAST(1 AS BOOLEAN) AS within_rank_5pct
         FROM orders ORDER BY o_orderpriority""",
    "q25_quantiles" ->
      """SELECT o_orderpriority,
         floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS median_price,
         floor(quantile_cont(o_totalprice, 0.9) * 100 + 0.5) / 100 AS p90_price,
         round(min(o_totalprice), 2) AS min_price,
         round(max(o_totalprice), 2) AS max_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q26_pivot" ->
      """SELECT o_orderpriority,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q27_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
         count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "q28_stats" ->
      """SELECT l_returnflag,
         floor(stddev_samp(l_quantity) * 10000 + 0.5) / 10000 AS sd_qty,
         floor(var_samp(l_quantity) * 10000 + 0.5) / 10000 AS var_qty,
         floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000 AS corr_qty_price,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q29_try_divide" ->
      """SELECT l_returnflag,
         CAST(sum(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_zero,
         floor(avg(l_extendedprice / NULLIF(l_quantity - 1, 0)) * 100 + 0.5) / 100 AS avg_ratio
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "e01_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "e02_sessions" ->
      """WITH x AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) AS tms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tms
           FROM events),
         y AS (
           SELECT user_id, event_id, ts,
             CASE WHEN prev_tms IS NULL OR tms - prev_tms > 1800000 THEN 1 ELSE 0 END AS ns
           FROM x),
         z AS (
           SELECT user_id,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM y),
         g AS (SELECT user_id, session_id, count(*) AS n_events FROM z GROUP BY 1, 2)
         SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
           floor(sum(n_events) / count(*) * 100 + 0.5) / 100 AS avg_events_per_session,
           CAST(max(n_events) AS BIGINT) AS max_session_events
         FROM g GROUP BY user_id ORDER BY user_id""",
    "e03_top_users" ->
      """SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n
         FROM events GROUP BY user_id
         ORDER BY total_value DESC, user_id LIMIT 10""",
    "e04_asof_attribution" ->
      """WITH x AS (
           SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_tms,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id
           FROM events)
         SELECT user_id, count(*) AS n_purchases, count(click_id) AS n_attributed,
           floor(sum((epoch_ms(ts) - click_tms) / 1000.0) / count(click_id) * 100 + 0.5) / 100 AS avg_lag_sec
         FROM x WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id""",
    "e07_retention" ->
      """WITH w AS (
           SELECT user_id,
             CAST(floor(epoch_ms(ts) / 604800000.0) AS BIGINT) AS week
           FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
         cells AS (
           SELECT DISTINCT c.cohort_week, w.week - c.cohort_week AS week_offset,
             w.user_id
           FROM w JOIN c USING (user_id))
         SELECT cohort_week, week_offset, count(*) AS n_active
         FROM cells GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
    // e08: trailing-window spike detection — the 3σ rule cleared of
    // divisions (dev>0 ∧ dev²>9·varw over integer window sums), so
    // both engines compare identical longs; max_z rounds r3 per row
    // before max over identical doubles-from-longs
    "e08_spikes" ->
      """WITH h AS (SELECT event_type,
             CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hb, count(*) AS c
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, hb, c,
             CAST(COALESCE(sum(c) OVER tw, 0) AS BIGINT) AS sw,
             CAST(COALESCE(sum(c * c) OVER tw, 0) AS BIGINT) AS sq,
             count(*) OVER tw AS nw
           FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY hb
             ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
         f AS (SELECT event_type, nw, c * 6 - sw AS dev,
             sq * 6 - sw * sw AS varw FROM w)
         SELECT event_type, count(*) AS n_hours,
           CAST(sum(CASE WHEN nw = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN nw = 6 AND dev > 0 AND dev * dev > 9 * varw
             THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes,
           max(CASE WHEN nw = 6 AND varw > 0 THEN
             floor(CAST(dev AS DOUBLE) / sqrt(CAST(varw AS DOUBLE)) * 1000 + 0.5)
               / 1000 END) AS max_z
         FROM f GROUP BY 1 ORDER BY 1""",
    // e09: first-order Markov transition matrix — consecutive same-user
    // events in (ts, event_id) order; share = one double division of
    // two exact longs, r4-rounded
    "e09_transitions" ->
      """WITH e AS (
           SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         p AS (
           SELECT event_type AS from_type, to_type, count(*) AS n
           FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           floor(CAST(n AS DOUBLE) /
             CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS share
         FROM p ORDER BY from_type, to_type""",
    // e10: dwell-time distribution — gaps stay integer ms so the
    // interpolating percentile reads exact-integer doubles (q25
    // percentile ≡ quantile_cont contract)
    // e18: the e06/e10 disciplines composed — epoch_ms deltas, exact
    // quantile_cont under the r2 floor-rounding
    "e18_funnel_timing" ->
      """WITH fs AS (
           SELECT user_id, min(epoch_ms(ts)) AS s_ms
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         d AS (
           SELECT e.user_id, min(epoch_ms(e.ts)) - s_ms AS delta_ms
           FROM events e JOIN fs USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s_ms
           GROUP BY e.user_id, s_ms)
         SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(delta_ms) AS BIGINT) AS min_ms,
           floor(quantile_cont(delta_ms, 0.5) * 100 + 0.5) / 100 AS median_ms,
           floor(quantile_cont(delta_ms, 0.9) * 100 + 0.5) / 100 AS p90_ms,
           CAST(max(delta_ms) AS BIGINT) AS max_ms
         FROM d""",
    // e19: distinct (day, user) activity pairs fan out to their ≤7
    // supported window-days; integer floor-div stickiness
    "e19_rolling_active" ->
      """WITH act AS (
           SELECT DISTINCT
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             user_id
           FROM events),
         dau AS (SELECT day AS wday, CAST(count(DISTINCT user_id) AS BIGINT)
             AS dau FROM act GROUP BY 1),
         wau AS (
           SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
           FROM (SELECT unnest(range(day, day + 7)) AS wday, user_id FROM act)
           GROUP BY 1),
         b AS (SELECT min(day) AS d_lo, max(day) AS d_hi FROM act)
         SELECT CAST(wday AS BIGINT) AS day,
           COALESCE(dau, 0) AS dau, wau,
           (COALESCE(dau, 0) * 1000) // wau AS stickiness_milli
         FROM wau LEFT JOIN dau USING (wday), b
         WHERE wday >= d_lo + 6 AND wday <= d_hi
         ORDER BY day""",
    "e10_gap_stats" ->
      """WITH g AS (
           SELECT event_type, epoch_ms(ts) AS ms,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nms
           FROM events)
         SELECT event_type, count(*) AS n_gaps,
           floor(quantile_cont(nms - ms, 0.5) * 100 + 0.5) / 100
             AS median_gap_ms,
           floor(quantile_cont(nms - ms, 0.9) * 100 + 0.5) / 100
             AS p90_gap_ms,
           CAST(max(nms - ms) AS BIGINT) AS max_gap_ms
         FROM g WHERE nms IS NOT NULL GROUP BY 1 ORDER BY 1""",
    "e06_funnel" ->
      """WITH u AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS first_click
           FROM events GROUP BY user_id),
         c AS (
           SELECT p.user_id, min(epoch_ms(p.ts) - u.first_click) AS lag_ms
           FROM events p JOIN u USING (user_id)
           WHERE p.event_type = 'purchase' AND u.first_click IS NOT NULL
             AND epoch_ms(p.ts) >= u.first_click
           GROUP BY p.user_id)
         SELECT count(*) AS n_users,
           count(u.first_click) AS n_clicked,
           count(c.lag_ms) AS n_converted,
           floor(CAST(sum(c.lag_ms) AS DOUBLE) / (count(c.lag_ms) * 3600000.0)
             * 100 + 0.5) / 100 AS avg_hours_to_convert
         FROM u LEFT JOIN c ON u.user_id = c.user_id""",
    // e05: the oracle runs the PLAIN BETWEEN containment join — the
    // binned (user, hour-bucket) equi-join plan must reproduce it
    // exactly, which is precisely what the bucketing trick claims.
    "e05_interval_join" ->
      """WITH x AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) AS tms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tms
           FROM events WHERE event_type = 'click'),
         n AS (
           SELECT user_id, ts,
             sum(CASE WHEN prev_tms IS NULL OR tms - prev_tms > 1800000
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM x),
         sess AS (SELECT user_id, session_id, min(ts) AS st,
             max(ts) + INTERVAL 30 MINUTES AS en
           FROM n GROUP BY 1, 2),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, count(*) AS n_purchases,
           CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM sess s
             WHERE s.user_id = p.user_id AND p.ts >= s.st AND p.ts <= s.en)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_in_session
         FROM p GROUP BY p.user_id ORDER BY p.user_id""",
    "t01_token_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
         floor(sum(len(string_split_regex(trim(text), '\s+'))) / count(*) * 100 + 0.5) / 100 AS avg_tokens,
         max(n_chars) AS max_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "t02_quality" ->
      """WITH q AS (
           SELECT lang,
             floor(least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) *
               (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> x IN ('the', 'a'))) AS DOUBLE) /
                 greatest(len(string_split_regex(trim(text), '\s+')), 1) * 10000 + 0.5) / 10000)
               * 10000 + 0.5) / 10000 AS qv
           FROM documents)
         SELECT lang, count(*) AS n,
           floor(sum(qv) / count(*) * 10000 + 0.5) / 10000 AS avg_quality,
           floor(min(qv) * 10000 + 0.5) / 10000 AS min_quality,
           floor(max(qv) * 10000 + 0.5) / 10000 AS max_quality
         FROM q GROUP BY lang ORDER BY lang""",
    "t03_langid" ->
      """WITH s AS (
           SELECT lang,
             CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS INTEGER) AS sc_en,
             CAST((length(text) - length(replace(text, 'query', ''))) / 5 AS INTEGER) AS sc_q,
             CAST((length(text) - length(replace(text, 'join', ''))) / 4 AS INTEGER) AS sc_j
           FROM documents)
         SELECT lang,
           CASE WHEN sc_en >= greatest(sc_q, sc_j) THEN 'en'
                WHEN sc_q >= sc_j THEN 'qq' ELSE 'jj' END AS predicted,
           count(*) AS n
         FROM s GROUP BY 1, 2 ORDER BY lang, predicted""",
    "t04_fingerprints" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         n_chars FROM documents ORDER BY doc_id""",
    "t05_top_bigrams" ->
      """WITH toks AS (
           SELECT lang, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         bg AS (
           SELECT lang, array_to_string(w[i:i+1], ' ') AS bigram
           FROM toks, UNNEST(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2),
         c AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
         r AS (SELECT lang, bigram, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk FROM c)
         SELECT lang, rnk, bigram, n FROM r WHERE rnk <= 5 ORDER BY lang, rnk""",
    "t06_regex_tokens" ->
      """WITH m AS (
           SELECT lang,
             concat(text, ' v', CAST(doc_id % 100 AS VARCHAR), '.',
               CAST(n_chars % 10 AS VARCHAR), '!') AS marked
           FROM documents)
         SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(marked), '\s+'))) AS BIGINT) AS sum_ws_tokens,
         CAST(sum(len(regexp_extract_all(marked, '[\p{L}]+|[\p{N}]+|[^ \t\n\f\r\p{L}\p{N}]+'))) AS BIGINT) AS sum_bpe_tokens,
         floor(sum(len(regexp_extract_all(marked, '[\p{L}]+|[\p{N}]+|[^ \t\n\f\r\p{L}\p{N}]+'))) /
           sum(len(string_split_regex(trim(marked), '\s+'))) * 100 + 0.5) / 100 AS bpe_per_ws
         FROM m GROUP BY lang ORDER BY lang""",
    "t07_repetition" ->
      """WITH x AS (
           SELECT lang,
             floor(len(list_distinct(string_split_regex(trim(text), '\s+'))) /
               greatest(len(string_split_regex(trim(text), '\s+')), 1) * 10000 + 0.5) / 10000 AS ttr
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           floor(sum(ttr) / count(*) * 10000 + 0.5) / 10000 AS avg_ttr,
           floor(min(ttr) * 10000 + 0.5) / 10000 AS min_ttr,
           CAST(sum(CASE WHEN ttr < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_repetition
         FROM x GROUP BY lang ORDER BY lang""",
    "p01_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
         floor(sum(n_chars) / count(*) * 100 + 0.5) / 100 AS avg_chars
         FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           CASE WHEN lang = 'en' THEN '33333333' ELSE '80000000' END
         GROUP BY lang ORDER BY lang""",
    "t08_gopher_rules" ->
      """WITH x AS (
           SELECT lang,
             len(string_split_regex(trim(text), '\s+')) AS n_w,
             CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
               x -> length(x))) AS DOUBLE) /
               greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_len,
             len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> x IN ('the', 'a'))) AS n_stop,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) /
               greatest(len(string_split_regex(trim(text), '\s+')), 1) AS alpha_ratio
           FROM documents),
         f AS (
           SELECT lang,
             (n_w < 50 OR n_w > 100000) AS f_words,
             (mean_len < 3.0 OR mean_len > 10.0) AS f_wordlen,
             (n_stop < 2) AS f_stop,
             (alpha_ratio < 0.8) AS f_alpha
           FROM x)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
           CAST(sum(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
           CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
           CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
           CAST(sum(CASE WHEN NOT f_words AND NOT f_wordlen AND NOT f_stop
             AND NOT f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         FROM f GROUP BY lang ORDER BY lang""",
    "t09_zipf_rank" ->
      """WITH toks AS (
           SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
         vocab AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rnk
           FROM cnt ORDER BY n DESC, tok LIMIT 30),
         r AS (SELECT t.lang, coalesce(v.rnk, 31) AS rnk
           FROM toks t LEFT JOIN vocab v USING (tok)),
         d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         g AS (SELECT lang, count(*) AS total_tokens,
             floor(CAST(sum(rnk) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS avg_rank,
             floor(CAST(sum(CASE WHEN rnk = 31 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) * 10000 + 0.5) / 10000 AS oov_ratio
           FROM r GROUP BY lang)
         SELECT d.lang, d.n_docs, g.total_tokens, g.avg_rank, g.oov_ratio
         FROM d JOIN g USING (lang) ORDER BY d.lang""",
    // t10: BM25 over the literal term bag {scan, vector, hash} with
    // k1=1.2, b=0.75 and Lucene IDF smoothing — the oracle recomputes
    // the full two-pass formula (global N/avglen/df, then per-doc
    // score) and must reproduce the top-10 under the identical
    // rounded-score-then-doc_id tie contract
    "t10_bm25" ->
      """WITH base AS (
           SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'scan')) AS tf0,
             len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'vector')) AS tf1,
             len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'hash')) AS tf2
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(n_tokens) AS avg_len,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM base),
         scored AS (
           SELECT b.doc_id, b.n_tokens,
             floor((
               ln(1 + (s.n_docs - s.df0 + 0.5) / (s.df0 + 0.5)) * (b.tf0 * 2.2)
                 / (b.tf0 + 1.2 * (0.25 + 0.75 * b.n_tokens / s.avg_len))
               + ln(1 + (s.n_docs - s.df1 + 0.5) / (s.df1 + 0.5)) * (b.tf1 * 2.2)
                 / (b.tf1 + 1.2 * (0.25 + 0.75 * b.n_tokens / s.avg_len))
               + ln(1 + (s.n_docs - s.df2 + 0.5) / (s.df2 + 0.5)) * (b.tf2 * 2.2)
                 / (b.tf2 + 1.2 * (0.25 + 0.75 * b.n_tokens / s.avg_len))
             ) * 10000 + 0.5) / 10000 AS score
           FROM base b, stats s)
         SELECT doc_id, n_tokens, score FROM scored WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT 10""",
    // t11: unigram-LM cross-entropy — the oracle trains the identical
    // add-one-smoothed top-24 unigram model (vocab sized to the
    // 31-distinct-token gate corpus so the OOV class is live) and replays the
    // micronat-scaled (floor(v*1e6+0.5) as BIGINT) order-free
    // summation, so every float total is exact integer arithmetic on
    // both engines; ln sees identical double inputs (the t10
    // precedent: exact-integer-valued ratios)
    "t11_unigram_ce" ->
      """WITH tk AS (SELECT doc_id, lang, source,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         nn AS (SELECT sum(c) AS n FROM cnt),
         vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 24),
         tv AS (SELECT tk.doc_id, tk.lang, tk.source,
             CAST(floor(ln(CAST(nn.n + 25 AS DOUBLE)
                 / CAST(COALESCE(vocab.c, 0) + 1 AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS vs,
             CASE WHEN vocab.c IS NULL THEN 0 ELSE 1 END AS iv
           FROM tk LEFT JOIN vocab USING (tok) CROSS JOIN nn),
         doc AS (SELECT doc_id, lang, source,
             count(*) AS n_tok, CAST(sum(iv) AS BIGINT) AS n_iv,
             CAST(sum(vs) AS DOUBLE) / 1000000 / count(*) AS ce
           FROM tv GROUP BY 1, 2, 3)
         SELECT lang, source, count(*) AS n_docs,
           floor(CAST(sum(CAST(floor(ce * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(*) * 1000 + 0.5) / 1000 AS avg_ce,
           floor(min(ce) * 1000 + 0.5) / 1000 AS min_ce,
           floor(max(ce) * 1000 + 0.5) / 1000 AS max_ce,
           floor((1 - CAST(sum(n_iv) AS DOUBLE) / sum(n_tok)) * 10000 + 0.5)
             / 10000 AS oov_rate
         FROM doc GROUP BY 1, 2 ORDER BY 1, 2""",
    // t12: per-doc token-distribution Shannon entropy — the oracle
    // rebuilds each doc's histogram by unnest+group (hash order) while
    // Spark folds the array in-row (first-occurrence order); both sum
    // the identical integer micronat terms, so the totals agree in
    // any traversal order and the < 3.0 prune flag lands on the same
    // exact double
    "t12_token_entropy" ->
      """WITH tk AS (SELECT doc_id, lang,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT doc_id, lang, tok, count(*) AS c FROM tk GROUP BY 1, 2, 3),
         n AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n FROM c GROUP BY 1),
         h AS (SELECT c.doc_id, c.lang,
             CAST(sum(CAST(floor(CAST(c.c AS DOUBLE) * ln(n.n / c.c) / n.n
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS em
           FROM c JOIN n USING (doc_id) GROUP BY 1, 2),
         e AS (SELECT doc_id, lang, em, CAST(em AS DOUBLE) / 1000000 AS ent FROM h)
         SELECT lang, count(*) AS n_docs,
           floor(CAST(sum(em) AS DOUBLE) / 1000000 / count(*) * 1000 + 0.5) / 1000
             AS avg_entropy,
           floor(min(ent) * 1000 + 0.5) / 1000 AS min_entropy,
           floor(max(ent) * 1000 + 0.5) / 1000 AS max_entropy,
           CAST(sum(CASE WHEN ent < 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
         FROM e GROUP BY 1 ORDER BY 1""",
    // c14: contamination curve — the c01 pipeline replayed at each
    // shingle size, one toks CTE shared; per-doc overlap in integer
    // milli-units before the mean (order-free)
    "c14_contamination_curve" ->
      s"""WITH toks AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
           FROM documents),
         ${Seq(3, 5, 8).map(contamCurveCtes).mkString(",\n         ")}
         ${Seq(3, 5, 8).map(contamCurveSelect).mkString("\n         UNION ALL\n         ")}
         ORDER BY n""",
    // c15: expectation gate — one scalar aggregate per table, report
    // rows stacked from those; clean fixture ⇒ all-pass (the spec
    // plants violations to prove each check fires)
    "c15_validation_gate" ->
      """WITH d AS (
           SELECT count(*) AS n,
             count(*) - count(DISTINCT doc_id) AS v_dup,
             CAST(sum(CASE WHEN text IS NULL OR trim(text) = ''
               THEN 1 ELSE 0 END) AS BIGINT) AS v_empty,
             CAST(sum(CASE WHEN n_chars <> len(text)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_chars,
             CAST(sum(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh')
               THEN 1 ELSE 0 END) AS BIGINT) AS v_lang
           FROM documents),
         en AS (
           SELECT embedding,
             sqrt(list_sum(list_transform(
               CAST(embedding AS DOUBLE[]), x -> x * x))) AS nd
           FROM embeddings),
         e AS (
           SELECT count(*) AS n,
             CAST(sum(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END)
               AS BIGINT) AS v_dim,
             CAST(sum(CASE WHEN len(list_filter(embedding,
               x -> NOT (x - x = 0))) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS v_fin,
             CAST(sum(CASE WHEN NOT (nd - nd = 0) THEN 1
               WHEN CAST(floor(nd * 10000 + 0.5) AS BIGINT) < 9900
                 OR CAST(floor(nd * 10000 + 0.5) AS BIGINT) > 10100
               THEN 1 ELSE 0 END) AS BIGINT) AS v_norm
           FROM en),
         r AS (
           SELECT 'doc_chars_consistent' AS check_name, n AS n_rows,
             v_chars AS n_violations FROM d
           UNION ALL SELECT 'doc_id_unique', n, v_dup FROM d
           UNION ALL SELECT 'doc_lang_known', n, v_lang FROM d
           UNION ALL SELECT 'doc_text_nonempty', n, v_empty FROM d
           UNION ALL SELECT 'emb_dim_uniform', n, v_dim FROM e
           UNION ALL SELECT 'emb_finite', n, v_fin FROM e
           UNION ALL SELECT 'emb_unit_norm', n, v_norm FROM e)
         SELECT check_name, n_rows, n_violations,
           CASE WHEN n_violations = 0 THEN CAST(1 AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS pass
         FROM r ORDER BY check_name""",
    // d16: staged dedup impact — the d01 fingerprint rule and the
    // d08 exact-jaccard closure replayed verbatim, drop flags applied
    // cumulatively; stage rows from one flagged frame
    "d16_dedup_funnel" ->
      s"""WITH RECURSIVE $shingleCtes,
         $closureCtes,
         fpr AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             len(string_split_regex(trim(text), '\\s+')) AS nt
           FROM documents),
         exdrop AS (SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY fp
               ORDER BY doc_id) AS rn FROM fpr) WHERE rn > 1),
         neardrop AS (SELECT id AS doc_id FROM labels WHERE id <> cluster),
         m AS (SELECT f.doc_id, f.nt,
             CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
             CASE WHEN nd2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS nd
           FROM fpr f LEFT JOIN exdrop e USING (doc_id)
           LEFT JOIN neardrop nd2 USING (doc_id))
         SELECT '0_corpus' AS stage, count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS sum_tokens FROM m
         UNION ALL SELECT '1_exact', count(*), CAST(sum(nt) AS BIGINT)
           FROM m WHERE ex = 0
         UNION ALL SELECT '2_near_dup', count(*), CAST(sum(nt) AS BIGINT)
           FROM m WHERE ex = 0 AND nd = 0
         ORDER BY stage""",
    // d17: threshold sensitivity curve — the quadratic exact pairs
    // bucketed by milli-Jaccard cut; empty cuts keep a zero row, mean
    // is a floor division so every cell is an exact integer
    "d17_threshold_curve" ->
      s"""WITH $shingleCtes,
         jp AS (
           SELECT doc_a, doc_b,
             CAST(floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) AS BIGINT) AS jm
           FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
           WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) >= 600),
         grid AS (SELECT CAST(v AS BIGINT) AS t_milli
           FROM (VALUES (600), (700), (800), (900)) g(v)),
         agg AS (
           SELECT t_milli, count(*) AS n_pairs, sum(jm) AS s
           FROM grid JOIN jp ON jm >= t_milli GROUP BY 1)
         SELECT g.t_milli, CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(s, 0) AS BIGINT) AS sum_j_milli,
           CAST(CASE WHEN coalesce(n_pairs, 0) = 0 THEN 0
             ELSE s // n_pairs END AS BIGINT) AS mean_j_milli
         FROM grid g LEFT JOIN agg USING (t_milli) ORDER BY t_milli""",
    // d15: disjoint 16-token block dedup — removed iff not the global
    // first occurrence of the block content in (doc_id, bi) order
    // (within-doc repeats INCLUDED — contrast c12's cross-doc-only
    // rule); only affected docs reported, text rebuilt positionally
    "d15_block_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         blk AS (
           SELECT doc_id, (i - 1) // 16 AS bi, array_to_string(w[i:i+15], ' ') AS b
           FROM toks, UNNEST(range(1, len(w) + 1, 16)) AS t(i)),
         r AS (
           SELECT doc_id, bi, b,
             row_number() OVER (PARTITION BY b ORDER BY doc_id, bi) AS rn
           FROM blk),
         hits AS (SELECT doc_id, bi FROM r WHERE rn > 1)
         SELECT k.doc_id, count(*) AS n_blocks,
           CAST(sum(CASE WHEN h.bi IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           coalesce(string_agg(CASE WHEN h.bi IS NULL THEN k.b END,
             ' ' ORDER BY k.bi), '') AS kept_text
         FROM blk k
         LEFT JOIN hits h ON h.doc_id = k.doc_id AND h.bi = k.bi
         WHERE k.doc_id IN (SELECT doc_id FROM hits)
         GROUP BY k.doc_id ORDER BY k.doc_id""",
    // s16: fixed-radius cosine search — membership thresholds the
    // integer ten-thousandths similarity (the s01 r4 grid), mean sums
    // those integer units so accumulation order cannot matter
    "s16_range_search" ->
      """WITH q AS (
           SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         s AS (
           SELECT q_id,
             CAST(floor(list_cosine_similarity(q_emb,
               CAST(embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS sim4
           FROM embeddings, q WHERE vec_id <> q_id)
         SELECT q_id, count(*) AS n_in_range,
           CAST(max(sim4) AS DOUBLE) / 10000 AS max_sim,
           floor(CAST(sum(sim4) AS DOUBLE) / 10000 / count(*) * 10000 + 0.5)
             / 10000 AS avg_sim
         FROM s WHERE sim4 >= 2500
         GROUP BY q_id ORDER BY q_id""",
    // t13: per-doc cross-doc duplication fraction — windows carry
    // multiplicity (one per position); "repeated" means the 5-gram
    // appears in >= 2 DISTINCT docs (the d11 cross-doc contract)
    "t13_ngram_novelty" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         wins AS (
           SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
           FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
           WHERE len(w) >= 5),
         rep AS (
           SELECT g FROM (SELECT DISTINCT doc_id, g FROM wins)
           GROUP BY g HAVING count(*) >= 2)
         SELECT w.doc_id, count(*) AS n_windows, count(r.g) AS n_dup,
           floor((1 - count(r.g) / count(*)) * 10000 + 0.5) / 10000 AS novelty
         FROM wins w LEFT JOIN rep r ON r.g = w.g
         GROUP BY w.doc_id ORDER BY w.doc_id""",
    // t14: per-source KL vs the corpus unigram mixture — each term is
    // floored to integer nano-nats before summation (order-free), and
    // ln's input is one division of two exact integer-product doubles
    "t14_source_kl" ->
      """WITH tk AS (SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         gcnt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM cnt GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS ng FROM cnt),
         st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types FROM cnt GROUP BY source),
         nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         terms AS (
           SELECT c.source,
             CAST(floor((CAST(c.c AS DOUBLE) / s2.n_tokens) *
               ln(CAST(c.c * t2.ng AS DOUBLE) / CAST(s2.n_tokens * g2.g AS DOUBLE))
               * 1000000000 + 0.5) AS BIGINT) AS tn
           FROM cnt c JOIN gcnt g2 ON g2.tok = c.tok
           JOIN st s2 ON s2.source = c.source, tot t2),
         k AS (SELECT source, CAST(sum(tn) AS BIGINT) AS tnn
           FROM terms GROUP BY source)
         SELECT st.source, nd.n_docs, st.n_tokens, st.n_types,
           floor(CAST(k.tnn AS DOUBLE) / 1000000000 * 10000 + 0.5) / 10000 AS kl
         FROM st JOIN k USING (source) JOIN nd USING (source)
         ORDER BY st.source""",
    // p06: DSIR importance scoring — the oracle trains the identical
    // two add-one unigram LMs (corpus top-24 vocab, target = src0),
    // rebuilds each token's log-ratio from the same exact-integer
    // products, and replays the micronat-scaled order-free summation
    "p06_dsir" ->
      """WITH tk AS (SELECT doc_id, lang, source,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT tok, count(*) AS cr FROM tk GROUP BY tok),
         tcnt AS (SELECT tok, count(*) AS ct FROM tk WHERE source = 'src0'
           GROUP BY tok),
         nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM cnt),
         nt AS (SELECT CAST(COALESCE(sum(ct), 0) AS BIGINT) AS nt FROM tcnt),
         vocab AS (SELECT c.tok, c.cr, COALESCE(t2.ct, 0) AS ct
           FROM (SELECT tok, cr FROM cnt ORDER BY cr DESC, tok LIMIT 24) c
           LEFT JOIN tcnt t2 USING (tok)),
         lam AS (SELECT tok,
             CAST(floor(ln(CAST((ct + 1) * (nr.nr + 25) AS DOUBLE)
               / CAST((cr + 1) * (nt.nt + 25) AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT) AS lam
           FROM vocab, nr, nt),
         oov AS (SELECT CAST(floor(ln(CAST(nr.nr + 25 AS DOUBLE)
             / CAST(nt.nt + 25 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS oov_lam
           FROM nr, nt),
         d AS (SELECT tk.doc_id, tk.lang, tk.source,
             COALESCE(lam.lam, oov.oov_lam) AS l
           FROM tk LEFT JOIN lam USING (tok) CROSS JOIN oov),
         doc AS (SELECT doc_id, lang, source, count(*) AS n_tok,
             CAST(sum(l) AS BIGINT) AS lm
           FROM d GROUP BY 1, 2, 3),
         dm AS (SELECT lang, source,
             CAST(floor(CAST(lm AS DOUBLE) / 1000000 / n_tok * 1000000 + 0.5)
               AS BIGINT) AS dm
           FROM doc),
         tot AS (SELECT CAST(sum(dm) AS BIGINT) AS tot,
             count(*) AS n_corpus FROM dm)
         SELECT lang, source, count(*) AS n_docs,
           floor(CAST(sum(dm) AS DOUBLE)
             / 1000000 / count(*) * 10000 + 0.5) / 10000 AS avg_logratio,
           CAST(sum(CASE WHEN dm * n_corpus > tot THEN 1 ELSE 0 END) AS BIGINT)
             AS n_target_like,
           floor(CAST(sum(CASE WHEN dm * n_corpus > tot THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS target_like_rate
         FROM dm, tot GROUP BY 1, 2 ORDER BY 1, 2""",
    // p07: exactly k docs per source by md5 draw — the first 13 hex
    // chars order lexicographically == numerically (fixed-width
    // lowercase hex); ties break on doc_id, matching the bounded-heap
    // aggregator's (score, id) contract
    "p07_stratified_fixed" ->
      """WITH r AS (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id)
               AS rnk
           FROM documents)
         SELECT source, rnk, doc_id FROM r WHERE rnk <= 5
         ORDER BY source, rnk""",
    // p08: epoch plan from the p03 temperature rule — sqrt weights
    // floored to integer micro-units BEFORE the cross-strata sum, so
    // every division sees exact-integer doubles (order-free)
    "p08_epoch_plan" ->
      """WITH c AS (
           SELECT lang, count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
           FROM documents GROUP BY lang),
         w AS (SELECT lang, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT) AS s6
           FROM c),
         tot AS (SELECT CAST(sum(s6) AS BIGINT) AS sw,
             CAST(sum(n_tokens) AS BIGINT) AS nc FROM w)
         SELECT lang, n_docs, n_tokens,
           floor(CAST(s6 AS DOUBLE) / sw * 10000 + 0.5) / 10000 AS weight,
           CAST(floor(CAST(2 * nc * s6 AS DOUBLE) / CAST(sw AS DOUBLE))
             AS BIGINT) AS alloc_tokens,
           floor(CAST(2 * nc * s6 AS DOUBLE) / CAST(sw * n_tokens AS DOUBLE)
             * 10000 + 0.5) / 10000 AS epochs
         FROM w, tot ORDER BY lang""",
    "p03_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         r AS (SELECT lang, n_docs,
             least(1.0, 0.35 * sqrt(CAST((SELECT max(n_docs) FROM c) AS DOUBLE)
               / n_docs)) AS rate
           FROM c),
         s AS (SELECT d.lang, count(*) AS n_sampled
           FROM documents d JOIN r USING (lang)
           WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
             CASE WHEN CAST(floor(rate * 4294967296) AS BIGINT) >= 4294967296 THEN 'g'
               ELSE printf('%08x', CAST(floor(rate * 4294967296) AS BIGINT)) END
           GROUP BY d.lang)
         SELECT r.lang, r.n_docs,
           floor(r.rate * 10000 + 0.5) / 10000 AS rate,
           coalesce(s.n_sampled, 0) AS n_sampled
         FROM r LEFT JOIN s ON r.lang = s.lang ORDER BY r.lang""",
    // p04: the exact-n deterministic draw — both engines take the n
    // smallest md5(doc_id) values, so the hash certifies the exact
    // membership (and with it the cross-engine stability contract)
    // p05: quality-weighted draw — the oracle recomputes the t02
    // c18: the datasheet — every figure recomputed with the SAME
    // definitions its standalone queries certify (d01 fingerprint,
    // d04 exact-ground-truth pairs via the shared shingle CTEs, t02
    // quality in integer milli-units)
    "c18_datasheet" ->
      s"""WITH $shingleCtes,
         qv AS (SELECT
             floor(least(len(string_split_regex(trim(text), '\\s+')) / 100.0, 1.0) *
               (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x IN ('the', 'a'))) AS DOUBLE) /
                 greatest(len(string_split_regex(trim(text), '\\s+')), 1) * 10000 + 0.5) / 10000)
               * 10000 + 0.5) / 10000 AS q
           FROM documents),
         b AS (SELECT count(*) AS n_docs,
             sum(len(string_split_regex(trim(text), '\\s+'))) AS n_tokens,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             count(*) - count(DISTINCT
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
               AS n_dup
           FROM documents),
         sq AS (SELECT sum(CAST(floor(q * 10000 + 0.5) AS BIGINT)) AS s
           FROM qv)
         SELECT * FROM (
           SELECT 'mean_quality_milli' AS metric,
             CAST(s * 1000 // (n_docs * 10000) AS BIGINT) AS value
           FROM b CROSS JOIN sq
           UNION ALL SELECT 'n_docs', CAST(n_docs AS BIGINT) FROM b
           UNION ALL SELECT 'n_exact_dup_docs', CAST(n_dup AS BIGINT) FROM b
           UNION ALL SELECT 'n_langs', CAST(n_langs AS BIGINT) FROM b
           UNION ALL SELECT 'n_neardup_pairs',
             (SELECT CAST(count(*) AS BIGINT) FROM ($exactJaccardSelect))
           UNION ALL SELECT 'n_sources', CAST(n_sources AS BIGINT) FROM b
           UNION ALL SELECT 'n_tokens', CAST(n_tokens AS BIGINT) FROM b)
         ORDER BY metric""",
    // p09: systematic resampling multiplicities — LONG div/mod for
    // the base count, the Bernoulli residual accept as exact HUGEINT
    // products (d·W < rem·2³², the decimal(38,0) compare Spark-side)
    "p09_resample_mult" ->
      """WITH q AS (
           SELECT lang, doc_id,
             CAST(floor(
               floor(least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) *
                 (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                   x -> x IN ('the', 'a'))) AS DOUBLE) /
                   greatest(len(string_split_regex(trim(text), '\s+')), 1) * 10000 + 0.5) / 10000)
                 * 10000 + 0.5) / 10000
               * 10000 + 0.5) AS BIGINT) AS qi
           FROM documents),
         t AS (SELECT sum(qi) AS w, count(*) AS n FROM q),
         m AS (SELECT lang, w, (2 * n * qi) // w AS base,
             (2 * n * qi) % w AS rem,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS d
           FROM q CROSS JOIN t),
         mm AS (SELECT lang, base +
             CASE WHEN CAST(d AS HUGEINT) * w < CAST(rem AS HUGEINT) * 4294967296
               THEN 1 ELSE 0 END AS mult
           FROM m)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(mult) AS BIGINT) AS n_emitted,
           CAST(max(mult) AS BIGINT) AS max_mult,
           CAST(sum(CASE WHEN mult = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
         FROM mm GROUP BY lang ORDER BY lang""",
    // p10: fold = which of k equal md5-hex ranges the CUSTOMER key
    // falls in — cutpoints are the same Scala-computed literals the
    // Spark when-chain uses, compared as strings in both engines
    "p10_kfold" -> p10OracleSql(k = 5),
    // p11: the md5-hex Poisson draw replayed verbatim — same cut
    // literals (floor(CDF_k·2³²) as %08x), same string compares, so
    // weights agree bit-for-bit; boot_mean is one rounded division
    "p11_bootstrap" ->
      """WITH rep AS (
           SELECT o_orderkey, o_totalprice, r
           FROM orders, range(32) AS t(r)),
         h AS (SELECT o_totalprice, r,
             substring(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
               CAST(r AS VARCHAR)), 1, 8) AS h
           FROM rep),
         w AS (SELECT o_totalprice, r,
             (CASE WHEN h >= '5e2d58d8' THEN 1 ELSE 0 END) +
             (CASE WHEN h >= 'bc5ab1b1' THEN 1 ELSE 0 END) +
             (CASE WHEN h >= 'eb715e1d' THEN 1 ELSE 0 END) +
             (CASE WHEN h >= 'fb239797' THEN 1 ELSE 0 END) +
             (CASE WHEN h >= 'ff1025f5' THEN 1 ELSE 0 END) +
             (CASE WHEN h >= 'ffd90f3b' THEN 1 ELSE 0 END) AS w
           FROM h)
         SELECT r, round(sum(w * o_totalprice) / sum(w), 2) AS boot_mean,
           CAST(sum(w) AS BIGINT) AS boot_n
         FROM w GROUP BY r ORDER BY r""",
    // m13: every per-format geometry/frame sum recomputed from the
    // fixture formulas none of the five header parsers see; the
    // mismatch column's expected value IS zero (the gate's claim)
    "m13_mixed_ingest" ->
      """WITH img AS (SELECT doc_id, doc_id % 29 + 4 AS w,
             doc_id % 19 + 4 AS h
           FROM documents WHERE doc_id % 3 = 0)
         SELECT * FROM (
           SELECT 'avi' AS fmt, count(*) AS n,
             CAST(0 AS BIGINT) AS n_mismatch,
             CAST(sum(doc_id % 15 + 4) AS BIGINT) AS sum_width,
             CAST(sum(doc_id % 9 + 4) AS BIGINT) AS sum_height,
             CAST(sum(doc_id % 4 + 2) AS BIGINT) AS sum_frames
           FROM documents WHERE doc_id % 3 = 2
           UNION ALL
           SELECT 'bmp', count(*), CAST(0 AS BIGINT),
             CAST(sum(w) AS BIGINT), CAST(sum(h) AS BIGINT), count(*)
           FROM img WHERE doc_id % 4 >= 2
           UNION ALL
           SELECT 'jpg', count(*), CAST(0 AS BIGINT),
             CAST(sum(w) AS BIGINT), CAST(sum(h) AS BIGINT), count(*)
           FROM img
           UNION ALL
           SELECT 'png', count(*), CAST(0 AS BIGINT),
             CAST(sum(w) AS BIGINT), CAST(sum(h) AS BIGINT), count(*)
           FROM img WHERE doc_id % 4 < 2
           UNION ALL
           SELECT 'wav', count(*), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(sum(doc_id % 50 + 10) AS BIGINT)
           FROM documents WHERE doc_id % 3 = 1)
         ORDER BY fmt""",
    // m14: MJPEG-in-AVI end-to-end — geometry and frame cardinality
    // replayed from the vidParams formula the demux/decode chain never
    // sees; `faithful` is the decode-fidelity claim (every frame's max
    // |MJPEG − lossless GIF reference| ≤ 16 gray levels — measured
    // corpus max is 8 at quality 0.95, and a frame misalignment would
    // produce ≥233), so its expected value IS true on every row
    "m14_mjpeg_frames" ->
      """WITH vid AS (
           SELECT doc_id, (doc_id % 15) + 4 AS w, (doc_id % 9) + 4 AS h,
             (doc_id % 4) + 2 AS nf
           FROM documents WHERE doc_id % 3 = 2)
         SELECT doc_id AS media_id, CAST(f.v AS BIGINT) AS frame_no,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           TRUE AS faithful
         FROM vid, UNNEST(range(0, nf)) AS f(v)
         ORDER BY media_id, frame_no""",
    // quality formula per doc, applies the identical md5-hex draw
    // threshold at that per-doc rate, and averages r4-scaled integer
    // units so both engines' means are order-free exact
    "p05_weighted_sample" ->
      """WITH q AS (
           SELECT lang, doc_id,
             floor(least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) *
               (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> x IN ('the', 'a'))) AS DOUBLE) /
                 greatest(len(string_split_regex(trim(text), '\s+')), 1) * 10000 + 0.5) / 10000)
               * 10000 + 0.5) / 10000 AS qv
           FROM documents),
         k AS (SELECT lang, qv,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
               CASE WHEN CAST(floor(qv * 4294967296) AS BIGINT) >= 4294967296 THEN 'g'
                 ELSE printf('%08x', CAST(floor(qv * 4294967296) AS BIGINT)) END
             THEN 1 ELSE 0 END AS kept
           FROM q)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_sampled,
           floor(CAST(sum(CAST(floor(qv * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000 / count(*) * 10000 + 0.5) / 10000 AS avg_q_all,
           floor(CAST(sum(CASE WHEN kept = 1
               THEN CAST(floor(qv * 10000 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
             / 10000 / greatest(sum(kept), 1) * 10000 + 0.5) / 10000 AS avg_q_sampled
         FROM k GROUP BY lang ORDER BY lang""",
    "p04_fixed_sample" ->
      """WITH drawn AS (
           SELECT doc_id, lang FROM documents
           ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100)
         SELECT lang, count(*) AS n_docs,
           string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
         FROM drawn GROUP BY lang ORDER BY lang""",
    "d01_exact_dedup" ->
      """SELECT lang, count(*) AS n_unique FROM (
           SELECT lang, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1
         GROUP BY lang ORDER BY lang""",
    "d02_dup_groups" ->
      """SELECT fp, count(*) AS n, string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids FROM (
           SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM documents)
         GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    // d04 oracle = the exact-Jaccard ground truth: MinHash-LSH with
    // 16 bands x 2 rows has collision probability 0.9992 at jaccard
    // 0.6 and 1-8e-8 at 0.8 (all pairs above the 0.6 output threshold
    // in this corpus sit at >= 0.9), so the sketch recalls the exact
    // answer; the exact verify keeps precision at 1.
    "d04_minhash_lsh" ->
      s"""WITH $shingleCtes
         $exactJaccardSelect""",
    "d03_ngram_jaccard" ->
      s"""WITH $shingleCtes
         $exactJaccardSelect""",
    // d05b: the simhash sketch's verify stage against exact n-gram
    // Jaccard — on this corpus every J >= 0.6 pair sits at hamming <= 6
    // (OpsSpec asserts the precondition at the gate SF), so the result
    // equals the exact pairwise answer: the oracle is d03's SQL and
    // the hash-match certifies the sketch's precision AND its recall
    // at the operating point (the d04 ground-truth pattern).
    "d05b_simhash_verified" ->
      s"""WITH $shingleCtes
         $exactJaccardSelect""",
    // d09: the exact pair universe restricted to pairs whose LATER doc
    // is in the new batch (doc_b >= 400) — the d04 ground-truth-oracle
    // argument applies unchanged (the sketch recalls all J >= 0.6
    // pairs on this corpus; verify is exact).
    "d09_incremental_dedup" ->
      s"""WITH $shingleCtes
         SELECT doc_a, doc_b, floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 AS jaccard
         FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         WHERE floor(i / (x.n_sh + y.n_sh - i) * 1000 + 0.5) / 1000 >= 0.6
           AND doc_b >= 400
         ORDER BY doc_a, doc_b""",
    // d07: clusters from the SCALE path (MinHash-LSH edges + iterative
    // min-label propagation) vs a recursive-CTE transitive closure over
    // the EXACT-Jaccard edges — the hash-match certifies both that the
    // sketch edges equal the exact edges (d04's argument) and that the
    // Spark-side label propagation computes the true connected
    // components.
    "d07_dup_clusters" ->
      s"""WITH RECURSIVE $shingleCtes,
         $closureCtes
         SELECT cluster, count(*) AS n_members,
           string_agg(id, ',' ORDER BY id) AS doc_ids
         FROM labels GROUP BY cluster ORDER BY cluster""",
    // d08: the end-state dedup — survivors after dropping every
    // non-canonical cluster member; same recursive-CTE closure as d07
    // plus an anti-join, so the hash-match certifies the actual
    // "which documents remain" decision.
    "d08_dedup_survivors" ->
      s"""WITH RECURSIVE $shingleCtes,
         $closureCtes,
         dropped AS (SELECT id FROM labels WHERE id <> cluster)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)
         GROUP BY lang ORDER BY lang""",
    // d10: d08's closure with the quality-aware canonical election —
    // rank cluster members by (quality desc, doc_id asc) and drop all
    // but rank 1; survivor avg quality is in the output, so the hash
    // certifies WHICH member each cluster kept, not just how many
    "d10_survivors_by_quality" ->
      s"""WITH RECURSIVE $shingleCtes,
         $closureCtes,
         qual AS (
           SELECT doc_id,
             floor(least(len(string_split_regex(trim(text), '\\s+')) / 100.0, 1.0) *
               (1.0 - floor(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x IN ('the', 'a'))) AS DOUBLE) /
                 greatest(len(string_split_regex(trim(text), '\\s+')), 1) * 10000 + 0.5) / 10000)
               * 10000 + 0.5) / 10000 AS q
           FROM documents),
         ranked AS (
           SELECT l.id,
             row_number() OVER (PARTITION BY l.cluster ORDER BY q.q DESC, l.id) AS rnk
           FROM labels l JOIN qual q ON q.doc_id = l.id),
         dropped AS (SELECT id FROM ranked WHERE rnk > 1)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           floor(sum(CAST(floor(q.q * 10000 + 0.5) AS BIGINT)) / 10000.0
             / count(*) * 10000 + 0.5) / 10000 AS avg_quality
         FROM documents d JOIN qual q ON q.doc_id = d.doc_id
         WHERE d.doc_id NOT IN (SELECT id FROM dropped)
         GROUP BY lang ORDER BY lang""",
    // d11: the oracle derives the spans as STRINGS and groups on them
    // directly — certifying that the Spark side's hash-only shuffle +
    // survivor text re-attach reproduces plain string grouping
    "d11_repeated_spans" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS wd FROM documents),
         sp AS (
           SELECT DISTINCT doc_id, array_to_string(wd[i:i+7], ' ') AS span
           FROM toks, UNNEST(range(1, len(wd) - 6)) AS t(i)
           WHERE len(wd) >= 8)
         SELECT span, count(*) AS n_docs, min(doc_id) AS first_doc
         FROM sp GROUP BY span HAVING count(*) >= 2
         ORDER BY span""",
    // d06's oracle is the exact brute force. Unlike d04 (whose S-curve
    // argument holds at ANY corpus), LSH recall at cosine 0.9 is ~0.93
    // per true pair, so on a corpus dense in borderline near-dups the
    // sketch could drop a pair the oracle keeps; on THIS corpus (max
    // pair cosine 0.52) both sides are exactly empty, and the planted-
    // pair spec in OpsSpec asserts recall 1.0 on synthetic dups — the
    // honest statement of what the hash-match certifies.
    "d06_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor(list_cosine_similarity(a.emb, b.emb) * 10000 + 0.5) / 10000 AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE floor(list_cosine_similarity(a.emb, b.emb) * 10000 + 0.5) / 10000 >= 0.9
         ORDER BY vec_a, vec_b""",
    // s05 oracle replicates the same IVF structure (deterministic
    // centroids, nprobe cells) — approximation is in the algorithm,
    // not the engines, so results hash-match exactly.
    // s11: the persisted-index query returns byte-identical results to
    // s05 (same codebook, same probes, same exact re-rank — only the
    // candidate scan changes, to partition-pruned index directories),
    // so its oracle is the s05 IVF replication verbatim.
    "s11_ivf_indexed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < 132),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qc AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < 10),
         probes AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qc) WHERE rn <= 4),
         cand AS (SELECT q_id, c_id FROM assign JOIN probes USING (cell) WHERE q_id <> c_id),
         sc AS (SELECT q_id, c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // s26: the s11 oracle with the tombstone filter on the CANDIDATE
    // stream only — deleted vectors still shaped cell assignment
    // (codebook rows aren't corpus members), exactly the Spark side's
    // anti-join placement; ranks re-close over the survivors
    "s26_ivf_tombstoned" -> s26Sql,
    // s27 reads the COMPACTED layout through the plain s11 path;
    // results are identical to s26 by construction (same survivors,
    // same probes, same exact re-ranking), so the shared oracle
    // certifies the compaction lost and resurrected nothing
    "s27_ivf_compacted" -> s26Sql,
    // s28 resolves through the flipped epoch pointer to the same
    // compacted layout — the third member of the shared-oracle family
    "s28_ivf_epoch" -> s26Sql,
    // s20: the oracle replays BOTH routing levels with the same
    // r4-rounded sims and (sim desc, id asc) ties — route fine→coarse
    // (rn=1), coarse probes (rn<=3), fine probes over the ROUTED
    // subset only (rn<=4), then s05's exact scan of the probed cells.
    // A one-level oracle would hash-differ precisely when the router
    // hides a fine cell — the two-level recall loss is the contract.
    "s20_ivf2_topk" -> s20Sql,
    // s22 reads the PERSISTED index through the router; results are
    // identical to s20 by construction (same probes, same exact
    // re-ranking), so the s20 oracle certifies the persisted path too
    // — the s11/s05 sharing pattern
    "s22_routed_indexed" -> s20Sql,
    // s29: s20's routing text over the tombstone-filtered candidate
    // stream — valid in BOTH epochs (compaction folds the same slice)
    "s29_routed_current" -> s29Sql,
    // s30: s29's text + the label membership on the SAME candidate
    // stream (filter before the ranking window — the filter-before-
    // heap contract the Spark side pins in-plan); valid in both epochs
    "s30_filtered_routed" -> s30Sql,
    // s31: the unrolled-Lloyd trained codebook driving s20's routing
    // text — the oracle retrains, the Spark side serves the persisted
    // artifact, so the hash-match certifies train→persist→route
    "s31_routed_trained" -> s31Sql,
    // s32: the oracle RETRAINS the codebook (the s06 Lloyd CTEs) and
    // aggregates the same integer ten-thousandths grid the artifact
    // serves — persisted ≡ retrained cross-engine per gate run
    "s32_codebook_datasheet" -> s32OracleSql(nlist = 32, iters = 2),
    // s33 reads the PERSISTED trained-cell layout through the router;
    // identical to s31 by construction (same codebook, same
    // assignment body, same routing), so s31's unrolled-Lloyd oracle
    // certifies the persisted path too — the s11/s05 sharing pattern
    "s33_trained_indexed" -> s31Sql,
    // s34: s31's trained routing text + the label membership on the
    // same candidate stream — filter before the ranking window
    "s34_filtered_trained" -> s34Sql,
    // s35: s31's text + the tombstone slice — valid in BOTH epochs of
    // the trained family (compaction folds the same slice)
    "s35_trained_current" -> s35Sql,
    // s36: tombstones + label membership on s31's candidate stream —
    // the full production composition, valid in both epochs
    "s36_production_read" -> s36Sql,
    // s37: s31's text + tombstone + shadow exclusion on the index
    // stream, the fresh-buffer brute branch unioned before the ONE
    // rank window — valid in both epochs (the buffer never compacts
    // into this generation by definition)
    "s37_shadowed_current" -> s37Sql,
    "s05_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
           WHERE vec_id >= 100 AND vec_id < 132),
         ac AS (SELECT a.vec_id AS c_id, cent_id,
             floor(list_cosine_similarity(a.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e a, cent),
         assign AS (SELECT c_id, cent_id AS cell FROM (
           SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         qc AS (SELECT q.vec_id AS q_id, cent_id,
             floor(list_cosine_similarity(q.emb, cent_emb) * 10000 + 0.5) / 10000 AS sim_c
           FROM e q, cent WHERE q.vec_id < 10),
         probes AS (SELECT q_id, cent_id AS cell FROM (
           SELECT q_id, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_c DESC, cent_id) AS rn
           FROM qc) WHERE rn <= 4),
         cand AS (SELECT q_id, c_id FROM assign JOIN probes USING (cell) WHERE q_id <> c_id),
         sc AS (SELECT q_id, c_id,
             floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS sim
           FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // s08: scalar quantization is deterministic arithmetic (per-dim
    // min/max, floor(x+0.5) code assignment, dequantized cosine), so
    // the oracle replicates the whole quantize → dequantize → rank
    // path and the hash-match certifies it bit-for-bit — approximation
    // lives in the ALGORITHM, not the engines (the s05 pattern).
    "s08_sq_topk" -> s08Sql,
    // s12: the oracle replays BOTH stages — s08's quantized ranking cut
    // at k·expand = 20 (identical tie contract: sim desc, c_id), then
    // exact cosine over those candidates only, re-ranked to 5. A
    // single-stage exact oracle would hash-differ precisely when the
    // quantized retrieve drops a true neighbor at the k' boundary —
    // the recall loss is part of the operator's contract, not noise.
    "s12_rerank_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         dims AS (SELECT i, min(emb[i]) AS mn, max(emb[i]) AS mx
           FROM e, UNNEST(range(1, len(emb) + 1)) AS t(i) GROUP BY i),
         params AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
           FROM dims),
         dq AS (SELECT vec_id,
             list_transform(range(1, len(emb) + 1), i ->
               CASE WHEN maxs[i] = mins[i] THEN mins[i]
                 ELSE mins[i] + floor((emb[i] - mins[i]) / (maxs[i] - mins[i]) * 254 + 0.5)
                   * (maxs[i] - mins[i]) / 254 END) AS dq
           FROM e, params),
         q AS (SELECT vec_id AS q_id, dq AS q_dq FROM dq WHERE vec_id < 10),
         sc AS (SELECT q_id, vec_id AS c_id,
             floor(list_cosine_similarity(q_dq, dq) * 10000 + 0.5) / 10000 AS sim
           FROM dq, q WHERE vec_id <> q_id),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM sc),
         cands AS (SELECT q_id, c_id FROM r WHERE rnk <= 20),
         qe AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         rs AS (SELECT c.q_id, c.c_id,
             floor(list_cosine_similarity(qe.q_emb, CAST(ce.embedding AS DOUBLE[])) * 10000 + 0.5) / 10000 AS sim
           FROM cands c
           JOIN qe ON qe.q_id = c.q_id
           JOIN embeddings ce ON ce.vec_id = c.c_id),
         rr AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM rs)
         SELECT q_id, rnk, c_id, sim FROM rr WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // s10: s01's exact-cosine structure with the metadata PRE-filter in
    // the candidate CTE — the oracle certifies that filtered search
    // filters before ranking (a post-filtered top-k would hash-differ
    // whenever a query's unfiltered neighborhood is label-diverse).
    "s10_filtered_topk" ->
      """WITH q AS (
           SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         s AS (
           SELECT q_id, vec_id AS c_id,
             floor(list_cosine_similarity(q_emb, CAST(embedding AS DOUBLE[])) * 10000 + 0.5) / 10000 AS sim
           FROM embeddings, q WHERE vec_id <> q_id AND label = 2),
         r AS (
           SELECT q_id, c_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM s)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // s09: PQ is deterministic arithmetic end to end (seed-sliced
    // codebooks, r4-pinned argmin encode, j-ordered ADC folds), so the
    // oracle replays codebook → encode → ADC → rank and the hash-match
    // certifies the whole compressed-search path (the s05/s08 pattern).
    "s09_pq_topk" -> s09Sql,
    "s01_brute_topk" -> s01Sql,
    // s04 = s01's semantics on the native-expression + bounded-heap
    // path; identical results, identical oracle
    "s04_native_topk" ->
      """WITH q AS (
           SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         s AS (
           SELECT q_id, vec_id AS c_id,
             floor(list_cosine_similarity(q_emb, CAST(embedding AS DOUBLE[])) * 10000 + 0.5) / 10000 AS sim
           FROM embeddings, q WHERE vec_id <> q_id),
         r AS (
           SELECT q_id, c_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
           FROM s)
         SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "s03_label_stats" ->
      """WITH e AS (
           SELECT label,
             floor(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) * 10000 + 0.5) / 10000 AS norm
           FROM embeddings)
         SELECT label, count(*) AS n, floor(sum(norm) / count(*) * 10000 + 0.5) / 10000 AS avg_norm,
           floor(min(norm) * 10000 + 0.5) / 10000 AS min_norm, floor(max(norm) * 10000 + 0.5) / 10000 AS max_norm
         FROM e GROUP BY label ORDER BY label""",
    "m01_media_meta" ->
      """SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         count(*) AS n, CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
         CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
         FROM documents GROUP BY 1 ORDER BY kind""",
    "q30_salted_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // m04: real ImageIO decode + integer nearest-neighbor downscale;
    // the oracle replicates the NN source-pixel selection (x*w//out_w)
    // over the formula pixels, so out_pixel_sum certifies the resample
    // read real decoded pixels, not metadata.
    "m04_resize" ->
      """WITH img AS (
           SELECT doc_id, (doc_id % 29) + 4 AS w, (doc_id % 19) + 4 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
           FROM documents WHERE doc_id % 3 = 0),
         dims AS (
           SELECT doc_id, w, h, ch, least(w, 8) AS out_w,
             greatest(1, (h * least(w, 8)) // w) AS out_h
           FROM img),
         px AS (
           SELECT doc_id,
             sum((7*((x.v*w)//out_w) + 13*((y.v*h)//out_h) + 17*b.v + doc_id) % 256) AS psum
           FROM dims, UNNEST(range(0, out_w)) AS x(v), UNNEST(range(0, out_h)) AS y(v),
                UNNEST(range(0, ch)) AS b(v)
           GROUP BY doc_id)
         SELECT d.doc_id AS media_id, CAST(d.w AS BIGINT) AS w,
           CAST(d.h AS BIGINT) AS h, CAST(d.out_w AS BIGINT) AS out_w,
           CAST(d.out_h AS BIGINT) AS out_h, CAST(px.psum AS BIGINT) AS out_pixel_sum
         FROM dims d JOIN px USING (doc_id) ORDER BY media_id""",
    // m05: real WAV round-trip — javax.sound writes RIFF/PCM-16 files
    // from a doc_id-derived sample formula, then parses them back; the
    // oracle recomputes the formula sum.
    "m05_audio_decode" ->
      """WITH au AS (
           SELECT doc_id, (doc_id % 50) + 10 AS frames
           FROM documents WHERE doc_id % 3 = 1),
         sm AS (
           SELECT doc_id, sum(((doc_id * 31 + t.v * 7) % 65536) - 32768) AS ssum
           FROM au, UNNEST(range(0, frames)) AS t(v)
           GROUP BY doc_id)
         SELECT a.doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
           16 AS bits, CAST(a.frames AS BIGINT) AS n_frames,
           CAST(sm.ssum AS BIGINT) AS sample_sum
         FROM au a JOIN sm USING (doc_id) ORDER BY media_id""",
    // m06: real multi-frame round-trip — the Spark side writes animated
    // GIFs (JDK sequence writer, identity gray palette) and decodes
    // them back frame by frame, with the frame COUNT read from the
    // container; the oracle replays the per-frame pixel formula, so
    // the hash certifies count, dimensions, and every decoded sample
    "m06_gif_frames" -> multiFrameSql,
    // m07: consecutive-frame absolute pixel deltas over the decoded
    // GIF sequence — the oracle replays the per-frame formula's
    // difference, so the hash certifies the temporal pairing AND both
    // frames' decoded samples
    "m07_scene_deltas" ->
      """WITH vid AS (
           SELECT doc_id, (doc_id % 15) + 4 AS w, (doc_id % 9) + 4 AS h,
             (doc_id % 4) + 2 AS nf
           FROM documents WHERE doc_id % 3 = 2),
         fr AS (
           SELECT doc_id, w, h, f.v AS frame_no
           FROM vid, UNNEST(range(1, nf)) AS f(v)),
         px AS (
           SELECT doc_id, frame_no,
             sum(abs((7*x.v + 13*y.v + 23*frame_no + doc_id) % 256
                   - (7*x.v + 13*y.v + 23*(frame_no-1) + doc_id) % 256)) AS dsum
           FROM fr, UNNEST(range(0, w)) AS x(v), UNNEST(range(0, h)) AS y(v)
           GROUP BY doc_id, frame_no)
         SELECT f.doc_id AS media_id, CAST(f.frame_no AS BIGINT) AS frame_no,
           CAST(px.dsum AS BIGINT) AS delta_sum
         FROM fr f JOIN px ON px.doc_id = f.doc_id AND px.frame_no = f.frame_no
         ORDER BY media_id, frame_no""",
    // m08: aHash near-dup pairs — the oracle recomputes the pixel
    // formula the decode path never sees (8×8 NN squash, band-mean
    // floor-div, threshold cleared of division as g·64 > Σg) and
    // counts differing bits per pair quadratically; the banded Spark
    // path must return the identical set (4×16 banding is pigeonhole-
    // complete at hamming ≤ 3)
    "m08_image_neardups" ->
      """WITH img AS (SELECT doc_id AS media_id,
             doc_id % 29 + 4 AS w, doc_id % 19 + 4 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
           FROM documents WHERE doc_id % 3 = 0),
         pb AS (SELECT media_id, ch, i.v AS i,
             (7 * ((i.v % 8) * w // 8) + 13 * ((i.v // 8) * h // 8)
               + 17 * b.v + media_id) % 256 AS v
           FROM img, UNNEST(range(64)) AS i(v), UNNEST(range(ch)) AS b(v)),
         px AS (SELECT media_id, i, CAST(sum(v) // max(ch) AS BIGINT) AS g
           FROM pb GROUP BY media_id, i),
         tot AS (SELECT media_id, sum(g) AS tot FROM px GROUP BY media_id),
         bits AS (SELECT px.media_id, px.i,
             CASE WHEN px.g * 64 > tot.tot THEN 1 ELSE 0 END AS bit
           FROM px JOIN tot USING (media_id)),
         pairs AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
             CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT)
               AS hamming
           FROM bits a JOIN bits b ON a.i = b.i AND a.media_id < b.media_id
           GROUP BY 1, 2)
         SELECT media_a, media_b, hamming FROM pairs
         WHERE hamming <= 3 ORDER BY 1, 2""",
    // m09: the oracle recomputes the PCM formula (which the decode
    // path never sees) per window-bit and the full quadratic hamming;
    // Spark's 4x16 banding is pigeonhole-complete at <= 3 so the sets
    // match exactly — certifies WAV round-trip + envelope + banding
    "m09_audio_neardups" ->
      """WITH m AS (SELECT doc_id AS id, CAST(256 + doc_id % 64 AS BIGINT) AS n
           FROM documents WHERE doc_id % 3 = 1),
         au AS (SELECT id, n, id AS media_id, 0 AS gain FROM m
           UNION ALL SELECT id, n, id + 1000000, 1 FROM m),
         samp AS (SELECT media_id, n, gain, id,
             t.v AS t, t.v * 64 // n AS wi,
             ((id * 31 + t.v * 7) % 65536) - 32768 AS v0
           FROM au, UNNEST(range(n)) AS t(v)),
         gv AS (SELECT media_id, gain, wi,
             CAST(floor(v0 / (1 + 3 * (((id * 2654435761) >> wi) & 1)))
               AS BIGINT) AS vg
           FROM samp),
         sv AS (SELECT media_id, wi, CASE WHEN gain = 1
             THEN CAST(floor(vg / 2.0) AS BIGINT) ELSE vg END AS v
           FROM gv),
         win AS (SELECT media_id, wi, sum(abs(v)) AS s
           FROM sv GROUP BY 1, 2),
         tot AS (SELECT media_id, sum(s) AS tot FROM win GROUP BY 1),
         bits AS (SELECT w.media_id, w.wi,
             CASE WHEN w.s * 64 > tot.tot THEN 1 ELSE 0 END AS bit
           FROM win w JOIN tot USING (media_id)),
         pairs AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
             CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT)
               AS hamming
           FROM bits a JOIN bits b ON a.wi = b.wi AND a.media_id < b.media_id
           GROUP BY 1, 2)
         SELECT media_a, media_b, hamming FROM pairs
         WHERE hamming <= 3 ORDER BY 1, 2""",
    "m03_frames" ->
      """SELECT doc_id AS media_id, CAST(f.frame_no AS BIGINT) AS frame_no,
         CAST(f.frame_no * floor(octet_length(encode(text)) / 4) AS BIGINT) AS frame_offset
         FROM documents, UNNEST(range(0, 4)) AS f(frame_no)
         WHERE doc_id % 3 = 2
         ORDER BY media_id, frame_no""",
  )
}
