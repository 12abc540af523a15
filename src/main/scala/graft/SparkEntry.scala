package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EventOps, Layout, Nonparam, Relational, TimeSeries, WordCount}
import graft.ext.{Dedup, Learn, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.mr.MapReduce

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY §2 appears in `queries`, and every
  * SQL-expressible one has a matching DuckDB oracle in `oracleSql` with
  * IDENTICAL column names (the driver sorts columns by name and
  * hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    Relational.q3Shipping(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── reference surface: word count (P1+A3+A5+A6+O1) ──
    "wordcount" -> ((s, dir) => WordCount.wordCount(Tables.documents(s, dir), "text")),
    // same semantics through the faithful MR-compat layer (§2.10 U1/U2)
    "mr_wordcount" -> ((s, dir) => {
      import s.implicits._
      val input = Tables.documents(s, dir)
        .select(col("doc_id").cast("string"), col("text")).as[(String, String)]
      MapReduce.runJob(input, "wordcount", "wordcount").toDF()
    }),
    // second registered plugin pair through the SAME runJob surface
    // (U3 proven generically, not just for wordcount): inverted index —
    // token → sorted distinct posting list of doc ids
    "mr_inverted_index" -> ((s, dir) => {
      import s.implicits._
      val input = Tables.documents(s, dir)
        .select(col("doc_id").cast("string"), col("text")).as[(String, String)]
      MapReduce.runJob(input, "inverted_index", "posting_list").toDF()
    }),
    // third plugin pair, run END-TO-END through the reference's file
    // ABI: explicit reducer count (the `-reducers N` path), the
    // multi-part TSV sink with `<outputKey>-reduce-<i>` renames
    // (A7/A8), then the renamed parts read back as the result — so the
    // oracle hash verifies the full job→sink→files→parse loop, not
    // just the in-memory frame. The parsed parts (one row per distinct
    // token) are collected into a local frame so the sink directory
    // can be deleted before the result is returned.
    "mr_token_docfreq" -> ((s, dir) => {
      import s.implicits._
      val input = Tables.documents(s, dir)
        .select(col("doc_id").cast("string"), col("text")).as[(String, String)]
      val job = MapReduce.runJob(input, "inverted_index", "distinct_count",
        numPartitions = Some(4))
      val work = java.nio.file.Files.createTempDirectory("graft-mr-df")
      try {
        val out = work.toString + "/out"
        MapReduce.writeTsv(job, out, single = false, outputKey = Some("docfreq"))
        val parsed = s.read.text(out + "/docfreq-reduce-*")
          .select(split(col("value"), "\t").getItem(0).as("key"),
            split(col("value"), "\t").getItem(1).as("value"))
          .orderBy("key")
        s.createDataFrame(java.util.Arrays.asList(parsed.collect(): _*), parsed.schema)
      } finally graft.streaming.BoundedReplay.deleteStaged(work)
    }),
    // prefix listing (S7/P2/F8)
    "list_prefix" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("source").startsWith("src1"))
        .select("doc_id", "source").orderBy("doc_id")),
    // ── engine-provided relational operators ──
    "q1_pricing_summary" -> Relational.q1PricingSummary _,
    "q3_shipping" -> Relational.q3Shipping _,
    "q5_region_revenue" -> Relational.q5RegionRevenue _,
    "topk_orders" -> Relational.topkOrders _,
    "window_rank_orders" -> Relational.windowRankOrders _,
    "grouped_topk_agg" -> Relational.groupedTopkAgg _,
    "window_running_qty" -> Relational.windowRunningQty _,
    "distinct_segments" -> Relational.distinctSegments _,
    "setop_union_nations" -> Relational.setopUnionNations _,
    "setop_intersect_nations" -> Relational.setopIntersectNations _,
    "scalar_string_funcs" -> Relational.scalarStringFuncs _,
    "scalar_string_funcs2" -> Relational.scalarStringFuncs2 _,
    "scalar_datetime_funcs" -> Relational.scalarDatetimeFuncs _,
    "agg_stats_acctbal" -> Relational.aggStatsAcctbal _,
    "stats_corr_lineitem" -> Relational.statsCorrLineitem _,
    "outlier_zscore" -> Relational.outlierZscore _,
    "histogram_totalprice" -> Relational.histogramTotalprice _,
    "percentile_price" -> Relational.percentilePrice _,
    "quantile_approx_audit" -> Relational.quantileApproxAudit _,
    // PII compliance pass: typed counts + fixed-order redaction
    "pii_scan" -> graft.ext.Pii.piiScan _,
    "pii_redact" -> graft.ext.Pii.piiRedact _,
    // frame-level perceptual near-dup (dHash per 256-byte frame)
    "frame_phash_pairs" -> ((s, dir) =>
      graft.ext.Dedup.framePhashPairs(s, dir)),
    // asset-level overlap verdict rolled up from the frame pairs
    "frame_overlap_assets" -> graft.ext.Dedup.frameOverlapAssets _,
    "rollup_revenue" -> Relational.rollupRevenue _,
    "cube_status_priority" -> Relational.cubeStatusPriority _,
    "semi_anti_parts" -> Relational.semiAntiParts _,
    "fuzzy_name_pairs" -> Relational.fuzzyNamePairs _,
    "left_join_order_counts" -> Relational.leftJoinOrderCounts _,
    "collect_nations" -> Relational.collectNations _,
    "pivot_status" -> Relational.pivotStatus _,
    // ── event/time/JSON operators ──
    "asof_error_click" -> EventOps.asofErrorClick _,
    "range_join_events" -> EventOps.rangeJoinEvents _,
    // native as-of join operator (custom LogicalPlan/Strategy/SparkPlan)
    "asof_native" -> EventOps.asofNative _,
    "asof_native_outer" -> EventOps.asofNativeOuter _,
    "asof_native_tolerance" -> EventOps.asofNativeTolerance _,
    "asof_native_forward" -> EventOps.asofNativeForward _,
    "malformed_filter" -> EventOps.malformedFilter _,
    "json_extract_events" -> EventOps.jsonExtract _,
    "time_window_events" -> EventOps.timeWindow _,
    "sessionize_events" -> EventOps.sessionize _,
    // Structured Streaming twin run to completion over a bounded file
    // stream — oracled against the SAME SQL as the batch window agg
    "stream_window_events" -> ((s, dir) =>
      graft.streaming.EventStream.windowedCountsOverFiles(s, dir)),
    // stateful streaming sessionizer over a bounded stream (sentinel
    // flush closes trailing sessions) ≡ the batch gap sessionization
    "stream_sessionize_events" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeOverFiles(s, dir)),
    // ── LLM-pipeline: text analysis ──
    "token_count" -> TextAnalysis.tokenCount _,
    "text_quality" -> TextAnalysis.textQuality _,
    // the quality knob's operating curve: doc/token retention per cut
    "quality_cut_tradeoff" -> TextAnalysis.qualityCutTradeoff _,
    "doc_length_deciles" -> TextAnalysis.docLengthDeciles _,
    "lang_id" -> TextAnalysis.langId _,
    "doc_fingerprint" -> TextAnalysis.fingerprint _,
    "array_funcs" -> TextAnalysis.arrayFuncs _,
    // ── LLM-pipeline: deduplication ──
    "dedup_exact" -> Dedup.exact _,
    "dedup_bag" -> Dedup.bag _,
    "dedup_minhash_signatures" -> Dedup.minhashSignatures _,
    "dedup_shingle_signatures" -> ((s, dir) => Dedup.shingleSignatures(s, dir)),
    "dedup_minhash_pairs" -> ((s, dir) => Dedup.minhashPairs(s, dir)),
    "dedup_simhash" -> Dedup.simhash _,
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    "dedup_phash_pairs" -> ((s, dir) => Dedup.phashPairs(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    // full-corpus LSH candidates verified by exact trigram Jaccard
    "dedup_lsh_verified" -> ((s, dir) => Dedup.lshVerifiedJaccard(s, dir)),
    // the same pairs served from the DURABLE artifact (load-or-build):
    // oracled against the identical SQL as dedup_lsh_verified, proving
    // artifact == recompute bit-for-bit
    "dedup_edges_reuse" -> ((s, dir) => Dedup.lshVerifiedFromArtifact(s, dir)),
    // per-community excision report (keeper, removable tokens, edge
    // cohesion) over the artifact-served near-dup graph
    "dedup_community_profile" -> Dedup.dedupCommunityProfile _,
    // query-directed containment provenance: top base docs containing
    // each panel doc's trigram set
    "containment_search" -> Dedup.containmentSearch _,
    // robust-winnowing fingerprints (the MOSS scheme) + cross-doc
    // sharing report — the positional near-dup signal MinHash lacks
    "winnow_fingerprints" -> Dedup.winnowFingerprints _,
    // analytic banding planner for the family's actual (b, r): the
    // collision-probability curve + threshold, scale-free
    "lsh_plan_curve" -> Dedup.lshPlanCurve _,
    // worst PplSpanW-token window per doc under the bounded unigram
    // model — span-level quality localization (fixture vocab bound)
    "ppl_span_outliers" -> ((s, dir) =>
      TextAnalysis.pplSpanOutliers(s, dir, TextAnalysis.PplFixtureVocabV)),
    // LSH-bucketed variant is the headline (no cross product); the
    // brute-force exact form stays as the test-only cross-check
    "dedup_embedding" -> ((s, dir) => Dedup.embeddingNearDupLsh(s, dir)),
    // transitive dup-group resolution (iterative min-label propagation)
    "dedup_groups" -> ((s, dir) => Dedup.duplicateGroups(s, dir)),
    // incremental CC maintenance: delta fold into standing labels
    "dedup_groups_delta" -> ((s, dir) => Dedup.dedupGroupsDelta(s, dir)),
    // density communities of the near-dup graph (LPA splits chains CC merges)
    "dedup_communities_lpa" -> ((s, dir) => Dedup.dedupCommunitiesLpa(s, dir)),
    // k-core coreness: core boilerplate vs periphery via h-index rounds
    "dedup_kcore" -> ((s, dir) => Dedup.dedupKcore(s, dir)),
    // the on-ingest twin: edges streamed per arrival, same fold+oracle
    "stream_groups_monitor" ->
      ((s, dir) => graft.streaming.DocStream.streamingGroupsMonitor(s, dir)),
    // ── LLM-pipeline: similarity search ──
    "sim_brute_topk" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "sim_lsh_buckets" -> Similarity.lshBuckets _,
    "sim_ann_lsh" -> ((s, dir) => Similarity.annLsh(s, dir)),
    "sim_ivf_assign" -> Similarity.ivfAssign _,
    "kmeans_inertia" -> Similarity.kmeansInertia _,
    "dim_recall_audit" -> ((s, dir) => Similarity.dimRecallAudit(s, dir)),
    "l_diversity_audit" -> Relational.lDiversityAudit _,
    "ivf_recall_sweep" -> ((s, dir) => Similarity.ivfRecallSweep(s, dir)),
    "sim_ann_ivf" -> ((s, dir) => Similarity.annIvf(s, dir)),
    // same probe plan served through the DURABLE index artifact
    // (train-once, reuse-across-sessions; staleness-guarded)
    "ann_index_reuse" -> ((s, dir) => Similarity.annIvfIndexed(s, dir)),
    // ── LLM-pipeline: multimodal columns ──
    "multimodal_meta" -> Multimodal.meta _,
    "multimodal_features" -> Multimodal.features _,
    // ── LLM-pipeline: deterministic sampling ──
    "sample_bernoulli" -> ((s, dir) => Sampling.bernoulliSample(s, dir)),
    "sample_stratified" -> ((s, dir) => Sampling.stratifiedSample(s, dir)),
    "sample_weighted" -> ((s, dir) => Sampling.weightedSample(s, dir)),
    "chi2_priority_status" -> Relational.chi2PriorityStatus _,
    "zorder_lineitem" -> Layout.zorderLineitem _,
    "compaction_plan" -> Layout.compactionPlan _,
    "clustering_depth" -> Layout.clusteringDepth _,
    "mi_lang_source" -> TextAnalysis.miLangSource _,
    "winsorize_prices" -> Relational.winsorizePrices _,
    "inverted_index" -> ((s, dir) => TextAnalysis.invertedIndex(s, dir)),
    "regression_qty_price" -> Relational.regressionQtyPrice _,
    "table_checksum" -> Relational.tableChecksum _,
    "stream_outlier_score" -> ((s, dir) =>
      graft.streaming.EventStream.outlierScoreOverFiles(s, dir)),
    "dedup_keep_best" -> Dedup.keepBest _,
    // fixture-pinned vocab bound (16 < the corpus's ~31 tokens) so the
    // top-V cut and its OOV bucket are live paths in the oracled run
    "perplexity_unigram" -> ((s, dir) =>
      TextAnalysis.perplexityUnigram(s, dir, TextAnalysis.PplFixtureVocabV)),
    "kl_source_divergence" -> TextAnalysis.klSourceDivergence _,
    "funnel_events" -> EventOps.funnelEvents _,
    "session_paths" -> ((s, dir) => EventOps.sessionPaths(s, dir)),
    // behavioral telemetry → (context, target) next-event training pairs
    "session_examples" -> EventOps.sessionExamples _,
    "gap_percentiles" -> EventOps.gapPercentiles _,
    "frame_dedup" -> Multimodal.frameDedup _,
    "embedding_centroids" -> Similarity.embeddingCentroids _,
    "zipf_profile" -> TextAnalysis.zipfProfile _,
    // vocab-truncation planning: coverage of token occurrences by the
    // top-k vocabulary (fixture-pinned top-V so the cut is live)
    "vocab_coverage_curve" -> ((s, dir) => TextAnalysis.vocabCoverageCurve(
      s, dir, TextAnalysis.VocabCovFixtureTopV)),
    // dedup impact accounting: per-source duplicate token inflation
    "dedup_token_inflation" -> Dedup.dedupTokenInflation _,
    // vocabulary growth exponent over doc-prefix buckets (Heaps' law)
    "heaps_law_fit" -> TextAnalysis.heapsLawFit _,
    // Church–Gale burstiness panel for the top-volume terms
    "term_burstiness" -> TextAnalysis.termBurstiness _,
    // per-source language-mix entropy + majority share
    "source_lang_mix" -> TextAnalysis.sourceLangMix _,
    // on-ingest twin: streamed (source,lang) counts + the shared fold
    "stream_lang_mix_monitor" -> (graft.streaming.DocStream.streamingLangMixMonitor _),
    // SimHash hamming→exact-Jaccard calibration curve
    "simhash_calibration" -> Dedup.simhashCalibration _,
    "vocab_richness" -> TextAnalysis.vocabRichness _,
    "span_corruption" -> TextAnalysis.spanCorruption _,
    "gini_sources" -> TextAnalysis.giniSources _,
    "bpe_encode" -> TextAnalysis.bpeEncode _,
    // tokenizer training curve: compression per learned-merge prefix
    "bpe_merge_curve" -> TextAnalysis.bpeMergeCurve _,
    "bm25_search" -> TextAnalysis.bm25Search _,
    "kruskal_wallis_spend" -> Nonparam.kruskalWallisSpend _,
    "numeric_profile_quantiles" -> Relational.numericProfileQuantiles _,
    "rolling_active_users" -> EventOps.rollingActiveUsers _,
    "fk_integrity_audit" -> Relational.fkIntegrityAudit _,
    "corpus_summary" -> TextAnalysis.corpusSummary _,
    "mad_price" -> Relational.madPrice _,
    "sample_coordinated" -> ((s, dir) => Sampling.coordinatedSample(s, dir)),
    // ── streaming dedup (incremental exact dedup, deterministic keeper) ──
    "stream_dedup_docs" -> ((s, dir) =>
      graft.streaming.DocStream.streamingDedup(s, dir)),
    // scan-on-ingest PII monitor: per-source running compliance posture
    "stream_pii_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingPiiMonitor(s, dir)),
    // ── scalar battery 3: numeric / conditional / bitwise ──
    "scalar_numeric_funcs" -> Relational.scalarNumericFuncs _,
    // ── window battery + explicit grouping sets ──
    "window_funcs_orders" -> Relational.windowFuncsOrders _,
    "grouping_sets_orders" -> Relational.groupingSetsOrders _,
    // ── TPC-H classics: pure-scan agg, 4-way join top-k, promo ratio ──
    "q6_forecast_revenue" -> Relational.q6ForecastRevenue _,
    "q10_returned_items" -> Relational.q10ReturnedItems _,
    "q14_promo_effect" -> Relational.q14PromoEffect _,
    // ── TPC-H round 3: HAVING-subquery join, 6-way nation trade,
    //    disjunctive predicates, histogram-of-aggregates ──
    "q18_large_orders" -> Relational.q18LargeOrders _,
    "q7_nation_volume" -> Relational.q7NationVolume _,
    "q19_disjunctive_revenue" -> Relational.q19DisjunctiveRevenue _,
    "q13_order_distribution" -> Relational.q13OrderDistribution _,
    // ── LLM-pipeline round 3: decontamination, repetition quality,
    //    grouped top-k vocabulary ──
    "decontaminate_ngrams" -> TextAnalysis.decontaminate _,
    "boilerplate_ngrams" -> TextAnalysis.boilerplateNgrams _,
    "dsir_weights" -> TextAnalysis.dsirWeights _,
    "source_overlap" -> TextAnalysis.sourceOverlap _,
    "ngram_novelty" -> TextAnalysis.ngramNovelty _,
    "pareto_revenue" -> Relational.paretoRevenue _,
    "dedup_semantic" -> Similarity.semanticDedup _,
    "quality_repetition" -> TextAnalysis.qualityRepetition _,
    "top_tokens_per_lang" -> TextAnalysis.topTokensPerLang _,
    // ── embedding compression audit ──
    "embedding_quantize" -> Similarity.embeddingQuantize _,
    "embedding_normalize" -> Similarity.embeddingNormalize _,
    "quantize_embeddings" -> Similarity.quantizeEmbeddings _,
    "triplet_mining" -> Similarity.tripletMining _,
    "sample_temperature" -> Sampling.temperatureSample _,
    "pq_codes" -> Similarity.pqCodes _,
    "sim_ann_pq" -> Similarity.annPq _,
    "sim_ann_sq8" -> ((sp, dir) => Similarity.annSq8(sp, dir)),
    "sim_ann_ivfpq" -> Similarity.annIvfPq _,
    // the re-rank stage that RECOVERS the recall ivfpq loses: exact
    // re-scoring of the ADC top-k·4 pool (candidate-bounded join)
    "sim_ann_ivfpq_refine" -> Similarity.annIvfPqRefine _,
    "rrf_fusion" -> Similarity.rrfFusion _,
    "frame_sample" -> Multimodal.frameSample _,
    "vocab_coverage" -> TextAnalysis.vocabCoverage _,
    "curriculum_order" -> Sampling.curriculumOrder _,
    "feature_hashing" -> TextAnalysis.featureHashing _,
    "scalar_math_funcs" -> Relational.scalarMathFuncs _,
    "hard_negative_mining" -> Similarity.hardNegativeMining _,
    "hard_negatives_ann" -> Similarity.hardNegativesAnn _,
    "triplet_mining_ann" -> Similarity.tripletMiningAnn _,
    "knn_audit_ann" -> Learn.knnAuditAnn _,
    "window_func_battery" -> Relational.windowFuncBattery _,
    "unpivot_metrics" -> Relational.unpivotMetrics _,
    "grouping_sets_revenue" -> Relational.groupingSetsRevenue _,
    // ── composed curation pipeline (all four stages under the oracle) ──
    "pipeline_curate" -> ext.Pipeline.curateDocs _,
    // per-stage dedup-campaign attribution: every cut point oracled
    "pipeline_waterfall" -> ext.Pipeline.pipelineWaterfall _,
    // ── TPC-H round 4: EXISTS semi join with cross-table predicate,
    //    global-max scalar subquery, decorrelated per-group average,
    //    global-average + anti join ──
    "q4_priority_exists" -> Relational.q4PriorityExists _,
    "q8_market_share" -> Relational.q8MarketShare _,
    "q12_priority_shipping" -> Relational.q12PriorityShipping _,
    "q21_waiting_supplier" -> Relational.q21WaitingSupplier _,
    "q15_top_supplier" -> Relational.q15TopSupplier _,
    "q17_small_quantity" -> Relational.q17SmallQuantity _,
    "q22_idle_customers" -> Relational.q22IdleCustomers _,
    // ── relational round 5: full outer join, EXCEPT ALL, native
    //    session_window, time-grid gap-fill, column profiler, arg-max ──
    "full_outer_spend" -> Relational.fullOuterSpend _,
    "setop_except_all" -> Relational.setopExceptAll _,
    "sessionize_native" -> EventOps.sessionizeNative _,
    "events_gapfill" -> EventOps.eventsGapfill _,
    "skyline_parts" -> Relational.skylineParts _,
    "scd2_upsert" -> Relational.scd2Upsert _,
    "pagerank_nations" -> ((s, dir) => graft.ext.Graph.pagerankNations(s, dir)),
    "triangle_nations" -> graft.ext.Graph.triangleNations _,
    // density communities via synchronous weighted label propagation
    "lpa_communities" -> graft.ext.Graph.lpaCommunities _,
    "hits_nations" -> graft.ext.Graph.hitsNations _,
    // TextRank keywords: PageRank centrality on the word co-occurrence graph
    "textrank_keywords" -> graft.ext.Graph.textrankKeywords _,
    "bfs_trade_hops" -> graft.ext.Graph.bfsTradeHops _,
    "event_transitions" -> EventOps.eventTransitions _,
    "attribution_touch" -> EventOps.attributionTouch _,
    "snapshot_reconstruct" -> EventOps.snapshotReconstruct _,
    "interval_coverage" -> EventOps.intervalCoverage _,
    "acf_daily_revenue" -> TimeSeries.acfDailyRevenue _,
    "trend_robust" -> TimeSeries.trendRobust _,
    "cusum_changepoint" -> TimeSeries.cusumChangepoint _,
    "ewma_daily_revenue" -> TimeSeries.ewmaDailyRevenue _,
    "seasonality_dow" -> TimeSeries.seasonalityDow _,
    "nb_lang_confusion" -> Learn.nbLangConfusion _,
    "logistic_returns" -> Learn.logisticReturns _,
    "knn_label_audit" -> Learn.knnLabelAudit _,
    "best_split_stump" -> Learn.bestSplitStump _,
    "mann_whitney_spend" -> Nonparam.mannWhitneySpend _,
    "ks_test_events" -> Nonparam.ksTestEvents _,
    "psi_drift_price" -> Nonparam.psiDriftPrice _,
    "benford_price" -> Nonparam.benfordPrice _,
    "weighted_median_price" -> Nonparam.weightedMedianPrice _,
    "copurchase_pairs" -> Nonparam.copurchasePairs _,
    // apriori-filtered directed rules with confidence + lift
    "assoc_rules_parts" -> Nonparam.assocRulesParts _,
    // Poisson-bootstrap CI: the distributed bootstrap, hash-deterministic
    "bootstrap_mean_ci" -> Nonparam.bootstrapMeanCi _,
    "dedup_cdc_chunks" -> graft.ext.Dedup.cdcChunks _,
    "collocations_pmi" -> TextAnalysis.collocationsPmi _,
    // fixture-pinned bigram bound (256 < ~916 distinct) — see unigram
    "perplexity_bigram" -> ((s, dir) =>
      TextAnalysis.perplexityBigram(s, dir, TextAnalysis.PplFixtureBigramB)),
    "char_entropy" -> TextAnalysis.charEntropy _,
    "bpe_merges" -> TextAnalysis.bpeMerges _,
    // incremental BPE: delta word counts folded into the standing
    // pair statistics; cascade from the first diverging round only
    "bpe_merges_delta" -> TextAnalysis.bpeMergesDelta _,
    "token_budget_select" -> TextAnalysis.tokenBudgetSelect _,
    "outlier_iqr" -> Relational.outlierIqr _,
    "ttest_urgent_spend" -> Relational.ttestUrgentSpend _,
    "srm_check" -> Relational.srmCheck _,
    "power_mde" -> Relational.powerMde _,
    // causal 2x2: difference-in-differences with broadcast stats
    "did_segment_spend" -> Relational.didSegmentSpend _,
    // CUPED pre-period covariate adjustment: shrink the SE, keep the mean
    "cuped_segment_spend" -> Relational.cupedSegmentSpend _,
    "ivm_priority_revenue" -> Relational.ivmPriorityRevenue _,
    "rfm_segments" -> Relational.rfmSegments _,
    "k_anonymity_audit" -> Relational.kAnonymityAudit _,
    "pca_power_embeddings" -> Similarity.pcaPowerEmbeddings _,
    "minhash_error_audit" -> ((s, dir) => Dedup.minhashErrorAudit(s, dir)),
    "sketch_kmv_distinct" -> graft.ext.Sketches.kmvDistinct _,
    "sketch_cms_heavy_hitters" -> graft.ext.Sketches.cmsHeavyHitters _,
    "sketch_bloom_audit" -> graft.ext.Sketches.bloomFilterAudit _,
    "sketch_hll_distinct" -> graft.ext.Sketches.hllDistinct _,
    "sketch_hll_merge" -> graft.ext.Sketches.hllMergeSources _,
    "sketch_kmv_overlap" -> graft.ext.Sketches.kmvOverlap _,
    "sketch_join_size" -> graft.ext.Sketches.joinSizeEstimate _,
    // bottom-k-by-hash quantile sketch: sample vs exact order stats
    "sketch_quantile_price" -> graft.ext.Sketches.quantileSketchPrice _,
    // per-source quantile sketches folded to the corpus estimate
    "sketch_quantile_merge" -> graft.ext.Sketches.quantileSketchMerge _,
    "rank_eval_ndcg" -> ((s: SparkSession, dir: String) =>
      graft.ext.Similarity.rankEvalNdcg(s, dir)),
    "profile_lineitem" -> Relational.profileLineitem _,
    "argmax_customer" -> Relational.argmaxCustomer _,
    "scalar_regex_funcs" -> Relational.scalarRegexFuncs _,
    "agg_conditional" -> Relational.aggConditional _,
    "skew_salted_agg" -> Relational.skewSaltedAgg _,
    "shuffle_skew_audit" -> Relational.shuffleSkewAudit _,
    "join_fanout_profile" -> Relational.joinFanoutProfile _,
    // LEFT SEMI stream-stream join (attributed errors, emitted once)
    "stream_interval_join_semi" -> ((s, dir) =>
      graft.streaming.EventStream.intervalJoinSemiOverFiles(s, dir)),
    "quantile_grid_price" -> Relational.quantileGridPrice _,
    "window_range_frame" -> EventOps.windowRangeFrame _,
    "cohort_retention" -> EventOps.cohortRetention _,
    // censoring-aware time-to-event: Kaplan-Meier survival curve
    "survival_km" -> EventOps.survivalKm _,
    "multimodal_frames" -> Multimodal.frames _,
    // the resize verb: strided decimation with verifiable output bytes
    "media_downsample" -> Multimodal.mediaDownsample _,
    // CLIP-style caption↔asset hygiene: within-pair cosine vs the
    // exact cross-pair null (moment algebra, no pairwise term)
    "caption_frame_alignment" -> Multimodal.captionFrameAlignment _,
    // cross-modal retrieval: per-caption top-k assets in the shared
    // space + diagonal recall audit (the pair-BUILDING twin of the
    // alignment audit)
    "caption_asset_topk" -> Multimodal.captionAssetTopK _,
    // the LSH-multiprobe scale path for the same retrieval, with the
    // per-caption recall-vs-exact acceptance audit in the row
    "caption_asset_topk_ann" -> Multimodal.captionAssetTopKAnn _,
    // LEFT OUTER stream-stream join (watermark-flushed non-matches)
    "stream_interval_join_outer" -> ((s, dir) =>
      graft.streaming.EventStream.intervalJoinOuterOverFiles(s, dir)),
    // FULL OUTER stream-stream join (non-matches flushed on BOTH sides)
    "stream_interval_join_full" -> ((s, dir) =>
      graft.streaming.EventStream.intervalJoinFullOverFiles(s, dir)),
    "embedding_dim_profile" -> Similarity.embeddingDimProfile _,
    // watermark-bounded streaming key dedup (dropDuplicatesWithinWatermark)
    "stream_distinct_keys" -> ((s, dir) =>
      graft.streaming.EventStream.distinctKeysOverFiles(s, dir)),
    // sliding (overlapping) windowed counts — 1h window, 15min slide
    "stream_window_sliding" -> ((s, dir) =>
      graft.streaming.EventStream.slidingCountsOverFiles(s, dir)),
    "sim_recall_audit" -> ((s, dir) => Similarity.annRecallAudit(s, dir)),
    // ── TPC-H round 5: the five partsupp queries over a lineitem-derived
    //    partsupp (min-cost supplier, product profit, important stock,
    //    supplier counts, excess stock) — completes all 22 ──
    "q2_min_cost_supplier" -> Relational.q2MinCostSupplier _,
    "q9_product_profit" -> Relational.q9ProductProfit _,
    "q11_important_stock" -> Relational.q11ImportantStock _,
    "q16_supplier_counts" -> Relational.q16PartSupplierCounts _,
    "q20_excess_suppliers" -> Relational.q20ExcessSuppliers _,
    // ── LLM-pipeline round 4: salient terms, context-window chunking,
    //    source-mix rebalancing ──
    "tfidf_top_terms" -> TextAnalysis.tfidfTopTerms _,
    "doc_chunks" -> TextAnalysis.docChunks _,
    "doc_pack" -> TextAnalysis.docPack _,
    "padding_waste_buckets" -> TextAnalysis.paddingWasteBuckets _,
    "kappa_lang_agreement" -> TextAnalysis.kappaLangAgreement _,
    "sample_rebalance" -> ((s, dir) => Sampling.rebalanceSample(s, dir)),
    "dataset_split" -> Sampling.datasetSplit _,
    // stream-stream interval join (watermark-bounded state both sides)
    "stream_interval_join" -> ((s, dir) =>
      graft.streaming.EventStream.intervalJoinOverFiles(s, dir)),
    // STREAMING as-of join: O(1) floor-click state per user, verified
    // against the same oracle as the batch as-of window form
    "stream_asof_join" -> ((s, dir) =>
      graft.streaming.EventStream.asofOverFiles(s, dir)),
    // stream-static dimension enrichment + re-aggregation
    "stream_static_join" -> ((s, dir) =>
      graft.streaming.EventStream.streamStaticJoinOverFiles(s, dir)),
    // split × dup-group leakage audit (train/eval contamination check)
    "split_leakage_audit" -> ((s, dir) => Dedup.splitLeakageAudit(s, dir)),
    // ...and the FIX it gates toward: split by group representative
    "group_safe_split" -> ((s, dir) => Dedup.groupSafeSplit(s, dir)),
    // est-threshold calibration: precision/recall vs exact-Jaccard truth
    "dedup_threshold_sweep" -> ((s, dir) => Dedup.thresholdSweep(s, dir)),
    // per-reason curation audit (first-failing-rule cascade)
    "quality_filter_reasons" -> TextAnalysis.qualityFilterReasons _,
    // dup-group size histogram + per-source corpus profile
    "dedup_group_sizes" -> ((s, dir) => Dedup.duplicateGroupSizes(s, dir)),
    "source_quality_profile" -> TextAnalysis.sourceQualityProfile _,
    // Spark 4 transformWithState sessionizer (RocksDB-backed v2 state)
    "stream_sessionize_tws" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeTwsOverFiles(s, dir)),
    // ── round 6: version diff, containment near-dup, embedding outliers ──
    "snapshot_diff" -> Relational.snapshotDiff _,
    "dedup_containment" -> ((s, dir) => Dedup.containmentPairs(s, dir)),
    "embedding_outliers" -> Similarity.embeddingOutliers _,
    // reliability diagram + ECE/Brier for the logistic probe (shared model)
    "calibration_bins" -> Learn.calibrationBins _,
    "auc_returns" -> Learn.aucReturns _,
    // split-conformal interval: distribution-free coverage wrapper
    "conformal_price_interval" -> Learn.conformalPriceInterval _,
    // t-closeness: distributional disclosure, the third privacy rung
    "t_closeness_audit" -> Relational.tClosenessAudit _,
    // per-language fertility/compression under the learned BPE merges
    "tokenizer_fertility" -> TextAnalysis.tokenizerFertility _,
    // embedding-space eval contamination: nearest train vector per eval item
    "decontaminate_semantic" -> Similarity.decontaminateSemantic _,
    // deterministic training-shard assignment + order-free set digests
    "shard_manifest" -> Sampling.shardManifest _,
    // today's batch vs the standing corpus: the daily-crawl dedup shape
    "dedup_incremental" -> ((s, dir) => Dedup.incrementalDedup(s, dir)),
    // the on-ingest twin: stream deltas vs the standing banded base
    "stream_incremental_dedup" -> ((s, dir) =>
      graft.streaming.DocStream.streamingIncrementalDedup(s, dir)),
    // verbatim cross-doc runs: per-doc duplicated-span fraction
    "dedup_substring" -> ((s, dir) => Dedup.substringDedup(s, dir)),
    // ...and the "what exactly is duplicated" top-runs report
    "dedup_substring_runs" -> ((s, dir) => Dedup.substringRuns(s, dir)),
    // ...and the transform: keep one copy of each run, cut the rest
    "dedup_substring_excise" -> ((s, dir) => Dedup.substringExcise(s, dir)),
    // verbatim-run decontamination: eval spans located inside train docs
    "decontaminate_substring" -> ((s, dir) =>
      Dedup.decontaminateSubstring(s, dir)),
    // on-ingest verbatim-overlap screen vs the standing gram set
    "stream_substring_screen" -> ((s, dir) =>
      graft.streaming.DocStream.streamingSubstringScreen(s, dir)),
    // standing-index maintenance: delta assignment + retrain gate
    "sim_ivf_delta_assign" -> Similarity.ivfDeltaAssign _,
    // index health: list-size skew + expected probe-cost factor
    "ivf_balance_audit" -> Similarity.ivfBalanceAudit _,
    // cluster quality: simplified silhouette from the assignment scan
    "cluster_silhouette" -> Similarity.clusterSilhouette _,
    // how many bits do embeddings need: MSE per quantization width
    "quantize_bits_curve" -> Similarity.quantizeBitsCurve _,
    // the privacy FIX: finest generalization rung reaching k per cell
    "k_generalization_ladder" -> Relational.kGeneralizationLadder _,
    // token-budget mixture plan: weights, epochs, sample rates
    "mixture_budget" -> Sampling.mixtureBudget _,
    // DoReMi-style difficulty reweighting: EG rounds over domain losses
    "mixture_reweight" -> Sampling.mixtureReweight _,
    // ...and the same plan maintained on ingest (state = source counts)
    "stream_mixture_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingMixtureMonitor(s, dir)),
    // scan-on-ingest quality gate per (source, reason)
    "stream_quality_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingQualityMonitor(s, dir)),
    // the privacy ladder's release mechanism: Laplace-noised counts
    "dp_release_counts" -> Relational.dpReleaseCounts _,
    // right-to-be-forgotten cascade: before/purged/after per table
    "tombstone_purge_audit" -> Relational.tombstonePurgeAudit _,
    // the ladder's transform rung: keyed stable tokens for identifiers
    "pseudonymize_customers" -> Relational.pseudonymizeCustomers _,
    // the capstone gate table: every pre-training check, one verdict row
    "training_readiness" -> graft.ext.Pipeline.trainingReadiness _,
    // constraint gate: pk/fk/not-null/domain verdicts per named check
    "data_contract_audit" ->
      (graft.operators.Contract.dataContractAudit _),
    "benford_totalprice" ->
      (graft.operators.Contract.benfordTotalprice _),
    // the per-ingest-batch form: standing state + delta screens; same
    // oracle object as the batch gate (monitor discipline)
    "training_readiness_delta" ->
      (graft.ext.Pipeline.trainingReadinessDelta _),
    // delta-join IVM: materialized join view folded under a two-sided
    // delta batch (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB); oracle = from-scratch join
    "ivm_join_enriched" -> (graft.ext.Pipeline.ivmJoinEnriched _),
    // CDC IVM: signed (Z-set) retraction fold — updates re-emit,
    // deletes retract, consolidation touches only delta-keyed rows
    "ivm_join_cdc" -> (graft.ext.Pipeline.ivmJoinCdc _),
    // the gate's ON-INGEST twin: the per-doc screen kernel streamed,
    // the same per-tick fold, the same oracle object — three forms
    "stream_training_readiness" ->
      ((s, dir) => graft.streaming.DocStream.streamingTrainingReadiness(s, dir)),
    // keyframe segmentation: adjacent-frame perceptual distance
    "frame_scene_cuts" -> Dedup.frameSceneCuts _,
    // PSI feature-drift gate between the stream's time halves
    "psi_value_drift" -> EventOps.psiValueDrift _,
    "event_freshness" -> EventOps.eventFreshness _,
    // ...and the exact nonparametric companion: KS sup-CDF-gap gate
    "ks_value_drift" -> EventOps.ksValueDrift _,
    // per-dim encoder-drift audit: base corpus vs the delta batch
    "embedding_batch_drift" -> Similarity.embeddingBatchDrift _,
    // multiprobe LSH vs single-bucket vs exact: the recall-per-memory case
    "sim_ann_lsh_multiprobe" -> ((s, dir) =>
      Similarity.multiprobeRecallAudit(s, dir)),
    // fit-on-batch / score-on-stream PSI: drift caught at ingest
    "stream_freshness_monitor" -> ((s, dir) =>
      graft.streaming.EventStream.freshnessMonitorOverFiles(s, dir)),
    "stream_psi_monitor" -> ((s, dir) =>
      graft.streaming.EventStream.psiMonitorOverFiles(s, dir)),
    // the manifest maintained on ingest converges to the batch build
    "stream_shard_manifest" -> ((s, dir) =>
      graft.streaming.DocStream.streamingShardManifest(s, dir)),
    // the reference's flagship wordcount as an incremental stream
    "stream_wordcount" -> ((s, dir) =>
      graft.streaming.DocStream.streamingWordCount(s, dir)),
    // compaction trigger maintained on ingest: backlog totals per dir
    "stream_compaction_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingCompactionMonitor(s, dir)),
    // fixed-memory distinct counter on ingest: HLL registers as state
    "stream_hll_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingHllMonitor(s, dir)),
    // fixed-memory frequency sketch on ingest: CMS cells as state
    "stream_cms_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingCmsMonitor(s, dir)),
    // per-source KMV sketches folded to the theta-union estimate
    "sketch_kmv_merge" -> graft.ext.Sketches.kmvMergeSources _,
    // ...and the same sketch maintained on ingest: distinct top-k state
    "stream_kmv_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingKmvMonitor(s, dir)),
    // bottom-k quantile sample maintained on ingest: the 4th algebra
    "stream_quantile_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.streamingQuantileMonitor(s, dir)),
  )

  /** The word-count oracle — ONE definition shared by the batch query
    * and its streaming twin, so the "verified against the SAME
    * oracle" claim is structural: an edit to the tokenizer contract
    * cannot silently decouple the two. */
  private val wordCountOracle: String =
    """SELECT w AS word, COUNT(*) AS cnt FROM (
      |  SELECT unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS w
      |  FROM documents) t
      |WHERE w <> '' GROUP BY w ORDER BY word""".stripMargin

  /** DuckDB oracle SQL per query (same column names as the Spark side). */
  def oracleSql: Map[String, String] = Map(
    "wordcount" -> wordCountOracle,
    "mr_wordcount" ->
      """SELECT w AS key, CAST(COUNT(*) AS VARCHAR) AS value FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS w
        |  FROM documents) t
        |WHERE w <> '' GROUP BY w ORDER BY key""".stripMargin,
    "mr_inverted_index" ->
      """SELECT w AS key, string_agg(doc_id, ',' ORDER BY doc_id) AS value FROM (
        |  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id, w FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS w
        |    FROM documents) u
        |  WHERE w <> '') t
        |GROUP BY w ORDER BY key""".stripMargin,
    "mr_token_docfreq" ->
      """SELECT w AS key, CAST(COUNT(DISTINCT doc_id) AS VARCHAR) AS value FROM (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS w
        |  FROM documents) t
        |WHERE w <> '' GROUP BY w ORDER BY key""".stripMargin,
    "list_prefix" ->
      "SELECT doc_id, source FROM documents WHERE source LIKE 'src1%' ORDER BY doc_id",
    "q1_pricing_summary" -> Relational.q1Oracle,
    "q3_shipping" -> Relational.q3Oracle,
    "q5_region_revenue" -> Relational.q5Oracle,
    "topk_orders" -> Relational.topkOracle,
    "window_rank_orders" -> Relational.windowRankOracle,
    "grouped_topk_agg" -> Relational.groupedTopkOracle,
    "window_running_qty" -> Relational.windowRunningOracle,
    "distinct_segments" -> Relational.distinctSegmentsOracle,
    "setop_union_nations" -> Relational.setopUnionOracle,
    "setop_intersect_nations" -> Relational.setopIntersectOracle,
    "scalar_string_funcs" -> Relational.scalarStringOracle,
    "scalar_string_funcs2" -> Relational.scalarString2Oracle,
    "scalar_datetime_funcs" -> Relational.scalarDatetimeOracle,
    "agg_stats_acctbal" -> Relational.aggStatsOracle,
    "stats_corr_lineitem" -> Relational.statsCorrOracle,
    "outlier_zscore" -> Relational.outlierZscoreOracle,
    "histogram_totalprice" -> Relational.histogramOracle,
    "percentile_price" -> Relational.percentilePriceOracle,
    "quantile_approx_audit" -> Relational.quantileApproxAuditOracle,
    "pii_scan" -> graft.ext.Pii.piiScanOracle,
    "frame_phash_pairs" -> graft.ext.Dedup.framePhashPairsOracle,
    "frame_overlap_assets" -> graft.ext.Dedup.frameOverlapAssetsOracle,
    "stream_asof_join" -> EventOps.asofErrorClickOracle,
    "pii_redact" -> graft.ext.Pii.piiRedactOracle,
    "rollup_revenue" -> Relational.rollupRevenueOracle,
    "cube_status_priority" -> Relational.cubeStatusPriorityOracle,
    "semi_anti_parts" -> Relational.semiAntiPartsOracle,
    "fuzzy_name_pairs" -> Relational.fuzzyNamePairsOracle,
    "left_join_order_counts" -> Relational.leftJoinOrderCountsOracle,
    "collect_nations" -> Relational.collectNationsOracle,
    "pivot_status" -> Relational.pivotStatusOracle,
    "asof_error_click" -> EventOps.asofErrorClickOracle,
    "range_join_events" -> EventOps.rangeJoinOracle,
    "asof_native" -> EventOps.asofNativeOracle,
    "asof_native_outer" -> EventOps.asofNativeOuterOracle,
    "asof_native_tolerance" -> EventOps.asofNativeToleranceOracle,
    "asof_native_forward" -> EventOps.asofNativeForwardOracle,
    "malformed_filter" -> EventOps.malformedFilterOracle,
    "json_extract_events" -> EventOps.jsonExtractOracle,
    "time_window_events" -> EventOps.timeWindowOracle,
    "sessionize_events" -> EventOps.sessionizeOracle,
    "stream_window_events" -> EventOps.timeWindowOracle,
    "token_count" -> TextAnalysis.tokenCountOracle,
    "text_quality" -> TextAnalysis.textQualityOracle,
    "quality_cut_tradeoff" -> TextAnalysis.qualityCutTradeoffOracle,
    "doc_length_deciles" -> TextAnalysis.docLengthDecilesOracle,
    "lang_id" -> TextAnalysis.langIdOracle,
    "doc_fingerprint" -> TextAnalysis.fingerprintOracle,
    "array_funcs" -> TextAnalysis.arrayFuncsOracle,
    "dedup_exact" -> Dedup.exactOracle,
    "dedup_bag" -> Dedup.bagOracle,
    "dedup_minhash_signatures" -> Dedup.minhashSignaturesOracle,
    "dedup_minhash_pairs" -> Dedup.minhashPairsOracle,
    "dedup_simhash" -> Dedup.simhashOracle,
    "dedup_simhash_pairs" -> Dedup.simhashPairsOracle,
    "dedup_phash_pairs" -> Dedup.phashPairsOracle,
    "dedup_groups" -> Dedup.duplicateGroupsOracle,
    "dedup_groups_delta" -> Dedup.dedupGroupsDeltaOracle,
    "stream_groups_monitor" -> Dedup.dedupGroupsDeltaOracle,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardOracle,
    "dedup_lsh_verified" -> Dedup.lshVerifiedJaccardOracle,
    "dedup_edges_reuse" -> Dedup.lshVerifiedJaccardOracle,
    "dedup_community_profile" -> Dedup.dedupCommunityProfileOracle,
    "containment_search" -> Dedup.containmentSearchOracle,
    "winnow_fingerprints" -> Dedup.winnowFingerprintsOracle,
    "lsh_plan_curve" -> Dedup.lshPlanCurveOracle,
    "ppl_span_outliers" -> TextAnalysis.pplSpanOutliersOracle,
    "dedup_embedding" -> Dedup.embeddingNearDupLshOracle,
    "sim_brute_topk" -> Similarity.bruteForceTopKOracle,
    "sim_lsh_buckets" -> Similarity.lshBucketsOracle,
    "sim_ann_lsh" -> Similarity.annLshOracle,
    "sim_ivf_assign" -> Similarity.ivfAssignOracle,
    "kmeans_inertia" -> Similarity.kmeansInertiaOracle,
    "dim_recall_audit" -> Similarity.dimRecallAuditOracle,
    "l_diversity_audit" -> Relational.lDiversityAuditOracle,
    "ivf_recall_sweep" -> Similarity.ivfRecallSweepOracle,
    "sim_ann_ivf" -> Similarity.annIvfOracle,
    // the artifact path must land on the SAME answer as the memo path
    "ann_index_reuse" -> Similarity.annIvfOracle,
    "multimodal_meta" -> Multimodal.metaOracle,
    // stub decode is deterministic byte arithmetic → fully oracled
    "multimodal_features" -> Multimodal.featuresOracle,
    "sample_bernoulli" -> Sampling.bernoulliSampleOracle,
    "sample_stratified" -> Sampling.stratifiedSampleOracle,
    "sample_weighted" -> Sampling.weightedSampleOracle,
    "chi2_priority_status" -> Relational.chi2PriorityStatusOracle,
    "zorder_lineitem" -> Layout.zorderLineitemOracle,
    "compaction_plan" -> Layout.compactionPlanOracle,
    "clustering_depth" -> Layout.clusteringDepthOracle,
    "mi_lang_source" -> TextAnalysis.miLangSourceOracle,
    "winsorize_prices" -> Relational.winsorizePricesOracle,
    "inverted_index" -> TextAnalysis.invertedIndexOracle,
    "regression_qty_price" -> Relational.regressionQtyPriceOracle,
    "table_checksum" -> Relational.tableChecksumOracle,
    "stream_outlier_score" ->
      graft.streaming.EventStream.outlierScoreOverFilesOracle,
    "dedup_keep_best" -> Dedup.keepBestOracle,
    "perplexity_unigram" -> TextAnalysis.perplexityUnigramOracle,
    "kl_source_divergence" -> TextAnalysis.klSourceDivergenceOracle,
    "funnel_events" -> EventOps.funnelEventsOracle,
    "session_paths" -> EventOps.sessionPathsOracle,
    "session_examples" -> EventOps.sessionExamplesOracle,
    "gap_percentiles" -> EventOps.gapPercentilesOracle,
    "frame_dedup" -> Multimodal.frameDedupOracle,
    "embedding_centroids" -> Similarity.embeddingCentroidsOracle,
    "zipf_profile" -> TextAnalysis.zipfProfileOracle,
    "vocab_coverage_curve" -> TextAnalysis.vocabCoverageCurveOracle,
    "dedup_token_inflation" -> Dedup.dedupTokenInflationOracle,
    "heaps_law_fit" -> TextAnalysis.heapsLawFitOracle,
    "term_burstiness" -> TextAnalysis.termBurstinessOracle,
    "source_lang_mix" -> TextAnalysis.sourceLangMixOracle,
    "stream_lang_mix_monitor" -> graft.streaming.DocStream.streamingLangMixMonitorOracle,
    "simhash_calibration" -> Dedup.simhashCalibrationOracle,
    "vocab_richness" -> TextAnalysis.vocabRichnessOracle,
    "span_corruption" -> TextAnalysis.spanCorruptionOracle,
    "gini_sources" -> TextAnalysis.giniSourcesOracle,
    "bpe_encode" -> TextAnalysis.bpeEncodeOracle,
    "bpe_merge_curve" -> TextAnalysis.bpeMergeCurveOracle,
    "bm25_search" -> TextAnalysis.bm25SearchOracle,
    "kruskal_wallis_spend" -> Nonparam.kruskalWallisSpendOracle,
    "numeric_profile_quantiles" -> Relational.numericProfileQuantilesOracle,
    "rolling_active_users" -> EventOps.rollingActiveUsersOracle,
    "fk_integrity_audit" -> Relational.fkIntegrityAuditOracle,
    "corpus_summary" -> TextAnalysis.corpusSummaryOracle,
    "mad_price" -> Relational.madPriceOracle,
    "sample_coordinated" -> Sampling.coordinatedSampleOracle,
    "stream_dedup_docs" -> graft.streaming.DocStream.streamingDedupOracle,
    "stream_pii_monitor" -> graft.streaming.DocStream.streamingPiiMonitorOracle,
    "stream_sessionize_events" ->
      graft.streaming.EventStream.sessionizeOverFilesOracle,
    "scalar_numeric_funcs" -> Relational.scalarNumericOracle,
    "window_funcs_orders" -> Relational.windowFuncsOracle,
    "grouping_sets_orders" -> Relational.groupingSetsOracle,
    "q6_forecast_revenue" -> Relational.q6Oracle,
    "q10_returned_items" -> Relational.q10Oracle,
    "q14_promo_effect" -> Relational.q14Oracle,
    "q18_large_orders" -> Relational.q18Oracle,
    "q7_nation_volume" -> Relational.q7Oracle,
    "q19_disjunctive_revenue" -> Relational.q19Oracle,
    "q13_order_distribution" -> Relational.q13Oracle,
    "decontaminate_ngrams" -> TextAnalysis.decontaminateOracle,
    "boilerplate_ngrams" -> TextAnalysis.boilerplateNgramsOracle,
    "dsir_weights" -> TextAnalysis.dsirWeightsOracle,
    "source_overlap" -> TextAnalysis.sourceOverlapOracle,
    "ngram_novelty" -> TextAnalysis.ngramNoveltyOracle,
    "pareto_revenue" -> Relational.paretoRevenueOracle,
    "dedup_semantic" -> Similarity.semanticDedupOracle,
    "quality_repetition" -> TextAnalysis.qualityRepetitionOracle,
    "top_tokens_per_lang" -> TextAnalysis.topTokensPerLangOracle,
    "embedding_quantize" -> Similarity.embeddingQuantizeOracle,
    "embedding_normalize" -> Similarity.embeddingNormalizeOracle,
    "quantize_embeddings" -> Similarity.quantizeEmbeddingsOracle,
    "triplet_mining" -> Similarity.tripletMiningOracle,
    "sample_temperature" -> Sampling.temperatureSampleOracle,
    "pq_codes" -> Similarity.pqCodesOracle,
    "sim_ann_pq" -> Similarity.annPqOracle,
    "sim_ann_sq8" -> Similarity.annSq8Oracle,
    "sim_ann_ivfpq" -> Similarity.annIvfPqOracle,
    "sim_ann_ivfpq_refine" -> Similarity.annIvfPqRefineOracle,
    "rrf_fusion" -> Similarity.rrfFusionOracle,
    "frame_sample" -> Multimodal.frameSampleOracle,
    "vocab_coverage" -> TextAnalysis.vocabCoverageOracle,
    "curriculum_order" -> Sampling.curriculumOrderOracle,
    "feature_hashing" -> TextAnalysis.featureHashingOracle,
    "scalar_math_funcs" -> Relational.scalarMathFuncsOracle,
    "hard_negative_mining" -> Similarity.hardNegativeMiningOracle,
    "hard_negatives_ann" -> Similarity.hardNegativesAnnOracle,
    "triplet_mining_ann" -> Similarity.tripletMiningAnnOracle,
    "window_func_battery" -> Relational.windowFuncBatteryOracle,
    "unpivot_metrics" -> Relational.unpivotMetricsOracle,
    "grouping_sets_revenue" -> Relational.groupingSetsRevenueOracle,
    "dedup_shingle_signatures" -> Dedup.shingleSignaturesOracle,
    "pipeline_curate" -> ext.Pipeline.curateDocsOracle,
    "pipeline_waterfall" -> ext.Pipeline.pipelineWaterfallOracle,
    "q4_priority_exists" -> Relational.q4Oracle,
    "q8_market_share" -> Relational.q8Oracle,
    "q12_priority_shipping" -> Relational.q12Oracle,
    "q21_waiting_supplier" -> Relational.q21Oracle,
    "q15_top_supplier" -> Relational.q15Oracle,
    "q17_small_quantity" -> Relational.q17Oracle,
    "q22_idle_customers" -> Relational.q22Oracle,
    "full_outer_spend" -> Relational.fullOuterSpendOracle,
    "setop_except_all" -> Relational.setopExceptAllOracle,
    "sessionize_native" -> EventOps.sessionizeNativeOracle,
    "events_gapfill" -> EventOps.eventsGapfillOracle,
    "skyline_parts" -> Relational.skylinePartsOracle,
    "scd2_upsert" -> Relational.scd2UpsertOracle,
    "pagerank_nations" -> graft.ext.Graph.pagerankNationsOracle,
    "triangle_nations" -> graft.ext.Graph.triangleNationsOracle,
    "dedup_communities_lpa" -> Dedup.dedupCommunitiesLpaOracle,
    "dedup_kcore" -> Dedup.dedupKcoreOracle,
    "lpa_communities" -> graft.ext.Graph.lpaCommunitiesOracle,
    "hits_nations" -> graft.ext.Graph.hitsNationsOracle,
    "textrank_keywords" -> graft.ext.Graph.textrankKeywordsOracle,
    "bfs_trade_hops" -> graft.ext.Graph.bfsTradeHopsOracle,
    "event_transitions" -> EventOps.eventTransitionsOracle,
    "attribution_touch" -> EventOps.attributionTouchOracle,
    "snapshot_reconstruct" -> EventOps.snapshotReconstructOracle,
    "interval_coverage" -> EventOps.intervalCoverageOracle,
    "acf_daily_revenue" -> TimeSeries.acfDailyRevenueOracle,
    "trend_robust" -> TimeSeries.trendRobustOracle,
    "cusum_changepoint" -> TimeSeries.cusumChangepointOracle,
    "ewma_daily_revenue" -> TimeSeries.ewmaDailyRevenueOracle,
    "seasonality_dow" -> TimeSeries.seasonalityDowOracle,
    "nb_lang_confusion" -> Learn.nbLangConfusionOracle,
    "logistic_returns" -> Learn.logisticReturnsOracle,
    "knn_label_audit" -> Learn.knnLabelAuditOracle,
    "knn_audit_ann" -> Learn.knnAuditAnnOracle,
    "best_split_stump" -> Learn.bestSplitStumpOracle,
    "mann_whitney_spend" -> Nonparam.mannWhitneySpendOracle,
    "ks_test_events" -> Nonparam.ksTestEventsOracle,
    "psi_drift_price" -> Nonparam.psiDriftPriceOracle,
    "benford_price" -> Nonparam.benfordPriceOracle,
    "weighted_median_price" -> Nonparam.weightedMedianPriceOracle,
    "copurchase_pairs" -> Nonparam.copurchasePairsOracle,
    "assoc_rules_parts" -> Nonparam.assocRulesPartsOracle,
    "bootstrap_mean_ci" -> Nonparam.bootstrapMeanCiOracle,
    "dedup_cdc_chunks" -> graft.ext.Dedup.cdcChunksOracle,
    "collocations_pmi" -> TextAnalysis.collocationsPmiOracle,
    "perplexity_bigram" -> TextAnalysis.perplexityBigramOracle,
    "char_entropy" -> TextAnalysis.charEntropyOracle,
    "bpe_merges" -> TextAnalysis.bpeMergesOracle,
    "bpe_merges_delta" -> TextAnalysis.bpeMergesDeltaOracle,
    "token_budget_select" -> TextAnalysis.tokenBudgetSelectOracle,
    "outlier_iqr" -> Relational.outlierIqrOracle,
    "ttest_urgent_spend" -> Relational.ttestUrgentSpendOracle,
    "srm_check" -> Relational.srmCheckOracle,
    "power_mde" -> Relational.powerMdeOracle,
    "did_segment_spend" -> Relational.didSegmentSpendOracle,
    "cuped_segment_spend" -> Relational.cupedSegmentSpendOracle,
    "ivm_priority_revenue" -> Relational.ivmPriorityRevenueOracle,
    "rfm_segments" -> Relational.rfmSegmentsOracle,
    "k_anonymity_audit" -> Relational.kAnonymityAuditOracle,
    "pca_power_embeddings" -> Similarity.pcaPowerEmbeddingsOracle,
    "minhash_error_audit" -> Dedup.minhashErrorAuditOracle,
    "sketch_kmv_distinct" -> graft.ext.Sketches.kmvDistinctOracle,
    "sketch_cms_heavy_hitters" -> graft.ext.Sketches.cmsHeavyHittersOracle,
    "sketch_bloom_audit" -> graft.ext.Sketches.bloomFilterAuditOracle,
    "sketch_hll_distinct" -> graft.ext.Sketches.hllDistinctOracle,
    "sketch_hll_merge" -> graft.ext.Sketches.hllMergeSourcesOracle,
    "sketch_kmv_overlap" -> graft.ext.Sketches.kmvOverlapOracle,
    "sketch_join_size" -> graft.ext.Sketches.joinSizeEstimateOracle,
    "sketch_quantile_price" -> graft.ext.Sketches.quantileSketchPriceOracle,
    "sketch_quantile_merge" -> graft.ext.Sketches.quantileSketchMergeOracle,
    "rank_eval_ndcg" -> graft.ext.Similarity.rankEvalNdcgOracle,
    "profile_lineitem" -> Relational.profileLineitemOracle,
    "argmax_customer" -> Relational.argmaxCustomerOracle,
    "scalar_regex_funcs" -> Relational.scalarRegexOracle,
    "agg_conditional" -> Relational.aggConditionalOracle,
    "skew_salted_agg" -> Relational.skewSaltedAggOracle,
    "shuffle_skew_audit" -> Relational.shuffleSkewAuditOracle,
    "join_fanout_profile" -> Relational.joinFanoutProfileOracle,
    "stream_interval_join_semi" ->
      graft.streaming.EventStream.intervalJoinSemiOverFilesOracle,
    "quantile_grid_price" -> Relational.quantileGridOracle,
    "window_range_frame" -> EventOps.windowRangeFrameOracle,
    "cohort_retention" -> EventOps.cohortRetentionOracle,
    "survival_km" -> EventOps.survivalKmOracle,
    "multimodal_frames" -> Multimodal.framesOracle,
    "media_downsample" -> Multimodal.mediaDownsampleOracle,
    "caption_frame_alignment" -> Multimodal.captionFrameAlignmentOracle,
    "caption_asset_topk" -> Multimodal.captionAssetTopKOracle,
    "caption_asset_topk_ann" -> Multimodal.captionAssetTopKAnnOracle,
    "stream_interval_join_outer" ->
      graft.streaming.EventStream.intervalJoinOuterOverFilesOracle,
    "stream_interval_join_full" ->
      graft.streaming.EventStream.intervalJoinFullOverFilesOracle,
    "embedding_dim_profile" -> Similarity.embeddingDimProfileOracle,
    "stream_distinct_keys" ->
      graft.streaming.EventStream.distinctKeysOverFilesOracle,
    "stream_window_sliding" ->
      graft.streaming.EventStream.slidingCountsOverFilesOracle,
    "sim_recall_audit" -> Similarity.annRecallAuditOracle,
    "q2_min_cost_supplier" -> Relational.q2Oracle,
    "q9_product_profit" -> Relational.q9Oracle,
    "q11_important_stock" -> Relational.q11Oracle,
    "q16_supplier_counts" -> Relational.q16Oracle,
    "q20_excess_suppliers" -> Relational.q20Oracle,
    "tfidf_top_terms" -> TextAnalysis.tfidfTopTermsOracle,
    "doc_chunks" -> TextAnalysis.docChunksOracle,
    "doc_pack" -> TextAnalysis.docPackOracle,
    "padding_waste_buckets" -> TextAnalysis.paddingWasteBucketsOracle,
    "kappa_lang_agreement" -> TextAnalysis.kappaLangAgreementOracle,
    "sample_rebalance" -> Sampling.rebalanceSampleOracle,
    "dataset_split" -> Sampling.datasetSplitOracle,
    "stream_interval_join" ->
      graft.streaming.EventStream.intervalJoinOverFilesOracle,
    "stream_static_join" ->
      graft.streaming.EventStream.streamStaticJoinOverFilesOracle,
    "split_leakage_audit" -> Dedup.splitLeakageAuditOracle,
    "group_safe_split" -> Dedup.groupSafeSplitOracle,
    "dedup_threshold_sweep" -> Dedup.thresholdSweepOracle,
    "quality_filter_reasons" -> TextAnalysis.qualityFilterReasonsOracle,
    "dedup_group_sizes" -> Dedup.duplicateGroupSizesOracle,
    "source_quality_profile" -> TextAnalysis.sourceQualityProfileOracle,
    "stream_sessionize_tws" ->
      graft.streaming.EventStream.sessionizeTwsOverFilesOracle,
    "snapshot_diff" -> Relational.snapshotDiffOracle,
    "dedup_containment" -> Dedup.containmentPairsOracle,
    "embedding_outliers" -> Similarity.embeddingOutliersOracle,
    "calibration_bins" -> Learn.calibrationBinsOracle,
    "auc_returns" -> Learn.aucReturnsOracle,
    "conformal_price_interval" -> Learn.conformalPriceIntervalOracle,
    "t_closeness_audit" -> Relational.tClosenessAuditOracle,
    "tokenizer_fertility" -> TextAnalysis.tokenizerFertilityOracle,
    "decontaminate_semantic" -> Similarity.decontaminateSemanticOracle,
    "shard_manifest" -> Sampling.shardManifestOracle,
    "dedup_incremental" -> Dedup.incrementalDedupOracle,
    // the stream converges to the batch screen exactly — same oracle
    "stream_incremental_dedup" -> Dedup.incrementalDedupOracle,
    "dedup_substring" -> Dedup.substringDedupOracle,
    "dedup_substring_runs" -> Dedup.substringRunsOracle,
    "dedup_substring_excise" -> Dedup.substringExciseOracle,
    "decontaminate_substring" -> Dedup.decontaminateSubstringOracle,
    "stream_substring_screen" -> Dedup.substringScreenOracle,
    "sim_ivf_delta_assign" -> Similarity.ivfDeltaAssignOracle,
    "ivf_balance_audit" -> Similarity.ivfBalanceAuditOracle,
    "cluster_silhouette" -> Similarity.clusterSilhouetteOracle,
    "quantize_bits_curve" -> Similarity.quantizeBitsCurveOracle,
    "k_generalization_ladder" -> Relational.kGeneralizationLadderOracle,
    "mixture_budget" -> Sampling.mixtureBudgetOracle,
    "mixture_reweight" -> Sampling.mixtureReweightOracle,
    // the stream converges to the batch plan exactly — same oracle
    "stream_mixture_monitor" -> Sampling.mixtureBudgetOracle,
    "stream_quality_monitor" ->
      graft.streaming.DocStream.streamingQualityMonitorOracle,
    "dp_release_counts" -> Relational.dpReleaseCountsOracle,
    "tombstone_purge_audit" -> Relational.tombstonePurgeAuditOracle,
    "pseudonymize_customers" -> Relational.pseudonymizeCustomersOracle,
    "training_readiness" -> graft.ext.Pipeline.trainingReadinessOracle,
    "data_contract_audit" ->
      graft.operators.Contract.dataContractAuditOracle,
    "benford_totalprice" ->
      graft.operators.Contract.benfordTotalpriceOracle,
    "training_readiness_delta" ->
      graft.ext.Pipeline.trainingReadinessOracle,
    "ivm_join_enriched" -> graft.ext.Pipeline.ivmJoinEnrichedOracle,
    "ivm_join_cdc" -> graft.ext.Pipeline.ivmJoinCdcOracle,
    "stream_training_readiness" ->
      graft.ext.Pipeline.trainingReadinessOracle,
    "frame_scene_cuts" -> Dedup.frameSceneCutsOracle,
    "psi_value_drift" -> EventOps.psiValueDriftOracle,
    "event_freshness" -> EventOps.eventFreshnessOracle,
    "ks_value_drift" -> EventOps.ksValueDriftOracle,
    "embedding_batch_drift" -> Similarity.embeddingBatchDriftOracle,
    "sim_ann_lsh_multiprobe" -> Similarity.multiprobeRecallAuditOracle,
    // the streamed monitor must equal the batch PSI — the same oracle
    "stream_psi_monitor" -> EventOps.psiValueDriftOracle,
    "stream_freshness_monitor" -> EventOps.eventFreshnessOracle,
    // order-independent digest ⇒ the stream converges to the batch
    // manifest exactly — literally the same oracle object
    "stream_shard_manifest" -> Sampling.shardManifestOracle,
    // the streaming replay must converge to the batch answer exactly —
    // literally the same oracle object as "wordcount"
    "stream_wordcount" -> wordCountOracle,
    "stream_compaction_monitor" ->
      graft.streaming.DocStream.streamingCompactionMonitorOracle,
    // the stream converges to the batch sketch exactly — literally the
    // same oracle object as "sketch_hll_merge"
    "stream_hll_monitor" -> graft.ext.Sketches.hllMergeSourcesOracle,
    // same convergence argument, same oracle as "sketch_cms_heavy_hitters"
    "stream_cms_monitor" -> graft.ext.Sketches.cmsHeavyHittersOracle,
    "sketch_kmv_merge" -> graft.ext.Sketches.kmvMergeSourcesOracle,
    // the stream converges to the batch sketch — literal same oracle
    "stream_kmv_monitor" -> graft.ext.Sketches.kmvMergeSourcesOracle,
    "stream_quantile_monitor" -> graft.ext.Sketches.quantileSketchMergeOracle,
  )
}
