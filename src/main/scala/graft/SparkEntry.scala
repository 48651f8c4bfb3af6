package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 has a `queries` entry; SQL-expressible
  * ones also have an `oracleSql` entry (DuckDB dialect, same parquet
  * tables). Column names are aliased identically on both sides — the
  * driver's compare hashes values under sorted column names.
  *
  * Float discipline: money columns are exact 2-dp doubles (verified over
  * the testdata), so revenue products are summed as DECIMAL(18,4) — exact
  * and order-independent — then cast back to double. This keeps Spark and
  * DuckDB bit-identical without fragile rounding of order-dependent
  * double sums.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.customerFeatures(spark, "/root/testdata/sf0.001")

  /** ONE parser for the SPARK_GRAFT_ONLY iteration filter, shared by the
    * Verify and Bench mains — they previously disagreed on whitespace
    * (Bench kept " q_x" untrimmed and silently dropped the query). */
  private[graft] def onlyFilter: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_session_revenue"   -> Relational.sessionRevenue _,
    "q_user_stats"        -> Relational.userStats _,
    "q_accuracy"          -> Relational.accuracy _,
    "q_strengths"         -> Relational.strengths _,
    "q_age_derivation"    -> ((s: SparkSession, d: String) => Relational.ageDerivation(s, d)),
    "q_log_features"      -> Relational.logFeatures _,
    "q_customer_features" -> ((s: SparkSession, d: String) => Relational.customerFeatures(s, d)),
    "q_customer_features_multi" -> Relational.customerFeaturesMulti _,
    "q_filter_pred"       -> Breadth.filterPred _,
    "q_pricing_summary"   -> Breadth.pricingSummary _,
    "q_topk_customers"    -> Breadth.topkCustomers _,
    "q_sort_limit"        -> Breadth.sortLimit _,
    "q_set_ops"           -> Breadth.setOps _,
    "q_window_rank"       -> ((s: SparkSession, d: String) => Breadth.windowRank(s, d)),
    "q_window_running"    -> Breadth.windowRunning _,
    "q_window_lag"        -> Breadth.windowLag _,
    "q_semi_join"         -> Breadth.semiJoin _,
    "q_anti_join"         -> Breadth.antiJoin _,
    "q_region_revenue"    -> Breadth.regionRevenue _,
    "q_distinct_segments" -> Breadth.distinctSegments _,
    "q_case_when"         -> Breadth.caseWhen _,
    "q_string_funcs"      -> Breadth.stringFuncs _,
    "q_date_funcs"        -> Breadth.dateFuncs _,
    "q_rollup"            -> Breadth.rollupAgg _,
    "q_pivot_returnflag"  -> Breadth.pivotReturnflag _,
    "q_having"            -> Breadth.havingAgg _,
    "q_count_distinct"    -> Breadth.countDistinctAgg _,
    "q_non_equi_join"     -> Breadth.nonEquiJoin _,
    "q_unpivot_stats"     -> Breadth.unpivotStats _,
    "q_events_hourly"     -> Breadth.eventsHourly _,
    "q_gapfill_hourly"    -> Breadth.gapFilledHourly _,
    // ML operators (M1-M7) — not SQL-expressible, rows-only checks
    "q_kmeans_scan"        -> graft.ml.KMeansScan.kmeansQuery _,
    "q_kmeans_assignments" -> graft.ml.KMeansScan.assignmentsQuery _,
    // dedup suite (north-star extension)
    "q_dedup_exact"     -> Dedup.exact _,
    "q_dedup_minhash"   -> ((s: SparkSession, d: String) => Dedup.minhashPairs(s, d)),
    "q_dedup_simhash"   -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "q_dedup_ngram"     -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "q_dedup_ngram_prefix" -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairsPrefix(s, d)),
    "q_dedup_components" -> ((s: SparkSession, d: String) => Dedup.dedupComponents(s, d)),
    "q_fuzzy_name_match" -> ((s: SparkSession, d: String) => Dedup.fuzzyNameMatch(s, d)),
    "q_fuzzy_canonical" -> ((s: SparkSession, d: String) => Dedup.fuzzyCanonical(s, d)),
    "q_dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.dedupIncremental(s, d)),
    "q_dedup_containment" -> ((s: SparkSession, d: String) => Dedup.containmentPairs(s, d)),
    "q_prototype_prune" -> ((s: SparkSession, d: String) => Similarity.prototypePrune(s, d)),
    "q_mask_spans" -> TextAnalysis.maskSpans _,
    "q_neg_sampling" -> ((s: SparkSession, d: String) => TextAnalysis.negSamplingTable(s, d)),
    "q_cdc_chunks" -> TextAnalysis.cdcChunks _,
    "q_assortativity" -> ((s: SparkSession, d: String) => Graph.assortativity(s, d)),
    "q_skew_metrics" -> Scale.skewMetrics _,
    "q_degree_dist" -> ((s: SparkSession, d: String) => Graph.degreeDistribution(s, d)),
    "q_join_cardinality" -> Scale.joinCardinality _,
    "q_bigram_cond_entropy" -> TextAnalysis.bigramCondEntropy _,
    "q_vocab_growth" -> TextAnalysis.vocabGrowth _,
    "q_length_lognormal" -> TextAnalysis.lengthLognormal _,
    "q_quantile_norm" -> Breadth.quantileNorm _,
    "q_hot_shingles" -> ((s: SparkSession, d: String) => Dedup.hotShingleProfile(s, d)),
    "q_blocking_cost" -> ((s: SparkSession, d: String) => Dedup.blockingCost(s, d)),
    "q_dedup_summary" -> Dedup.dedupSummary _,
    "q_dedup_embedding" -> ((s: SparkSession, d: String) => Dedup.embeddingPairs(s, d, 0.4)),
    "q_dedup_embedding_tight" -> ((s: SparkSession, d: String) => Dedup.tightEmbeddingPairs(s, d)),
    "q_dedup_embedding_clusters" -> ((s: SparkSession, d: String) => Dedup.embeddingClusters(s, d, 0.4)),
    // similarity search (north-star extension)
    "q_ann_brute" -> ((s: SparkSession, d: String) => Similarity.bruteTopK(s, d)),
    // bounded-recall audit frames (round 20, r19 verdict ask #4): the
    // served half is the SAME ivfTopK/ivfTopKSaved dispatch as before —
    // the query now also recomputes the exact half so DuckDB can oracle
    // a per-probe floor boolean instead of a rows-only check; the pure
    // serve shapes remain the 100 TB carriers (Similarity.ivfTopK/
    // ivfTopKSaved, spec'd and measured directly)
    "q_ann_ivf"   -> ((s: SparkSession, d: String) => Similarity.annRecallBounded(s, d)),
    "q_ann_ivf_saved" -> ((s: SparkSession, d: String) => Similarity.annRecallBounded(s, d, saved = true)),
    // text analysis (north-star extension)
    "q_text_tokens"      -> TextAnalysis.tokenStats _,
    "q_text_quality"     -> TextAnalysis.qualityScore _,
    "q_text_langid"      -> TextAnalysis.langId _,
    "q_text_fingerprint" -> TextAnalysis.fingerprint _,
    "q_corpus_curation"  -> TextAnalysis.curateCorpus _,
    "q_curation_by_source" -> TextAnalysis.curationBySource _,
    // round 7: training-pipeline operators
    "q_repetition_signals" -> TextAnalysis.repetitionSignals _,
    "q_decontaminate"      -> ((s: SparkSession, d: String) => TextAnalysis.decontaminate(s, d)),
    "q_decontaminate_bloom" -> ((s: SparkSession, d: String) => TextAnalysis.decontaminateBloom(s, d)),
    "q_lm_novelty"         -> ((s: SparkSession, d: String) => TextAnalysis.lmNovelty(s, d)),
    "q_normalize_dedup"    -> ((s: SparkSession, d: String) => TextAnalysis.normalizeDedup(s, d)),
    "q_quality_calibrated" -> ((s: SparkSession, d: String) => TextAnalysis.qualityCalibrated(s, d)),
    "q_bpe_merge"          -> ((s: SparkSession, d: String) => TextAnalysis.bpeMergeCandidates(s, d)),
    "q_pack_sequences"     -> ((s: SparkSession, d: String) => TextAnalysis.packSequences(s, d)),
    // round 10: split assignment + vocabulary coverage + mixing + int8 audit
    "q_train_split" -> TextAnalysis.trainSplit _,
    "q_oov_rate"    -> ((s: SparkSession, d: String) => TextAnalysis.oovRate(s, d)),
    "q_mixture_weights" -> TextAnalysis.mixtureWeights _,
    "q_robust_outliers" -> ((s: SparkSession, d: String) => Breadth.robustOutliers(s, d)),
    "q_frequent_tokens" -> ((s: SparkSession, d: String) => TextAnalysis.frequentTokens(s, d)),
    "q_length_deciles"  -> ((s: SparkSession, d: String) => TextAnalysis.lengthDeciles(s, d)),
    "q_source_caps"     -> ((s: SparkSession, d: String) => TextAnalysis.sourceCaps(s, d)),
    "q_funnel_steps"    -> ((s: SparkSession, d: String) => Breadth.funnelSteps(s, d)),
    "q_debounce"        -> ((s: SparkSession, d: String) => Breadth.debounce(s, d)),
    "q_cdc_apply"       -> Scale.cdcApply _,
    "q_ohlc_bars"       -> ((s: SparkSession, d: String) => Breadth.ohlcBars(s, d)),
    "q_data_contract"   -> Scale.dataContract _,
    "q_cohort_retention" -> ((s: SparkSession, d: String) => Breadth.cohortRetention(s, d)),
    "q_event_transitions" -> ((s: SparkSession, d: String) => Breadth.eventTransitions(s, d)),
    "q_trend_slope"       -> ((s: SparkSession, d: String) => Breadth.trendSlope(s, d)),
    "q_yoy_growth"        -> ((s: SparkSession, d: String) => Breadth.yoyGrowth(s, d)),
    "q_rolling_hour"      -> ((s: SparkSession, d: String) => Breadth.rollingHour(s, d)),
    "q_lorenz"            -> ((s: SparkSession, d: String) => Breadth.lorenzProfile(s, d)),
    "q_revenue_autocorr"  -> ((s: SparkSession, d: String) => Breadth.revenueAutocorr(s, d)),
    "q_user_recency"      -> ((s: SparkSession, d: String) => Breadth.userRecency(s, d)),
    "q_source_entropy"    -> ((s: SparkSession, d: String) => TextAnalysis.sourceEntropy(s, d)),
    "q_contingency"       -> ((s: SparkSession, d: String) => Breadth.contingencyResiduals(s, d)),
    "q_value_histogram"   -> ((s: SparkSession, d: String) => Breadth.valueHistogram(s, d)),
    "q_basket_pairs"      -> ((s: SparkSession, d: String) => Affinity.basketPairs(s, d)),
    "q_path_trigrams"     -> ((s: SparkSession, d: String) => Affinity.pathTrigrams(s, d)),
    "q_winsorize"        -> ((s: SparkSession, d: String) => Breadth.winsorize(s, d)),
    "q_sample_allocation" -> ((s: SparkSession, d: String) => TextAnalysis.sampleAllocation(s, d)),
    "q_quantization_error" -> ((s: SparkSession, d: String) => Similarity.quantizationError(s, d)),
    // round 8: corpus preparation operators
    "q_blocklist_scrub" -> ((s: SparkSession, d: String) => TextAnalysis.scrubBlocklist(s, d)),
    "q_pii_redact"      -> TextAnalysis.redactNumbers _,
    "q_doc_chunks"      -> ((s: SparkSession, d: String) => TextAnalysis.chunkDocuments(s, d)),
    "q_bigram_lm"       -> ((s: SparkSession, d: String) => TextAnalysis.bigramLm(s, d)),
    "q_pmi_collocations" -> ((s: SparkSession, d: String) => TextAnalysis.pmiCollocations(s, d)),
    "q_weighted_sample"  -> ((s: SparkSession, d: String) => TextAnalysis.weightedSample(s, d)),
    "q_bm25_rank"       -> ((s: SparkSession, d: String) => TextAnalysis.bm25Rank(s, d)),
    "q_token_budget"    -> ((s: SparkSession, d: String) => TextAnalysis.tokenBudget(s, d)),
    "q_dedup_rep"       -> ((s: SparkSession, d: String) => Dedup.dedupRepresentative(s, d)),
    "q_embedding_stats" -> Similarity.embeddingStats _,
    "q_label_centroids" -> ((s: SparkSession, d: String) => Similarity.labelCentroids(s, d)),
    "q_dup_spans"       -> ((s: SparkSession, d: String) => Dedup.duplicatedSpans(s, d)),
    "q_hard_negatives"  -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    // bounded-agreement audit vs the exact miner (round 20, ask #4);
    // Similarity.hardNegativesIvf stays the 100 TB serve carrier
    "q_hard_negatives_ivf" -> ((s: SparkSession, d: String) => Similarity.hardNegativesIvfAgreementBounded(s, d)),
    "q_locf_fill"       -> Breadth.locfFill _,
    "q_quality_model"   -> graft.ml.QualityModel.trainScore _,
    // multimodal binary columns (north-star extension)
    "q_multimodal_meta"     -> Multimodal.mediaMeta _,
    "q_payload_dedup"       -> Multimodal.payloadDedup _,
    "q_multimodal_features" -> Multimodal.featuresQuery _,
    "q_multimodal_frames"   -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    // structured streaming (north-star extension)
    "q_stream_hourly"   -> graft.streaming.EventsStream.hourlyCounts _,
    "q_stream_sessions" -> ((s: SparkSession, d: String) => graft.streaming.EventsStream.sessionize(s, d)),
    "q_stream_sessions_tws" -> ((s: SparkSession, d: String) => graft.streaming.EventsStream.sessionizeTws(s, d)),
    "q_stream_sessions_timers" -> ((s: SparkSession, d: String) => graft.streaming.EventsStream.sessionizeTimers(s, d)),
    "q_stream_static_join"  -> graft.streaming.EventsStream.streamStaticJoin _,
    // bounded-error oracled since round 17 (exact half + 5% envelope
    // boolean — the estimate still comes from the real streaming query;
    // SketchSpec additionally pins the raw estimates vs batch exact)
    "q_stream_hll_daily"    -> graft.streaming.EventsStream.hllDailyUsersBounded _,
    // SQL-text interface + CSV source/sink parity
    "q_sql_tpch_q1"   -> SqlInterface.tpchQ1 _,
    "q_sql_tpch_q3"   -> SqlInterface.tpchQ3 _,
    "q_sql_tpch_q18"  -> SqlInterface.tpchQ18 _,
    "q_sql_tpch_q5"   -> SqlInterface.tpchQ5 _,
    "q_sql_tpch_q10"  -> SqlInterface.tpchQ10 _,
    "q_sql_tpch_q4"   -> SqlInterface.tpchQ4 _,
    "q_sql_tpch_q6"   -> SqlInterface.tpchQ6 _,
    "q_sql_tpch_q7"   -> SqlInterface.tpchQ7 _,
    "q_sql_tpch_q14"  -> SqlInterface.tpchQ14 _,
    "q_sql_tpch_q16"  -> SqlInterface.tpchQ16 _,
    "q_sql_tpch_q19"  -> SqlInterface.tpchQ19 _,
    "q_sql_tpch_q13"  -> SqlInterface.tpchQ13 _,
    "q_sql_tpch_q22"  -> SqlInterface.tpchQ22 _,
    "q_sql_tpch_q8"   -> SqlInterface.tpchQ8 _,
    "q_sql_tpch_q9"   -> SqlInterface.tpchQ9 _,
    "q_sql_tpch_q17"  -> SqlInterface.tpchQ17 _,
    "q_sql_tpch_q20"  -> SqlInterface.tpchQ20 _,
    "q_sql_tpch_q21"  -> SqlInterface.tpchQ21 _,
    "q_sql_tpch_q2"   -> SqlInterface.tpchQ2 _,
    "q_sql_tpch_q11"  -> SqlInterface.tpchQ11 _,
    "q_sql_tpch_q12"  -> SqlInterface.tpchQ12 _,
    "q_sql_tpch_q15"  -> SqlInterface.tpchQ15 _,
    // mergeable sketches (probe-only stays rows-only: no cross-engine
    // sketch oracle; error floors spec-pinned in SketchSpec. The
    // heavy-hitter, overlap AND rollup queries are BOUNDED-ERROR
    // ORACLED — rollups as of round 19: exact halves recomputed by
    // DuckDB, published error contracts hash-gated as booleans)
    "q_sketch_rollup"       -> Sketches.hllRollupBounded _,
    "q_sketch_rollup_saved" -> Sketches.hllRollupSavedBounded _,
    "q_cms_heavy_hitters" -> ((s: SparkSession, d: String) => Sketches.cmsHeavyHittersBounded(s, d)),
    "q_cms_probe_only"    -> ((s: SparkSession, d: String) => Sketches.cmsHeavyHittersProbeOnly(s, d)),
    "q_kmv_overlap"       -> ((s: SparkSession, d: String) => Sketches.kmvOverlapBounded(s, d)),
    "q_kmv_overlap_est"   -> ((s: SparkSession, d: String) => Sketches.kmvOverlapEstBounded(s, d)),
    // the audit half alone IS oracle-able (plain distinct/self-join
    // algebra) — hash-gates the pair enumeration + zero-overlap default
    "q_kmv_audit"         -> ((s: SparkSession, d: String) => Sketches.kmvAudit(s, d)),
    "q_fk_audit"      -> Scale.fkAudit _,
    "q_hhi_brand"     -> Breadth.hhiBrand _,
    "q_token_coverage" -> TextAnalysis.tokenCoverage _,
    "q_zipf_slope" -> TextAnalysis.zipfSlope _,
    "q_sql_above_avg" -> SqlInterface.aboveNationAvg _,
    "q_csv_roundtrip" -> CsvIo.roundTrip _,
    "q_format_roundtrip" -> CsvIo.formatRoundTrip _,
    // scale techniques, correctness-checked
    "q_salted_agg"        -> ((s: SparkSession, d: String) => Scale.saltedEventTotals(s, d)),
    "q_salted_skew_join"  -> ((s: SparkSession, d: String) => Scale.saltedSkewJoin(s, d)),
    "q_stratified_sample" -> Scale.stratifiedSample _,
    "q_typed_udaf"        -> Scale.typedUdaf _,
    "q_observed_stats"    -> Scale.observedStats _,
    "q_approx_quantiles"  -> Scale.approxQuantilesBounded _,
    "q_bucketed_join"     -> Scale.bucketedJoin _,
    "q_kafka_shape"       -> graft.streaming.KafkaShaped.roundTrip _,
    "q_partitioned_write" -> Scale.partitionedRoundTrip _,
    "q_analytic_windows"  -> Scale.analyticWindows _,
    "q_median_balance"    -> Scale.medianBalance _,
    "q_exact_quantiles"   -> Scale.exactQuantiles _,
    "q_json_extract"      -> Breadth.jsonExtract _,
    "q_full_outer"        -> Breadth.fullOuter _,
    "q_cube"              -> Breadth.cubeAgg _,
    "q_stream_sliding"    -> graft.streaming.EventsStream.slidingCounts _,
    "q_stats_moments"     -> Scale.statsMoments _,
    "q_collect_top"       -> Scale.collectTop _,
    // reference report-stage analogs (S7 data transforms; rows-only)
    "q_report_table" -> graft.ml.Report.reportTable _,
    "q_best_k"       -> graft.ml.Report.bestK _,
    "q_asof_join"       -> Breadth.asofJoin _,
    "q_approx_distinct" -> Breadth.approxDistinctBounded _,
    // bounded-recall audit vs the exact pair join (round 20);
    // Similarity.lshEmbeddingPairs stays the banded scale carrier
    "q_dedup_embedding_lsh" -> ((s: SparkSession, d: String) => Similarity.lshRecallBounded(s, d)),
    "q_typed_agg"       -> Scale.typedAgg _,
    "q_argmax_order"    -> Scale.argMaxOrder _,
    "q_explode_tokens"  -> Breadth.explodeTokens _,
    "q_regexp_extract"  -> Breadth.regexpExtract _,
    "q_window_range"    -> Breadth.windowRange _,
    "q_union_by_name"   -> Breadth.unionByNameQ _,
    "q_date_arithmetic" -> Breadth.dateArithmetic _,
    // round 2: map/array/grouping-set breadth, deterministic sampling,
    // binned range join, streaming dedup + foreachBatch, PQ ANN
    "q_map_funcs"          -> Breadth.mapFuncs _,
    "q_array_funcs"        -> Breadth.arrayFuncs _,
    "q_grouping_sets"      -> Breadth.groupingSets _,
    "q_hash_sample"        -> ((s: SparkSession, d: String) => Scale.hashSample(s, d)),
    "q_bin_range_join"     -> ((s: SparkSession, d: String) => Scale.binnedRangeJoin(s, d)),
    "q_stream_dedup"       -> graft.streaming.EventsStream.dedupCounts _,
    "q_stream_foreachbatch" -> graft.streaming.EventsStream.foreachBatchTotals _,
    "q_stream_dedup_incremental" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventsStream.streamIncrementalDedup(s, d)),
    // bounded-recall audit over the PQ/IVFADC serve path (round 20 —
    // the IVF twins' scheme; Similarity.pqTopK stays the scale carrier)
    "q_ann_pq"             -> ((s: SparkSession, d: String) => Similarity.pqRecallBounded(s, d)),
    // round 5: supplier coverage, labeled kNN, TF-IDF featurization
    "q_supplier_volume" -> Breadth.localSupplierVolume _,
    // round 7: TPC-H Q2-shaped argmin over (part, supplier)
    "q_min_cost_supplier" -> Relational.minCostSupplier _,
    "q_knn_classify"    -> ((s: SparkSession, d: String) => Similarity.knnClassify(s, d)),
    // bounded-agreement audit vs the exact classifier (round 20, ask
    // #4); Similarity.knnClassifyIvf stays the 100 TB serve carrier
    "q_knn_classify_ivf" -> ((s: SparkSession, d: String) => Similarity.knnIvfAgreementBounded(s, d)),
    "q_tfidf_terms"     -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTerms(s, d)),
    // the relational, fully-oracled vector assembly; the MLlib
    // HashingTF/IDF pipeline sibling stays spec-covered (TfidfSpec)
    "q_tfidf_features"  -> ((s: SparkSession, d: String) => TextAnalysis.tfidfVectors(s, d)),
    "q_stream_stream_join" -> graft.streaming.EventsStream.clickAttribution _,
    "q_stream_stream_outer" -> graft.streaming.EventsStream.clickAttributionOuter _,
    "q_bloom_join"      -> Scale.bloomPrunedJoin _,
    "q_merge_upsert"    -> Scale.mergeUpsert _,
    "q_hybrid_search"   -> ((s: SparkSession, d: String) => Similarity.hybridSearch(s, d)),
    // custom LogicalPlan + SparkStrategy tier: native sorted-merge as-of
    // (same oracle as the composed window formulation — must agree)
    "q_asof_join_native" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.col
      val e = Tables.load(s, d, "events").select("event_id", "user_id", "ts")
      val o = Tables.load(s, d, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
      graft.plans.AsOfJoin
        .asof(e, o, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey")
        .select(col("event_id"), col("user_id"), col("o_orderkey").as("orderkey"))
    }),
    // left-outer native as-of: unmatched events survive with null orderkey
    "q_asof_join_left" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.col
      val e = Tables.load(s, d, "events").select("event_id", "user_id", "ts")
      val o = Tables.load(s, d, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
      graft.plans.AsOfJoin
        .asof(e, o, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey",
          "left_outer")
        .select(col("event_id"), col("user_id"), col("o_orderkey").as("orderkey"))
    }),
    // DataSource V2 generator source (dir-independent: nothing to scan)
    "q_gen_source" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      s.read.format("graft.sources.RangeGenSource")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("event_id") >= 10000 && col("event_id") < 60000)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    }),
    // the same generator through its MicroBatchStream face: admission-
    // controlled batches drain the range, 50k ids per trigger. Two fat
    // batches, not five: per-batch planning dominates a complete-mode
    // memory sink, so fatter batches cut fixed cost while still
    // exercising the multi-batch path (GenStreamSpec drives 8- and
    // 5-batch runs through the same source).
    "q_gen_stream" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.OutputMode
      import org.apache.spark.sql.types.DecimalType
      // 5 generator-defined event types → the state-width rule's floor of
      // 4 (round-21 profile: at the session default 32 this 5-key
      // complete-mode aggregation spun 32 state stores per micro-batch —
      // ~45 s of executor time for milliseconds of data work)
      val agg = s.readStream.format("graft.sources.RangeGenSource")
        .option("rows", "100000").option("batchRows", "50000").load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      graft.streaming.EventsStream.toMemory(s, agg, OutputMode.Complete(),
        graft.streaming.EventsStream.EventTypeKeys)
    }),
    // round 8: native point-in-interval join — irregular numeric bands +
    // time validity windows (same custom plan, two domains)
    "q_interval_join"      -> ((s: SparkSession, d: String) => Scale.intervalJoinBands(s, d)),
    "q_interval_join_salted" -> ((s: SparkSession, d: String) => Scale.intervalJoinBandsSalted(s, d)),
    "q_interval_join_time" -> ((s: SparkSession, d: String) => Scale.intervalJoinWindows(s, d)),
    "q_zorder_layout"      -> Scale.zorderRoundTrip _,
    "q_compaction"         -> ((s: SparkSession, d: String) => Scale.compactionRoundTrip(s, d)),
    "q_schema_evolution"   -> Scale.schemaEvolutionRead _,
    "q_analyze_stats"      -> Scale.analyzeStats _,
    "q_pagerank"           -> ((s: SparkSession, d: String) => Graph.pageRank(s, d)),
    "q_triangle_count"     -> ((s: SparkSession, d: String) => Graph.triangleCount(s, d)),
    "q_kcore"              -> ((s: SparkSession, d: String) => Graph.kCore(s, d)),
    "q_modularity"         -> ((s: SparkSession, d: String) => Graph.modularity(s, d)),
    "q_pareto_frontier"    -> Breadth.paretoFrontier _,
    "q_ewma_user"          -> Breadth.ewmaUser _,
    "q_ewma_revenue"       -> Breadth.ewmaRevenue _,
    "q_drawdown"           -> Breadth.maxDrawdown _,
    "q_cusum_shift"        -> Breadth.cusumShift _,
    "q_interval_union"     -> ((s: SparkSession, d: String) => Breadth.intervalUnion(s, d)),
    "q_rfm_segments"       -> Breadth.rfmSegments _,
    "q_abc_class"          -> Breadth.abcClassification _,
    "q_peak_concurrency"   -> ((s: SparkSession, d: String) => Breadth.peakConcurrency(s, d)),
    "q_audience_overlap"   -> Breadth.audienceOverlap _,
    "q_stream_type_totals" -> graft.streaming.EventsStream.typeTotals _,
    "q_order_cycle_time"   -> Breadth.orderCycleTime _,
    "q_benford_audit"      -> Breadth.benfordAudit _,
    "q_seasonal_dow"       -> Breadth.seasonalDow _,
    "q_source_mixing"      -> TextAnalysis.sourceMixing _,
    "q_lateral_topn"       -> SqlInterface.lateralTopN _,
    "q_recursive_cte"      -> SqlInterface.recursiveMonths _,
    "q_variant_extract"    -> Breadth.variantExtract _,
    "q_sessionize_batch"   -> ((s: SparkSession, d: String) => Breadth.sessionizeBatch(s, d)),
    "q_scd2_apply"         -> Scale.scd2Apply _,
  )

  // Exact gap-30-min session table (lag → break flags → running-sum ids):
  // shared by the batch sessionizer and the timer-driven TWS sessionizer,
  // which must emit the identical table in append mode.
  private lazy val sessionTableOracleSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS tsu,
      |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_tsu
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, value, tsu,
      |         CASE WHEN prev_tsu IS NULL OR tsu - prev_tsu > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM t),
      |s AS (
      |  SELECT user_id, event_id, value, tsu,
      |         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM b)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |       MAX(tsu) - MIN(tsu) AS duration_us,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       MIN(event_id) AS first_event
      |FROM s GROUP BY 1, 2""".stripMargin

  // Shared oracle CTE fragments (DuckDB dialect).
  private val orderRevCte =
    """order_rev AS (
      |  SELECT o.o_custkey AS custkey, l.l_orderkey AS orderkey,
      |         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS rev_dec
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  // exhaustive lang-blocked Jaccard; shared by the full inverted-index
  // formulation and its PPJoin prefix-filtered variant, which must agree.
  private lazy val ngramOracleSql =
    s"""WITH $shinglesCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 6) AS jaccard
       |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.2""".stripMargin

  // gaps-and-islands replay of the stateful sessionizer (30-min gap);
  // shared by both stateful-API variants (flatMapGroupsWithState and
  // transformWithState), which must agree exactly.
  private val sessionsOracleSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tsu FROM events),
      |g AS (
      |  SELECT user_id,
      |         CASE WHEN LAG(tsu) OVER w IS NULL
      |                OR tsu - LAG(tsu) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu))
      |SELECT user_id, CAST(SUM(new_s) AS INT) AS n_sessions,
      |       CAST(COUNT(*) AS INT) AS n_events
      |FROM g GROUP BY 1""".stripMargin

  // one text per "must agree" variant pair: an oracle edit applied to one
  // byte-identical copy but not its twin would silently pin the sibling
  // query to the old algebra (same drift-prevention rationale as
  // ngramOracleSql / sessionsOracleSql above)
  // exact audit half of the HLL sketch-table rollups (round 19): one
  // text for the in-session and persisted variants, which must emit the
  // same audited frame (the "must agree" twin-text rationale above)
  private val hllRollupOracleSql =
    """SELECT event_type,
      |       CAST(COUNT(DISTINCT FLOOR(EPOCH(ts) / 86400)) AS BIGINT) AS n_days,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS within_bound
      |FROM events GROUP BY 1""".stripMargin

  // exact audit half of the bounded ANN recall frames (round 20, the
  // r19 verdict's ask #4): the q_ann_brute dialect's exact top-5 per
  // probe, collapsed to per-probe cardinality + the literal TRUE the
  // engine's hits-floor boolean must reproduce. One text for the
  // in-session and persisted serve variants (the "must agree" twin-text
  // rationale above — both audit the same exact half).
  private val annRecallBoundedOracleSql =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      |         / (SQRT(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
      |            * SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cos_raw
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
      |  WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
      |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      |  FROM scored)
      |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
      |       TRUE AS hits_floor_met
      |FROM ranked WHERE rnk <= 5 GROUP BY query_id""".stripMargin

  private val hourlyOracleSql =
    """SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
      |       event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  private val asofOracleSql =
    """WITH cand AS (
      |  SELECT e.event_id, e.user_id, o.o_orderkey,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e
      |  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
      |SELECT event_id, user_id, o_orderkey AS orderkey
      |FROM cand WHERE rn = 1""".stripMargin

  private lazy val decontaminateOracleSql =
    s"""WITH $shinglesCte,
       |ev AS (SELECT DISTINCT s FROM (
       |  SELECT UNNEST(sh2.s) AS s
       |  FROM sh sh2 JOIN documents d USING (doc_id)
       |  WHERE d.source = 'src0')),
       |tr AS (
       |  SELECT sh3.doc_id, len(sh3.s) AS n_shingles, UNNEST(sh3.s) AS s
       |  FROM sh sh3 JOIN documents d USING (doc_id)
       |  WHERE d.source != 'src0')
       |SELECT tr2.doc_id, COUNT(*) AS n_shared, tr2.n_shingles,
       |       CAST(COUNT(*) AS DOUBLE) / tr2.n_shingles AS contamination
       |FROM tr tr2 JOIN ev USING (s)
       |GROUP BY tr2.doc_id, tr2.n_shingles""".stripMargin

  // the `// 1000000000` tenant terms mirror Scale.TenantStride: zero on
  // the driver testdata (all keys below the stride — hashes unchanged),
  // and a disjoint per-tenant value neighborhood on key-partitioned
  // staged corpora (see the Scale.scala docstring)
  private val intervalJoinOracleSql =
    """WITH bands AS (
      |  SELECT p_partkey AS band_id,
      |         CAST((p_partkey % 44) * 11 + (p_size % 9)
      |              + (p_partkey // 1000000000) * 1024 AS DOUBLE) AS lo,
      |         CAST((p_partkey % 44) * 11 + (p_size % 9)
      |              + (p_partkey // 1000000000) * 1024 + p_size AS DOUBLE) AS hi
      |  FROM part WHERE p_partkey % 29 = 0),
      |pts AS (
      |  SELECT value, value + (event_id // 1000000000) * 1024.0 AS pt
      |  FROM events)
      |SELECT b.band_id, b.lo, b.hi, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM pts e JOIN bands b ON e.pt >= b.lo AND e.pt < b.hi
      |GROUP BY 1, 2, 3""".stripMargin

  private val userStatsCte =
    s"""$orderRevCte,
       |stats AS (
       |  SELECT custkey,
       |         CAST(SUM(rev_dec) AS DOUBLE) / COUNT(*) AS avg_buy,
       |         CAST(MIN(rev_dec) AS DOUBLE) AS min_buy,
       |         CAST(MAX(rev_dec) AS DOUBLE) AS max_buy
       |  FROM order_rev GROUP BY 1)""".stripMargin

  /** DuckDB-dialect oracle per SQL-expressible query. */
  def oracleSql: Map[String, String] = baseOracles ++ composedOracles

  private lazy val baseOracles: Map[String, String] = Map(
    "q_session_revenue" ->
      s"""WITH $orderRevCte
         |SELECT custkey, orderkey, CAST(rev_dec AS DOUBLE) AS order_rev
         |FROM order_rev""".stripMargin,
    "q_user_stats" ->
      s"""WITH $userStatsCte
         |SELECT custkey, avg_buy, min_buy, max_buy FROM stats""".stripMargin,
    "q_accuracy" ->
      """SELECT user_id AS custkey,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS accuracy
        |FROM events GROUP BY 1""".stripMargin,
    "q_strengths" ->
      """SELECT DISTINCT c_custkey AS custkey,
        |       CAST(n_regionkey AS DOUBLE) AS strength
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_age_derivation" ->
      """SELECT o_orderkey AS orderkey,
        |       DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2016-06-16') / 365.0 AS age
        |FROM orders""".stripMargin,
    "q_log_features" ->
      s"""WITH $userStatsCte
         |SELECT custkey, ROUND(LN(avg_buy), 6) AS log_avg_buy,
         |       ROUND(LN(min_buy), 6) AS log_min_buy,
         |       ROUND(LN(max_buy), 6) AS log_max_buy
         |FROM stats""".stripMargin,
    "q_customer_features" ->
      s"""WITH $userStatsCte,
         |ages AS (
         |  SELECT o_custkey AS custkey,
         |         DATE_DIFF('day', CAST(MIN(o_orderdate) AS DATE), DATE '2016-06-16') / 365.0 AS age
         |  FROM orders GROUP BY 1),
         |acc AS (
         |  SELECT user_id AS custkey,
         |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS accuracy
         |  FROM events GROUP BY 1),
         |strengths AS (
         |  SELECT DISTINCT c_custkey AS custkey,
         |         CAST(n_regionkey AS DOUBLE) AS strength
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
         |SELECT a.custkey, a.age, s.avg_buy, s.min_buy, s.max_buy,
         |       x.accuracy, COALESCE(st.strength, 0) AS strength
         |FROM ages a
         |JOIN stats s USING (custkey)
         |JOIN acc x USING (custkey)
         |LEFT JOIN strengths st USING (custkey)""".stripMargin,
    "q_customer_features_multi" ->
      s"""WITH $userStatsCte,
         |ages AS (
         |  SELECT o_custkey AS custkey,
         |         DATE_DIFF('day', CAST(MIN(o_orderdate) AS DATE), DATE '2016-06-16') / 365.0 AS age
         |  FROM orders GROUP BY 1),
         |acc AS (
         |  SELECT user_id AS custkey,
         |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS accuracy
         |  FROM events GROUP BY 1),
         |strengths AS (
         |  SELECT DISTINCT o_custkey AS custkey,
         |         CAST(SUBSTR(o_orderpriority, 1, 1) AS DOUBLE) AS strength
         |  FROM orders)
         |SELECT a.custkey, a.age, s.avg_buy, s.min_buy, s.max_buy,
         |       x.accuracy, COALESCE(st.strength, 0) AS strength
         |FROM ages a
         |JOIN stats s USING (custkey)
         |JOIN acc x USING (custkey)
         |LEFT JOIN strengths st USING (custkey)""".stripMargin,
    "q_filter_pred" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,
    "q_topk_customers" ->
      """SELECT o.o_custkey AS custkey,
        |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS spend
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1
        |ORDER BY spend DESC, custkey ASC
        |LIMIT 10""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q_set_ops" ->
      """SELECT custkey FROM (
        |  (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   UNION
        |   SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')""".stripMargin,
    "q_window_rank" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS custkey, n_name AS nation, c_acctbal AS acctbal,
        |         ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC))
        |WHERE rn <= 5""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey AS suppkey, l_orderkey AS orderkey, l_linenumber AS linenumber,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |            OVER (PARTITION BY l_suppkey
        |                  ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |                           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
        |FROM lineitem""".stripMargin,
    "q_window_lag" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |       DATE_DIFF('day',
        |         CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |         CAST(o_orderdate AS DATE)) AS days_since_prev
        |FROM orders""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey AS custkey, c_mktsegment AS mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey AS custkey, c_acctbal AS acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1998-01-01')""".stripMargin,
    "q_region_revenue" ->
      """SELECT r.r_name AS region,
        |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1""".stripMargin,
    "q_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment AS mktsegment FROM customer",
    "q_case_when" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 5000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY 1""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey AS partkey,
        |       UPPER(p_brand) AS brand_upper,
        |       LOWER(p_type) AS type_lower,
        |       LENGTH(p_name) AS name_len,
        |       SUBSTRING(p_name, 1, 5) AS name_pfx,
        |       CONCAT_WS('|', p_brand, p_type) AS brand_type,
        |       REGEXP_REPLACE(p_name, ' ', '_', 'g') AS name_underscored,
        |       TRIM(p_name) AS name_trim
        |FROM part""".stripMargin,
    "q_date_funcs" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_total
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation,
        |       COALESCE(c_mktsegment, 'ALL') AS mktsegment,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)""".stripMargin,
    "q_pivot_returnflag" ->
      """SELECT l_linestatus AS linestatus,
        |       CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS qty_a,
        |       CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS qty_n,
        |       CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_having" ->
      """SELECT n_name AS nation, COUNT(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 HAVING COUNT(*) > 60""".stripMargin,
    "q_count_distinct" ->
      """SELECT c_mktsegment AS mktsegment,
        |       COUNT(DISTINCT c_nationkey) AS n_nations,
        |       COUNT(*) AS n_customers
        |FROM customer GROUP BY 1""".stripMargin,
    "q_non_equi_join" ->
      """SELECT o.o_orderstatus AS orderstatus, COUNT(*) AS n_late_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        |GROUP BY 1""".stripMargin,
    "q_unpivot_stats" ->
      s"""WITH $userStatsCte
         |SELECT custkey, 'avg_buy' AS stat, avg_buy AS value FROM stats
         |UNION ALL
         |SELECT custkey, 'min_buy' AS stat, min_buy AS value FROM stats
         |UNION ALL
         |SELECT custkey, 'max_buy' AS stat, max_buy AS value FROM stats""".stripMargin,
    "q_events_hourly" -> hourlyOracleSql,
    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "q_dedup_minhash" ->
      // Oracle = exhaustive exact Jaccard; the LSH banding (32 bands × 4
      // rows) has miss probability ≈5e-8 at j=0.8, so results coincide.
      s"""WITH $shinglesCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8""".stripMargin,
    "q_dedup_ngram" -> ngramOracleSql,
    "q_dedup_ngram_prefix" -> ngramOracleSql, // identical output by the prefix-filtering theorem
    // block/posting counts over string shingles (hash-collision-free at
    // corpus scale, same assumption as the jaccard oracles); the prefix
    // posting volume multiplies by a DOUBLE 0.2 so ceil sees the same
    // IEEE product in both engines (a DECIMAL 0.2 would not). The
    // product rounds to the exact decimal ceiling here: 15*0.2 is 3.0,
    // and ceil(n*t) equals ceil of the exact n*t for every n < 3000 and
    // t in {0.1, ..., 0.9}
    "q_blocking_cost" ->
      s"""WITH $shinglesCte,
         |p AS (SELECT lang, unnest(s) AS shingle FROM sh),
         |blocks AS (SELECT lang, shingle, COUNT(*) AS b FROM p GROUP BY 1, 2),
         |f AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |             CAST(SUM(b) AS BIGINT) AS n_postings,
         |             CAST(MAX(b) AS BIGINT) AS max_block,
         |             CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS full_pairs
         |      FROM blocks GROUP BY 1),
         |pre AS (SELECT lang,
         |               CAST(SUM(len(s) - CEIL(len(s) * CAST(0.2 AS DOUBLE)) + 1) AS BIGINT) AS n_prefix_postings
         |        FROM sh GROUP BY 1)
         |SELECT f.lang, n_blocks, n_postings, max_block, full_pairs, n_prefix_postings,
         |       ROUND(CAST(1 AS DOUBLE) - CAST(n_prefix_postings AS DOUBLE) / n_postings, 6) AS posting_reduction
         |FROM f JOIN pre USING (lang)""".stripMargin,
    // directed smaller-into-larger containment; exhaustive replay of the
    // asymmetric-prefix candidate generation (identical by the same
    // theorem, applied one-sided)
    "q_dedup_containment" ->
      s"""WITH $shinglesCte
         |SELECT a.doc_id AS id_in, b.doc_id AS id_out,
         |       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment
         |FROM sh a JOIN sh b
         |  ON a.lang = b.lang
         |  AND (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id))
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9""".stripMargin,
    // exhaustive cross-source replay of the asymmetric incremental check;
    // one verdict row per new-batch doc — zero-match keepers AND
    // sub-shingle-length (< 3 token) docs included, per the keep-list
    // contract (the left join runs from ALL src1 docs, not the
    // shingleable subset)
    "q_dedup_incremental" -> dedupIncrementalOracle,
    // per-language boilerplate census; deterministic (df desc, shingle
    // asc) rank tiebreak in both engines
    "q_hot_shingles" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |shd AS (
        |  SELECT doc_id, lang,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |d AS (SELECT lang, shingle, COUNT(*) AS df FROM shd GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, shingle, df,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |                            ORDER BY df DESC, shingle ASC) AS rank
        |  FROM d)
        |SELECT lang, shingle, df, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 20""".stripMargin,
    // the streaming form unions per-micro-batch verdicts; verdicts
    // depend only on (doc, corpus), so the union equals the batch run
    // and the SAME exhaustive oracle applies verbatim
    "q_stream_dedup_incremental" -> dedupIncrementalOracle,
    // Full bit-replica of the simhash pipeline: 60-bit md5-prefix token
    // hashes (15 hex chars folded base-16), strict-majority per-bit vote
    // (bits 0..62; 60+ are structurally 0), exhaustive Hamming ≤ 3 pairs
    // — exactly the banded result by the pigeonhole losslessness of 4×16
    // banding at distance 3.
    "q_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |th AS (SELECT doc_id,
        |  list_transform(t, tok ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(tok)[i]) - 1 AS BIGINT))),
        |      (a, c) -> a * 16 + c)) AS h
        |  FROM toks WHERE len(t) > 0),
        |sh AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    [CASE WHEN 2 * list_sum([(x >> k) & 1 for x in h]) > len(h)
        |          THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END
        |     for k in range(0, 63)]),
        |    (a, b) -> a | b) AS simhash
        |  FROM th)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q_dedup_components" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$componentsCtes
         |SELECT doc_id, component_id FROM comp""".stripMargin,
    "q_dedup_rep" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$componentsCtes,
         |q AS (SELECT doc_id, $qualityExprSql AS quality FROM documents),
         |r AS (
         |  SELECT comp.component_id, comp.doc_id, q.quality,
         |         ROW_NUMBER() OVER (PARTITION BY comp.component_id
         |                            ORDER BY q.quality DESC, comp.doc_id ASC) AS rn,
         |         COUNT(*) OVER (PARTITION BY comp.component_id) AS n_members
         |  FROM comp JOIN q USING (doc_id))
         |SELECT component_id, CAST(n_members AS BIGINT) AS n_members,
         |       doc_id AS rep_doc, quality AS rep_quality,
         |       CAST(n_members - 1 AS BIGINT) AS n_dropped
         |FROM r WHERE rn = 1""".stripMargin,
    "q_fuzzy_name_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    // same recursive min-reachability shape as the components oracles,
    // over the levenshtein pair graph with STRING labels (LEAST is
    // lexicographic in both engines); singletons canonicalize to
    // themselves via the left join
    "q_fuzzy_canonical" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
        |pairs AS (
        |  SELECT a.p_name AS id_a, b.p_name AS id_b
        |  FROM n a JOIN n b ON a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS p_name, LEAST(s, MIN(d)) AS canonical
        |  FROM reach GROUP BY s)
        |SELECT n.p_name, COALESCE(comp.canonical, n.p_name) AS canonical
        |FROM n LEFT JOIN comp USING (p_name)""".stripMargin,
    "q_dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |             / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |                * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) > 0
        |  AND list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0
        |  AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |      / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |         * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.4""".stripMargin,
    // bounded LSH recall audit (round 20): the exact half is the pair
    // COUNT of the q_dedup_embedding join above; the boolean is the
    // engine-side recall floor over the banded miner's pairs
    "q_dedup_embedding_lsh" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
        |       TRUE AS recall_floor_met
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) > 0
        |  AND list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0
        |  AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |      / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |         * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.4""".stripMargin,
    // the 3-view augmented corpus is derived with EXACT integer-ratio
    // multipliers ((100+m)/100 in doubles) so both engines build
    // bit-identical vectors; the Spark side mines pairs via LSH banding
    // (no corpus-wide cross join — plan-shape pinned), the oracle is the
    // exhaustive pair join, and at dup-grade thresholds the fixed-plane
    // banding is deterministically exhaustive (see Dedup.tightEmbeddingPairs)
    "q_dedup_embedding_tight" ->
      """WITH aug AS (
        |  SELECT e.vec_id * 4 + v.j AS vec_id,
        |         list_transform(range(1, len(e.embedding) + 1),
        |           i -> CAST(e.embedding[i] AS DOUBLE) *
        |                (CAST(100 + ((i * 31 + (v.j + 1) * 17) % 7) - 3 AS DOUBLE)
        |                 / CAST(100 AS DOUBLE))) AS emb
        |  FROM embeddings e CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) v)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_dot_product(a.emb, b.emb)
        |             / (SQRT(list_dot_product(a.emb, a.emb))
        |                * SQRT(list_dot_product(b.emb, b.emb))), 6) AS cos
        |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, a.emb) > 0
        |  AND list_dot_product(b.emb, b.emb) > 0
        |  AND list_dot_product(a.emb, b.emb)
        |      / (SQRT(list_dot_product(a.emb, a.emb))
        |         * SQRT(list_dot_product(b.emb, b.emb))) >= 0.8""".stripMargin,
    // same recursive min-reachability shape as the text components oracle,
    // over the exact-cosine pair graph
    "q_dedup_embedding_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |        / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |           * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.4),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS vec_id, LEAST(s, MIN(d)) AS component_id
        |  FROM reach GROUP BY s)
        |SELECT comp.component_id, COUNT(*) AS n_members,
        |       COUNT(DISTINCT e.label) AS n_labels,
        |       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
        |FROM comp JOIN embeddings e USING (vec_id)
        |GROUP BY 1""".stripMargin,
    "q_ann_brute" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
        |         / (SQRT(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
        |            * SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cos_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |  WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, rnk, ROUND(cos_raw, 6) AS cos
        |FROM ranked WHERE rnk <= 5""".stripMargin,
    // bounded ANN recall audits (round 20): DuckDB recomputes the exact
    // top-5 half and asserts the floor boolean TRUE — a quantizer draw
    // serving under the per-probe floor turns the hash compare red
    "q_ann_ivf" -> annRecallBoundedOracleSql,
    "q_ann_ivf_saved" -> annRecallBoundedOracleSql,
    "q_ann_pq" -> annRecallBoundedOracleSql,
    "q_text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha_runs,
        |       CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digits,
        |       CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS INT) AS n_other,
        |       CAST(LENGTH(text) AS INT) AS len_chars
        |FROM documents""".stripMargin,
    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
        |         CAST(len(list_filter(string_split(text, ' '),
        |           x -> list_contains(['the','a','of','and','in','to','is','der','und','le','la','el','de','et','un'], x))) AS INT) AS n_stop,
        |         len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_toks, n_stop,
        |       CAST(n_punct AS DOUBLE) / LENGTH(text) AS punct_ratio,
        |       CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio,
        |       ROUND(LEAST(1.0, CAST(n_toks AS DOUBLE) / 100) * 0.5
        |             + (1.0 - LEAST(1.0, CAST(n_punct AS DOUBLE) / LENGTH(text) * 10)) * 0.2
        |             + LEAST(1.0, CAST(n_stop AS DOUBLE) / n_toks * 5) * 0.3, 6) AS quality
        |FROM t""".stripMargin,
    "q_corpus_curation" ->
      s"""WITH $curationCtes
         |SELECT doc_id, pred_lang, quality FROM kept""".stripMargin,
    "q_curation_by_source" ->
      s"""WITH $curationCtes
         |SELECT d.source,
         |       COUNT(*) AS n_docs,
         |       COUNT(k.quality) AS n_kept,
         |       COUNT(*) - COUNT(k.quality) AS n_dropped,
         |       CAST(COUNT(k.quality) AS DOUBLE) / COUNT(*) AS kept_rate,
         |       MIN(k.quality) AS min_quality,
         |       MAX(k.quality) AS max_quality
         |FROM documents d
         |LEFT JOIN kept k USING (doc_id)
         |GROUP BY 1""".stripMargin,
    "q_text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |         string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, labeled_lang,
        |         CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS INT) AS n_en,
        |         CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS INT) AS n_de,
        |         CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','une','dans'], x))) AS INT) AS n_fr,
        |         CAST(len(list_filter(toks, x -> list_contains(['el','los','y','las','por','como'], x))) AS INT) AS n_es
        |  FROM t)
        |SELECT doc_id, labeled_lang, n_en, n_de, n_fr, n_es,
        |       CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es AND n_en > 0 THEN 'en'
        |            WHEN n_de >= n_fr AND n_de >= n_es AND n_de > 0 THEN 'de'
        |            WHEN n_fr >= n_es AND n_fr > 0 THEN 'fr'
        |            WHEN n_es > 0 THEN 'es'
        |            ELSE 'und' END AS pred_lang
        |FROM c""".stripMargin,
    // payload = UTF-8(text) is injective and the fixture text is ASCII,
    // so byte-grouping and byte-length replay as text-grouping and
    // char-length exactly
    "q_payload_dedup" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image','audio','video'][(doc_id % 3) + 1] AS kind,
        |         text, LENGTH(text) AS n_bytes
        |  FROM documents),
        |g AS (SELECT kind, text, COUNT(*) AS n_copies, MAX(n_bytes) AS n_bytes
        |      FROM m GROUP BY 1, 2)
        |SELECT kind, CAST(SUM(n_copies) AS BIGINT) AS n_payloads,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       ROUND(CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) / SUM(n_copies), 6) AS dup_ratio,
        |       CAST(SUM(n_bytes * n_copies) AS BIGINT) AS logical_bytes,
        |       CAST(SUM(n_bytes) AS BIGINT) AS stored_bytes
        |FROM g GROUP BY 1""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
        |       CAST((doc_id % 8) * 64 + 64 AS INT) AS width,
        |       CAST(n_chars * 10 AS INT) AS duration_ms,
        |       'application/x-fake-' ||
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS mime
        |FROM documents""".stripMargin,
    "q_multimodal_frames" ->
      // payload = UTF-8 of ASCII text (byte == codepoint), stride 10
      """SELECT doc_id AS media_id,
        |       CAST((LENGTH(text) + 9) // 10 AS INT) AS n_frames,
        |       CAST(list_sum(list_transform(range(0, (LENGTH(text) + 9) // 10),
        |                                    f -> ord(text[f * 10 + 1]))) AS BIGINT) AS checksum,
        |       CAST(ord(text[1]) AS INT) AS first_frame,
        |       CAST(ord(text[((LENGTH(text) - 1) // 10) * 10 + 1]) AS INT) AS last_frame
        |FROM documents WHERE CAST(doc_id % 3 AS INT) = 2""".stripMargin,
    "q_multimodal_features" ->
      // recompute the byte-bucket-average decode kernel: bucket = byte % 16,
      // feat = SUM(byte)/COUNT (exact integer sums → bit-identical doubles);
      // f4 = adjacent-4 average in the same left-assoc addition order.
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, LENGTH(text) + 1)) AS i FROM documents),
        |bytes AS (
        |  SELECT doc_id, ord(text[i]) AS byte FROM pos),
        |agg AS (
        |  SELECT doc_id, byte % 16 AS bucket,
        |         CAST(SUM(byte) AS DOUBLE) / COUNT(*) AS feat
        |  FROM bytes GROUP BY 1, 2),
        |full16 AS (
        |  SELECT d.doc_id, g.bucket, COALESCE(a.feat, 0.0) AS feat
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) g
        |  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.bucket = g.bucket),
        |lists AS (
        |  SELECT doc_id, list(feat ORDER BY bucket) AS l FROM full16 GROUP BY 1),
        |f4 AS (
        |  SELECT doc_id, r.i AS bucket,
        |         (l[4 * r.i + 1] + l[4 * r.i + 2] + l[4 * r.i + 3] + l[4 * r.i + 4]) / 4.0 AS feat
        |  FROM lists CROSS JOIN (SELECT unnest(range(0, 4)) AS i) r),
        |meta AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         CAST(LENGTH(text) AS INT) AS n_bytes
        |  FROM documents)
        |SELECT m.doc_id AS media_id, m.kind, m.n_bytes, 'f16' AS level,
        |       CAST(f.bucket AS INT) AS bucket, f.feat
        |FROM full16 f JOIN meta m USING (doc_id)
        |UNION ALL
        |SELECT m.doc_id AS media_id, m.kind, m.n_bytes, 'f4' AS level,
        |       CAST(f.bucket AS INT) AS bucket, f.feat
        |FROM f4 f JOIN meta m USING (doc_id)""".stripMargin,
    "q_stream_sessions" -> sessionsOracleSql,
    "q_stream_sessions_tws" -> sessionsOracleSql,
    // the streamed tumbling windows replay the batch hourly algebra
    "q_stream_hourly" -> hourlyOracleSql,
    "q_sql_tpch_q1" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |       FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_qty,
        |       FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
        |       FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_sql_tpch_q18" ->
      """SELECT c_name AS name, c_custkey AS custkey, o_orderkey AS orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate_str,
        |       o_totalprice AS totalprice,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |  AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY totalprice DESC, orderkey ASC
        |LIMIT 100""".stripMargin,
    // SQL-text queries whose ANSI text runs verbatim in both engines
    // reference the ONE string SqlInterface executes — the oracle
    // validates engine parity on identical text, so a second copy could
    // only drift (the dialect-divergent ones — q1/q3/q12/q14/q18,
    // recursive CTE — keep their own DuckDB strings below)
    "q_sql_tpch_q6" -> SqlInterface.tpchQ6Sql,
    "q_sql_tpch_q4" -> SqlInterface.tpchQ4Sql,
    "q_sql_tpch_q14" ->
      """SELECT FLOOR(100.0
        |         * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |         * 1000000.0 + 0.5) / 1000000.0 AS promo_share_pct,
        |       COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q_sql_tpch_q7" -> SqlInterface.tpchQ7Sql,
    "q_sql_tpch_q16" -> SqlInterface.tpchQ16Sql,
    "q_sql_tpch_q19" -> SqlInterface.tpchQ19Sql,
    "q_sql_tpch_q8" -> SqlInterface.tpchQ8Sql,
    "q_sql_tpch_q9" -> SqlInterface.tpchQ9Sql,
    // correlated scalar-MIN over a shared derived cost table; raw IEEE
    // unit costs — MIN + equality are exact selections in both engines
    "q_sql_tpch_q2" -> SqlInterface.tpchQ2Sql,
    // HAVING vs an uncorrelated scalar subquery; the 2x-mean threshold
    // is scale-invariant and both compare sides are doubles derived
    // identically from exact DECIMAL sums
    "q_sql_tpch_q11" -> SqlInterface.tpchQ11Sql,
    // two-branch conditional aggregation over the late-line join;
    // all-integer counts
    "q_sql_tpch_q12" ->
      """SELECT l_linestatus AS linestatus,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    // view-maximum: the revenue CTE joins once and feeds an uncorrelated
    // scalar MAX; DECIMAL equality keeps ties engine-independent
    "q_sql_tpch_q15" -> SqlInterface.tpchQ15Sql,
    // correlated scalar-agg decorrelation; 0.2*AVG over integral-double
    // quantities is bit-deterministic, revenue through DECIMAL(18,2)
    "q_sql_tpch_q17" -> SqlInterface.tpchQ17Sql,
    // nested IN + two-key correlated scalar-agg; NULL in-window sums
    // reject via > in both engines; integral-double quantity sums exact
    "q_sql_tpch_q20" -> SqlInterface.tpchQ20Sql,
    // EXISTS/NOT EXISTS self-joins on the fact; returned-line lateness
    // proxy is lineitem-local like the official receipt>commit; integer
    // counts with a pinned (numwait desc, name) top-20 frontier
    "q_sql_tpch_q21" -> SqlInterface.tpchQ21Sql,
    "q_sql_tpch_q13" -> SqlInterface.tpchQ13Sql,
    "q_sql_tpch_q22" -> SqlInterface.tpchQ22Sql,
    "q_sql_tpch_q3" ->
      """SELECT l_orderkey AS orderkey,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate_str
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-03-15'
        |  AND l_shipdate > TIMESTAMP '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, orderkey ASC
        |LIMIT 10""".stripMargin,
    "q_sql_tpch_q5" -> SqlInterface.tpchQ5Sql,
    "q_sql_tpch_q10" -> SqlInterface.tpchQ10Sql,
    // per-(brand, supplier) decimal revenue aggregated once, brand
    // totals reaggregated; share^2 terms round-12 then exact decimal sum
    "q_hhi_brand" ->
      """WITH sr AS (
        |  SELECT p_brand, l_suppkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS s_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |br AS (SELECT p_brand, SUM(s_rev) AS b_rev FROM sr GROUP BY 1),
        |t AS (SELECT sr.p_brand,
        |             CAST(ROUND((CAST(s_rev AS DOUBLE) / CAST(b_rev AS DOUBLE)) *
        |                        (CAST(s_rev AS DOUBLE) / CAST(b_rev AS DOUBLE)), 12) AS DECIMAL(28,12)) AS term
        |      FROM sr JOIN br USING (p_brand))
        |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS hhi
        |FROM t GROUP BY 1""".stripMargin,
    // ln terms and products rounded 12 dp before exact decimal sums;
    // one fixed-shape closed-form slope expression
    "q_zipf_slope" ->
      """WITH f AS (
        |  SELECT tok AS token, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rk FROM f),
        |t AS (SELECT ROUND(LN(CAST(rk AS DOUBLE)), 12) AS x,
        |             ROUND(LN(CAST(freq AS DOUBLE)), 12) AS y
        |      FROM r),
        |d AS (SELECT CAST(x AS DECIMAL(28,12)) AS xd, CAST(y AS DECIMAL(28,12)) AS yd,
        |             CAST(ROUND(x * y, 12) AS DECIMAL(28,12)) AS xy,
        |             CAST(ROUND(x * x, 12) AS DECIMAL(28,12)) AS xx
        |      FROM t),
        |s AS (SELECT COUNT(*) AS n, SUM(xd) AS sx, SUM(yd) AS sy,
        |             SUM(xy) AS sxy, SUM(xx) AS sxx FROM d)
        |SELECT n AS n_types,
        |       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
        |FROM s""".stripMargin,
    // Zipf-mass curve: top-k frequency sums over the deterministic
    // (freq desc, token asc) ranking; integer sums, one division per k
    "q_token_coverage" ->
      """WITH f AS (
        |  SELECT tok AS token, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |r AS (SELECT token, freq,
        |             ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rk
        |      FROM f),
        |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens FROM f),
        |kk AS (SELECT unnest([10, 20, 50]) AS k)
        |SELECT kk.k, CAST(SUM(freq) AS BIGINT) AS covered_tokens,
        |       MAX(t.total_tokens) AS total_tokens,
        |       ROUND(CAST(SUM(freq) AS DOUBLE) / MAX(t.total_tokens), 6) AS coverage
        |FROM kk JOIN r ON r.rk <= kk.k CROSS JOIN t
        |GROUP BY 1""".stripMargin,
    "q_sql_above_avg" -> SqlInterface.aboveNationAvgSql,
    "q_csv_roundtrip" ->
      s"""WITH $userStatsCte
         |SELECT custkey, avg_buy, min_buy, max_buy,
         |       1100000000 + custkey AS last_seen FROM stats""".stripMargin,
    "q_format_roundtrip" ->
      s"""WITH $userStatsCte
         |SELECT custkey, avg_buy, min_buy, max_buy FROM stats""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o.o_orderpriority AS orderpriority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(r.rev_dec) AS DOUBLE) AS total_rev
        |FROM orders o
        |JOIN (SELECT l_orderkey,
        |             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev_dec
        |      FROM lineitem GROUP BY 1) r
        |  ON o.o_orderkey = r.l_orderkey
        |GROUP BY 1""".stripMargin,
    "q_typed_udaf" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_value,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "q_observed_stats" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc
        |FROM lineitem""".stripMargin,
    "q_stratified_sample" ->
      """SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_sampled
        |FROM customer
        |WHERE ((c_custkey % 1048573) * 2654435761) % 4294967296 <
        |      CASE c_mktsegment
        |        WHEN 'BUILDING'   THEN CAST(214748364 AS BIGINT)
        |        WHEN 'AUTOMOBILE' THEN CAST(429496729 AS BIGINT)
        |        WHEN 'MACHINERY'  THEN CAST(858993459 AS BIGINT)
        |        WHEN 'FURNITURE'  THEN CAST(2147483648 AS BIGINT)
        |        WHEN 'HOUSEHOLD'  THEN CAST(4294967296 AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END
        |GROUP BY 1""".stripMargin,
    "q_kafka_shape" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       MAX(epoch_us(ts)) AS max_ts
        |FROM events GROUP BY 1""".stripMargin,
    "q_salted_skew_join" ->
      """WITH ts AS (
        |  SELECT event_type, MAX(value) AS max_value FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |       COUNT(*) FILTER (WHERE e.value >= ts.max_value / 2) AS n_above_half,
        |       MAX(ts.max_value) AS max_value
        |FROM events e JOIN ts USING (event_type)
        |GROUP BY e.event_type""".stripMargin,
    "q_partitioned_write" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        |GROUP BY 1""".stripMargin,
    "q_analytic_windows" ->
      """SELECT c_custkey AS custkey, c_nationkey AS nationkey,
        |       NTILE(4) OVER w AS quartile,
        |       PERCENT_RANK() OVER w AS pct_rank,
        |       CUME_DIST() OVER w AS cume,
        |       FIRST_VALUE(c_custkey) OVER w2 AS richest,
        |       LAST_VALUE(c_custkey) OVER w2 AS poorest
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC),
        |       w2 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q_median_balance" ->
      """SELECT c_mktsegment AS mktsegment,
        |       ROUND(QUANTILE_CONT(c_acctbal, 0.5), 4) AS median_bal,
        |       ROUND(QUANTILE_CONT(c_acctbal, 0.9), 4) AS p90_bal,
        |       COUNT(*) AS n
        |FROM customer GROUP BY 1""".stripMargin,
    "q_exact_quantiles" ->
      """SELECT event_type,
        |       ROUND(QUANTILE_CONT(value, 0.1), 4) AS p10_exact,
        |       ROUND(QUANTILE_CONT(value, 0.5), 4) AS p50_exact,
        |       ROUND(QUANTILE_CONT(value, 0.9), 4) AS p90_exact,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q_json_extract" ->
      // CAST the SUM back to BIGINT: DuckDB SUM(BIGINT) yields HUGEINT,
      // which lands as float64 in the comparer and breaks the hash.
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q_full_outer" ->
      """SELECT COALESCE(o.key, e.key) AS key,
        |       COALESCE(o.n_orders, 0) AS n_orders,
        |       COALESCE(e.n_events, 0) AS n_events
        |FROM (SELECT o_custkey AS key, COUNT(*) AS n_orders FROM orders GROUP BY 1) o
        |FULL OUTER JOIN (SELECT user_id AS key, COUNT(*) AS n_events FROM events GROUP BY 1) e
        |ON o.key = e.key""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation,
        |       COALESCE(c_mktsegment, 'ALL') AS mktsegment,
        |       COUNT(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey
        |                  ORDER BY CAST(FLOOR(EPOCH(o_orderdate) / 86400) AS BIGINT)
        |                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders""".stripMargin,
    "q_union_by_name" ->
      """SELECT c_custkey AS custkey, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal < 0
        |UNION ALL
        |SELECT c_custkey AS custkey, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal > 9900""".stripMargin,
    "q_date_arithmetic" ->
      """SELECT o_orderkey AS orderkey,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR AS due_date,
        |       CAST(DATE_TRUNC('month', o_orderdate) AS DATE)::VARCHAR AS month_start,
        |       CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS DATE)::VARCHAR AS month_end,
        |       CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr
        |FROM orders""".stripMargin,
    "q_explode_tokens" ->
      """SELECT token, COUNT(*) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin,
    "q_regexp_extract" ->
      """SELECT p_partkey AS partkey,
        |       regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |       regexp_extract(p_name, '(\d+)$', 1) AS name_num,
        |       regexp_extract(p_brand, '#(\d+)', 1) AS brand_num
        |FROM part""".stripMargin,
    "q_argmax_order" ->
      """WITH m AS (
        |  SELECT o_custkey AS custkey,
        |         MAX(ROW(o_totalprice, o_orderkey)) AS m
        |  FROM orders GROUP BY 1)
        |SELECT custkey, m[1] AS best_price, m[2] AS best_orderkey FROM m""".stripMargin,
    "q_typed_agg" ->
      """SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY 1""".stripMargin,
    "q_asof_join" -> asofOracleSql,
    // the native SortMergeAsof plan must agree with the composed path
    "q_asof_join_native" -> asofOracleSql,
    "q_asof_join_left" ->
      """WITH cand AS (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY e.event_id
        |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, o_orderkey AS orderkey
        |FROM cand WHERE rn = 1""".stripMargin,
    "q_stats_moments" ->
      """WITH li AS (
        |  SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT COUNT(*)::DOUBLE AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(n_lines AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(n_lines AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(n_lines AS DECIMAL(18,2)) * CAST(n_lines AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM orders JOIN li ON o_orderkey = l_orderkey)
        |SELECT CAST(n AS BIGINT) AS n_orders,
        |       ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_price,
        |       ROUND((n * sxy - sx * sy)
        |             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_price_lines
        |FROM m""".stripMargin,
    "q_collect_top" ->
      """WITH ranked AS (
        |  SELECT c_nationkey, c_custkey,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer)
        |SELECT c_nationkey AS nationkey,
        |       STRING_AGG(c_custkey, ',' ORDER BY c_custkey) AS top_customers
        |FROM ranked WHERE rn <= 3 GROUP BY 1""".stripMargin,
    "q_stream_sliding" ->
      """WITH b AS (
        |  SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS h, value FROM events),
        |expanded AS (
        |  SELECT h AS wstart, value FROM b
        |  UNION ALL
        |  SELECT h - 3600 AS wstart, value FROM b)
        |SELECT wstart, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM expanded GROUP BY 1""".stripMargin,
  ) ++ round2Oracles

  /** Oracles COMPOSED from base entries — built from [[baseOracles]] so
    * the component SQL can never drift from what the per-method queries
    * are checked against. */
  private lazy val composedOracles: Map[String, String] = {
    val methods = Map(
      "exact" -> "q_dedup_exact", "minhash" -> "q_dedup_minhash",
      "simhash" -> "q_dedup_simhash", "ngram" -> "q_dedup_ngram",
      "containment" -> "q_dedup_containment", "embedding" -> "q_dedup_embedding")
    val body = methods.toSeq.sortBy(_._1).map { case (m, q) =>
      s"SELECT '$m' AS method, CAST(COUNT(*) AS BIGINT) AS n_results FROM (${baseOracles(q)})"
    }.mkString("\nUNION ALL\n")
    Map("q_dedup_summary" -> body)
  }

  /** Round-2 oracles (map/array/grouping-sets/sampling/binning/streaming). */
  private def round2Oracles: Map[String, String] = Map(
    "q_map_funcs" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, CAST(COUNT(*) AS INT) AS n_types FROM c GROUP BY 1)
        |SELECT c.user_id, t.n_types, c.event_type, c.cnt
        |FROM c JOIN t USING (user_id)""".stripMargin,
    "q_array_funcs" ->
      """WITH t AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_distinct_tokens,
        |       toks[1] AS first_token,
        |       array_to_string(toks[1:3], ',') AS top3_tokens,
        |       CAST(list_contains(toks, 'the') AS INT) AS has_the
        |FROM t""".stripMargin,
    "q_grouping_sets" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation,
        |       COALESCE(c_mktsegment, 'ALL') AS mktsegment,
        |       CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS INT) AS gid,
        |       COUNT(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin,
    "q_hash_sample" ->
      """SELECT c_custkey AS custkey, c_mktsegment AS mktsegment,
        |       ((c_custkey % 1048573) * 2654435761) % 4294967296 AS hash_val
        |FROM customer
        |WHERE ((c_custkey % 1048573) * 2654435761) % 4294967296 < 429496729""".stripMargin,
    "q_repetition_signals" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT doc_id, len(t) AS n_tokens,
        |                len(list_distinct(t)) AS n_distinct FROM t),
        |bgc AS (
        |  SELECT doc_id,
        |         UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM t WHERE len(t) >= 2),
        |cnt AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bgc GROUP BY 1, 2),
        |top AS (SELECT doc_id, bigram, n,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram) AS rn
        |        FROM cnt)
        |SELECT b.doc_id, b.n_tokens, b.n_distinct,
        |       1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS dup_token_frac,
        |       t2.bigram AS top_bigram, t2.n AS top_bigram_n,
        |       CAST(t2.n AS DOUBLE) / (b.n_tokens - 1) AS top_bigram_frac
        |FROM base b LEFT JOIN top t2 ON b.doc_id = t2.doc_id AND t2.rn = 1""".stripMargin,
    "q_decontaminate" -> decontaminateOracleSql,
    // bloom prefilter is result-invariant (false positives die in the
    // exact join) → same oracle as q_decontaminate
    "q_decontaminate_bloom" -> decontaminateOracleSql,
    "q_lm_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM t),
        |known AS (
        |  SELECT bigram FROM bg GROUP BY 1 HAVING COUNT(*) >= 50),
        |hits AS (
        |  SELECT bg.doc_id, COUNT(*) AS n_known
        |  FROM bg JOIN known USING (bigram) GROUP BY 1)
        |SELECT t.doc_id,
        |       CAST(len(t.t) - 1 AS INT) AS n_bigrams,
        |       COALESCE(hits.n_known, 0) AS n_known,
        |       CAST(COALESCE(hits.n_known, 0) AS DOUBLE) / (len(t.t) - 1) AS known_rate
        |FROM t LEFT JOIN hits USING (doc_id)""".stripMargin,
    // per-language moments as exact decimal sums → bit-identical mu/sigma;
    // z arithmetic mirrors the Spark expression op-for-op
    "q_quality_calibrated" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, $qualityExprSql AS quality FROM documents),
         |st AS (
         |  SELECT lang, COUNT(*) AS n,
         |         SUM(CAST(quality AS DECIMAL(18,6))) AS s,
         |         SUM(CAST(quality AS DECIMAL(18,6)) * CAST(quality AS DECIMAL(18,6))) AS ss
         |  FROM q GROUP BY 1),
         |m AS (
         |  SELECT lang,
         |         CAST(s AS DOUBLE) / n AS mu,
         |         sqrt(GREATEST(CAST(ss AS DOUBLE) / n
         |              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS sigma
         |  FROM st)
         |SELECT q.doc_id, q.lang, q.quality,
         |       ROUND(CASE WHEN sigma > 0 THEN (q.quality - mu) / sigma ELSE 0.0 END, 6) AS z,
         |       CAST((CASE WHEN sigma > 0 THEN (q.quality - mu) / sigma ELSE 0.0 END) >= -1.0 AS INT) AS keep
         |FROM q JOIN m USING (lang)""".stripMargin,
    "q_normalize_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, upper(text) || ' !!' FROM documents),
        |d AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM all_docs)
        |SELECT doc_id,
        |       CAST(text != norm AS INT) AS changed,
        |       COUNT(*) OVER (PARTITION BY md5(text)) AS n_raw_dups,
        |       COUNT(*) OVER (PARTITION BY md5(norm)) AS n_norm_dups
        |FROM d""".stripMargin,
    "q_bpe_merge" ->
      """WITH vocab AS (
        |  SELECT tok, COUNT(*) AS freq FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT pair, SUM(freq) AS n FROM (
        |    SELECT freq, UNNEST(list_transform(range(1, len(tok)), i -> substring(tok, i, 2))) AS pair
        |    FROM vocab WHERE len(tok) >= 2)
        |  GROUP BY 1)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS INT) AS rank,
        |       pair, CAST(n AS BIGINT) AS n
        |FROM pairs ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang, doc_id % 8 AS shard,
        |         len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tok,
        |         CAST(SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM d)
        |SELECT lang, shard, (cum - n_tok) // 512 AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2, 3""".stripMargin,
    "q_blocklist_scrub" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '),
        |           t -> list_contains(['customer','user','key'], t))) AS INT) AS n_masked,
        |       array_to_string(list_transform(string_split(text, ' '),
        |           t -> CASE WHEN list_contains(['customer','user','key'], t)
        |                     THEN '<MASKED>' ELSE t END), ' ') AS scrubbed
        |FROM documents""".stripMargin,
    "q_pii_redact" ->
      """SELECT event_id,
        |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_redacted,
        |       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted
        |FROM events""".stripMargin,
    // both medians are lower-median ELEMENT selections under a
    // (value, event_id) total order — data values, no interpolation —
    // so the z-threshold comparisons replay bit-exactly
    "q_robust_outliers" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |c AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
        |r AS (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn FROM e),
        |med AS (SELECT r.event_type, r.value AS med
        |        FROM r JOIN c USING (event_type) WHERE r.rn = (c.n + 1) // 2),
        |d AS (SELECT e.event_type, e.event_id, e.value, med.med,
        |             ABS(e.value - med.med) AS dev
        |      FROM e JOIN med USING (event_type)),
        |r2 AS (SELECT d.*, ROW_NUMBER() OVER (PARTITION BY event_type
        |                                      ORDER BY dev, event_id) AS rn FROM d),
        |mad AS (SELECT r2.event_type, r2.dev AS mad
        |        FROM r2 JOIN c USING (event_type) WHERE r2.rn = (c.n + 1) // 2)
        |SELECT d.event_type, COUNT(*) AS n_events,
        |       ANY_VALUE(d.med) AS med, ANY_VALUE(mad.mad) AS mad,
        |       CAST(SUM(CASE WHEN mad.mad > 0
        |                      AND ABS(0.6745 * (d.value - d.med) / mad.mad) > 3.5
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type""".stripMargin,
    // closed-form least squares on exact sums: x integer seconds from the
    // per-type min, y DECIMAL(18,2); divisions once, in double, on
    // identical operands (see Breadth.trendSlope)
    "q_trend_slope" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 AS sec, value FROM events),
        |t0 AS (SELECT event_type, MIN(sec) AS sec0 FROM e GROUP BY 1),
        |j AS (SELECT e.event_type, e.sec - t0.sec0 AS x,
        |             CAST(e.value AS DECIMAL(18,2)) AS y
        |      FROM e JOIN t0 USING (event_type)),
        |s AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
        |             SUM(y) AS sy, SUM(CAST(x AS DECIMAL(18,0)) * y) AS sxy
        |      FROM j GROUP BY 1),
        |d AS (SELECT event_type, n, sx, sy,
        |             CASE WHEN n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
        |                  THEN NULL
        |                  ELSE (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |                       (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |             END AS raw_slope
        |      FROM s)
        |SELECT event_type, n,
        |       ROUND(raw_slope, 10) AS slope,
        |       ROUND((CAST(sy AS DOUBLE) - raw_slope * CAST(sx AS DOUBLE)) / n, 6) AS intercept
        |FROM d""".stripMargin,
    // calendar self-join (month = prev + 12 months), not LAG(12): a row
    // lag mis-aligns every comparison after a zero-order gap month
    "q_yoy_growth" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT m.month, CAST(m.revenue AS DOUBLE) AS revenue,
        |       CAST(p.revenue AS DOUBLE) AS prev_year,
        |       ROUND((CAST(m.revenue AS DOUBLE) - CAST(p.revenue AS DOUBLE)) /
        |             CAST(p.revenue AS DOUBLE), 6) AS yoy_growth
        |FROM m LEFT JOIN m p ON m.month = CAST(p.month + INTERVAL 12 MONTH AS DATE)""".stripMargin,
    // row-lag self-join on the bounded daily aggregate; exact decimal
    // sums, one double correlation per lag (see Breadth.revenueAutocorr)
    "q_revenue_autocorr" ->
      """WITH m AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM m),
        |l AS (SELECT UNNEST(range(1, 8)) AS lag),
        |p AS (SELECT l.lag, x.rev AS xv, y.rev AS yv
        |      FROM l CROSS JOIN r x JOIN r y ON x.rn = y.rn + l.lag),
        |s AS (SELECT lag, COUNT(*) AS n, SUM(xv) AS sx, SUM(yv) AS sy,
        |             SUM(xv * yv) AS sxy, SUM(xv * xv) AS sxx,
        |             SUM(yv * yv) AS syy
        |      FROM p GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n,
        |       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |                  (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
        |FROM s""".stripMargin,
    "q_user_recency" ->
      """WITH ls AS (
        |  SELECT user_id, MAX(epoch_us(ts) // 1000000) AS last_sec
        |  FROM events GROUP BY 1),
        |h AS (SELECT MAX(last_sec) AS max_sec FROM ls)
        |SELECT LEAST((max_sec - last_sec) // 86400, 7) AS days_ago,
        |       COUNT(*) AS n_users
        |FROM ls CROSS JOIN h
        |GROUP BY 1""".stripMargin,
    // decile cuts rounded at 4 dp (interpolations of 2-dp inputs carry
    // <= 3 dp); decimal revenue sums; share divisions on identical
    // operands (see Breadth.lorenzProfile)
    "q_lorenz" ->
      """WITH r AS (
        |  SELECT o_custkey,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |c AS (SELECT [ROUND(QUANTILE_CONT(rev, 0.1), 4), ROUND(QUANTILE_CONT(rev, 0.2), 4),
        |              ROUND(QUANTILE_CONT(rev, 0.3), 4), ROUND(QUANTILE_CONT(rev, 0.4), 4),
        |              ROUND(QUANTILE_CONT(rev, 0.5), 4), ROUND(QUANTILE_CONT(rev, 0.6), 4),
        |              ROUND(QUANTILE_CONT(rev, 0.7), 4), ROUND(QUANTILE_CONT(rev, 0.8), 4),
        |              ROUND(QUANTILE_CONT(rev, 0.9), 4)] AS cs FROM r),
        |b AS (SELECT CAST(rev > cs[1] AS INT) + CAST(rev > cs[2] AS INT) +
        |             CAST(rev > cs[3] AS INT) + CAST(rev > cs[4] AS INT) +
        |             CAST(rev > cs[5] AS INT) + CAST(rev > cs[6] AS INT) +
        |             CAST(rev > cs[7] AS INT) + CAST(rev > cs[8] AS INT) +
        |             CAST(rev > cs[9] AS INT) AS bucket, rev_dec
        |      FROM r CROSS JOIN c),
        |g AS (SELECT bucket, COUNT(*) AS n_customers, SUM(rev_dec) AS rev_sum
        |      FROM b GROUP BY 1)
        |SELECT bucket, n_customers, CAST(rev_sum AS DOUBLE) AS revenue,
        |       FLOOR(CAST(rev_sum AS DOUBLE) /
        |             CAST(SUM(rev_sum) OVER () AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS rev_share,
        |       FLOOR(CAST(SUM(rev_sum) OVER (ORDER BY bucket) AS DOUBLE) /
        |             CAST(SUM(rev_sum) OVER () AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS cum_share
        |FROM g""".stripMargin,
    // per-term round-then-decimal-sum: the entropy Sigma is exact and
    // order-independent (see TextAnalysis.sourceEntropy)
    "q_source_entropy" ->
      """WITH c AS (
        |  SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |n AS (SELECT source, w, COUNT(*) AS n FROM c GROUP BY 1, 2),
        |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens FROM n GROUP BY 1)
        |SELECT source, MAX(n_tokens) AS n_tokens, COUNT(*) AS n_distinct,
        |       ROUND(CAST(SUM(CAST(ROUND(-(CAST(n.n AS DOUBLE) / t.n_tokens) *
        |             LN(CAST(n.n AS DOUBLE) / t.n_tokens), 12)
        |             AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy
        |FROM n JOIN t USING (source)
        |GROUP BY source""".stripMargin,
    // RANGE frame on integer seconds; decimal sum inside the frame,
    // one rounded double division (see Breadth.rollingHour)
    "q_rolling_hour" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events)
        |SELECT event_id,
        |       COUNT(*) OVER w AS n_1h,
        |       ROUND(CAST(SUM(v) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS mean_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,
    // per-cell chi-squared decomposition; no cross-cell double sum
    "q_contingency" ->
      """WITH c AS (
        |  SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS observed
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, SUM(observed) AS n_type FROM c GROUP BY 1),
        |h AS (SELECT hr, SUM(observed) AS n_hr FROM c GROUP BY 1),
        |t AS (SELECT SUM(observed) AS n FROM c)
        |SELECT c.event_type, CAST(c.hr AS INT) AS hr, c.observed,
        |       ROUND(CAST(r.n_type AS DOUBLE) * CAST(h.n_hr AS DOUBLE) / t.n, 6) AS expected,
        |       ROUND((c.observed - CAST(r.n_type AS DOUBLE) * CAST(h.n_hr AS DOUBLE) / t.n) /
        |             SQRT(CAST(r.n_type AS DOUBLE) * CAST(h.n_hr AS DOUBLE) / t.n), 6) AS residual
        |FROM c JOIN r USING (event_type) JOIN h USING (hr) CROSS JOIN t""".stripMargin,
    // bin assignment is the same double expression on the same operands
    // in both engines; the max value is clamped into the last bin
    "q_value_histogram" ->
      """WITH s AS (
        |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT e.event_type,
        |         CASE WHEN s.hi = s.lo THEN 0
        |              ELSE LEAST(FLOOR((e.value - s.lo) * 10 / (s.hi - s.lo)), 9)
        |         END AS bin,
        |         s.lo, s.hi
        |  FROM events e JOIN s USING (event_type))
        |SELECT event_type, CAST(bin AS BIGINT) AS bin,
        |       ROUND(lo + bin * (hi - lo) / 10, 6) AS bin_lo,
        |       COUNT(*) AS n
        |FROM b GROUP BY event_type, bin, lo, hi""".stripMargin,
    // the oracle uses the textbook basket self-join; the engine builds
    // bounded per-order brand sets and expands pairs map-side instead
    "q_basket_pairs" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
        |s AS (SELECT brand, COUNT(*) AS n1 FROM ob GROUP BY 1),
        |p AS (SELECT x.brand AS a, y.brand AS b, COUNT(*) AS n_ab
        |      FROM ob x JOIN ob y ON x.okey = y.okey AND x.brand < y.brand
        |      GROUP BY 1, 2)
        |SELECT a, b, n_ab,
        |       ROUND(CAST(n_ab AS DOUBLE) * n.n_orders / (sa.n1 * sb.n1), 6) AS lift,
        |       ROUND(CAST(n_ab AS DOUBLE) / sa.n1, 6) AS conf_a_to_b
        |FROM p JOIN s sa ON p.a = sa.brand JOIN s sb ON p.b = sb.brand
        |CROSS JOIN n
        |WHERE n_ab >= 5""".stripMargin,
    "q_path_trigrams" ->
      """WITH t AS (
        |  SELECT event_type AS t0,
        |         LEAD(event_type, 1) OVER w AS t1,
        |         LEAD(event_type, 2) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t0 || '>' || t1 || '>' || t2 AS trigram, COUNT(*) AS n
        |FROM t WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, trigram LIMIT 25""".stripMargin,
    "q_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
        |p AS (SELECT user_id, event_type AS to_type,
        |             LAG(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY tsu, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |       FLOOR(c.n / t.n_from * 1000000.0 + 0.5) / 1000000.0 AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS week FROM events),
        |f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1)
        |SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
        |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // exact p05/p95 element selections (same basis as q_robust_outliers)
    "q_winsorize" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |c AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
        |r AS (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn FROM e),
        |lo AS (SELECT r.event_type, r.value AS p05
        |       FROM r JOIN c USING (event_type)
        |       WHERE r.rn = GREATEST(1, (5 * c.n) // 100)),
        |hi AS (SELECT r.event_type, r.value AS p95
        |       FROM r JOIN c USING (event_type)
        |       WHERE r.rn = GREATEST(1, (95 * c.n) // 100))
        |SELECT e.event_type, COUNT(*) AS n_events,
        |       ANY_VALUE(lo.p05) AS p05, ANY_VALUE(hi.p95) AS p95,
        |       CAST(COUNT(CASE WHEN e.value < lo.p05 THEN 1 END) AS BIGINT) AS n_clip_low,
        |       CAST(COUNT(CASE WHEN e.value > hi.p95 THEN 1 END) AS BIGINT) AS n_clip_high,
        |       CAST(SUM(CAST(GREATEST(lo.p05, LEAST(hi.p95, e.value))
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS winsorized_sum
        |FROM e JOIN lo USING (event_type) JOIN hi USING (event_type)
        |GROUP BY 1""".stripMargin,
    // Hamilton largest-remainder apportionment — all-integer, allocations
    // sum to exactly the budget (see TextAnalysis.sampleAllocation)
    "q_sample_allocation" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_docs) AS total FROM s),
        |j AS (SELECT s.source, s.n_docs,
        |             (10000 * s.n_docs) // t.total AS base,
        |             (10000 * s.n_docs) % t.total AS rem
        |      FROM s CROSS JOIN t),
        |d AS (SELECT 10000 - SUM(base) AS d FROM j),
        |r AS (SELECT j.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
        |      FROM j)
        |SELECT r.source, r.n_docs,
        |       CAST(r.base + CASE WHEN r.rk <= d.d THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r CROSS JOIN d""".stripMargin,
    // first/last-by-time as lexicographic ROW min/max — one keyed agg,
    // no window (see Breadth.ohlcBars)
    "q_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS tsu, event_id, value FROM events),
        |b AS (SELECT event_type, (tsu // 3600000000) * 3600 AS bucket_start,
        |             tsu, event_id, value FROM e)
        |SELECT event_type, bucket_start,
        |       MIN(ROW(tsu, event_id, value))[3] AS open,
        |       MAX(value) AS high,
        |       MIN(value) AS low,
        |       MAX(ROW(tsu, event_id, value))[3] AS close,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q_data_contract" ->
      """SELECT 'lineitem_orderkey_not_null' AS check_name,
        |       CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_violations,
        |       CASE WHEN COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) = 0
        |            THEN 'pass' ELSE 'fail' END AS status
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_discount_domain',
        |       CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS BIGINT),
        |       CASE WHEN COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) = 0
        |            THEN 'pass' ELSE 'fail' END
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_qty_positive',
        |       CAST(COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT),
        |       CASE WHEN COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) = 0
        |            THEN 'pass' ELSE 'fail' END
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_key_unique',
        |       CAST(COUNT(*) - COUNT(DISTINCT ROW(l_orderkey, l_linenumber)) AS BIGINT),
        |       CASE WHEN COUNT(*) = COUNT(DISTINCT ROW(l_orderkey, l_linenumber))
        |            THEN 'pass' ELSE 'fail' END
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_custkey_references_customer',
        |       CAST(COUNT(*) AS BIGINT),
        |       CASE WHEN COUNT(*) = 0 THEN 'pass' ELSE 'fail' END
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey IS NULL
        |UNION ALL
        |SELECT 'orders_date_domain',
        |       CAST(COUNT(CASE WHEN o_orderdate < DATE '1992-01-01'
        |                         OR o_orderdate >= DATE '1999-01-01' THEN 1 END) AS BIGINT),
        |       CASE WHEN COUNT(CASE WHEN o_orderdate < DATE '1992-01-01'
        |                             OR o_orderdate >= DATE '1999-01-01' THEN 1 END) = 0
        |            THEN 'pass' ELSE 'fail' END
        |FROM orders""".stripMargin,
    // seven FK edges, each: row count, distinct child keys, orphan count
    "q_fk_audit" ->
      """SELECT 'lineitem_orderkey' AS fk_edge, COUNT(*) AS n_rows,
        |       COUNT(DISTINCT l_orderkey) AS n_keys,
        |       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
        |          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_partkey', COUNT(*), COUNT(DISTINCT l_partkey),
        |       (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
        |          ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_suppkey', COUNT(*), COUNT(DISTINCT l_suppkey),
        |       (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
        |          ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_custkey', COUNT(*), COUNT(DISTINCT o_custkey),
        |       (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        |          ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |FROM orders
        |UNION ALL
        |SELECT 'customer_nationkey', COUNT(*), COUNT(DISTINCT c_nationkey),
        |       (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
        |          ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        |FROM customer
        |UNION ALL
        |SELECT 'supplier_nationkey', COUNT(*), COUNT(DISTINCT s_nationkey),
        |       (SELECT COUNT(*) FROM supplier s LEFT JOIN nation n
        |          ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        |FROM supplier
        |UNION ALL
        |SELECT 'nation_regionkey', COUNT(*), COUNT(DISTINCT n_regionkey),
        |       (SELECT COUNT(*) FROM nation n LEFT JOIN region r
        |          ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)
        |FROM nation
        |ORDER BY fk_edge""".stripMargin,
    "q_debounce" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |           FROM events),
        |l AS (SELECT event_id, user_id, event_type, tsu,
        |             LAG(tsu) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY tsu, event_id) AS prev_tsu
        |      FROM e)
        |SELECT event_id, user_id, event_type, tsu - prev_tsu AS gap_us
        |FROM l WHERE prev_tsu IS NULL OR tsu - prev_tsu > 3600000000""".stripMargin,
    // latest-wins changelog compaction with tombstones: row_number over
    // (key, seq desc) then one full-outer merge (see Scale.cdcApply)
    "q_cdc_apply" ->
      """WITH feed AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |         CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
        |         o_totalprice AS new_val
        |  FROM orders),
        |log AS (SELECT * FROM feed
        |        UNION ALL
        |        SELECT -custkey, seq, op, new_val FROM feed WHERE custkey % 100 = 0),
        |latest AS (
        |  SELECT custkey, op, new_val,
        |         ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY seq DESC) AS rn
        |  FROM log),
        |l1 AS (SELECT custkey, op, new_val FROM latest WHERE rn = 1),
        |t AS (SELECT c_custkey AS custkey, c_acctbal AS old_bal FROM customer)
        |SELECT COALESCE(t.custkey, l1.custkey) AS custkey,
        |       CASE WHEN l1.op IS NULL THEN 'keep'
        |            WHEN t.old_bal IS NULL THEN 'insert'
        |            ELSE 'update' END AS action,
        |       COALESCE(l1.new_val, t.old_bal) AS bal
        |FROM t FULL OUTER JOIN l1 ON t.custkey = l1.custkey
        |WHERE l1.op IS NULL OR l1.op <> 'D'""".stripMargin,
    "q_source_caps" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         ((doc_id % 1048573) * 2654435761) % 4294967296 AS hash_val
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY source
        |                  ORDER BY hash_val, doc_id) AS INT) AS rk FROM h)
        |SELECT source, doc_id, rk FROM r WHERE rk <= 20""".stripMargin,
    // cascaded conditional aggregation: step k = min event time of the
    // step-k type strictly after step k-1 (see Breadth.funnelSteps)
    "q_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |s1 AS (SELECT user_id,
        |              MIN(CASE WHEN event_type = 'click' THEN tsu END) AS t1
        |       FROM e GROUP BY 1 HAVING t1 IS NOT NULL),
        |s2 AS (SELECT e.user_id, s1.t1,
        |              MIN(CASE WHEN e.event_type = 'view' AND e.tsu > s1.t1
        |                       THEN e.tsu END) AS t2
        |       FROM e JOIN s1 USING (user_id) GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t1, s2.t2,
        |              MIN(CASE WHEN e.event_type = 'purchase' AND e.tsu > s2.t2
        |                       THEN e.tsu END) AS t3
        |       FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3),
        |c AS (SELECT COUNT(t1) AS n_click, COUNT(t2) AS n_click_view,
        |             COUNT(t3) AS n_click_view_purchase FROM s3)
        |SELECT FLOOR(n_click_view / n_click * 1000000.0 + 0.5) / 1000000.0 AS view_rate,
        |       FLOOR(n_click_view_purchase / n_click * 1000000.0 + 0.5) / 1000000.0 AS purchase_rate,
        |       n_click, n_click_view, n_click_view_purchase
        |FROM c""".stripMargin,
    // exact NTILE(10) computed sort-free in Spark (histogram-decomposed
    // global rank); the oracle is DuckDB's native NTILE — an independent
    // implementation validating the whole decomposition
    "q_length_deciles" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
        |b AS (SELECT doc_id, n_tok,
        |             NTILE(10) OVER (ORDER BY n_tok, doc_id) AS decile FROM d)
        |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
        |       CAST(MIN(n_tok) AS INT) AS min_len,
        |       CAST(MAX(n_tok) AS INT) AS max_len,
        |       MIN(doc_id) AS first_doc
        |FROM b GROUP BY 1""".stripMargin,
    // heavy hitters: the Misra-Gries candidate pass is partition-
    // dependent, but the exact freq*k > N verify pass makes the OUTPUT
    // partition-independent (pigeonhole guarantee) — so a plain GROUP
    // BY/HAVING replays it (see TextAnalysis.frequentTokens)
    "q_frequent_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT COUNT(*) AS total FROM toks)
        |SELECT token, COUNT(*) AS freq,
        |       ROUND(COUNT(*) / (SELECT total FROM n), 6) AS share
        |FROM toks GROUP BY 1
        |HAVING COUNT(*) * 200 > (SELECT total FROM n)""".stripMargin,
    // md5-prefix fold (same basis as the simhash oracle) → uniform
    // 60-bit coordinate; h/2^60 is IEEE double division of exactly-
    // represented operands in both engines, so the threshold labels are
    // bit-identical
    "q_train_split" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a, c) -> a * 16 + c) AS hv
        |  FROM documents)
        |SELECT doc_id, source,
        |       CASE WHEN hv / POW(2, 60) < 0.9 THEN 'train'
        |            WHEN hv / POW(2, 60) < 0.95 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin,
    // √n rounds to 6-dp decimal BEFORE the total (exact decimal sum),
    // then one decimal→double division — mirrored op-for-op
    "q_mixture_weights" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(ROUND(SQRT(COUNT(*)), 6) AS DECIMAL(18, 6)) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT SUM(w) AS w_total FROM c)
        |SELECT source, n_docs,
        |       CAST(w AS DOUBLE) AS weight,
        |       ROUND(CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE), 6) AS share
        |FROM c, t""".stripMargin,
    // per-dimension [min,max] stats as ordered lists, then the SAME
    // fold expression as the Spark side (identical op order, x*x not
    // pow, guarded constant dims) — per-vector errors bit-match
    "q_quantization_error" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |d AS (
        |  -- dim count derived from the DATA (round 16: was range(1, 65),
        |  -- the oracle side's last hardcoded 64 — the 96-dim staged run
        |  -- would have failed here with the engine correct)
        |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM (
        |    SELECT unnest(generate_series(1, len(emb))) AS dim, unnest(emb) AS x
        |    FROM e) GROUP BY 1),
        |s AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM d)
        |SELECT vec_id, label,
        |       ROUND(SQRT(list_sum(list_transform(range(1, len(emb) + 1), i ->
        |         CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS DOUBLE) ELSE
        |           (emb[i] - (mns[i] + ((LEAST(FLOOR(((emb[i] - mns[i]) / (mxs[i] - mns[i])) * 256.0), 255) + 0.5) * (mxs[i] - mns[i])) / 256.0)) *
        |           (emb[i] - (mns[i] + ((LEAST(FLOOR(((emb[i] - mns[i]) / (mxs[i] - mns[i])) * 256.0), 255) + 0.5) * (mxs[i] - mns[i])) / 256.0))
        |         END))), 6) AS q_err
        |FROM e, s""".stripMargin,
    "q_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok, 1 AS in_vocab FROM (
        |    SELECT tok, COUNT(*) AS tf FROM toks
        |    GROUP BY tok ORDER BY tf DESC, tok ASC LIMIT 20))
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v USING (tok)
        |GROUP BY t.doc_id""".stripMargin,
    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS INT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN n <= 32 THEN 1
        |              ELSE CAST(ceil((n - 32) / CAST(24 AS DOUBLE)) AS INT) + 1 END AS nch
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks,
        |         CAST(UNNEST(generate_series(0, nch - 1)) AS INT) AS chunk_id
        |  FROM c)
        |SELECT doc_id, chunk_id, chunk_id * 24 AS start_tok,
        |       CAST(len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS INT) AS n_chunk_toks,
        |       array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk_text
        |FROM e""".stripMargin,
    "q_bigram_lm" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT UNNEST(list_transform(range(1, len(t)),
        |                i -> {'w1': t[i], 'w2': t[i+1]})) AS p
        |  FROM t),
        |c AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        |r AS (
        |  SELECT w1, w2, n,
        |         CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS w1_total,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY n DESC, w2 ASC) AS INT) AS rnk
        |  FROM c)
        |SELECT w1, w2, n, w1_total, rnk,
        |       ROUND(CAST(n AS DOUBLE) / w1_total, 6) AS prob
        |FROM r WHERE rnk <= 3 AND w1_total >= 50""".stripMargin,
    "q_pmi_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT UNNEST(t) AS w FROM t),
        |u AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
        |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM u),
        |bg AS (
        |  SELECT UNNEST(list_transform(range(1, len(t)),
        |                i -> {'w1': t[i], 'w2': t[i+1]})) AS p
        |  FROM t WHERE len(t) >= 2),
        |c AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
        |nb AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_bigrams FROM c)
        |SELECT c.w1, c.w2, c.n_ab, ua.n AS n_a, ub.n AS n_b,
        |       ROUND(LN((CAST(n_ab AS DOUBLE) / n_bigrams) /
        |                ((CAST(ua.n AS DOUBLE) / n_tokens) *
        |                 (CAST(ub.n AS DOUBLE) / n_tokens))), 6) AS pmi
        |FROM c JOIN u ua ON c.w1 = ua.w JOIN u ub ON c.w2 = ub.w
        |CROSS JOIN nt CROSS JOIN nb
        |WHERE n_ab >= 20""".stripMargin,
    // hash-derived uniform deviate -> A-ES key; same expression both
    // engines, ordering on the unrounded double (see weightedSample)
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |         ((((doc_id % 1048573) * 2654435761) % 4294967296
        |           + (((doc_id // 1048573) % 1048573) * 2654435761) % 4294967296)
        |          % 4294967296) + 1 AS h
        |  FROM documents),
        |kd AS (
        |  SELECT lang, doc_id,
        |         -LN(CAST(h AS DOUBLE) / 4294967297.0) / LN(1.0 + n_chars) AS key
        |  FROM d),
        |r AS (
        |  SELECT lang, doc_id, key,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key, doc_id) AS INT) AS rnk
        |  FROM kd)
        |SELECT lang, rnk, doc_id, ROUND(key, 6) AS key
        |FROM r WHERE rnk <= 20""".stripMargin,
    "q_bm25_rank" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS INT) AS dl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, dl,
        |         CAST(len(list_filter(toks, x -> x = 'spark')) AS INT) AS tf_spark,
        |         CAST(len(list_filter(toks, x -> x = 'merge')) AS INT) AS tf_merge,
        |         CAST(len(list_filter(toks, x -> x = 'window')) AS INT) AS tf_window
        |  FROM d),
        |s AS (
        |  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl,
        |         SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |         SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge,
        |         SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
        |  FROM tf)
        |SELECT doc_id, dl, tf_spark, tf_merge, tf_window,
        |       ROUND(
        |         ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) * tf_spark * 2.2
        |           / (tf_spark + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |       + ln(1.0 + (n_docs - df_merge + 0.5) / (df_merge + 0.5)) * tf_merge * 2.2
        |           / (tf_merge + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |       + ln(1.0 + (n_docs - df_window + 0.5) / (df_window + 0.5)) * tf_window * 2.2
        |           / (tf_window + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score
        |FROM tf, s
        |WHERE tf_spark + tf_merge + tf_window > 0""".stripMargin,
    "q_token_budget" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
         |         CAST(floor((1.0 - $qualityExprSql) * 20) AS INT) AS band
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, band, n_tok,
         |         CAST(SUM(n_tok) OVER (ORDER BY band, doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
         |  FROM base),
         |b AS (SELECT CAST(floor(SUM(n_tok) * 0.5) AS BIGINT) AS budget FROM base)
         |SELECT doc_id, band, n_tok, cum_end
         |FROM w, b WHERE cum_end <= budget""".stripMargin,
    // the exact audit half of the KMV overlap family: distinct
    // (nation, part) assortments, pair sizes via self-join, every
    // nation pair enumerated (zero-overlap pairs carry n_both = 0)
    // BOUNDED-ERROR ORACLES (round 16): the four approx/sketch queries
    // below emit (exact half, within_bound boolean). DuckDB recomputes
    // the exact half independently; the TRUE literal encodes the one
    // claim only the engine can evaluate — that the estimate sits inside
    // its PUBLISHED error bound (HLL 5×rsd, percentile_approx worst-case
    // rank guarantee, CMS ε·N with 2× slack, KMV SketchSpec floors). A
    // broken sketch flips the boolean and fails the hash gate.
    "q_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS within_bound
        |FROM lineitem GROUP BY 1""".stripMargin,
    // streaming HLL (round 17): the exact half mirrors the engine's
    // batch audit join — UTC session makes window(ts,'1 day') identical
    // to epoch-day flooring (the hourly precedent above)
    "q_stream_hll_daily" ->
      """SELECT CAST(FLOOR(EPOCH(ts) / 86400) * 86400 AS BIGINT) AS day_start,
        |       event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       COUNT(*) AS n_events,
        |       TRUE AS within_bound
        |FROM events GROUP BY 1, 2""".stripMargin,
    // HLL sketch-table rollups (round 19, closing the last sketch
    // rows-only rows with an applicable precedent): the exact half is
    // the per-type distinct-user count and the distinct-day count —
    // UTC session makes to_date(ts) ≡ epoch-day flooring (the
    // q_stream_hll_daily precedent); the boolean gates the merged HLL
    // estimate's 5% envelope, computable only engine-side. One text,
    // two queries: the in-session and persisted rollups emit the SAME
    // audited frame (saved == in-session estimates are additionally
    // spec-pinned bit-equal).
    "q_sketch_rollup" -> hllRollupOracleSql,
    "q_sketch_rollup_saved" -> hllRollupOracleSql,
    "q_approx_quantiles" ->
      """SELECT event_type,
        |       ROUND(QUANTILE_CONT(value, 0.1), 4) AS p10_exact,
        |       ROUND(QUANTILE_CONT(value, 0.5), 4) AS p50_exact,
        |       ROUND(QUANTILE_CONT(value, 0.9), 4) AS p90_exact,
        |       TRUE AS p50_within_bound, TRUE AS p90_within_bound
        |FROM events GROUP BY 1""".stripMargin,
    "q_cms_heavy_hitters" ->
      // tokenization mirrors Sketches.tokensOf: lower, split on \s+,
      // drop empties; top-k ties broken by token ASC on both sides
      """WITH tok AS (
        |  SELECT t AS token FROM (
        |    SELECT UNNEST(string_split_regex(lower(text), '\s+')) AS t
        |    FROM documents) WHERE len(t) > 0),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok),
        |top AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok
        |  GROUP BY 1 ORDER BY exact_cnt DESC, token ASC LIMIT 20)
        |SELECT top.token, top.exact_cnt, tot.n_tokens, TRUE AS within_bound
        |FROM top, tot""".stripMargin,
    "q_kmv_overlap" ->
      """WITH np AS (
        |  SELECT DISTINCT n.n_name AS nation, l.l_partkey
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |sizes AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n FROM np GROUP BY 1),
        |bo AS (
        |  SELECT a.nation AS nation_a, b.nation AS nation_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM np a JOIN np b
        |    ON a.l_partkey = b.l_partkey AND a.nation < b.nation
        |  GROUP BY 1, 2)
        |SELECT sa.nation AS nation_a, sb.nation AS nation_b,
        |       sa.n AS n_a, sb.n AS n_b,
        |       COALESCE(bo.n_both, CAST(0 AS BIGINT)) AS n_both,
        |       TRUE AS within_bound
        |FROM sizes sa
        |JOIN sizes sb ON sa.nation < sb.nation
        |LEFT JOIN bo ON bo.nation_a = sa.nation AND bo.nation_b = sb.nation""".stripMargin,
    // the derived-estimate family (difference/jaccard) under compound
    // bounds — the exact trio is the same audit algebra as q_kmv_overlap;
    // the engine-side booleans must all come out TRUE (bounds compounded
    // from the committed component envelopes, see kmvOverlapEstBounded)
    "q_kmv_overlap_est" ->
      """WITH np AS (
        |  SELECT DISTINCT n.n_name AS nation, l.l_partkey
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |sizes AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n FROM np GROUP BY 1),
        |bo AS (
        |  SELECT a.nation AS nation_a, b.nation AS nation_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM np a JOIN np b
        |    ON a.l_partkey = b.l_partkey AND a.nation < b.nation
        |  GROUP BY 1, 2)
        |SELECT sa.nation AS nation_a, sb.nation AS nation_b,
        |       sa.n AS n_a, sb.n AS n_b,
        |       COALESCE(bo.n_both, CAST(0 AS BIGINT)) AS n_both,
        |       TRUE AS wb_only_a, TRUE AS wb_only_b, TRUE AS wb_jaccard
        |FROM sizes sa
        |JOIN sizes sb ON sa.nation < sb.nation
        |LEFT JOIN bo ON bo.nation_a = sa.nation AND bo.nation_b = sb.nation""".stripMargin,
    "q_kmv_audit" ->
      """WITH np AS (
        |  SELECT DISTINCT n.n_name AS nation, l.l_partkey
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |sizes AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n FROM np GROUP BY 1),
        |bo AS (
        |  SELECT a.nation AS nation_a, b.nation AS nation_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM np a JOIN np b
        |    ON a.l_partkey = b.l_partkey AND a.nation < b.nation
        |  GROUP BY 1, 2)
        |SELECT sa.nation AS nation_a, sb.nation AS nation_b,
        |       sa.n AS n_a, sb.n AS n_b,
        |       COALESCE(bo.n_both, CAST(0 AS BIGINT)) AS n_both
        |FROM sizes sa
        |JOIN sizes sb ON sa.nation < sb.nation
        |LEFT JOIN bo ON bo.nation_a = sa.nation AND bo.nation_b = sb.nation""".stripMargin,
    "q_locf_fill" ->
      """SELECT event_id, user_id,
        |       CASE WHEN event_type IN ('view', 'click') THEN NULL ELSE value END AS v,
        |       LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN NULL ELSE value END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM events""".stripMargin,
    // EXPECTED FAILURE SIGNATURE (round-16 ADVICE): the engine groups
    // spans by xxhash64 while this oracle groups the exact strings — an
    // xxhash64 collision between two distinct spans would merge their
    // counts and surface here as an otherwise-unexplained n_dup/dup_frac
    // parity break on the colliding docs (odds ~(distinct spans)²/2⁶⁵,
    // ≈1e-7 at the 10× corpus; grows quadratically with corpus size).
    // If this oracle ever fails with n_windows green and n_dup off by a
    // small count, suspect the collision class before the operator.
    "q_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |g AS (
        |  SELECT doc_id,
        |         UNNEST(list_transform(range(1, len(tk) - 6),
        |                i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM t),
        |c AS (SELECT g, COUNT(*) AS cnt FROM g GROUP BY g)
        |SELECT g2.doc_id, COUNT(*) AS n_windows,
        |       CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
        |FROM g g2 JOIN c USING (g)
        |GROUP BY g2.doc_id""".stripMargin,
    "q_hard_negatives" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, q.label AS true_label,
        |         c.vec_id AS neighbor_id, c.label AS nbr_label,
        |         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
        |         / (SQRT(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
        |            * SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cos_raw
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 50 AND c.vec_id >= 50 AND q.label != c.label
        |  WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0),
        |ranked AS (
        |  SELECT query_id, true_label, neighbor_id, nbr_label, cos_raw,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, true_label, neighbor_id, nbr_label,
        |       ROUND(cos_raw, 6) AS cos
        |FROM ranked WHERE rnk = 1""".stripMargin,
    // bounded IVF hard-negative agreement (round 20): the exact half is
    // the miner's anchor count — every probe with at least one
    // cross-label candidate mines exactly one top-1 negative, so
    // COUNT(DISTINCT query_id) over the scored pairs IS the output
    // cardinality; the boolean is the engine-side agreement floor
    "q_hard_negatives_ivf" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 50 AND c.vec_id >= 50 AND q.label != c.label
        |  WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0)
        |SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
        |       TRUE AS agreement_floor_met
        |FROM scored""".stripMargin,
    // decimal-sum discipline end to end: cross-row sums are exact
    // DECIMAL(18,6) of 6-dp-rounded values, cross-dim sums are fixed
    // index-order folds — no order-dependent float reduction anywhere
    "q_label_centroids" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6)) AS e6
        |  FROM embeddings),
        |x AS (SELECT label, unnest(e6) AS v,
        |             unnest(range(0, len(e6))) AS pos FROM e),
        |c AS (SELECT label, pos, SUM(CAST(v AS DECIMAL(18,6))) AS s,
        |             COUNT(*) AS n
        |      FROM x GROUP BY 1, 2),
        |cent AS (SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
        |         FROM c GROUP BY 1),
        |d AS (SELECT e.label,
        |             ROUND(list_reduce(
        |               list_prepend(CAST(0.0 AS DOUBLE),
        |                 list_transform(range(1, len(e.e6) + 1),
        |                   i -> (e.e6[i] - cent.centroid[i]) * (e.e6[i] - cent.centroid[i]))),
        |               (a, t) -> a + t), 6) AS d2
        |      FROM e JOIN cent USING (label))
        |SELECT label, COUNT(*) AS n_vecs,
        |       ROUND(CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_dist2,
        |       MIN(d2) AS min_dist2, MAX(d2) AS max_dist2
        |FROM d GROUP BY 1""".stripMargin,
    // distinct-value rank mapping, all-integer index arithmetic, exact
    // decimal value selections; windows run on value-cardinality frames
    "q_quantile_norm" ->
      """WITH vals AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |srcd AS (SELECT event_type, v FROM vals GROUP BY 1, 2),
        |poolr AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS prn
        |          FROM (SELECT DISTINCT v FROM vals)),
        |np AS (SELECT MAX(prn) AS maxp FROM poolr),
        |srcr AS (SELECT event_type, v,
        |                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) - 1 AS srn
        |         FROM srcd),
        |ns AS (SELECT event_type, MAX(srn) AS maxs FROM srcr GROUP BY 1),
        |m AS (SELECT s.event_type,
        |             CASE WHEN ns.maxs = 0 THEN np.maxp // 2
        |                  ELSE s.srn * np.maxp // ns.maxs END AS ti
        |      FROM srcr s JOIN ns USING (event_type) CROSS JOIN np),
        |j AS (SELECT m.event_type, p.v AS v_norm FROM m JOIN poolr p ON m.ti = p.prn)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       ROUND(CAST(SUM(v_norm) AS DOUBLE) / COUNT(*), 6) AS norm_mean,
        |       CAST(MIN(v_norm) AS DOUBLE) AS norm_min,
        |       CAST(MAX(v_norm) AS DOUBLE) AS norm_max
        |FROM j GROUP BY 1""".stripMargin,
    // paired unnest slices zip positionally; per-term round-12 then
    // DECIMAL(28,12) sum (the q_source_entropy discipline), final
    // round 6
    "q_bigram_cond_entropy" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT source, unnest(t[1:len(t)-1]) AS w1,
        |             unnest(t[2:len(t)]) AS w2 FROM t),
        |c12 AS (SELECT source, w1, w2, COUNT(*) AS c12 FROM p GROUP BY 1, 2, 3),
        |c1 AS (SELECT source, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(c12) AS BIGINT) AS n_pairs FROM c12 GROUP BY 1),
        |terms AS (
        |  SELECT c12.source, n.n_pairs,
        |         CAST(ROUND(-(CAST(c12.c12 AS DOUBLE) / n.n_pairs) *
        |                    LN(CAST(c12.c12 AS DOUBLE) / c1.c1), 12) AS DECIMAL(28,12)) AS term
        |  FROM c12 JOIN c1 USING (source, w1) JOIN n USING (source))
        |SELECT source, MAX(n_pairs) AS n_pairs,
        |       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS cond_entropy
        |FROM terms GROUP BY 1""".stripMargin,
    // first-occurrence attribution (min doc per token) instead of a
    // cumulative distinct window; cumulative sums over the 10-row
    // decile frame; all integers
    "q_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dec AS (SELECT doc_id, len(t) AS n_toks,
        |               CAST(NTILE(10) OVER (ORDER BY doc_id) AS INT) AS decile
        |        FROM d),
        |fo AS (SELECT w, MIN(doc_id) AS first_doc
        |       FROM (SELECT doc_id, unnest(t) AS w FROM d) GROUP BY 1),
        |nt AS (SELECT dec.decile, COUNT(*) AS new_types
        |       FROM fo JOIN dec ON fo.first_doc = dec.doc_id GROUP BY 1),
        |tk AS (SELECT decile, CAST(SUM(n_toks) AS BIGINT) AS toks FROM dec GROUP BY 1)
        |SELECT tk.decile,
        |       CAST(SUM(toks) OVER (ORDER BY tk.decile) AS BIGINT) AS cum_tokens,
        |       CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY tk.decile) AS BIGINT) AS cum_vocab
        |FROM tk LEFT JOIN nt ON tk.decile = nt.decile""".stripMargin,
    // ln and ln^2 rounded 12 dp before exact decimal sums; fixed-shape
    // double arithmetic for the two moments
    "q_length_lognormal" ->
      """WITH x AS (
        |  SELECT source,
        |         CAST(ROUND(LN(CAST(n_chars AS DOUBLE)), 12) AS DECIMAL(28,12)) AS lx,
        |         CAST(ROUND(LN(CAST(n_chars AS DOUBLE)) * LN(CAST(n_chars AS DOUBLE)), 12) AS DECIMAL(28,12)) AS lx2
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       ROUND(CAST(SUM(lx) AS DOUBLE) / COUNT(*), 6) AS mu_log,
        |       ROUND(CAST(SUM(lx2) AS DOUBLE) / COUNT(*) -
        |             (CAST(SUM(lx) AS DOUBLE) / COUNT(*)) *
        |             (CAST(SUM(lx) AS DOUBLE) / COUNT(*)), 6) AS var_log
        |FROM x GROUP BY 1""".stripMargin,
    // same char-fold + Karp-Rabin arithmetic as q_text_fingerprint;
    // running-sum chunk ids replayed with an ANSI window; COUNT DISTINCT
    // here equals the engine's two-phase (source, fp) rollup
    "q_cdc_chunks" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |th AS (SELECT doc_id, source,
        |  list_transform(t, tok ->
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), list_transform(range(1, len(tok)+1), i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 2147483647)) AS h
        |  FROM toks),
        |e AS (SELECT doc_id, source, unnest(h) AS hv,
        |             unnest(range(0, len(h))) AS pos FROM th),
        |c AS (SELECT doc_id, source, pos, hv,
        |             SUM(CASE WHEN hv % 16 = 0 THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        |      FROM e),
        |f AS (SELECT doc_id, source, chunk_id,
        |             list_reduce(list_prepend(CAST(0 AS BIGINT), list(hv ORDER BY pos)),
        |                         (a, x) -> (a * 1000003 + x) % 2147483647) AS fp,
        |             COUNT(*) AS chunk_len
        |      FROM c GROUP BY 1, 2, 3)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
        |       ROUND(CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dedup_ratio,
        |       ROUND(CAST(SUM(chunk_len) AS DOUBLE) / COUNT(*), 4) AS avg_chunk_toks
        |FROM f GROUP BY 1""".stripMargin,
    // Lehmer-mix position hash, all-integer → bit-exact; first mod
    // bounds the multiplicand so nothing overflows BIGINT in either
    // engine
    "q_mask_spans" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |h AS (SELECT doc_id, pos,
        |             ((doc_id * 1000003 + pos) % 2147483647) * 48271 % 2147483647 AS hv
        |      FROM t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
        |       CAST(SUM(CASE WHEN hv % 100 < 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |       CAST(MIN(CASE WHEN hv % 100 < 15 THEN pos END) AS INT) AS first_masked_pos
        |FROM h GROUP BY 1""".stripMargin,
    // 3/4-power unigram distribution over the deterministic top-50
    // vocabulary (freq desc, token asc); weights summed as exact
    // decimals, one double division per row
    "q_neg_sampling" ->
      """WITH f AS (
        |  SELECT tok AS token, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |w AS (SELECT token, freq,
        |             CAST(ROUND(POW(CAST(freq AS DOUBLE), 0.75), 6) AS DECIMAL(18,6)) AS w,
        |             ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rk
        |      FROM f),
        |t AS (SELECT SUM(w) AS w_tot FROM w WHERE rk <= 50)
        |SELECT token, freq, CAST(w AS DOUBLE) AS weight,
        |       ROUND(CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE), 6) AS p_draw
        |FROM w CROSS JOIN t WHERE rk <= 50""".stripMargin,
    // same exact-decimal centroid/distance chain as q_label_centroids,
    // then an ANSI PERCENT_RANK cut (value-based → tie-stable in both
    // engines); rows with rank < 0.2 (most prototypical 20%) pruned
    "q_prototype_prune" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6)) AS e6
        |  FROM embeddings),
        |x AS (SELECT label, unnest(e6) AS v,
        |             unnest(range(0, len(e6))) AS pos FROM e),
        |c AS (SELECT label, pos, SUM(CAST(v AS DECIMAL(18,6))) AS s,
        |             COUNT(*) AS n
        |      FROM x GROUP BY 1, 2),
        |cent AS (SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
        |         FROM c GROUP BY 1),
        |d AS (SELECT e.vec_id, e.label,
        |             ROUND(list_reduce(
        |               list_prepend(CAST(0.0 AS DOUBLE),
        |                 list_transform(range(1, len(e.e6) + 1),
        |                   i -> (e.e6[i] - cent.centroid[i]) * (e.e6[i] - cent.centroid[i]))),
        |               (a, t) -> a + t), 6) AS d2
        |      FROM e JOIN cent USING (label)),
        |r AS (SELECT vec_id, label, d2,
        |             PERCENT_RANK() OVER (PARTITION BY label ORDER BY d2) AS prank
        |      FROM d),
        |r2 AS (SELECT vec_id, label, d2, prank,
        |              MAX(prank) OVER (PARTITION BY label) AS mxp
        |       FROM r)
        |SELECT vec_id, label, d2, ROUND(prank, 6) AS prank
        |FROM r2 WHERE prank >= 0.2 OR prank = mxp""".stripMargin,
    "q_embedding_stats" ->
      """WITH n AS (
        |  SELECT label,
        |         ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> x * x))), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n_vecs, MIN(nrm) AS min_norm,
        |       MAX(nrm) AS max_norm, ROUND(AVG(nrm), 6) AS avg_norm
        |FROM n GROUP BY label""".stripMargin,
    "q_bin_range_join" ->
      """SELECT CAST(FLOOR(value / 50) AS INT) AS band_id,
        |       CAST(FLOOR(value / 50) * 50 AS DOUBLE) AS lo,
        |       CAST((FLOOR(value / 50) + 1) * 50 AS DOUBLE) AS hi,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_gapfill_hourly" ->
      """WITH h AS (
        |  SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT CAST(FLOOR(MIN(EPOCH(ts)) / 3600) * 3600 AS BIGINT) AS lo,
        |         CAST(FLOOR(MAX(EPOCH(ts)) / 3600) * 3600 AS BIGINT) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT UNNEST(generate_series(b.lo, b.hi, 3600)) AS bucket_start FROM b)
        |SELECT s.bucket_start,
        |       COALESCE(h.n_events, 0) AS n_events,
        |       COALESCE(h.total_value, 0.0) AS total_value
        |FROM spine s LEFT JOIN h USING (bucket_start)""".stripMargin,
    "q_stream_static_join" ->
      """SELECT c.c_mktsegment AS mktsegment,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "q_stream_dedup" ->
      "SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY 1",
    "q_stream_foreachbatch" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    // round 5
    "q_supplier_volume" ->
      """SELECT n.n_name AS nation,
        |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "q_min_cost_supplier" ->
      """WITH uc AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT uc.l_partkey AS p_partkey, s.s_name, s.s_acctbal, uc.unit_cost,
        |         ROW_NUMBER() OVER (PARTITION BY uc.l_partkey
        |                            ORDER BY uc.unit_cost, s.s_acctbal DESC, s.s_suppkey) AS rn
        |  FROM uc JOIN supplier s ON uc.l_suppkey = s.s_suppkey)
        |SELECT p.p_partkey, p.p_name, p.p_size, p.p_retailprice,
        |       r.s_name, r.s_acctbal, r.unit_cost
        |FROM ranked r
        |JOIN part p ON r.p_partkey = p.p_partkey
        |WHERE r.rn = 1 AND p.p_size BETWEEN 10 AND 25""".stripMargin,
    "q_knn_classify" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, q.label AS true_label,
        |         c.vec_id AS neighbor_id, c.label AS nbr_label,
        |         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
        |         / (SQRT(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
        |            * SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cos_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND c.vec_id >= 50
        |  WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0),
        |ranked AS (
        |  SELECT query_id, true_label, nbr_label,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        |  FROM scored),
        |votes AS (
        |  SELECT query_id, true_label, nbr_label, COUNT(*) AS n_votes
        |  FROM ranked WHERE rnk <= 5 GROUP BY 1, 2, 3),
        |win AS (
        |  SELECT query_id, true_label, nbr_label,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_votes DESC, nbr_label ASC) AS vr
        |  FROM votes)
        |SELECT query_id, nbr_label AS pred_label, true_label,
        |       CAST(nbr_label = true_label AS INT) AS correct
        |FROM win WHERE vr = 1""".stripMargin,
    // bounded IVF kNN agreement (round 20): same exact-count scheme as
    // q_hard_negatives_ivf — every probe with at least one train
    // candidate classifies exactly once, so COUNT(DISTINCT query_id)
    // over the scored pairs is the classifier's output cardinality
    "q_knn_classify_ivf" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND c.vec_id >= 50
        |  WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0)
        |SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
        |       TRUE AS agreement_floor_met
        |FROM scored""".stripMargin,
    // full l2-normalized tf-idf assembly: raw² rounded 12 dp → exact
    // DECIMAL(28,12) norm sum, narrowed to 6 dp in the decimal domain
    // before the double cast, floor-half-up final rounding
    "q_tfidf_features" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         tf.tf * (LN((n.n_docs + 1.0) / (df.dfc + 1.0)) + 1.0) AS raw
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |s2 AS (SELECT doc_id,
        |              SUM(CAST(ROUND(raw * raw, 12) AS DECIMAL(28,12))) AS s2
        |       FROM scored GROUP BY 1)
        |SELECT scored.doc_id, scored.term,
        |       FLOOR(raw / sqrt(CAST(CAST(ROUND(s2, 6) AS DECIMAL(18,6)) AS DOUBLE)) * 1000000 + 0.5)
        |         / CAST(1000000 AS DOUBLE) AS weight
        |FROM scored JOIN s2 USING (doc_id)""".stripMargin,
    "q_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.dfc,
        |         tf.tf * (LN((n.n_docs + 1.0) / (df.dfc + 1.0)) + 1.0) AS tfidf_raw
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, tf, dfc, tfidf_raw,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, term ASC) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, CAST(tf AS INT) AS tf, CAST(dfc AS INT) AS doc_freq,
        |       CAST(rnk AS INT) AS rnk, ROUND(tfidf_raw, 6) AS tfidf
        |FROM r WHERE rnk <= 5""".stripMargin,
    "q_stream_stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type FROM events)
        |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       p.tsu - c.tsu AS lag_us
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 1800000000""".stripMargin,
    // left-outer stream-stream join: the sentinel pair (filtered out)
    // drives the watermark past every real click's window, so the
    // streaming result is COMPLETE and the batch LEFT JOIN replays it
    "q_stream_stream_outer" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type FROM events),
        |c AS (SELECT user_id, event_id, tsu FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, tsu FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       p.tsu - c.tsu AS lag_us
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 1800000000""".stripMargin,
    "q_bloom_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_items,
        |       CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,
    "q_merge_upsert" ->
      """WITH spend AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS new_bal
        |  FROM orders GROUP BY 1),
        |source AS (
        |  SELECT custkey, new_bal FROM spend
        |  UNION ALL
        |  SELECT -custkey AS custkey, new_bal FROM spend WHERE custkey % 100 = 0),
        |target AS (
        |  SELECT c_custkey AS custkey, c_acctbal AS old_bal FROM customer)
        |SELECT COALESCE(t.custkey, s.custkey) AS custkey,
        |       CASE WHEN t.old_bal IS NOT NULL AND s.new_bal IS NOT NULL THEN 'update'
        |            WHEN t.old_bal IS NULL THEN 'insert'
        |            ELSE 'keep' END AS action,
        |       t.old_bal,
        |       COALESCE(s.new_bal, t.old_bal) AS merged_bal
        |FROM target t FULL OUTER JOIN source s ON t.custkey = s.custkey""".stripMargin,
    "q_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         tf.tf * (LN((n.n_docs + 1.0) / (df.dfc + 1.0)) + 1.0) AS tfidf_raw
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |probe_term AS (
        |  SELECT term FROM scored WHERE doc_id = 0
        |  ORDER BY tfidf_raw DESC, term ASC LIMIT 1),
        |kw AS (
        |  SELECT t.doc_id,
        |         ROW_NUMBER() OVER (ORDER BY t.tf DESC, t.doc_id ASC) AS rk_kw
        |  FROM tf t JOIN probe_term p ON t.term = p.term
        |  WHERE t.doc_id <> 0),
        |kw50 AS (SELECT doc_id, rk_kw FROM kw WHERE rk_kw <= 50),
        |cosd AS (
        |  SELECT c.vec_id AS doc_id,
        |         list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |         / (SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
        |            * SQRT(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cos_raw
        |  FROM embeddings c JOIN embeddings q ON q.vec_id = 0
        |  WHERE c.vec_id <> 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0),
        |vec AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY cos_raw DESC, doc_id ASC) AS rk_vec
        |  FROM cosd),
        |vec50 AS (SELECT doc_id, rk_vec FROM vec WHERE rk_vec <= 50),
        |fused AS (
        |  SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id, k.rk_kw, v.rk_vec,
        |         COALESCE(1.0 / (60 + k.rk_kw), 0.0)
        |           + COALESCE(1.0 / (60 + v.rk_vec), 0.0) AS rrf_raw
        |  FROM kw50 k FULL OUTER JOIN vec50 v ON k.doc_id = v.doc_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_raw DESC, doc_id ASC) AS rank
        |  FROM fused)
        |SELECT CAST(rank AS INT) AS rank, doc_id,
        |       CAST(rk_kw AS INT) AS rk_kw, CAST(rk_vec AS INT) AS rk_vec,
        |       ROUND(rrf_raw, 6) AS rrf_score
        |FROM ranked WHERE rank <= 10""".stripMargin,
    "q_gen_source" ->
      """WITH g AS (SELECT range AS id FROM range(10000, 60000))
        |SELECT ['click','view','purchase','signup','error'][CAST(id % 5 AS INT) + 1] AS event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(CAST(((id % 1048573) * 2654435761) % 100000 AS DOUBLE) / 100.0 AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY 1""".stripMargin,
    "q_gen_stream" ->
      """WITH g AS (SELECT range AS id FROM range(0, 100000))
        |SELECT ['click','view','purchase','signup','error'][CAST(id % 5 AS INT) + 1] AS event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(CAST(((id % 1048573) * 2654435761) % 100000 AS DOUBLE) / 100.0 AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY 1""".stripMargin,
    // full replica of the Karp-Rabin + winnowing pipeline: base-31 char
    // polynomial token hashes, 4-gram rolling hashes, 5-window winnow
    // mins, additive digest — integer arithmetic end to end
    "q_text_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |th AS (SELECT doc_id,
        |  list_transform(t, tok ->
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), list_transform(range(1, len(tok)+1), i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 2147483647)) AS h
        |  FROM toks),
        |kr AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), h), (a, x) -> (a * 1000003 + x) % 2147483647) AS kr_fp,
        |  CASE WHEN len(h) >= 4 THEN
        |    list_transform(range(1, len(h) - 2), i -> (((h[i] * 31 + h[i+1]) * 31 + h[i+2]) * 31 + h[i+3]) % 2147483647)
        |  ELSE [CAST(0 AS BIGINT)] END AS g
        |  FROM th),
        |w AS (SELECT doc_id, kr_fp,
        |  CASE WHEN len(g) >= 5 THEN
        |    list_distinct(list_transform(range(1, len(g) - 3), i -> list_min(g[i:i+4])))
        |  ELSE [list_min(g)] END AS wn
        |  FROM kr)
        |SELECT doc_id, kr_fp,
        |       CAST(len(wn) AS INT) AS sketch_size,
        |       list_min(wn) AS winnow_min, list_max(wn) AS winnow_max,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), wn),
        |                   (a, x) -> (a + x) % 9007199254740881) AS winnow_digest
        |FROM w""".stripMargin,
    "q_interval_join" -> intervalJoinOracleSql,
    // salting is result-invariant (decimal partials) → same oracle as
    // q_interval_join
    "q_interval_join_salted" -> intervalJoinOracleSql,
    // time-domain tenant stride = 32 days (2764800 s) > the 31-day events
    // month; same zero-on-real-data mirroring as intervalJoinOracleSql
    "q_interval_join_time" ->
      """WITH wins AS (
        |  SELECT o_orderkey AS win_id,
        |         1704067200.0 + (o_orderkey % 30) * 86400.0 + (o_orderkey % 7) * 3600.0
        |           + (o_orderkey // 1000000000) * 2764800.0 AS lo,
        |         1704067200.0 + (o_orderkey % 30) * 86400.0 + (o_orderkey % 7) * 3600.0
        |           + (o_orderkey // 1000000000) * 2764800.0
        |           + (o_orderkey % 45 + 2) * 3600.0 AS hi
        |  FROM orders WHERE o_orderkey % 701 = 0),
        |pts AS (
        |  SELECT value,
        |         EPOCH(ts) + (event_id // 1000000000) * 2764800.0 AS t
        |  FROM events)
        |SELECT w.win_id, w.lo, w.hi, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM pts e JOIN wins w ON e.t >= w.lo AND e.t < w.hi
        |GROUP BY 1, 2, 3""".stripMargin,
    // compaction is result-invariant: the rewritten copy's aggregate ==
    // the same aggregate off the raw table
    "q_compaction" ->
      """SELECT COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM events""".stripMargin,
    // schema merge null-fills the pre-evolution files: replay as a CASE
    // over the raw table
    "q_schema_evolution" ->
      """SELECT COALESCE(CASE WHEN year(o_orderdate) < 1998 THEN NULL
        |                     ELSE o_orderpriority END, 'PRE-SCHEMA') AS priority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,
    // layout must never change answers: the z-ordered copy's filtered
    // aggregate == the same aggregate off the raw table
    "q_zorder_layout" ->
      """SELECT COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 50.0 AND 100.0""".stripMargin,
    // per-column profile; canonical string forms (decimal 2-dp, date
    // grain) are injective, so string NDV == typed NDV; typed min/max
    // rendered through the SAME forms; width = exact int sum, one
    // double division, round 4
    "q_analyze_stats" ->
      """SELECT 'l_orderkey' AS col_name,
        |       CAST(COUNT(DISTINCT CAST(l_orderkey AS VARCHAR)) AS BIGINT) AS ndv,
        |       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       CAST(MIN(l_orderkey) AS VARCHAR) AS min_val,
        |       CAST(MAX(l_orderkey) AS VARCHAR) AS max_val,
        |       ROUND(CAST(SUM(LENGTH(CAST(l_orderkey AS VARCHAR))) AS DOUBLE) / COUNT(l_orderkey), 4) AS avg_width
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity',
        |       CAST(COUNT(DISTINCT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)) AS BIGINT),
        |       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR),
        |       CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR),
        |       ROUND(CAST(SUM(LENGTH(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR))) AS DOUBLE) / COUNT(l_quantity), 4)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag',
        |       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
        |       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       MIN(l_returnflag), MAX(l_returnflag),
        |       ROUND(CAST(SUM(LENGTH(l_returnflag)) AS DOUBLE) / COUNT(l_returnflag), 4)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus',
        |       CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
        |       CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       MIN(l_linestatus), MAX(l_linestatus),
        |       ROUND(CAST(SUM(LENGTH(l_linestatus)) AS DOUBLE) / COUNT(l_linestatus), 4)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate',
        |       CAST(COUNT(DISTINCT CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS BIGINT),
        |       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR),
        |       CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR),
        |       ROUND(CAST(SUM(LENGTH(CAST(CAST(l_shipdate AS DATE) AS VARCHAR))) AS DOUBLE) / COUNT(l_shipdate), 4)
        |FROM lineitem""".stripMargin,
    // fixed-point PageRank: integer arithmetic end to end, so the oracle
    // hash-matches with no float discipline at all (see Graph.pageRank)
    "q_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem),
        |und AS (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b AS src, a AS dst FROM edges),
        |deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r FROM deg),
        |c1 AS (SELECT u.dst AS node, CAST(SUM(r.r // d.d) AS BIGINT) AS csum
        |       FROM und u JOIN r0 r ON u.src = r.node JOIN deg d ON u.src = d.src GROUP BY 1),
        |r1 AS (SELECT node, 150000000 + 85 * csum // 100 AS r FROM c1),
        |c2 AS (SELECT u.dst AS node, CAST(SUM(r.r // d.d) AS BIGINT) AS csum
        |       FROM und u JOIN r1 r ON u.src = r.node JOIN deg d ON u.src = d.src GROUP BY 1),
        |r2 AS (SELECT node, 150000000 + 85 * csum // 100 AS r FROM c2),
        |c3 AS (SELECT u.dst AS node, CAST(SUM(r.r // d.d) AS BIGINT) AS csum
        |       FROM und u JOIN r2 r ON u.src = r.node JOIN deg d ON u.src = d.src GROUP BY 1),
        |r3 AS (SELECT node, 150000000 + 85 * csum // 100 AS r FROM c3)
        |SELECT node, r AS rank_fp, CAST(node % 2 = 0 AS INT) AS is_part FROM r3""".stripMargin,
    // exact integer log2 via binary-digit count (float log2 differs at
    // powers of two across engines); integer counts, one rounded share
    "q_degree_dist" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e),
        |deg AS (SELECT n, COUNT(*) AS d FROM und GROUP BY 1),
        |b AS (SELECT CAST(LENGTH(bin(d)) - 1 AS BIGINT) AS bucket,
        |             COUNT(*) AS n_nodes
        |      FROM deg GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n_total FROM b)
        |SELECT bucket, n_nodes,
        |       ROUND(CAST(n_nodes AS DOUBLE) / n_total, 6) AS share
        |FROM b CROSS JOIN t""".stripMargin,
    // CBO estimate = per-key histogram product x filter selectivity
    // under independence; emitted beside the true count so the
    // assumption's error is a measured column
    "q_join_cardinality" ->
      """WITH ca AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
        |cb AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1),
        |base AS (SELECT CAST(SUM(ca * cb) AS BIGINT) AS base_rows,
        |                COUNT(*) AS n_join_keys
        |         FROM ca JOIN cb USING (k)),
        |sel AS (SELECT CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS DOUBLE)
        |               / COUNT(*) AS sel
        |        FROM lineitem),
        |act AS (SELECT COUNT(*) AS actual_rows
        |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |        WHERE l_quantity > 25)
        |SELECT n_join_keys, base_rows,
        |       ROUND(CAST(base_rows AS DOUBLE) * sel, 4) AS est_rows,
        |       actual_rows,
        |       ROUND(CAST(base_rows AS DOUBLE) * sel / actual_rows, 6) AS err_ratio
        |FROM base CROSS JOIN sel CROSS JOIN act""".stripMargin,
    // five exact BIGINT moment sums over the symmetrized edge list, one
    // correlation expression (same shape as q_revenue_autocorr)
    "q_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (SELECT a AS x, b AS y FROM e
        |        UNION ALL SELECT b AS x, a AS y FROM e),
        |deg AS (SELECT x AS n, COUNT(*) AS d FROM und GROUP BY 1),
        |p AS (SELECT dx.d AS dx, dy.d AS dy
        |      FROM und JOIN deg dx ON und.x = dx.n JOIN deg dy ON und.y = dy.n),
        |s AS (SELECT COUNT(*) AS n,
        |             CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
        |             CAST(SUM(dx * dy) AS BIGINT) AS sxy,
        |             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |             CAST(SUM(dy * dy) AS BIGINT) AS syy
        |      FROM p)
        |SELECT n,
        |       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |                  (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS assortativity
        |FROM s""".stripMargin,
    // per-key-column two-phase profile; integer counts, two rounded
    // divisions
    "q_skew_metrics" ->
      """WITH pk AS (SELECT l_partkey AS k FROM lineitem),
        |sk AS (SELECT l_suppkey AS k FROM lineitem),
        |ck AS (SELECT o_custkey AS k FROM orders),
        |uk AS (SELECT user_id AS k FROM events),
        |prof AS (
        |  SELECT 'lineitem.l_partkey' AS key_col, k FROM pk
        |  UNION ALL SELECT 'lineitem.l_suppkey', k FROM sk
        |  UNION ALL SELECT 'orders.o_custkey', k FROM ck
        |  UNION ALL SELECT 'events.user_id', k FROM uk),
        |cnts AS (SELECT key_col, k, COUNT(*) AS cnt FROM prof GROUP BY 1, 2)
        |SELECT key_col, CAST(COUNT(*) AS BIGINT) AS ndv,
        |       CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
        |       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top1_share,
        |       ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 4) AS avg_cnt
        |FROM cnts GROUP BY 1""".stripMargin,
    // integer edge/degree counts; Q_c is one fixed-shape double
    // expression (two divisions, one square) rounded 6 dp — identical
    // IEEE sequence in both engines
    "q_modularity" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |en AS (SELECT c.c_nationkey AS nat_a, s.s_nationkey AS nat_b
        |       FROM e JOIN customer c ON e.ck = c.c_custkey
        |              JOIN supplier s ON e.sk = s.s_suppkey),
        |m AS (SELECT COUNT(*) AS m FROM en),
        |d AS (SELECT nation, CAST(SUM(cnt) AS BIGINT) AS d_c FROM (
        |        SELECT nat_a AS nation, COUNT(*) AS cnt FROM en GROUP BY 1
        |        UNION ALL
        |        SELECT nat_b AS nation, COUNT(*) AS cnt FROM en GROUP BY 1)
        |      GROUP BY 1),
        |mc AS (SELECT nat_a AS nation, COUNT(*) AS m_c FROM en
        |       WHERE nat_a = nat_b GROUP BY 1)
        |SELECT n.n_name, d.d_c, CAST(COALESCE(mc.m_c, 0) AS BIGINT) AS m_c,
        |       ROUND(CAST(COALESCE(mc.m_c, 0) AS DOUBLE) / m.m -
        |             (CAST(d.d_c AS DOUBLE) / (m.m * 2)) *
        |             (CAST(d.d_c AS DOUBLE) / (m.m * 2)), 6) AS q_c
        |FROM d CROSS JOIN m
        |LEFT JOIN mc ON d.nation = mc.nation
        |JOIN nation n ON d.nation = n.n_nationkey""".stripMargin,
    // max-size-per-price pre-prune then strict running-max scan — exact
    // 2-dp decimal ordering, no float arithmetic
    "q_pareto_frontier" ->
      """WITH best AS (
        |  SELECT CAST(p_retailprice AS DECIMAL(18,2)) AS price,
        |         MAX(p_size) AS sz
        |  FROM part GROUP BY 1),
        |r AS (SELECT price, sz,
        |             MAX(sz) OVER (ORDER BY price ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |      FROM best)
        |SELECT CAST(price AS DOUBLE) AS price, sz
        |FROM r WHERE prev_max IS NULL OR sz > prev_max""".stripMargin,
    // degree-oriented triangle count: all-integer graph invariants;
    // since edges are canonical a<b, (da,a)<(db,b) reduces to da<=db on
    // BOTH sides (see Graph.triangleCount)
    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
        |deg AS (SELECT n, COUNT(*) AS d
        |        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        |        GROUP BY 1),
        |o AS (SELECT CASE WHEN da.d <= db.d THEN e.a ELSE e.b END AS src,
        |             CASE WHEN da.d <= db.d THEN e.b ELSE e.a END AS dst
        |      FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |w AS (SELECT e1.dst AS a, e2.dst AS b
        |      FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
        |t AS (SELECT COUNT(*) AS n_tri FROM w JOIN e USING (a, b)),
        |shape AS (SELECT COUNT(*) AS n_nodes,
        |                 CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        |          FROM deg),
        |ec AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT shape.n_nodes, ec.n_edges,
        |       COALESCE(shape.n_wedges, 0) AS n_wedges, t.n_tri AS n_triangles
        |FROM shape CROSS JOIN ec CROSS JOIN t""".stripMargin,
    // fixed 4-round peel, unrolled; extra rounds past the fixpoint are
    // no-ops, so the replay is exact (see Graph.kCore)
    "q_kcore" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |d1 AS MATERIALIZED (SELECT n, COUNT(*) AS d
        |       FROM (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) GROUP BY 1),
        |k1 AS MATERIALIZED (SELECT n FROM d1 WHERE d >= 30),
        |e1 AS MATERIALIZED (SELECT e0.a, e0.b FROM e0
        |       JOIN k1 ka ON e0.a = ka.n JOIN k1 kb ON e0.b = kb.n),
        |d2 AS MATERIALIZED (SELECT n, COUNT(*) AS d
        |       FROM (SELECT a AS n FROM e1 UNION ALL SELECT b AS n FROM e1) GROUP BY 1),
        |k2 AS MATERIALIZED (SELECT n FROM d2 WHERE d >= 30),
        |e2 AS MATERIALIZED (SELECT e1.a, e1.b FROM e1
        |       JOIN k2 ka ON e1.a = ka.n JOIN k2 kb ON e1.b = kb.n),
        |d3 AS MATERIALIZED (SELECT n, COUNT(*) AS d
        |       FROM (SELECT a AS n FROM e2 UNION ALL SELECT b AS n FROM e2) GROUP BY 1),
        |k3 AS MATERIALIZED (SELECT n FROM d3 WHERE d >= 30),
        |e3 AS MATERIALIZED (SELECT e2.a, e2.b FROM e2
        |       JOIN k3 ka ON e2.a = ka.n JOIN k3 kb ON e2.b = kb.n),
        |d4 AS MATERIALIZED (SELECT n, COUNT(*) AS d
        |       FROM (SELECT a AS n FROM e3 UNION ALL SELECT b AS n FROM e3) GROUP BY 1),
        |k4 AS MATERIALIZED (SELECT n FROM d4 WHERE d >= 30),
        |e4 AS MATERIALIZED (SELECT e3.a, e3.b FROM e3
        |       JOIN k4 ka ON e3.a = ka.n JOIN k4 kb ON e3.b = kb.n)
        |SELECT n // 2 AS id, CAST(n % 2 = 0 AS INT) AS is_customer,
        |       COUNT(*) AS core_deg
        |FROM (SELECT a AS n FROM e4 UNION ALL SELECT b AS n FROM e4)
        |GROUP BY 1, 2""".stripMargin,
    "q_ewma_user" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       ROUND(list_reduce(
        |         list_prepend(CAST(0.0 AS DOUBLE), list(value ORDER BY ts, event_id)),
        |         (acc, v) -> acc * 0.875 + v * 0.125), 6) AS ewma
        |FROM events GROUP BY 1""".stripMargin,
    // INDEPENDENTLY-DERIVED weights (round 15): the oracle builds its own
    // (1−α)^j table via a recursive DECIMAL CTE — exact ×0.7 products,
    // 12-dp HALF-AWAY rounding, the same closed form the engine's
    // EwmaWeights literal table encodes but derived here from α alone.
    // (The previous oracle string-interpolated the engine's constants —
    // the shared-magic-constant class that hid the recursive-CTE spine
    // truncation for rounds: such an oracle validates the constant, not
    // the semantics. A spec additionally pins the Scala table against
    // the closed form.) Arithmetic discipline is unchanged and exact:
    // rev(18,2)→(24,2) × w(14,12) DECIMAL product → (24,14) exact sum
    // (the lag terms become a ≤14-row self-join on row distance, which
    // generates exactly the non-null lag terms) → ONE double division
    // (see Breadth.ewmaRevenue's determinism notes).
    "q_ewma_revenue" ->
      """WITH RECURSIVE wts(j, w) AS (
        |  SELECT 0, CAST(1 AS DECIMAL(14,12))
        |  UNION ALL
        |  SELECT j + 1, CAST(ROUND(w * CAST(0.7 AS DECIMAL(2,1)), 12) AS DECIMAL(14,12))
        |  FROM wts WHERE j < 13),
        |daily AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        |  FROM orders GROUP BY 1, 2),
        |numbered AS (
        |  SELECT priority, d, rev,
        |         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY d) AS i
        |  FROM daily),
        |terms AS (
        |  SELECT a.priority, a.d, a.rev,
        |         CAST(CAST(b.rev AS DECIMAL(24,2)) * w.w AS DECIMAL(24,14)) AS term,
        |         w.w AS wt
        |  FROM numbered a
        |  JOIN numbered b ON a.priority = b.priority
        |       AND b.i BETWEEN a.i - 13 AND a.i
        |  JOIN wts w ON w.j = a.i - b.i)
        |SELECT priority, CAST(d AS VARCHAR) AS day, CAST(rev AS DOUBLE) AS revenue,
        |       FLOOR(CAST(CAST(ROUND(SUM(term), 6) AS DECIMAL(18,6)) AS DOUBLE)
        |             / CAST(CAST(SUM(wt) AS DECIMAL(14,12)) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS ewma
        |FROM terms GROUP BY priority, d, rev""".stripMargin,
    // stacked windows over the same (user → time) order; DECIMAL cumsum,
    // peak, drawdown — exact until the output casts (see Breadth.maxDrawdown)
    "q_drawdown" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |c AS (
        |  SELECT user_id, tsu, event_id,
        |         SUM(v) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM e),
        |d AS (
        |  SELECT user_id, cum,
        |         MAX(cum) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                        ROWS UNBOUNDED PRECEDING) - cum AS dd
        |  FROM c)
        |SELECT user_id, COUNT(*) AS n_events,
        |       CAST(MAX(dd) AS DOUBLE) AS max_drawdown,
        |       CAST(MAX(cum) AS DOUBLE) AS peak_total
        |FROM d GROUP BY 1""".stripMargin,
    // integer-rescaled CUSUM: S'_i = n·csum_i − i·total, all BIGINT —
    // no double mean inside the scan (see Breadth.cusumShift)
    "q_cusum_shift" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(c) AS total, COUNT(*) AS n_buckets
        |      FROM h GROUP BY 1),
        |s AS (
        |  SELECT h.event_type, h.bucket, t.n_buckets, t.total,
        |         ROW_NUMBER() OVER w AS i,
        |         SUM(c) OVER (PARTITION BY h.event_type ORDER BY h.bucket
        |                      ROWS UNBOUNDED PRECEDING) AS csum
        |  FROM h JOIN t USING (event_type)
        |  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.bucket)),
        |a AS (
        |  SELECT event_type, bucket, n_buckets,
        |         ABS(n_buckets * csum - i * total) AS abs_s
        |  FROM s),
        |r AS (
        |  SELECT event_type, bucket, abs_s, n_buckets,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY abs_s DESC, bucket ASC) AS rn
        |  FROM a)
        |SELECT event_type, bucket AS shift_bucket,
        |       CAST(abs_s AS BIGINT) AS peak_scaled,
        |       FLOOR(CAST(abs_s AS DOUBLE) / n_buckets * 1000000.0 + 0.5)
        |         / 1000000.0 AS peak_mean_dev
        |FROM r WHERE rn = 1""".stripMargin,
    // sweep-line union via windows: a row opens a segment iff its start
    // clears the running max end of all EARLIER intervals (exclusive
    // frame); epoch micros are always positive so −1 is a safe floor
    // for the first row's empty frame (see Breadth.intervalUnion)
    "q_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 300000000 AS en
        |  FROM events),
        |o AS (
        |  SELECT user_id, event_id, s, en,
        |         CASE WHEN s > COALESCE(
        |             MAX(en) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |             -1)
        |           THEN 1 ELSE 0 END AS opens
        |  FROM e),
        |g AS (
        |  SELECT user_id, s, en,
        |         SUM(opens) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS seg
        |  FROM o),
        |sg AS (
        |  SELECT user_id, seg, MIN(s) AS seg_s, MAX(en) AS seg_e
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_segments,
        |       CAST(SUM(seg_e - seg_s) AS BIGINT) AS covered_us
        |FROM sg GROUP BY 1""".stripMargin,
    // sweep-line delta stream; ends sort before starts at equal t so
    // back-to-back intervals never double-count (see Breadth.peakConcurrency)
    "q_peak_concurrency" ->
      """WITH d AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS t, 1 AS d FROM events
        |  UNION ALL
        |  SELECT event_type, event_id, epoch_us(ts) + 300000000 AS t, -1 AS d
        |  FROM events),
        |o AS (
        |  SELECT event_type, event_id, t, d,
        |         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS open
        |  FROM d),
        |r AS (
        |  SELECT event_type, t, open,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY open DESC, t ASC, event_id ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n_endpoints
        |  FROM o)
        |SELECT event_type, CAST(n_endpoints / 2 AS BIGINT) AS n_intervals,
        |       CAST(open AS BIGINT) AS peak_open, t AS peak_at_us
        |FROM r WHERE rn = 1""".stripMargin,
    // dedup (type, user) incidence first; inclusion-exclusion union
    // (see Breadth.audienceOverlap)
    "q_audience_overlap" ->
      """WITH inc AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, COUNT(*) AS n FROM inc GROUP BY 1),
        |x AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         COUNT(*) AS n_both
        |  FROM inc a JOIN inc b ON a.user_id = b.user_id
        |  WHERE a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT x.type_a, x.type_b, sa.n AS n_a, sb.n AS n_b, x.n_both,
        |       FLOOR(CAST(x.n_both AS DOUBLE)
        |             / CAST(sa.n + sb.n - x.n_both AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM x JOIN sz sa ON x.type_a = sa.event_type
        |       JOIN sz sb ON x.type_b = sb.event_type""".stripMargin,
    // ranked DECIMAL cumsum; class boundary decided on the shared
    // floor-rounded share (see Breadth.abcClassification)
    "q_abc_class" ->
      """WITH pr AS (
        |  SELECT l_partkey AS partkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(rev) AS total_rev FROM pr),
        |r AS (
        |  SELECT partkey, rev, total_rev,
        |         SUM(rev) OVER (ORDER BY rev DESC, partkey
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM pr CROSS JOIN t),
        |c AS (
        |  SELECT rev, total_rev,
        |         CASE WHEN FLOOR(CAST(cum AS DOUBLE) / CAST(total_rev AS DOUBLE)
        |                         * 1000000.0 + 0.5) / 1000000.0 <= 0.80 THEN 'A'
        |              WHEN FLOOR(CAST(cum AS DOUBLE) / CAST(total_rev AS DOUBLE)
        |                         * 1000000.0 + 0.5) / 1000000.0 <= 0.95 THEN 'B'
        |              ELSE 'C' END AS abc_class
        |  FROM r)
        |SELECT abc_class, COUNT(*) AS n_parts,
        |       CAST(SUM(rev) AS DOUBLE) AS class_revenue,
        |       FLOOR(CAST(SUM(rev) AS DOUBLE) / CAST(total_rev AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS revenue_share
        |FROM c GROUP BY abc_class, total_rev""".stripMargin,
    // MapState running profile == the plain batch rollup
    "q_stream_type_totals" ->
      """SELECT user_id, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // NTILE quintiles over tie-broken total orders; revenue share via the
    // shared FLOOR(x*1e6+0.5)/1e6 rounding (see Breadth.rfmSegments)
    "q_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey AS custkey,
        |         MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |         COUNT(*) AS n_orders,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |  FROM orders GROUP BY 1),
        |h AS (SELECT MAX(last_day) AS max_day FROM pc),
        |s AS (
        |  SELECT custkey, n_orders, revenue,
        |         NTILE(5) OVER (ORDER BY max_day - last_day, custkey) AS r,
        |         NTILE(5) OVER (ORDER BY n_orders DESC, custkey) AS f,
        |         NTILE(5) OVER (ORDER BY revenue DESC, custkey) AS m
        |  FROM pc CROSS JOIN h),
        |t AS (SELECT SUM(revenue) AS total_rev FROM s)
        |SELECT r, f, m, COUNT(*) AS n_customers,
        |       CAST(SUM(revenue) AS DOUBLE) AS cell_revenue,
        |       FLOOR(CAST(SUM(revenue) AS DOUBLE) / CAST(t.total_rev AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS revenue_share
        |FROM s CROSS JOIN t GROUP BY r, f, m, t.total_rev""".stripMargin,
    "q_order_cycle_time" ->
      """WITH g AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day,
        |         LAG(epoch_us(o_orderdate) // 86400000000) OVER
        |           (PARTITION BY o_custkey
        |            ORDER BY epoch_us(o_orderdate) // 86400000000, o_orderkey)
        |           AS prev_day
        |  FROM orders),
        |d AS (SELECT day - prev_day AS gap_days FROM g WHERE prev_day IS NOT NULL)
        |SELECT LEAST(gap_days // 30, 12) AS gap_months,
        |       COUNT(*) AS n_gaps,
        |       CAST(SUM(gap_days) AS BIGINT) AS sum_days,
        |       FLOOR(CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS mean_days
        |FROM d GROUP BY 1""".stripMargin,
    // first significant digit via string strip (no float log); Benford
    // expectation as shared 6-dp CASE constants (see Breadth.benfordAudit)
    "q_benford_audit" ->
      """WITH d AS (
        |  SELECT CAST(SUBSTRING(REGEXP_REPLACE(
        |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |           '[^1-9]', '', 'g'), 1, 1) AS INT) AS digit
        |  FROM orders),
        |d2 AS (SELECT digit FROM d WHERE digit IS NOT NULL),
        |n AS (SELECT COUNT(*) AS n_total FROM d2),
        |c AS (SELECT digit, COUNT(*) AS n_orders FROM d2 GROUP BY 1),
        |o AS (
        |  SELECT digit, n_orders,
        |         FLOOR(CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE)
        |               * 1000000.0 + 0.5) / 1000000.0 AS observed,
        |         -- expectation DERIVED from the closed form log10(1+1/d),
        |         -- not the engine's 6-dp literal table (shared-constant
        |         -- oracle audit, round 15): every log10 value sits far
        |         -- from a 5e-7 rounding midpoint, so the midpoint-stable
        |         -- floor(x*1e6+0.5) reproduces the HALF_UP table exactly
        |         FLOOR(LOG10(1 + 1.0 / digit) * 1000000.0 + 0.5) / 1000000.0
        |           AS expected
        |  FROM c CROSS JOIN n)
        |SELECT digit, n_orders, observed, expected,
        |       FLOOR(ABS(observed - expected) * 1000000.0 + 0.5) / 1000000.0
        |         AS abs_dev
        |FROM o""".stripMargin,
    // day-of-week from integer epoch days ((d+4) mod 7) — no tz/locale
    // functions; peak ties break to the smallest dow (see Breadth.seasonalDow)
    "q_seasonal_dow" ->
      """WITH e AS (
        |  SELECT event_type,
        |         ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow
        |  FROM events),
        |c AS (SELECT event_type, dow, COUNT(*) AS n_events FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(n_events) AS n_type FROM c GROUP BY 1),
        |p AS (
        |  SELECT event_type, dow,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY n_events DESC, dow ASC) AS rn
        |  FROM c)
        |SELECT c.event_type, c.dow, c.n_events,
        |       FLOOR(CAST(c.n_events AS DOUBLE) / CAST(t.n_type AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS share,
        |       CAST(c.dow = (SELECT dow FROM p
        |                     WHERE p.event_type = c.event_type AND rn = 1)
        |            AS INT) AS is_peak
        |FROM c JOIN t ON c.event_type = t.event_type""".stripMargin,
    // sqrt rounds to 6-dp DECIMAL before the normalizing sum (raw double
    // sums of irrational sqrts are accumulation-order dependent)
    "q_source_mixing" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |                  CAST(ROUND(SQRT(CAST(COUNT(*) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
        |           FROM documents GROUP BY 1),
        |t AS (SELECT SUM(w) AS tot FROM s)
        |SELECT s.source, s.n_docs,
        |       ROUND(CAST(s.w AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS mix_weight,
        |       CAST(FLOOR(CAST(s.w AS DOUBLE) / CAST(t.tot AS DOUBLE) * 100000) AS BIGINT) AS docs_per_100k
        |FROM s CROSS JOIN t""".stripMargin,
    "q_lateral_topn" -> SqlInterface.lateralTopNSql,
    "q_recursive_cte" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) FROM orders
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        |  WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) FROM orders))
        |SELECT CAST(m AS VARCHAR) AS month_start,
        |       COUNT(o.o_orderkey) AS n_orders,
        |       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_price
        |FROM months LEFT JOIN orders o
        |  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m
        |GROUP BY m""".stripMargin,
    "q_variant_extract" ->
      """WITH x AS (
        |  SELECT event_type,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |         CAST(json_extract_string(props, '$.missing') AS INT) AS m
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_high,
        |       CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_high,
        |       COUNT(m) AS n_missing_hits
        |FROM x WHERE k >= 50 GROUP BY 1""".stripMargin,
    "q_sessionize_batch" -> sessionTableOracleSql,
    // the timer-driven TWS sessionizer emits the SAME exact session table
    // (append-mode, one row per closed session) — shared oracle
    "q_stream_sessions_timers" -> sessionTableOracleSql,
    "q_scd2_apply" ->
      """WITH spend AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS new_bal
        |  FROM orders GROUP BY 1),
        |updates AS (
        |  SELECT custkey, new_bal FROM spend
        |  UNION ALL
        |  SELECT -custkey AS custkey, new_bal FROM spend WHERE custkey % 100 = 0),
        |dim AS (SELECT c_custkey AS custkey, c_acctbal AS bal FROM customer),
        |j AS (
        |  SELECT COALESCE(d.custkey, u.custkey) AS custkey, d.bal, u.new_bal
        |  FROM dim d FULL OUTER JOIN updates u ON d.custkey = u.custkey)
        |SELECT custkey, bal AS acctbal, '1990-01-01' AS valid_from,
        |       '2024-02-01' AS valid_to, 0 AS is_current
        |FROM j WHERE bal IS NOT NULL AND new_bal IS NOT NULL AND bal <> new_bal
        |UNION ALL
        |SELECT custkey, new_bal AS acctbal, '2024-02-01' AS valid_from,
        |       NULL AS valid_to, 1 AS is_current
        |FROM j WHERE bal IS NOT NULL AND new_bal IS NOT NULL AND bal <> new_bal
        |UNION ALL
        |SELECT custkey, bal AS acctbal, '1990-01-01' AS valid_from,
        |       NULL AS valid_to, 1 AS is_current
        |FROM j WHERE bal IS NOT NULL AND (new_bal IS NULL OR bal = new_bal)
        |UNION ALL
        |SELECT custkey, new_bal AS acctbal, '2024-02-01' AS valid_from,
        |       NULL AS valid_to, 1 AS is_current
        |FROM j WHERE bal IS NULL""".stripMargin,
  )

  /** DuckDB CTE: distinct word-3-gram shingles per document
    * (list_transform + lambda — stable across DuckDB versions, unlike
    * list comprehensions). */
  private val shinglesCte =
    """toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, lang,
      |       list_distinct(list_transform(range(1, len(t) - 1),
      |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |       FROM toks WHERE len(t) >= 3)""".stripMargin

  /** The quality-score expression over a `documents` row (`text` in
    * scope) — shared by the quality, curation, and token-budget oracles
    * so the formula can never drift between them. Mirrors
    * [[graft.operators.TextAnalysis.qualityScore]] op-for-op. */
  private val qualityExprSql =
    """ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) * 0.5
      |      + (1.0 - LEAST(1.0, CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / LENGTH(text) * 10)) * 0.2
      |      + LEAST(1.0, CAST(len(list_filter(string_split(text, ' '),
      |          x -> list_contains(['the','a','of','and','in','to','is','der','und','le','la','el','de','et','un'], x))) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 5) * 0.3, 6)""".stripMargin

  /** DuckDB CTE chain for near-dup connected components at Jaccard ≥ 0.2
    * (`comp(doc_id, component_id)`) — shared by the components and
    * representative-selection oracles. Requires WITH RECURSIVE and
    * [[shinglesCte]] ahead of it. */
  private val componentsCtes =
    """pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.2),
      |edges AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(s, d) AS (
      |  SELECT s, d FROM edges
      |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
      |comp AS (
      |  SELECT s AS doc_id, LEAST(s, MIN(d)) AS component_id
      |  FROM reach GROUP BY s)""".stripMargin

  /** Exhaustive cross-source replay of the asymmetric incremental dedup
    * check — shared verbatim by the batch (`q_dedup_incremental`) and
    * streaming (`q_stream_dedup_incremental`) registrations: verdicts
    * depend only on (doc, corpus), so micro-batching cannot change the
    * result set. */
  private val dedupIncrementalOracle =
    s"""WITH $shinglesCte,
       |src AS (SELECT doc_id, source FROM documents),
       |n AS (SELECT sh.* FROM sh JOIN src USING (doc_id) WHERE src.source = 'src1'),
       |o AS (SELECT sh.* FROM sh JOIN src USING (doc_id) WHERE src.source != 'src1'),
       |pairs AS (
       |  SELECT n.doc_id AS new_id,
       |         CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
       |           / len(list_distinct(n.s || o.s)) AS j
       |  FROM n JOIN o ON n.lang = o.lang
       |  WHERE CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
       |          / len(list_distinct(n.s || o.s)) >= 0.2),
       |m AS (
       |  SELECT new_id AS doc_id, COUNT(*) AS n_matches,
       |         ROUND(MAX(j), 6) AS best_jaccard
       |  FROM pairs GROUP BY 1),
       |nn AS (SELECT doc_id FROM documents WHERE source = 'src1')
       |SELECT nn.doc_id,
       |       COALESCE(m.n_matches, 0) AS n_matches,
       |       m.best_jaccard,
       |       CAST(m.n_matches IS NOT NULL AS INT) AS is_dup
       |FROM nn LEFT JOIN m USING (doc_id)""".stripMargin

  /** DuckDB CTE chain: the FULL curation ruleset (quality score, langid
    * word lists, exact dedup keeper, shingle near-dup losers, final
    * `kept` cut) — shared by the corpus and per-source oracles so a rule
    * change can never drift between them. */
  private val curationCtes =
    s"""$shinglesCte,
       |q AS (
       |  SELECT doc_id, $qualityExprSql AS quality
       |  FROM documents),
       |lc AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','in','to','is'], x))) AS INT) AS n_en,
       |         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['der','die','das','und','ist','ein'], x))) AS INT) AS n_de,
       |         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['le','les','et','des','une','dans'], x))) AS INT) AS n_fr,
       |         CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['el','los','y','las','por','como'], x))) AS INT) AS n_es
       |  FROM documents),
       |l AS (
       |  SELECT doc_id,
       |         CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es AND n_en > 0 THEN 'en'
       |              WHEN n_de >= n_fr AND n_de >= n_es AND n_de > 0 THEN 'de'
       |              WHEN n_fr >= n_es AND n_fr > 0 THEN 'fr'
       |              WHEN n_es > 0 THEN 'es'
       |              ELSE 'und' END AS pred_lang
       |  FROM lc),
       |ek AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
       |nl AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5),
       |kept AS (
       |  SELECT d.doc_id, l.pred_lang, q.quality
       |  FROM documents d
       |  JOIN ek USING (doc_id)
       |  JOIN q USING (doc_id)
       |  JOIN l USING (doc_id)
       |  WHERE q.quality >= 0.5 AND l.pred_lang != 'und'
       |    AND d.doc_id NOT IN (SELECT doc_id FROM nl))""".stripMargin
}
