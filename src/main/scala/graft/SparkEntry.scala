package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (the
  * relational surface the reference delegates to PostgreSQL, §2.2) or
  * a north-star extension (dedup / similarity / text / multimodal /
  * event windowing). Each oracle in [[oracleSql]] mirrors the Spark
  * computation operation-for-operation in DuckDB SQL: identical
  * column aliases, identical ORDER BY, doubles rounded at the same
  * point, all content hashing via md5 (bit-identical across engines),
  * integer outputs pinned to BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.pricingSummary _),
    "q02_filter_project" -> (Relational.filterProject _),
    "q03_topk_revenue" -> (Relational.topkRevenue _),
    "q04_order_priority" -> (Relational.orderPriority _),
    "q05_region_revenue" -> (Relational.regionRevenue _),
    "q06_forecast_revenue" -> (Relational.forecastRevenue _),
    "q07_anti_join" -> (Relational.inactiveCustomers _),
    "q08_segment_stats" -> (Relational.segmentStats _),
    "q09_window_topn" -> (Relational.topOrdersPerCustomer _),
    "q10_window_running" -> (Relational.runningQuantity _),
    "q11_setops" -> (Relational.setOpsCustomers _),
    "q12_top_orders" -> (Relational.topOrders _),
    "q13_rollup" -> (Relational.rollupSummary _),
    "q14_cube" -> (Relational.cubeSummary _),
    "q15_scalar_funcs" -> (Relational.scalarFunctions _),
    "q16_json_extract" -> (Relational.jsonExtract _),
    "q17_events_tumbling" -> (Events.tumbling _),
    "q18_events_sliding" -> (Events.sliding _),
    "q19_events_sessions" -> (Events.sessions _),
    "q20_approx_distinct" -> (Events.approxUsers _),
    "q20b_exact_distinct" -> (Events.exactUsers _),
    "q21_text_stats" -> (TextAnalysis.textStats _),
    "q22_lang_id" -> (TextAnalysis.langId _),
    "q23_text_quality" -> (TextAnalysis.qualityScore _),
    "q24_fingerprints" -> (TextAnalysis.fingerprints _),
    "q25_simhash" -> (TextAnalysis.simhash _),
    "q26_exact_dedup" -> (Dedup.exactDedup _),
    "q27_ngram_jaccard" -> (Dedup.ngramJaccardNeighbors _),
    "q28_minhash_lsh" -> (Dedup.minhashLshPairs _),
    "q29_embedding_neardup" -> (Dedup.embeddingNearDups _),
    "q30_ann_brute" -> ((s: SparkSession, d: String) => Similarity.bruteTopK(s, d)),
    "q31_ann_lsh" -> ((s: SparkSession, d: String) => Similarity.lshTopK(s, d)),
    "q32_media_stats" -> (Multimodal.mediaStats _),
    "q33_media_decode" -> (Multimodal.decodeMeta _),
    "q34_asof_join" -> (Temporal.prevOrder _),
    "q35_sessions_typed" -> (Temporal.sessionsTyped _),
    "q36_grouping_sets" -> (Relational.groupingSets _),
    "q37_pivot" -> (Relational.pivotStatus _),
    "q38_topk_agg" -> (Relational.topkAgg _),
    "q39_token_classes" -> (TextAnalysis.tokenClasses _),
    "q31b_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    "q31c_ann_ivf_trained" -> ((s: SparkSession, d: String) =>
      Similarity.trainedIvfTopK(s, d)),
    "q40_range_join" -> ((s: SparkSession, d: String) => Temporal.eventBurstCounts(s, d)),
    "q43_dedup_clusters" -> (Dedup.dedupClusters _),
    "q41_percentiles" -> (Events.valuePercentiles _),
    "q42_clean_corpus" -> (TextAnalysis.cleanCorpus _),
    "q44_redact" -> (TextAnalysis.redact _),
    "q45_pack_bins" -> ((s: SparkSession, d: String) => TextAnalysis.packBins(s, d)),
    "q45b_pack_shards" -> ((s: SparkSession, d: String) => TextAnalysis.packBinsSharded(s, d)),
    "q46_interval_decode" -> (Relational.intervalDecode _),
    "q47_hash_split" -> (TextAnalysis.hashSplit _),
    "q48_decontaminate" -> (Dedup.decontaminate _),
    "q48b_decontaminate_bloom" -> (Dedup.decontaminateBloom _),
    "q49_repetition" -> (TextAnalysis.repetitionRatio _),
    "q50_embedding_clusters" -> (Dedup.embeddingClusters _),
    "q51_correlated_subquery" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, correlatedSql)),
    "q52_training_pipeline" -> ((s: SparkSession, d: String) =>
      TextAnalysis.trainingPipeline(s, d)),
    "q53_mixture_sample" -> (Curation.mixtureSample _),
    "q54_token_budget" -> ((s: SparkSession, d: String) =>
      Curation.tokenBudgetSelect(s, d)),
    "q54b_token_budget_apply" -> ((s: SparkSession, d: String) =>
      Curation.tokenBudgetApply(s, d)),
    "q55_vocab_topk" -> ((s: SparkSession, d: String) =>
      TextAnalysis.vocabTopK(s, d)),
    "q56_pack_manifest" -> ((s: SparkSession, d: String) =>
      TextAnalysis.packManifest(s, d)),
    "q57_salted_join" -> (Relational.saltedSegmentStats _),
    "q58_curated_pipeline" -> ((s: SparkSession, d: String) =>
      TextAnalysis.curatedPipeline(s, d)),
    "q59_range_window" -> (Temporal.trailingWindow _),
    "q60_media_resize" -> ((s: SparkSession, d: String) =>
      Multimodal.resizeMeta(s, d)),
    "q61_frame_sample" -> (Multimodal.frameSample _),
    "q62_stratified_sample" -> ((s: SparkSession, d: String) =>
      Curation.stratifiedSample(s, d)),
    "q63_window_suite" -> (Relational.windowSuite _),
    "q63b_window_dist" -> (Relational.windowSuiteExtras _),
    "q64_setops_all" -> (Relational.setOpsAll _),
    "q65_full_outer" -> (Relational.fullOuterYears _),
    "q65b_right_join" -> (Relational.rightJoinSegments _),
    "q66_line_dedup" -> (TextAnalysis.lineDedup _),
    "q67_bigram_lm" -> (TextAnalysis.bigramLogProb _),
    "q68_null_semantics" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, nullSemanticsSql)),
    "q69_stats_agg" -> (Events.statsAgg _),
    "q70_array_funcs" -> (TextAnalysis.arrayFuncs _),
    "q71_edit_distance" -> (Dedup.editDistancePairs _),
    "q72_chunk_udtf" -> (TextAnalysis.chunkDocs _),
    "q73_tfidf" -> (TextAnalysis.tfidfTopTerms _),
    "q74_bucketed_join" -> (graft.sources.Layout.bucketedRevenue _),
    "q75_gap_fill" -> (Temporal.gapFillHourly _),
    "q76_distinct_on" -> (Relational.distinctOnLatest _),
    "q77_string_agg" -> (Relational.orderedStringAgg _),
    "q78_token_dedup" -> (TextAnalysis.tokenDedup _),
    "q79_interpolate" -> (Temporal.interpolateHourly _),
    "q80_json_funcs" -> (Relational.jsonFuncs _),
    "q81_zipf_histogram" -> (TextAnalysis.zipfHistogram _),
    "q82_unpivot" -> (Relational.unpivotMetrics _),
    "q83_funnel" -> (Events.funnelStages _),
    "q84_cooccur" -> (TextAnalysis.cooccurLift _),
    "q85_rolling_zscore" -> (Events.rollingAnomalies _),
    "q86_value_buckets" -> (Events.valueBuckets _),
    "q87_attribution" -> (Temporal.lastTouchAttribution _),
    "q88_stopword_filter" -> (TextAnalysis.stopwordFilter _),
    "q89_containment" -> (Dedup.containmentPairs _),
    "q90_string_battery" -> (Relational.stringBattery _),
    "q91_date_battery" -> (Relational.dateBattery _),
    "q92_disc_mode" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, discModeSql)),
    "q93_twa" -> (Events.timeWeightedAvg _),
    "q94_map_roundtrip" -> (Relational.mapRoundtrip _),
    "q95_token_deciles" -> (TextAnalysis.tokenDeciles _),
    "q96_approx_percentile" -> (Events.approxPercentiles _),
    "q97_regex_battery" -> (Relational.regexBattery _),
    "q98_bit_battery" -> (Relational.bitBattery _),
    "q99_inverted_index" -> (TextAnalysis.invertedIndex _),
    "q100_type_shares" -> (Events.typeShares _),
    "q101_user_profiles" -> (Events.userProfiles _),
    "q102_retention" -> (Events.retentionCurve _),
    "q103_interarrival" -> (Events.interArrival _),
    "q104_filter_agg" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, filterAggSql)),
    "q106_federated" -> (graft.sources.Layout.federatedRevenue _),
    "q107_grouping_meta" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, groupingMetaSql)),
    "q105_nulls_order" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, nullsOrderSql)),
    "q108_recursive_cte" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, recursiveSparkSql)),
    "q108b_recursive_union" -> (Relational.ancestorClosureDistinct _),
    "q116_tablesample" -> (Curation.sampleGate _),
    "q109_lateral_join" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, lateralSql)),
    "q110_groups_frame" -> (Events.groupsFrames _),
    "q110b_groups_frame_wide" -> (Events.groupsFramesWide _),
    "q111_window_filter" -> (Relational.windowFilter _),
    "q112_null_safe" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, nullSafeSql)),
    "q113_bool_agg" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, boolAggSql)),
    "q114_ordinality" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, ordinalitySparkSql)),
    "q115_percentile_cont" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, percentileContSql)),
    "q115b_percentile_array" -> (Events.multiPercentiles _),
    "q117_named_window" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, namedWindowSql)),
    "q118_ignore_nulls" -> (Events.ignoreNullsWindows _),
    "q119_limit_offset" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, limitOffsetSql)),
    "q120_quantified_cmp" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, quantifiedSparkSql)),
    "q121_array_agg_order" -> (Events.orderedArrayAgg _),
    "q122_fetch_ties" -> (Relational.fetchFirstWithTies _),
    "q123_regr" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, regrSparkSql)),
    "q124_calendar_spine" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, calendarSpineSparkSql)),
    "q125_distinct_aggs" -> (Relational.distinctAggs _),
    "q126_named_params" -> ((s: SparkSession, d: String) =>
      Flaco.sqlParams(s, d, namedParamsSql, Map(
        "lo" -> 150000, "hi" -> "1996-01-01", "seg" -> "BUILDING"))),
    "q127_weighted_sample" -> ((s: SparkSession, d: String) =>
      Curation.weightedSample(s, d)),
    "q128_bool_test" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, boolTestSql)),
    "q129_any_value" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, anyValueSql)),
    "q130_ranked_search" -> ((s: SparkSession, d: String) =>
      TextAnalysis.rankedSearch(s, d)),
    "q131_range_predicates" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, rangePredicatesSql)),
    "q132_date_bin" -> (Events.dateBin _),
    "q133_filtered_ann" -> ((s: SparkSession, d: String) =>
      Similarity.filteredIvfTopK(s, d)),
    "q134_std_strings" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, stdStringsSql)),
    "q135_cluster_canon" -> (Dedup.clusterCanonical _),
    "q136_json_agg" -> (Events.orderedJsonAgg _),
    "q137_semdedup" -> ((s: SparkSession, d: String) =>
      Similarity.semDedup(s, d)),
    "q138_width_bucket" -> (Events.widthBucketHistogram _),
    "q139_date_format" -> (Relational.dateFormatBattery _),
    "q140_bit_aggs" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, bitAggSql)),
    "q141_filter_cascade" -> (TextAnalysis.filterCascade _),
    "q142_approx_topk" -> ((s: SparkSession, d: String) =>
      TextAnalysis.approxTopTokens(s, d)),
    "q143_multi_unnest" -> (Relational.multiUnnest _),
    "q144_source_overlap" -> (Dedup.sourceOverlap _),
    "q145_collation" -> (Relational.collationGate _),
    "q146_cyclic_closure" -> (Relational.cyclicClosureDistinct _),
    "q147_join_using" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, joinUsingSql)),
    "q148_group_by_all" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, groupByAllSql)),
    "q149_qualify" -> (Relational.qualifyAboveAvg _),
    "q150_keyset_page" -> (Relational.keysetPage _),
    "q151_streaks" -> (Events.longestStreak _),
    "q152_age_breakdown" -> (Temporal.ageBreakdown _),
    "q153_temperature_mix" -> (Curation.temperatureMixture _),
    "q154_knn_join" -> ((s: SparkSession, d: String) =>
      Similarity.knnJoin(s, d)),
    "q155_number_format" -> (Relational.numberFormatBattery _),
    "q156_phrase_search" -> (TextAnalysis.phraseSearch _),
    "q157_leakage_split" -> (Dedup.leakageSafeSplit _),
    "q158_diversity_sample" -> ((s: SparkSession, d: String) =>
      Similarity.diversitySample(s, d)),
    "q159_contamination_report" -> (Dedup.contaminationReport _),
    "q160_timezone" -> (Temporal.timezoneBattery _),
    "q161_simhash_neardup" -> ((s: SparkSession, d: String) =>
      TextAnalysis.simhashNearDup(s, d)),
    "q162_search_order" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, searchOrderSparkSql)),
    "q163_datetime_parse" -> (Relational.datetimeParseBattery _),
    "q164_select_exists" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, selectExistsSql)),
    "q165_array_ops" -> (Relational.arrayOpsBattery _),
    "q166_sketch_union" -> (Events.sketchUnionUsers _),
    "q167_source_drift" -> ((s: SparkSession, d: String) =>
      TextAnalysis.sourceDrift(s, d)),
    "q168_delta_neardup" -> (Dedup.deltaNearDup _),
    "q169_sketch_intersect" -> (Events.sketchIntersections _),
    "q170_json_table" -> (Relational.jsonTableShred _),
    "q171_bm25_search" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bm25Search(s, d)),
    "q172_sq_ann" -> ((s: SparkSession, d: String) =>
      Similarity.sqTopK(s, d)),
    "q173_sliding_sketch" -> (Events.slidingSketchActives _),
    "q174_unicode_norm" -> (Relational.unicodeBattery _),
    "q175_cluster_topics" -> ((s: SparkSession, d: String) =>
      Similarity.clusterTopicTerms(s, d)),
    "q176_similar_to" -> (Relational.similarToBattery _),
    "q177_char_quality" -> (TextAnalysis.charQuality _),
    "q178_source_cap" -> ((s: SparkSession, d: String) =>
      Curation.sourceCap(s, d)),
    "q179_hybrid_rrf" -> ((s: SparkSession, d: String) =>
      Similarity.hybridRrf(s, d)),
    "q180_binary_ann" -> ((s: SparkSession, d: String) =>
      Similarity.binaryTopK(s, d)),
    "q181_phash_neardup" -> ((s: SparkSession, d: String) =>
      Multimodal.phashNearDup(s, d)),
    "q182_like_quantified" -> (Relational.likeQuantified _),
    "q183_having_subquery" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, havingSubquerySql)),
    "q184_asof_tolerance" -> (Temporal.asofTolerance _),
    "q185_effective_size" -> (TextAnalysis.effectiveSize _),
    "q186_range_algebra" -> (Relational.rangeBattery _),
    "q187_oov_report" -> (TextAnalysis.oovReport _),
    "q188_textrank" -> (TextAnalysis.textRank _),
    "q189_cohort_matrix" -> (Events.cohortMatrix _),
    "q190_dup_spans" -> (Dedup.dupSpans _),
    "q190b_dup_spans_bloom" -> (Dedup.dupSpansBloom _),
    "q191_top_paths" -> ((s: SparkSession, d: String) =>
      Events.topPaths(s, d)),
    "q192_ks_distance" -> ((s: SparkSession, d: String) =>
      Events.ksDistance(s, d)),
    "q192b_ks_bucketed" -> ((s: SparkSession, d: String) =>
      Events.ksDistance(s, d, granule = 100)),
    "q193_lsh_diagnostics" -> (Dedup.lshBandDiagnostics _),
    "q194_growth_accounting" -> (Events.growthAccounting _),
    "q195_stored_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.storedIvfTopK(s, d)),
    "q196_embedding_health" -> (Similarity.embeddingHealth _),
    "q197_transition_matrix" -> (Events.transitionMatrix _),
    "q198_lang_confusion" -> (TextAnalysis.langConfusion _),
    "q199_window_over_agg" -> ((s: SparkSession, d: String) =>
      Flaco.sql(s, d, windowOverAggSql)),
    "q200_epoch_shuffle" -> ((s: SparkSession, d: String) =>
      Curation.epochShuffle(s, d)),
    "q201_hard_negatives" -> ((s: SparkSession, d: String) =>
      Similarity.hardNegatives(s, d)),
    "q202_packing_efficiency" -> ((s: SparkSession, d: String) =>
      TextAnalysis.packingEfficiency(s, d)),
    "q203_decimal_exact" -> (Relational.decimalBattery _),
    "q204_cycle_path" -> (Relational.cyclePathWalk _),
    "q205_distinct_ordered_agg" -> (Relational.distinctOrderedAgg _),
    "q206_activity_powerlaw" -> (Events.activityPowerlaw _),
    "q207_adaptive_sessions" -> (Events.adaptiveSessions _),
    "q208_fertility" -> (TextAnalysis.tokenizerFertility _),
    "q209_rfm" -> (Events.rfmSegments _),
    "q210_spearman" -> (TextAnalysis.spearmanQualityLength _),
    "q211_trimmed_stats" -> (Events.trimmedStats _),
    "q212_patch_grid" -> ((s: SparkSession, d: String) =>
      Multimodal.patchGrid(s, d)),
    "q213_decay_attribution" -> (Temporal.decayAttribution _),
    "q214_pq_ann" -> ((s: SparkSession, d: String) =>
      Similarity.pqTopK(s, d)),
    "q215_seasonal_baseline" -> ((s: SparkSession, d: String) =>
      Events.seasonalBaseline(s, d)),
    "q216_url_canon" -> (TextAnalysis.urlCanon _),
    "q217_interval_join" -> (Temporal.sessionOverlapPairs _),
    "q218_schema_evolution" -> ((s: SparkSession, d: String) =>
      graft.sources.Layout.schemaEvolutionRead(s, d)),
    "q219_scd2" -> (Temporal.scd2Intervals _),
    "q220_period_report" -> (Events.periodOverPeriod _),
    "q221_corrupt_json" -> ((s: SparkSession, d: String) =>
      graft.sources.Layout.corruptJsonIngest(s, d)),
    "q222_hypothetical_rank" -> (Relational.hypotheticalRank _),
    "q223_calendar_edges" -> (Relational.calendarEdges _),
    "q225_bucketed_batching" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bucketedBatching(s, d)),
    "q226_lsh_recall" -> (Dedup.lshRecallCurve _),
    "q227_weighted_median" -> (TextAnalysis.weightedMedianLength _),
    "q228_dedup_funnel" -> (Dedup.dedupFunnel _),
    "q229_lsh_recall_sampled" -> (Dedup.lshRecallCurveSampled _),
    "q230_cohort_ltv" -> (Events.cohortLtv _),
    "q231_span_excision" -> (Dedup.exciseSpans _),
    "q231b_span_excision_bloom" -> (Dedup.exciseSpansBloom _),
    "q232_mixture_waterfill" -> (Curation.mixtureWaterfill _),
    "q233_trgm_fuzzy" -> (TextAnalysis.trgmFuzzyNations _),
    "q234_fuzzy_join" -> (TextAnalysis.fuzzyJoinCustomers _),
    "q235_mrl_recall" -> ((s: SparkSession, d: String) =>
      Similarity.mrlRecall(s, d)),
    "q236_table_profile" -> (Relational.tableProfile _),
    "q237_layout_health" -> ((s: SparkSession, d: String) =>
      graft.sources.Layout.layoutHealth(s, d)),
    "q238_table_profile_approx" -> (Relational.tableProfileApprox _),
    // q239 is the PRODUCTION profiler shape (one pass, HLL++ sketch
    // only — no exact distinct, no Expand; ProfileSpec pins the plan).
    // The sketch value is engine-specific so there is no DuckDB
    // oracle: its accuracy contract is q238's in_band gate, and the
    // driver records the weaker rows-only check here.
    "q239_table_profile_detail" -> (Relational.tableProfileApproxDetail _),
    "q240_dsir_weights" -> ((s: SparkSession, d: String) =>
      TextAnalysis.dsirWeights(s, d)),
    "q241_dsir_resample" -> ((s: SparkSession, d: String) =>
      TextAnalysis.dsirResample(s, d)),
    "q242_zorder_layout" -> ((s: SparkSession, d: String) =>
      graft.sources.Layout.zorderHealth(s, d)),
    "q243_symspell_fuzzy" -> ((s: SparkSession, d: String) =>
      TextAnalysis.symspellFuzzyJoin(s, d)),
    "q244_bpe_train" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrain(s, d)),
    "q245_bpe_apply" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeApply(s, d)),
    "q246_snapshot_diff" -> (Relational.snapshotDiff _),
    "q247_dsir_pipeline" -> ((s: SparkSession, d: String) =>
      TextAnalysis.dsirCuratedPipeline(s, d)),
    "q248_dedup_ivm" -> (Relational.dedupIndexMaintenance _),
    "q249_df_ivm" -> (TextAnalysis.dfMaintenance _),
    "q250_ivf_ivm" -> ((s: SparkSession, d: String) =>
      Similarity.ivfIndexMaintenance(s, d)),
    "q251_lsh_ivm" -> (Dedup.lshIndexMaintenance _),
    "q252_cdc_maintain_all" -> (Relational.cdcMaintainAll _),
    "q253_bpe_train_fast" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrainFast(s, d)),
    "q254_bpe1k_fertility" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeSeqFertility(s, d)),
    "q255_stored_ivf_maint" -> ((s: SparkSession, d: String) =>
      Similarity.storedIvfMaintenance(s, d)),
    "q256_pii_scrub" -> ((s: SparkSession, d: String) =>
      TextAnalysis.piiScrub(s, d)),
    "q257_theta_intersect" -> ((s: SparkSession, d: String) =>
      Events.thetaIntersections(s, d)),
    "q258_kll_quantiles" -> ((s: SparkSession, d: String) =>
      Events.kllQuantiles(s, d)),
    "q259_variant_shred" -> ((s: SparkSession, d: String) =>
      Relational.variantShred(s, d)),
    "q260_theta_rollup" -> ((s: SparkSession, d: String) =>
      Events.thetaWeeklyRollup(s, d)),
    "q261_variant_shred_write" -> ((s: SparkSession, d: String) =>
      Relational.variantShredWrite(s, d)),
    "q262_time_native" -> ((s: SparkSession, d: String) =>
      Events.timeOfDayProfile(s, d)),
    "q263_variant_native_shred" -> ((s: SparkSession, d: String) =>
      Relational.variantNativeShred(s, d)),
    "q264_sql_udf" -> ((s: SparkSession, d: String) =>
      Relational.sqlUdfReport(s, d)),
    "q265_exec_immediate" -> ((s: SparkSession, d: String) =>
      Relational.execImmediateReport(s, d)),
    "q266_xml_census" -> ((s: SparkSession, d: String) =>
      Relational.xmlCensus(s, d)),
    "q267_try_arithmetic" -> ((s: SparkSession, d: String) =>
      Relational.tryArithmetic(s, d)),
    "qS01_stream_sessions" ->
      (graft.streaming.EventStreams.sessionsFinalized _),
    "qS02_stream_dedup" ->
      (graft.streaming.EventStreams.dedupFinalized _),
    "qS03_stream_clean" ->
      (graft.streaming.DocumentStreams.cleanedFinalized _),
    "qS04_stream_dsir" ->
      (graft.streaming.DocumentStreams.dsirScoredFinalized _),
    "qS05_stream_cdc" ->
      (graft.streaming.DocumentStreams.cdcClassifiedFinalized _),
    "qS06_stream_ivf_assign" ->
      (graft.streaming.EmbeddingStreams.ivfAssignedFinalized _),
    "qS07_stream_bpe_tokenize" ->
      (graft.streaming.DocumentStreams.bpeTokenizedFinalized _),
    "qS08_stream_lsh_band" ->
      (graft.streaming.DocumentStreams.lshBandedFinalized _),
    "qS09_stream_dedup_admit" ->
      (graft.streaming.DocumentStreams.dedupAdmittedFinalized _),
    "qS11_stream_variant" ->
      (graft.streaming.EventStreams.variantShreddedFinalized _),
    "qS12_stream_time" ->
      (graft.streaming.EventStreams.timeProfiledFinalized _),
    "qS10_stream_pii" ->
      (graft.streaming.DocumentStreams.piiScrubbedFinalized _)
  )

  // ---- oracle SQL builders (shared fragments) ----

  /** One SQL text, two planners: the correlated-scalar-subquery gate
    * runs this exact string through `Flaco.sql` (Catalyst) and
    * verbatim as its own oracle (DuckDB) — the purest form of the
    * reference's "arbitrary SQL, the backend plans it" delegation
    * contract. Money is compared in exact integer cents (doubles
    * summed in engine-dependent order could flip a boundary `>`).
    */
  /** One SQL text, two planners (the q51 pattern): the three-valued
    * IN / NOT IN / EXISTS subquery semantics — the classic NULL trap
    * the reference's SQL delegation inherits from PostgreSQL. The
    * nulled branches null out every 50th custkey AND append one
    * unconditional NULL row (at small SFs no January custkey is
    * divisible by 50, and a nulled branch that happens to inject
    * nothing would silently test ordinary NOT IN), so `not_in_nulls`
    * counts 0 at every scale — one NULL in the list poisons the whole
    * NOT IN — while `in_nulls` silently loses only the nulled
    * matches. Catalyst plans the NOT IN branches as null-aware anti
    * joins (broadcast-built — the reason EXISTS, a plain shuffled
    * anti join, is the formulation that scales; this gate pins that
    * both agree with DuckDB anyway).
    */
  private val nullSemanticsSql: String = {
    val jan =
      """FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin
    s"""SELECT tag, cnt FROM (
       |  SELECT 'in' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey IN (SELECT o_custkey $jan)
       |  UNION ALL
       |  SELECT 'in_nulls' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey IN (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
       |                                   ELSE o_custkey END $jan
       |                       UNION ALL SELECT CAST(NULL AS BIGINT))
       |  UNION ALL
       |  SELECT 'not_in' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey NOT IN (SELECT o_custkey $jan)
       |  UNION ALL
       |  SELECT 'not_in_nulls' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey NOT IN (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
       |                                       ELSE o_custkey END $jan
       |                           UNION ALL SELECT CAST(NULL AS BIGINT))
       |  UNION ALL
       |  SELECT 'exists' AS tag, count(*) AS cnt FROM customer
       |   WHERE EXISTS (SELECT 1 $jan AND o_custkey = c_custkey)
       |  UNION ALL
       |  SELECT 'not_exists' AS tag, count(*) AS cnt FROM customer
       |   WHERE NOT EXISTS (SELECT 1 $jan AND o_custkey = c_custkey)
       |) t ORDER BY tag""".stripMargin
  }

  /** One SQL text, two planners (the q51/q68 pattern): SQL-standard
    * `percentile_disc … WITHIN GROUP` (discrete quantiles — actual
    * elements, so exact over integer cents) plus a DETERMINISTIC
    * mode: rank (count desc, value asc) = 1 — Spark's and DuckDB's
    * native `mode()` both break frequency ties arbitrarily, which is
    * not gateable; the rank formulation pins the smallest
    * most-frequent value on both engines.
    */
  private val discModeSql: String =
    """WITH b AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
      |c AS (SELECT event_type, x, count(*) AS cnt FROM b
      |  GROUP BY event_type, x),
      |m AS (SELECT event_type, x AS mode_x FROM (
      |  SELECT event_type, x,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cnt DESC, x) AS rn FROM c) r WHERE rn = 1),
      |p AS (SELECT event_type,
      |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY x)
      |      AS BIGINT) AS p25,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)
      |      AS BIGINT) AS p50,
      |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY x)
      |      AS BIGINT) AS p75,
      |    count(*) AS n
      |  FROM b GROUP BY event_type)
      |SELECT p.event_type, p25, p50, p75, n, mode_x
      |FROM p JOIN m ON p.event_type = m.event_type
      |ORDER BY p.event_type""".stripMargin

  /** One SQL text, two planners: PG's `FILTER (WHERE …)` aggregate
    * modifier — conditional aggregation without CASE arithmetic.
    * Money in exact integer cents.
    */
  private val filterAggSql: String =
    """SELECT o_orderstatus,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
      |    AS urgent_cents,
      |  count(*) FILTER (WHERE o_orderdate >=
      |    TIMESTAMP '1998-01-01 00:00:00') AS n_recent
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** One SQL text, two planners: explicit `NULLS FIRST / NULLS LAST`
    * in both a sort and a window frame order. The explicitness is
    * the point — the engines' DEFAULTS differ (Spark: nulls first
    * under ASC; DuckDB/PG: nulls last), so any unspelled null
    * ordering in a gated query is a latent cross-engine mismatch.
    * The nullable key is injected deterministically (every 7th
    * customer), the (key, c_custkey) order is total, and rows
    * carry first/last flags per nation so the placement of the null
    * block is value-visible, not just order-visible.
    */
  private val nullsOrderSql: String =
    """WITH b AS (SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL
      |      ELSE c_custkey % 100 END AS k
      |  FROM customer)
      |SELECT c_nationkey, c_custkey, k,
      |  CAST(row_number() OVER (PARTITION BY c_nationkey
      |    ORDER BY k ASC NULLS LAST, c_custkey) AS BIGINT) AS rn_last,
      |  CAST(row_number() OVER (PARTITION BY c_nationkey
      |    ORDER BY k DESC NULLS FIRST, c_custkey) AS BIGINT) AS rn_first
      |FROM b ORDER BY c_nationkey, c_custkey""".stripMargin

  /** One SQL text, two planners: the GROUPING()/GROUPING_ID()
    * metadata functions over a ROLLUP — the standard way to tell a
    * data NULL from a super-aggregate row (q13/q36 gate the rollup
    * shapes; this gates the disambiguation surface). Explicit NULLS
    * LAST everywhere (the q105 lesson: the engines' default null
    * order differs).
    */
  private val groupingMetaSql: String =
    """WITH b AS (SELECT c_mktsegment AS seg, c_nationkey AS nk,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer)
      |SELECT seg, nk,
      |  CAST(grouping(seg) AS BIGINT) AS g_seg,
      |  CAST(grouping(nk) AS BIGINT) AS g_nk,
      |  CAST(grouping_id(seg, nk) AS BIGINT) AS gid,
      |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM b GROUP BY ROLLUP(seg, nk)
      |ORDER BY gid, seg NULLS LAST, nk NULLS LAST""".stripMargin

  private val correlatedSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
      |  (SELECT 2.0 * sum(CAST(round(i.o_totalprice * 100) AS BIGINT)) / count(*)
      |   FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners: the null-safe comparison and
    * conditional-scalar surface — `IS [NOT] DISTINCT FROM` (the PG
    * null-safe equality; Spark's `<=>` is its operator spelling),
    * NULLIF / COALESCE chains, GREATEST/LEAST (both engines ignore
    * NULLs and return NULL only when every argument is NULL — the
    * PG contract), ILIKE, and TRY_CAST (PG's error-on-bad-cast
    * becomes typed-NULL on both engines here). The %7/%3 null
    * injections overlap at multiples of 21, so the full 3VL matrix
    * (null-null, null-value, value-value) is exercised on every run.
    */
  private val nullSafeSql: String =
    """WITH b AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL
      |      ELSE c_custkey % 100 END AS a,
      |    CASE WHEN c_custkey % 3 = 0 THEN NULL
      |      ELSE c_custkey % 50 END AS bb,
      |    c_name FROM customer)
      |SELECT c_custkey, a, bb,
      |  CAST(a IS DISTINCT FROM bb AS BIGINT) AS isd,
      |  CAST(a IS NOT DISTINCT FROM bb AS BIGINT) AS isnd,
      |  NULLIF(a, bb) AS nullif_ab,
      |  COALESCE(a, bb, -1) AS coal,
      |  GREATEST(a, bb) AS gr,
      |  LEAST(a, bb) AS ls,
      |  CAST(c_name ILIKE '%customer%' AS BIGINT) AS ilike_hit,
      |  TRY_CAST(c_name AS BIGINT) AS try_bad
      |FROM b ORDER BY c_custkey""".stripMargin

  /** One SQL text, two planners: the PG boolean-aggregate surface —
    * bool_and / bool_or (PG's names; Spark aliases every/any) and
    * count_if, grouped and bare.
    */
  private val boolAggSql: String =
    """SELECT o_orderstatus,
      |  CAST(bool_and(o_totalprice > 1000) AS BIGINT) AS all_over_1k,
      |  CAST(bool_or(o_totalprice > 400000) AS BIGINT) AS any_over_400k,
      |  CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** One SQL text, two planners: PG's bitwise AGGREGATES — bit_and /
    * bit_or / bit_xor over grouped keys ([[Relational.bitBattery]]'s
    * q98 covers the scalar operators; this covers the aggregate
    * forms, which reduce with one map-side-combinable pass). The
    * names and BIGINT-in/BIGINT-out types agree across Spark and
    * DuckDB, so one text runs on both planners. XOR over the
    * odd-count l_linenumber groups makes the fold order-insensitive
    * but content-sensitive (any dropped/duplicated row flips bits).
    */
  private val bitAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  bit_and(l_orderkey) AS k_and,
      |  bit_or(l_orderkey) AS k_or,
      |  bit_xor(l_orderkey * 31 + l_linenumber) AS k_xor,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** One SQL text, two planners: the SQL-standard ordered-set
    * spelling `percentile_cont(f) WITHIN GROUP (ORDER BY …)` — q41
    * gates the same interpolation semantics under each engine's
    * native spelling (Spark `percentile`, DuckDB `quantile_cont`);
    * this gates PG's standard syntax itself through both parsers.
    * Integer-cent inputs, but the interpolated double is ROUNDED at
    * 6 decimals (the q41 pattern): p25/p50 land on dyadic fractions
    * (denominator ≤ 4) where doubles are exact, but p90's rank
    * fraction is k/10 and the engines' interpolation forms differ —
    * Spark computes lo + (hi−lo)·f, PG/DuckDB lo·(1−f) + hi·f —
    * which diverge in the last ulp on non-dyadic f. The true value
    * is a multiple of 0.1 cents, so rounding at 1e-6 absorbs ulp
    * noise with six orders of margin and zero semantic slack.
    */
  private val percentileContSql: String =
    """WITH b AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
      |SELECT event_type,
      |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY x), 6) AS p25,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY x), 6) AS p50,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY x), 6) AS p90,
      |  count(*) AS n
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One SQL text, two planners: the SQL-standard named `WINDOW`
    * clause — one window definition shared by a frame aggregate, a
    * rank and an offset function (PG surface the reference's opaque
    * SQL rides through verbatim). ORDER BY (o_orderdate, o_orderkey)
    * is total, so both engines' default RANGE UNBOUNDED
    * PRECEDING..CURRENT ROW frame degenerates to ROWS and every
    * output is deterministic; window sums CAST to BIGINT because
    * DuckDB widens them to HUGEINT.
    */
  private val namedWindowSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
      |    AS BIGINT) AS run_cents,
      |  CAST(rank() OVER w AS BIGINT) AS rk,
      |  lag(o_orderkey, 1) OVER w AS prev_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners: `LIMIT k OFFSET m` pagination over
    * a total order — PG surface Spark gained in 3.4. The order
    * (o_totalprice DESC, o_orderkey) is total, so the skipped prefix
    * and kept page are deterministic on both engines. Scale shape:
    * Spark plans a global top-(k+m) CollectLimit with a skip — fine
    * for page-sized k+m, and the documented anti-pattern for deep
    * pagination (use a keyset predicate instead).
    */
  private val limitOffsetSql: String =
    """SELECT o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20 OFFSET 30""".stripMargin

  /** Shared q120 CTE prologue: customer balances and order totals in
    * integer cents with DETERMINISTIC null injection on both sides
    * (every 50th custkey's balance, every 7th orderkey's total), so
    * all five 3VL branches of the quantified comparisons fire at any
    * SF: empty subquery, NULL probe, definite counterexample,
    * NULL-poisoned verdict, definite pass.
    */
  private val quantifiedCte: String =
    """c AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 50 = 0 THEN NULL
      |      ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal
      |  FROM customer),
      |o AS (SELECT o_custkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS v
      |  FROM orders)""".stripMargin

  /** Quantified comparison subqueries (`> ALL`, `< ANY`) — PG
    * delegated surface Spark's parser lacks entirely, so the engine
    * side EMULATES the full three-valued semantics from per-group
    * aggregates (count / non-null count / non-null max) + CASE:
    *
    *   x > ALL(S): TRUE on empty S (even for NULL x); else NULL for
    *     NULL x; else FALSE iff a non-null counterexample exists
    *     (x ≤ max); else NULL iff S contains a NULL; else TRUE.
    *   x < ANY(S): FALSE on empty S; else NULL for NULL x; else TRUE
    *     iff a non-null witness exists (x < max); else NULL iff S
    *     contains a NULL; else FALSE.
    *
    * The oracle runs DuckDB's NATIVE correlated `> ALL` / `< ANY` —
    * independent encodings; the null injections make every branch
    * value-visible. Scale shape: one map-side-combinable aggregate
    * on o_custkey + one co-partitioned equi-join — the decorrelation
    * PG's planner performs, written out explicitly.
    */
  private val quantifiedSparkSql: String =
    s"""WITH $quantifiedCte,
       |a AS (SELECT o_custkey, count(*) AS cnt, count(v) AS cnt_nn,
       |    max(v) AS maxnn
       |  FROM o GROUP BY o_custkey)
       |SELECT c.c_custkey, c.bal,
       |  CASE WHEN coalesce(a.cnt, 0) = 0 THEN CAST(1 AS BIGINT)
       |       WHEN c.bal IS NULL THEN CAST(NULL AS BIGINT)
       |       WHEN c.bal <= a.maxnn THEN CAST(0 AS BIGINT)
       |       WHEN a.cnt > a.cnt_nn THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(1 AS BIGINT) END AS gt_all,
       |  CASE WHEN coalesce(a.cnt, 0) = 0 THEN CAST(0 AS BIGINT)
       |       WHEN c.bal IS NULL THEN CAST(NULL AS BIGINT)
       |       WHEN c.bal < a.maxnn THEN CAST(1 AS BIGINT)
       |       WHEN a.cnt > a.cnt_nn THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS lt_any
       |FROM c LEFT JOIN a ON a.o_custkey = c.c_custkey
       |ORDER BY c.c_custkey""".stripMargin

  /** PG's linear-regression aggregate family (q123): regr_count /
    * regr_avgx / regr_avgy / regr_slope / regr_intercept / regr_r2
    * over x = l_quantity (integral 1..50), y = exact integer cents.
    * The engine runs Spark's NATIVE streaming moment aggregates
    * (single-pass, mergeable, map-side-combinable — the shape that
    * survives 100 TB); the ORACLE recomputes every statistic from
    * first-principles EXACT integer sums (Σx, Σy, Σxy, Σx², Σy² in
    * DuckDB HUGEINT, cast to DOUBLE only at the final ratio) —
    * independent encodings, and the gate proves the streaming states
    * agree with the closed form. Rounding: avgx/avgy are ratios of
    * exact integers (bit-identical across engines; 6 dp), slope and
    * intercept carry ~1e-11 relative error from the differing
    * summation orders against a ~1e5-cent magnitude (2 dp = 5e-3
    * window, four orders of margin), r2 ∈ [0,1] with ~1e-12 error
    * (6 dp).
    */
  private val regrSparkSql: String =
    """WITH b AS (SELECT l_returnflag AS flag,
      |    CAST(l_quantity AS DOUBLE) AS x,
      |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
      |      AS y
      |  FROM lineitem)
      |SELECT flag,
      |  CAST(regr_count(y, x) AS BIGINT) AS n_pairs,
      |  round(regr_avgx(y, x), 6) AS avgx,
      |  round(regr_avgy(y, x), 6) AS avgy,
      |  round(regr_slope(y, x), 2) AS slope,
      |  round(regr_intercept(y, x), 2) AS icept,
      |  round(regr_r2(y, x), 6) AS r2
      |FROM b GROUP BY flag ORDER BY flag""".stripMargin

  /** Calendar-spine zero-fill (q124): PG's `generate_series` +
    * inline `VALUES` table surface, and the classic gap-free
    * reporting join every pipeline needs — a generated date spine
    * LEFT JOINed to per-day order aggregates with `coalesce` 0-fill,
    * enriched from a constant VALUES dimension. The engine spells
    * series generation `explode(sequence(date, date))` and the
    * inline table Spark's `FROM VALUES … AS t(…)`; the oracle uses
    * DuckDB's `generate_series` TABLE FUNCTION and parenthesized
    * `(VALUES …) t(…)` — independent encodings of both surfaces.
    * Scale shape: the spine is O(days) (broadcast side), the
    * aggregate is map-side-combinable on the fact table, and the
    * zero-fill join is broadcast — no shuffle of the spine.
    */
  private val calendarSpineSparkSql: String =
    """WITH spine AS (
      |  SELECT explode(sequence(DATE '1995-01-01', DATE '1995-06-30'))
      |    AS d),
      |daily AS (
      |  SELECT o_orderdate AS d, count(*) AS n_orders,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY o_orderdate),
      |w AS (SELECT * FROM VALUES (1, 10), (2, 25) AS t(q, weight))
      |SELECT s.d, CAST(quarter(s.d) AS BIGINT) AS qtr,
      |  coalesce(dl.n_orders, 0) AS n_orders,
      |  coalesce(dl.cents, 0) AS cents,
      |  CAST(coalesce(dl.n_orders, 0) * w.weight AS BIGINT) AS weighted
      |FROM spine s
      |JOIN w ON w.q = quarter(s.d)
      |LEFT JOIN daily dl ON dl.d = s.d
      |ORDER BY s.d""".stripMargin

  /** SQL-standard string syntax (q134): the spellings PG clients
    * write — `SUBSTRING(x FROM n FOR m)`, `TRIM(LEADING/TRAILING/
    * BOTH set FROM x)` (set semantics: every char in the set trims),
    * `POSITION(y IN x)`, `LIKE … ESCAPE`, and `OVERLAY(x PLACING y
    * FROM n [FOR l])`. All but OVERLAY run as ONE text through both
    * parsers; this DuckDB lacks OVERLAY, so the oracle EMULATES those
    * two columns from substr‖concat — independent encodings of the
    * standard's definition (result = prefix ‖ placing ‖ suffix with
    * the FOR-length gap). The ESCAPE predicate is made
    * row-discriminating by a parity-dependent suffix containing a
    * literal underscore.
    */
  private val stdStringsSql: String =
    """SELECT c_custkey,
      |  substring(c_name FROM 3 FOR 8) AS sub,
      |  TRIM(LEADING 'C' FROM c_name) AS ltrim_c,
      |  TRIM(TRAILING '01' FROM c_name) AS rtrim_01,
      |  TRIM(BOTH ' ' FROM concat(' ', c_name, ' ')) AS btrim_sp,
      |  CAST(POSITION('#' IN c_name) AS BIGINT) AS pos_hash,
      |  OVERLAY(c_name PLACING '***' FROM 10) AS ovl,
      |  OVERLAY(c_name PLACING '**' FROM 4 FOR 6) AS ovl_for,
      |  CAST(concat(c_name,
      |      CASE WHEN c_custkey % 2 = 0 THEN '_x' ELSE 'yx' END)
      |    LIKE '%!_x' ESCAPE '!' AS BIGINT) AS like_esc
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Range predicates (q131): the SQL-standard `OVERLAPS` and PG's
    * `BETWEEN SYMMETRIC`, both absent from Spark's parser (and from
    * this DuckDB), EMULATED from their definitions — OVERLAPS via
    * endpoint normalization (least/greatest on BOTH sides, the
    * standard's "earlier endpoint first" rule, exercised by a
    * parity-swapped probe range) + strict half-open intersection
    * s1 < e2 AND s2 < e1; BETWEEN SYMMETRIC via bound normalization
    * then plain BETWEEN, with a %13 null injection flowing 3VL
    * through to a nullable BIGINT. The oracle derives both from
    * DIFFERENT algebra: non-overlap negation NOT(e1 <= s2 OR
    * e2 <= s1) and explicit CASE bound-swapping — independent
    * encodings of the same definitions. Ranges are constructed
    * non-degenerate (length 30 days) so the half-open vs closed
    * edge-case dialects coincide and the gate pins the portable
    * core of the semantics.
    */
  private val rangePredicatesSql: String =
    """WITH b AS (SELECT o_orderkey,
      |    CAST(o_orderdate AS DATE) AS s1,
      |    date_add(CAST(o_orderdate AS DATE), 30) AS e1,
      |    CASE WHEN o_orderkey % 2 = 1 THEN DATE '1995-06-30'
      |         ELSE DATE '1995-04-01' END AS p1,
      |    CASE WHEN o_orderkey % 2 = 1 THEN DATE '1995-04-01'
      |         ELSE DATE '1995-06-30' END AS p2,
      |    CASE WHEN o_orderkey % 13 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST(round(o_totalprice * 100) AS BIGINT)
      |         END AS cents,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 20000000 ELSE 5000000
      |         END AS n1,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 5000000 ELSE 20000000
      |         END AS n2
      |  FROM orders)
      |SELECT o_orderkey, cents,
      |  CAST(least(s1, e1) < greatest(p1, p2)
      |    AND least(p1, p2) < greatest(s1, e1) AS BIGINT) AS ovl,
      |  CAST(cents BETWEEN least(n1, n2) AND greatest(n1, n2)
      |    AS BIGINT) AS sym
      |FROM b ORDER BY o_orderkey""".stripMargin

  /** Named-parameter SQL (q126): Spark's `:param` marker binding via
    * `Flaco.sqlParams` — the prepared-statement surface every PG
    * client binds through. The text carries three parameter KINDS
    * (numeric predicate, date string cast, string equality); the
    * oracle is the same logical query with the constants INLINED, so
    * the gate proves binding is semantically identical to literal
    * substitution — including predicate pushdown (params reach the
    * scan as PushedFilters like any literal).
    */
  private val namedParamsSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |  c_mktsegment AS seg
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |WHERE o_totalprice > :lo AND o_orderdate < CAST(:hi AS DATE)
      |  AND c_mktsegment = :seg
      |ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners (q128): the SQL-standard boolean
    * test predicates `IS [NOT] TRUE / FALSE / UNKNOWN` — the 3VL
    * surface PG WHERE clauses lean on. A %7 null injection keeps all
    * three truth values live in every run; every test output is a
    * total (never-NULL) BIGINT by definition, which is exactly the
    * property the gate proves (vs `= TRUE`, which propagates NULL).
    */
  /** SELECT-list EXISTS (q164) — the correlated existential as a
    * PROJECTED boolean rather than a WHERE predicate (q68's gate):
    * a different planner path entirely — the subquery must become a
    * left-semi/existence JOIN whose match flag SURVIVES as a column
    * (Spark plans an ExistenceJoin), not a filter. One SQL text,
    * two planners. Both flags are never-NULL booleans (cast BIGINT
    * for cross-engine hashing); `n_big` rides along to pin the
    * interaction with an unrelated scalar subquery in the same
    * projection. Customers without orders make both flags'
    * false/true branches live at every SF.
    */
  private[graft] val selectExistsSql: String =
    """SELECT c_custkey,
      |  CAST(EXISTS(SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > 200000) AS BIGINT) AS has_big,
      |  CAST(NOT EXISTS(SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS no_orders,
      |  (SELECT count(*) FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > 200000) AS n_big
      |FROM customer c ORDER BY c_custkey""".stripMargin

  /** One SQL text, two planners (q183): a correlated SCALAR SUBQUERY
    * inside HAVING — the reporting idiom "groups above the
    * all-groups average" (PG planner: one extra uncorrelated
    * aggregate, then a post-aggregation filter; Catalyst plans the
    * same shape). Money flows as exact per-row cents BEFORE any sum
    * (the suite-wide discipline: double sums are
    * association-order-nondeterministic); the avg compare is stated
    * multiplicatively — sum·nsegs > total — so no division exists;
    * emitted sums are CAST BIGINT on both sides (the HUGEINT
    * lesson).
    */
  private val havingSubquerySql: String =
    """SELECT c_mktsegment AS seg,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    * (SELECT count(DISTINCT c_mktsegment) FROM customer)
      |  > (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |     FROM orders)
      |ORDER BY seg""".stripMargin

  /** One SQL text, two planners (q199): a WINDOW FUNCTION OVER AN
    * AGGREGATE — `sum(sum(cents)) OVER (PARTITION BY region)` — the
    * percent-of-parent reporting idiom and a syntactically special
    * surface (the window's argument is itself a post-GROUP-BY
    * aggregate; both planners must evaluate the aggregate first and
    * window over its RESULT rows). Exact integer cents throughout;
    * the share stays derivable (cents / region_cents) rather than
    * divided, because the engines' integer-division spellings (`div`
    * vs `//`) are not shareable in one text.
    */
  private val windowOverAggSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  CAST(sum(sum(CAST(round(o_totalprice * 100) AS BIGINT)))
      |    OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(count(*)) OVER (PARTITION BY r_name) AS BIGINT)
      |    AS region_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  private val boolTestSql: String =
    """WITH b AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         ELSE o_totalprice > 150000 END AS p
      |  FROM orders)
      |SELECT o_orderkey, CAST(p AS BIGINT) AS p,
      |  CAST(p IS TRUE AS BIGINT) AS is_t,
      |  CAST(p IS NOT TRUE AS BIGINT) AS not_t,
      |  CAST(p IS FALSE AS BIGINT) AS is_f,
      |  CAST(p IS NOT FALSE AS BIGINT) AS not_f,
      |  CAST(p IS UNKNOWN AS BIGINT) AS is_u,
      |  CAST(p IS NOT UNKNOWN AS BIGINT) AS not_u
      |FROM b ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners (q129): `any_value` (PG 16 surface;
    * Spark 3.4+/DuckDB native). Deterministic ONLY when the value is
    * constant within its group — here c_mktsegment through the
    * customer equi-join, constant per o_custkey by construction —
    * which is also the documented usage contract: any_value is for
    * functionally-dependent columns, not arbitrary picks. Scale
    * shape: any_value carries one value per group through the
    * partial aggregate — the cheap way to keep dependent attributes
    * without widening the GROUP BY key.
    */
  private val anyValueSql: String =
    """SELECT o_custkey, any_value(c_mktsegment) AS seg,
      |  count(*) AS n
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** One SQL text, two planners (q147): the SQL-standard `JOIN …
    * USING`, `NATURAL JOIN`, and `FULL JOIN … USING` surface —
    * PG-idiomatic join spellings q03-q07/q65 (ON-condition joins)
    * leave ungated. The semantics under test are structural: USING
    * merges the join column (it appears ONCE, unqualified), NATURAL
    * infers the key from the one shared column name, and a bare
    * `pri` after FULL JOIN USING must COALESCE the two sides — the
    * left-only and right-only rows make a wrong merge value-visible.
    * The TPC-H-ish corpus shares no column names across tables, so
    * CTEs rename keys to a common name first (which is also how PG
    * users actually reach USING). The synthetic right side of the
    * full join carries a key absent from orders ('9-SYNTH') and
    * omits three real priorities, so both null sides are populated
    * at every SF. All values exact integers.
    */
  private val joinUsingSql: String =
    """WITH c AS (SELECT c_custkey, c_nationkey AS nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
      |n AS (SELECT n_nationkey AS nationkey, n_name,
      |    n_regionkey AS regionkey FROM nation),
      |r AS (SELECT r_regionkey AS regionkey, r_name FROM region),
      |iu AS (SELECT r_name AS k, count(*) AS v1,
      |    CAST(sum(cents) AS BIGINT) AS v2
      |  FROM c JOIN n USING (nationkey) JOIN r USING (regionkey)
      |  GROUP BY r_name),
      |nj AS (SELECT n_name AS k, count(*) AS v1,
      |    CAST(sum(cents) AS BIGINT) AS v2
      |  FROM c NATURAL JOIN n GROUP BY n_name),
      |a AS (SELECT o_orderpriority AS pri, count(*) AS cnt FROM orders
      |  WHERE o_orderstatus = 'F' AND o_orderpriority < '4' GROUP BY o_orderpriority),
      |b AS (SELECT '1-URGENT' AS pri, CAST(10 AS BIGINT) AS cnt
      |  UNION ALL SELECT '9-SYNTH', CAST(5 AS BIGINT)),
      |fj AS (SELECT pri AS k, a.cnt AS v1, b.cnt AS v2
      |  FROM a FULL JOIN b USING (pri))
      |SELECT 'inner_using' AS section, k, v1, v2 FROM iu
      |UNION ALL SELECT 'natural' AS section, k, v1, v2 FROM nj
      |UNION ALL SELECT 'full_using' AS section, k, v1, v2 FROM fj
      |ORDER BY section, k""".stripMargin

  /** One SQL text, two planners (q148): `GROUP BY ALL` (DuckDB-
    * originated, adopted by Spark 3.4+ — the "group by every
    * non-aggregate select item" ergonomic PG users meet in every
    * modern warehouse dialect). The gate proves both planners infer
    * the SAME grouping key (segment × status): a planner that
    * groups differently changes every row. Exact integer cents; the
    * DISTINCT customer count rides along so the inferred key is
    * visible through a second aggregate kind.
    */
  private val groupByAllSql: String =
    """SELECT c_mktsegment, o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  count(DISTINCT o_custkey) AS n_cust
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY ALL
      |ORDER BY c_mktsegment, o_orderstatus""".stripMargin

  /** PG's `unnest … WITH ORDINALITY` surface: the engine spells it
    * `LATERAL VIEW posexplode` (0-based pos re-based to the 1-based
    * SQL ordinal), the oracle spells it `unnest +
    * generate_subscripts` — two independent encodings of
    * position-preserving table-function expansion. The ord ≤ 5
    * prefix keeps the gate row count bounded while still proving
    * positions (a wrong ordinal changes WHICH tokens survive, not
    * just a column value).
    */
  private val ordinalitySparkSql: String =
    """WITH t AS (SELECT doc_id,
      |    regexp_extract_all(text, '\\S+', 0) AS toks FROM documents)
      |SELECT doc_id, CAST(pos + 1 AS BIGINT) AS ord, tok
      |FROM t LATERAL VIEW posexplode(toks) p AS pos, tok
      |WHERE pos < 5 ORDER BY doc_id, ord""".stripMargin

  /** `WITH RECURSIVE` through Spark's own recursive-CTE execution
    * (4.0+): ancestor closure over the implicit binary-tree hierarchy
    * parent(k) = k div 2 on customer keys — a deterministic, genuinely
    * multi-iteration recursion (depth = ⌊log₂ max(key)⌋, so ~11 rounds
    * at sf0.01) whose row count n·O(log n) stays materializable at any
    * corpus size. The oracle is DuckDB's native WITH RECURSIVE over
    * the same closure (integer division spelled `//` there). Scale
    * disposition: bounded-depth recursion like this runs one
    * distributed job per level, and Spark's recursion is UNION
    * ALL-only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which DIVERGES
    * on cyclic graphs — unbounded closures (connected components)
    * must use q43's pointer-jumping operator instead: O(log n)
    * rounds, cycle-safe, dedup per round. RecursiveSqlSpec
    * cross-checks the two on the same pair graph.
    */
  private val recursiveSparkSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS node,
      |    CAST(c_custkey AS BIGINT) AS anc, CAST(0 AS BIGINT) AS depth
      |  FROM customer
      |  UNION ALL
      |  SELECT node, anc div 2 AS anc, depth + 1 AS depth
      |  FROM anc WHERE anc > 1
      |)
      |SELECT node, anc, depth FROM anc ORDER BY node, depth""".stripMargin

  /** PG 14 `SEARCH DEPTH FIRST BY … SET` / `SEARCH BREADTH FIRST`
    * ordering of a recursive CTE (q162) — PG's clauses are sugar for
    * an accumulated path column (depth-first) or a (depth, key) pair
    * (breadth-first) that the outer query ORDERs BY; neither Spark
    * nor this DuckDB parses the sugar, so BOTH engines are handed
    * the desugared form PG's own docs define — independent encodings
    * (Spark `concat(path, array(…))`/`array_join`, DuckDB
    * `list_append`/`array_to_string`, and each engine's own
    * lexicographic array ordering for the rank).
    *
    * The fixture walks customers as the binary tree rooted at 1
    * (children of k are 2k, 2k+1 — every custkey's halving chain
    * reaches 1, so the tree spans the table): a BRANCHING recursion,
    * where depth-first (1,2,4,8,…) and breadth-first (1,2,3,4,…)
    * orders genuinely diverge — on q108's per-node chains the two
    * collapse together and the clause would be untestable. Both
    * ranks ship, plus the path itself as a '/'-joined string (raw
    * array columns don't hash cross-engine — the q121 finding).
    *
    * Scale: recursion depth = log₂(max key); each level is one
    * co-partitioned join of the frontier against the table. The two
    * global row_number ranks are the GATE's materialization of the
    * order contract; production consumers ORDER BY the path/depth
    * columns directly (a sort, not a single-partition rank).
    */
  private[graft] val searchOrderSparkSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth,
      |    array(CAST(1 AS BIGINT)) AS path
      |  UNION ALL
      |  SELECT CAST(c.c_custkey AS BIGINT), t.depth + 1,
      |    concat(t.path, array(CAST(c.c_custkey AS BIGINT)))
      |  FROM t JOIN customer c ON c.c_custkey div 2 = t.node
      |    AND c.c_custkey > 1
      |)
      |SELECT CAST(row_number() OVER (ORDER BY path) AS BIGINT) AS dfs_rank,
      |  CAST(row_number() OVER (ORDER BY depth, node) AS BIGINT) AS bfs_rank,
      |  node, depth, array_join(path, '/') AS path_str
      |FROM t ORDER BY dfs_rank""".stripMargin

  /** LATERAL correlated TABLE subquery (q51 gates only the scalar
    * form): top-2 orders per customer via `, LATERAL (... ORDER BY
    * ... LIMIT 2)`. One SQL text, two planners — Spark and DuckDB
    * both accept this spelling; Spark must DECORRELATE it (the
    * rank-over-partition + join rewrite) rather than re-scan orders
    * per customer row — RecursiveSqlSpec pins the plan (no lateral
    * node survives optimization, no nested-loop join), and the
    * result is cross-checked against the q09 window formulation.
    * Inner-lateral semantics: order-less customers drop out.
    */
  private val lateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.cents
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey""".stripMargin

  /** DuckDB: distinct word-3-gram shingles per doc, as a WITH body
    * rooted on `rel` — parameterized (not string-replaced after the
    * fact) so a sampled-corpus oracle like q229 re-roots by
    * construction: a formatting change here can never silently leave
    * a caller's replace running on the full corpus.
    */
  private def shinglesCteOver(rel: String): String =
    s"""d AS (SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS l FROM $rel),
       |sh AS (SELECT DISTINCT doc_id, lang, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM (
       |  SELECT doc_id, lang, l, unnest(range(1, greatest(len(l) - 1, 1))) AS i FROM d))""".stripMargin

  private val shinglesCte = shinglesCteOver("documents")

  /** DuckDB stopword-score formula mirroring TextAnalysis.hits. */
  private def scoreSql(lang: String): String =
    TextAnalysis.stopwords(lang).map { w =>
      val tokLen = w.length + 2
      s"(length(padded) - length(replace(padded, ' $w ', ''))) / $tokLen"
    }.mkString(" + ")

  /** The full MinHash+LSH pair pipeline as CTEs ending in `j`
    * (candidate doc pairs with exact Jaccard) — shared by q27, q28
    * and q43. Mirrors Dedup.candidatePairJaccard: minhash value i is
    * the 8-hex-char window i%4 of md5(shingle) (i<4) or
    * md5('x'+shingle) (i≥4); band key is the plain lo|hi concat.
    */
  /** Shared q31b/q195 oracle — identical search semantics: the
    * stored-layout gate (q195) must produce byte-identical results
    * to the in-memory IVF search (q31b); only I/O may differ.
    */
  private lazy val ivfOracleSql: String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings v CROSS JOIN c),
         |asum AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |ascore AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM asum),
         |ar AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM ascore),
         |cells AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ar WHERE vec_id < 20 AND rn <= 2),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |x AS (SELECT cand.qid, cand.vb, q.qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM cand JOIN q USING (qid) JOIN embeddings e ON e.vec_id = cand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin

  /** [[minhashCtes]] rooted on an arbitrary document relation — the
    * q229 sampled-corpus oracle re-roots the WHOLE pipeline here.
    */
  /** The shingle→minhash→band prefix ending in `bk0` (the UNCAPPED
    * band table — Dedup.rawBandsOf's mirror), shared by the pair
    * pipeline below and the q251 index-maintenance oracle.
    */
  private def bandsCteOver(rel: String): String =
    s"""${shinglesCteOver(rel)},
       |mh AS (SELECT doc_id, lang, i,
       |    min(substring(CASE WHEN i < 4 THEN md5(shingle)
       |                       ELSE md5('x' || shingle) END,
       |        (i % 4) * 8 + 1, 8)) AS mh
       |  FROM (SELECT doc_id, lang, shingle, unnest(range(0, 8)) AS i FROM sh) t
       |  GROUP BY doc_id, lang, i),
       |bands AS (SELECT doc_id, lang, i // 2 AS band,
       |    min(CASE WHEN i % 2 = 0 THEN mh END) AS lo,
       |    min(CASE WHEN i % 2 = 1 THEN mh END) AS hi
       |  FROM mh GROUP BY doc_id, lang, i // 2),
       |bk0 AS (SELECT doc_id, lang, band, lo || '|' || hi AS bkey FROM bands)""".stripMargin

  private def minhashCtesOver(rel: String): String =
    s"""${bandsCteOver(rel)},
       |bk AS (SELECT bk0.* FROM bk0 JOIN (SELECT lang, band, bkey FROM bk0
       |    GROUP BY lang, band, bkey
       |    HAVING count(*) <= ${Dedup.MaxBandDocs}) ok
       |  USING (lang, band, bkey)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x JOIN bk y
       |  ON x.bkey = y.bkey AND x.band = y.band AND x.lang = y.lang
       |    AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.lang = y.lang
       |    AND x.doc_id < y.doc_id
       |  JOIN cand ON cand.a = x.doc_id AND cand.b = y.doc_id
       |  GROUP BY x.doc_id, y.doc_id),
       |j AS (SELECT a, b,
       |    round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
       |  FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)""".stripMargin

  private val minhashCtes: String = minhashCtesOver("documents")

  /** Snapshot B as full document rows — the q246 modular fixture
    * carried with texts (Relational.snapshotBDocsOf's mirror), shared
    * by the q251 and q252 oracles.
    */
  private val snapbDocsCte: String =
    """snapb AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
      |      AS doc_id, lang, text
      |  FROM documents WHERE doc_id % 13 = 0)""".stripMargin

  /** The q190/q190b duplicated-span oracle (one SQL, two engine
    * encodings — exact-set kernel and Bloom-ladder join).
    */
  private val dupSpansOracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id, i,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM (SELECT doc_id, toks, unnest(range(1,
      |      greatest(len(toks) - 1, 1))) AS i
      |    FROM t WHERE len(toks) >= 3)),
      |df AS (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g),
      |shared AS (SELECT g FROM df WHERE df >= 2),
      |hits AS (SELECT sh.doc_id, sh.i FROM sh JOIN shared USING (g)),
      |cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT)
      |      AS covered
      |  FROM (SELECT doc_id, unnest([i, i + 1, i + 2]) AS p FROM hits)
      |  GROUP BY doc_id),
      |n AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT n.doc_id, n.n_toks,
      |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_toks,
      |  CAST(COALESCE(cov.covered, 0) * 1000000
      |    // greatest(n_toks, 1) AS BIGINT) AS dup_ppm
      |FROM n LEFT JOIN cov USING (doc_id) ORDER BY n.doc_id""".stripMargin

  /** The q231/q231b span-excision oracle (one SQL, two engine
    * encodings — broadcast exact-set kernel and Bloom-ladder join +
    * position-list kernel): covered positions from the shared hits,
    * kept positions by anti-join, cleaned text re-assembled with
    * string_agg in position order, md5'd.
    */
  private val exciseOracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id, i,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM (SELECT doc_id, toks, unnest(range(1,
      |      greatest(len(toks) - 1, 1))) AS i
      |    FROM t WHERE len(toks) >= 3)),
      |df AS (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g),
      |shared AS (SELECT g FROM df WHERE df >= 2),
      |hits AS (SELECT sh.doc_id, sh.i FROM sh JOIN shared USING (g)),
      |cov AS (SELECT DISTINCT doc_id, p
      |  FROM (SELECT doc_id, unnest([i, i + 1, i + 2]) AS p FROM hits)),
      |tok AS (SELECT doc_id, p, toks[p] AS tok
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
      |    FROM t)),
      |kept AS (SELECT tok.doc_id, tok.p, tok.tok
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id
      |    AND tok.p = cov.p
      |  WHERE cov.p IS NULL),
      |c AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
      |  FROM kept GROUP BY doc_id),
      |cv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
      |  FROM cov GROUP BY doc_id),
      |n AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT n.doc_id, n.n_toks,
      |  n.n_toks - COALESCE(cv.covered, 0) AS kept_toks,
      |  md5(COALESCE(c.cleaned, '')) AS cleaned_fp
      |FROM n LEFT JOIN cv USING (doc_id) LEFT JOIN c USING (doc_id)
      |ORDER BY n.doc_id""".stripMargin

  /** The q192/q192b oracle: DuckDB replays the integer KS statistic
    * over the `granule`-bucketed value axis — per-pair cumulative
    * counts, cleared denominators (|cum_a·n_b − cum_b·n_a|), ppm of
    * n_a·n_b — no float CDF on either side. granule=1 is the exact
    * statistic; granule=100 the engine's fixed-grid 100 TB path.
    */
  private def ksOracleSql(granule: Long): String =
    s"""WITH c AS (SELECT event_type,
       |    CAST(round(value * 100) AS BIGINT) // $granule AS x,
       |    count(*) AS n
       |  FROM events GROUP BY event_type, x),
       |tp AS (SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM (SELECT DISTINCT event_type FROM c) a
       |  JOIN (SELECT DISTINCT event_type FROM c) b
       |    ON a.event_type < b.event_type),
       |m AS (SELECT tp.ta, tp.tb, c.x,
       |    CAST(sum(CASE WHEN c.event_type = tp.ta THEN n ELSE 0 END)
       |      AS BIGINT) AS nax,
       |    CAST(sum(CASE WHEN c.event_type = tp.tb THEN n ELSE 0 END)
       |      AS BIGINT) AS nbx
       |  FROM tp JOIN c ON c.event_type IN (tp.ta, tp.tb)
       |  GROUP BY tp.ta, tp.tb, c.x),
       |cc AS (SELECT ta, tb, x,
       |    sum(nax) OVER (PARTITION BY ta, tb ORDER BY x
       |      ROWS UNBOUNDED PRECEDING) AS ca,
       |    sum(nbx) OVER (PARTITION BY ta, tb ORDER BY x
       |      ROWS UNBOUNDED PRECEDING) AS cb
       |  FROM m),
       |tt AS (SELECT ta, tb, CAST(sum(nax) AS BIGINT) AS n_a,
       |    CAST(sum(nbx) AS BIGINT) AS n_b
       |  FROM m GROUP BY ta, tb),
       |d AS (SELECT cc.ta, cc.tb, tt.n_a, tt.n_b,
       |    CAST(max(abs(cc.ca * tt.n_b - cc.cb * tt.n_a)) AS BIGINT)
       |      AS d_scaled
       |  FROM cc JOIN tt ON cc.ta = tt.ta AND cc.tb = tt.tb
       |  GROUP BY cc.ta, cc.tb, tt.n_a, tt.n_b)
       |SELECT ta AS type_a, tb AS type_b, n_a, n_b,
       |  (d_scaled * 1000000) // (n_a * n_b) AS ks_ppm
       |FROM d ORDER BY ta, tb""".stripMargin

  /** DuckDB 0..255 bucket from the first two md5 hex digits of `arg`
    * (no hex→int cast in DuckDB, so the digits decode via strpos) —
    * the q47 idiom, shared by the curation oracles.
    */
  private def hexBucketSql(arg: String): String =
    s"(strpos('0123456789abcdef', substring(md5($arg), 1, 1)) - 1) * 16\n" +
      s"    + strpos('0123456789abcdef', substring(md5($arg), 2, 1)) - 1"

  /** The per-language mixture-rate CASE, generated from the one
    * Curation.mixtureRates table (shared by q53 and q58).
    */
  private lazy val mixtureRateCase: String =
    "CASE lang " + graft.operators.Curation.mixtureRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ") + " ELSE 0 END"

  /** The q54 two-phase histogram threshold as CTEs ending in `c54`
    * (per-(lang, quality-bucket) doc/token counts with running-from-
    * best and total token sums) — shared by q54 and q54b. `sc54`
    * carries the per-doc (doc_id, lang, n_toks, bucket) rows the
    * apply path joins back to.
    */
  private lazy val budgetCtes: String =
    s"""dq54 AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
       |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
       |  FROM documents),
       |eq54 AS (SELECT doc_id, lang, text, n_tokens, n_punct,
       |  (${scoreSql("en")}) AS n_stop FROM dq54),
       |sc54 AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_toks,
       |  CAST(floor(round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
       |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
       |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) * 20)
       |    AS BIGINT) AS bucket
       |  FROM eq54),
       |h54 AS (SELECT lang, bucket, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS toks FROM sc54 GROUP BY lang, bucket),
       |c54 AS (SELECT lang, bucket, n_docs, toks,
       |  CAST(sum(toks) OVER (PARTITION BY lang ORDER BY bucket DESC) AS BIGINT) AS cum,
       |  CAST(sum(toks) OVER (PARTITION BY lang) AS BIGINT) AS total FROM h54)""".stripMargin

  /** Exact decontamination semantics — shared by q48 (exact-set
    * kernel) and q48b (Bloom prefilter + distributed exact join),
    * which must be row-identical by construction.
    */
  private lazy val decontaminateOracle: String =
    s"""WITH $shinglesCte,
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM sh JOIN bench USING (shingle)
       |WHERE doc_id % 10 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB sign-LSH bucket mirroring Similarity.bucketCol. */
  private val bucketSql: String = (0 until 8).map(j =>
    s"(CASE WHEN embedding[${j * 8 + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  private val cosinePairSql =
    """sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
      |    sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
      |    sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb""".stripMargin

  /** One DuckDB k-means scoring block: rounded cosine of every vector
    * against centroid relation `c` → `sc$tag(vec_id, cid, s)`. The
    * q31c oracle unrolls the engine's Lloyd rounds with these.
    */
  private def kmeansScoreCtes(c: String, tag: String): String =
    s"""ax$tag AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
       |    unnest(range(1, 65)) AS i
       |  FROM embeddings v CROSS JOIN $c c),
       |su$tag AS (SELECT vec_id, cid,
       |    $cosinePairSql
       |  FROM ax$tag GROUP BY vec_id, cid),
       |sc$tag AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM su$tag)""".stripMargin

  /** One DuckDB Lloyd UPDATE block over `sc$tag` scores: argmax cell
    * per vector, per-(cell, dim) mean rounded at 6 then cast to REAL
    * (the engine's float centroids), reassembled into `$out(cid, ce)`.
    */
  private def kmeansUpdateCtes(tag: String, out: String): String =
    s"""cell$tag AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |  FROM sc$tag) WHERE rn = 1),
       |mx$tag AS (SELECT a.cid, v.embedding AS ea, unnest(range(1, 65)) AS i
       |  FROM cell$tag a JOIN embeddings v USING (vec_id)),
       |m$tag AS (SELECT cid, i,
       |    CAST(round(avg(CAST(ea[i] AS DOUBLE)), 6) AS REAL) AS mv
       |  FROM mx$tag GROUP BY cid, i),
       |$out AS (SELECT cid, array_agg(mv ORDER BY i) AS ce FROM m$tag GROUP BY cid)""".stripMargin

  /** Sign-LSH bucketed embedding near-dup pipeline as CTEs ending in
    * `sim` (vec pairs with cosine) — shared by q29 and q50.
    */
  private lazy val embedNearDupCtes: String =
    s"""e AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |pr AS (SELECT vec_id, embedding,
       |    CASE WHEN i = 0 THEN bucket ELSE xor(bucket, 1 << (i - 1)) END AS probe
       |  FROM (SELECT vec_id, embedding, bucket, unnest(range(0, 9)) AS i FROM e)),
       |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    a.embedding AS ea, b.embedding AS eb
       |  FROM pr a JOIN e b ON a.probe = b.bucket AND a.vec_id < b.vec_id),
       |x AS (SELECT va, vb, ea, eb, unnest(range(1, 65)) AS i FROM pairs),
       |s AS (SELECT va, vb,
       |    $cosinePairSql
       |  FROM x GROUP BY va, vb),
       |sim AS (SELECT va, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        |  l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND l_discount > 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_topk_revenue" ->
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q06_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 25""".stripMargin,

    "q07_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_inactive FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q08_segment_stats" ->
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_active_customers,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q09_window_topn" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q10_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS UNBOUNDED PRECEDING) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin,

    "q11_setops" ->
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |  UNION
        |  SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00'
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |) t ORDER BY o_custkey""".stripMargin,

    "q12_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,

    "q13_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q14_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q15_scalar_funcs" ->
      """SELECT o_orderkey,
        |  o_orderstatus || '-' || substring(o_orderpriority, 1, 1) AS tag,
        |  upper(substring(o_orderpriority, 3, 20)) AS prio_name,
        |  CAST(year(o_orderdate) AS BIGINT) AS oy,
        |  CAST(month(o_orderdate) AS BIGINT) AS om,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  o_orderkey % 7 AS k_mod,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q16_json_extract" ->
      """SELECT event_type, CAST(sum(k) AS BIGINT) AS sum_k, count(*) AS n,
        |  round(CAST(sum(k) AS DOUBLE) / count(*), 6) AS avg_k
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |      FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q160: AT TIME ZONE both directions, session-tz-FREE on the
    // oracle side — naive→instant is always spelled timezone('UTC'|
    // zone, naive) and instant→naive timezone(zone, tstz), so no
    // implicit session-zone cast anywhere; fixed-width strftime %f
    // micros match Spark's SSSSSS bytes.
    "q160_timezone" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events)
        |SELECT event_id,
        |  strftime(t, '%Y-%m-%d %H:%M:%S.%f') AS ts_utc,
        |  strftime(timezone('America/New_York', timezone('UTC', t)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS ny_wall,
        |  strftime(timezone('Asia/Tokyo', timezone('UTC', t)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS tokyo_wall,
        |  strftime(timezone('UTC', timezone('Asia/Kolkata', t)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS kolkata_utc,
        |  strftime(timezone('America/New_York',
        |      timezone('UTC', t + INTERVAL 69 DAY)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS ny_dst
        |FROM e ORDER BY event_id""".stripMargin,

    "q17_events_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin,

    "q18_events_sliding" ->
      """SELECT wstart, event_type, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS wstart,
        |         event_type FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |           - INTERVAL '30 minutes' AS wstart,
        |         event_type FROM events
        |) t GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin,

    "q19_events_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // q20: the sketch VALUE is engine-specific so it is projected out;
    // the gated output is the exact count, its ±3·rsd integer band
    // (pure Long arithmetic — no decimal/double literal drift), and
    // in_band, which the oracle asserts as literal 1. The hash now
    // covers the accuracy contract itself: a drifting sketch flips
    // in_band to 0 and fails loudly. The band width is interpolated
    // from Events.SlackPct — the SAME constant the engine side uses —
    // so retuning the rsd cannot desync engine and oracle (the band's
    // probabilistic nature and re-baselining contract are documented
    // on the constant).
    "q20_approx_distinct" ->
      s"""WITH e AS (SELECT event_type,
        |    count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT event_type, exact_users,
        |  exact_users - (exact_users * ${Events.SlackPct} // 100 + 1) AS lo_users,
        |  exact_users + (exact_users * ${Events.SlackPct} // 100 + 1) AS hi_users,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM e ORDER BY event_type""".stripMargin,

    "q20b_exact_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q166: the sketch-UNION rollup — oracle recomputes the exact
    // distinct, the day count, and the same 5% integer band; the
    // engine's unioned-HLL estimate is pinned inside it (in_band
    // literal 1), the q20 idiom at the merge level.
    "q166_sketch_union" ->
      """WITH e AS (SELECT event_type,
        |    count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |    count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n_days, exact_users,
        |  exact_users - (exact_users * 5 // 100 + 1) AS lo_users,
        |  exact_users + (exact_users * 5 // 100 + 1) AS hi_users,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM e ORDER BY event_type""".stripMargin,

    // q173: the EXACT trailing 7-day distinct per day — the sketch
    // estimate stays engine-side, its accuracy contract rides the
    // pinned in_band + the ±5% integer band (the q20/q166 idiom).
    "q173_sliding_sketch" ->
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |w AS (SELECT d.day AS day,
        |    count(DISTINCT ud.day) AS n_days,
        |    count(DISTINCT ud.user_id) AS exact_users
        |  FROM d JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT day, n_days, exact_users,
        |  exact_users - (exact_users * 5 // 100 + 1) AS lo_users,
        |  exact_users + (exact_users * 5 // 100 + 1) AS hi_users,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM w ORDER BY day""".stripMargin,

    // q199: one SQL text, two planners (see windowOverAggSql).
    "q199_window_over_agg" -> windowOverAggSql,

    // q197: DuckDB replays the lead() pairing over the same explicit
    // (epoch-µs, event_id) order and its own row-normalized ppm.
    "q197_transition_matrix" ->
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |s AS (SELECT event_type AS t_from,
        |    lead(event_type, 1) OVER w AS t_to
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |p AS (SELECT t_from, t_to, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE t_to IS NOT NULL GROUP BY t_from, t_to),
        |t AS (SELECT t_from, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM p GROUP BY t_from)
        |SELECT p.t_from, p.t_to, p.n,
        |  (p.n * 1000000) // row_total AS rate_ppm
        |FROM p JOIN t USING (t_from) ORDER BY p.t_from, p.t_to""".stripMargin,

    // q198: the q22 scoring machinery aggregated into the confusion
    // matrix — DuckDB re-derives scores, argmax (same first-match
    // tie-break), and the per-label ppm shares.
    "q198_lang_confusion" -> {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val scores = langs.map(l => s"(${scoreSql(l)}) AS s_$l").mkString(",\n  ")
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS padded,
         |    text FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $scores
         |FROM p),
         |b AS (SELECT *, $best AS best FROM sc),
         |pr AS (SELECT lang, CASE $cases ELSE 'und' END AS pred_lang
         |  FROM b),
         |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM pr GROUP BY lang, pred_lang),
         |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS label_total
         |  FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.pred_lang, cm.n,
         |  (cm.n * 1000000) // label_total AS share_ppm
         |FROM cm JOIN t USING (lang)
         |ORDER BY cm.lang, cm.pred_lang""".stripMargin
    },

    // q196: DuckDB re-derives the per-dimension census from its own
    // zipped unnest; min/max stay exact floats cast to double, the
    // moment aggregates round per the q69 convention.
    "q196_embedding_health" ->
      """WITH x AS (SELECT unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS dim FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |  round(avg(CAST(v AS DOUBLE)), 6) AS mean,
        |  round(stddev_samp(CAST(v AS DOUBLE)), 4) AS sd,
        |  CAST(min(v) AS DOUBLE) AS vmin,
        |  CAST(max(v) AS DOUBLE) AS vmax,
        |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,

    // q194: DuckDB replays the decomposition with its own lag/lead
    // windows over the same distinct (user, epoch-day) relation.
    "q194_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |b AS (SELECT user_id, day,
        |    lag(day) OVER w AS prev, lead(day) OVER w AS nxt
        |  FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |pd AS (SELECT day, count(*) AS n_active,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM b GROUP BY day),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |ch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT)
        |      AS n_churned
        |  FROM b CROSS JOIN mx
        |  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= max_day
        |  GROUP BY day + 1)
        |SELECT pd.day, n_active, n_new, n_retained, n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM pd LEFT JOIN ch USING (day) ORDER BY pd.day""".stripMargin,

    // q193: the oracle re-derives the per-band candidate sets from
    // the minhash CTEs' capped band table and attributes its own
    // verified pairs back to every generating band.
    "q193_lsh_diagnostics" ->
      s"""WITH $minhashCtes,
         |bc AS (SELECT x.band, x.doc_id AS a, y.doc_id AS b
         |  FROM bk x JOIN bk y ON x.bkey = y.bkey AND x.band = y.band
         |    AND x.lang = y.lang AND x.doc_id < y.doc_id),
         |nc AS (SELECT band, CAST(count(*) AS BIGINT) AS n_cands
         |  FROM bc GROUP BY band),
         |nv AS (SELECT band, CAST(count(*) AS BIGINT) AS n_verified
         |  FROM bc JOIN j ON j.a = bc.a AND j.b = bc.b
         |  WHERE j.jaccard >= 0.2 GROUP BY band)
         |SELECT CAST(nc.band AS BIGINT) AS band, n_cands,
         |  COALESCE(n_verified, 0) AS n_verified,
         |  COALESCE(n_verified, 0) * 1000000 // n_cands AS precision_ppm
         |FROM nc LEFT JOIN nv USING (band) ORDER BY nc.band""".stripMargin,

    // q192: DuckDB replays the exact integer KS statistic — per-pair
    // merged value axis, cumulative counts, cleared denominators
    // (|cum_a·n_b − cum_b·n_a|), ppm of n_a·n_b — no float CDF on
    // either side. q192b replays the same construction over the
    // granule-100 pre-bucketed axis (the engine's 100 TB grid).
    "q192_ks_distance" -> ksOracleSql(granule = 1),
    "q192b_ks_bucketed" -> ksOracleSql(granule = 100),

    // q191: DuckDB replays the two lead() windows over the same
    // explicit (epoch-µs, event_id) order and its own path count.
    "q191_top_paths" ->
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |s AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 15""".stripMargin,

    // q190/q190b: the oracle takes the POSITIONAL route — explode
    // shingles with their positions, join the df>=2 shared set,
    // expand each hit to its three covered positions, count distinct
    // — independent of BOTH engine encodings (q190's one-pass
    // coverage kernel AND q190b's Bloom-prefiltered verification
    // join), which must agree with it and therefore each other.
    "q190_dup_spans" -> dupSpansOracleSql,
    "q190b_dup_spans_bloom" -> dupSpansOracleSql,

    // q189: the oracle derives the same matrix WITHOUT pivoting —
    // CASE sums per offset column (independent encodings of the
    // transpose, the q82 pattern); exact integer week arithmetic.
    "q189_cohort_matrix" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
        |o AS (SELECT c.cw, uw.wk - c.cw AS off
        |  FROM uw JOIN c USING (user_id))
        |SELECT cw AS cohort_week,
        |  CAST(sum(CASE WHEN off = 0 THEN 1 ELSE 0 END) AS BIGINT) AS wk0,
        |  CAST(sum(CASE WHEN off = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wk1,
        |  CAST(sum(CASE WHEN off = 2 THEN 1 ELSE 0 END) AS BIGINT) AS wk2,
        |  CAST(sum(CASE WHEN off = 3 THEN 1 ELSE 0 END) AS BIGINT) AS wk3,
        |  CAST(sum(CASE WHEN off = 4 THEN 1 ELSE 0 END) AS BIGINT) AS wk4
        |FROM o GROUP BY cw ORDER BY cw""".stripMargin,

    // q188: DuckDB rebuilds q84's co-occurrence graph and unrolls the
    // SAME three all-integer power-iteration rounds — integer
    // division per contribution, exact integer inflow sums
    // (order-free), identical truncation — so the term centralities
    // hash-match exactly.
    "q188_textrank" -> {
      def prIter(i: Int): String =
        s"""pr$i AS (SELECT d.src AS term, d.deg, d.wsum,
           |    (SELECT (${Dedup.PrScale} * 15 // 100) // n FROM nn)
           |      + CAST(sum((p.pr * ed.w) // p.wsum) AS BIGINT)
           |        * 85 // 100 AS pr
           |  FROM ed JOIN pr${i - 1} p ON p.term = ed.src
           |    JOIN dg d ON d.src = ed.dst
           |  GROUP BY d.src, d.deg, d.wsum)""".stripMargin
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_extract_all(text, '\\S+'))) AS term
         |  FROM documents),
         |vocab AS (SELECT term, count(*) AS dfreq FROM tok GROUP BY term
         |  ORDER BY dfreq DESC, term LIMIT 16),
         |f AS (SELECT t.doc_id, t.term FROM tok t
         |  JOIN vocab v ON t.term = v.term),
         |pairs AS (SELECT a.term AS term_a, b.term AS term_b,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY a.term, b.term HAVING count(*) >= 5),
         |ed AS (SELECT term_a AS src, term_b AS dst, w FROM pairs
         |  UNION ALL SELECT term_b, term_a, w FROM pairs),
         |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM ed GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg),
         |pr0 AS (SELECT src AS term, deg, wsum,
         |    (SELECT ${Dedup.PrScale} // n FROM nn) AS pr FROM dg),
         |${(1 to Dedup.PrIters).map(prIter).mkString(",\n")}
         |SELECT term, deg, CAST(pr AS BIGINT) AS pr
         |FROM pr${Dedup.PrIters}
         |ORDER BY pr DESC, term""".stripMargin
    },

    // q187: DuckDB rebuilds the vocabulary and the OOV tallies from
    // its own list primitives (zipped double-unnest for the per-doc
    // (term, tf) rows) — integer masses and ppm throughout.
    "q187_oov_report" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS arr
         |  FROM documents),
         |d AS (SELECT doc_id, lang, list_distinct(arr) AS terms, arr FROM b),
         |t AS (SELECT lang, unnest(terms) AS term,
         |    unnest(list_transform(terms,
         |      t -> CAST(len(list_filter(arr, x -> x = t)) AS BIGINT)))
         |      AS tf
         |  FROM d),
         |lt AS (SELECT lang, term, CAST(sum(tf) AS BIGINT) AS cnt
         |  FROM t GROUP BY lang, term),
         |g AS (SELECT term, sum(cnt) AS gcnt FROM lt GROUP BY term),
         |v AS (SELECT term FROM g ORDER BY gcnt DESC, term
         |  LIMIT ${TextAnalysis.OovVocabV}),
         |oov AS (SELECT lt.* FROM lt LEFT JOIN v USING (term)
         |  WHERE v.term IS NULL),
         |topo AS (SELECT lang, term AS top_oov, cnt AS top_oov_cnt
         |  FROM (SELECT *, row_number() OVER (PARTITION BY lang
         |      ORDER BY cnt DESC, term) AS rn FROM oov)
         |  WHERE rn = 1),
         |tot AS (SELECT lang, CAST(sum(len(arr)) AS BIGINT) AS toks_total
         |  FROM b GROUP BY lang),
         |oa AS (SELECT lang, count(*) AS oov_types,
         |    CAST(sum(cnt) AS BIGINT) AS oov_mass FROM oov GROUP BY lang)
         |SELECT tot.lang, toks_total, oov_types, oov_mass,
         |  (oov_mass * 1000000) // toks_total AS oov_ppm,
         |  top_oov, top_oov_cnt
         |FROM tot JOIN oa USING (lang) JOIN topo USING (lang)
         |ORDER BY tot.lang""".stripMargin,

    // q186: the oracle restates each predicate in complement form
    // where one exists — overlap as NOT (b_hi <= a_lo OR a_hi <=
    // b_lo), range containment as "no element escapes" via bound
    // arithmetic, intersection emptiness via the merge width — the
    // q131 discipline.
    "q186_range_algebra" ->
      """WITH r AS (SELECT o_orderkey,
        |    o_orderkey % 97 AS a_lo,
        |    o_orderkey % 97 + 1 + o_orderkey % 13 AS a_hi,
        |    o_orderkey % 89 AS b_lo,
        |    o_orderkey % 89 + 1 + o_orderkey % 17 AS b_hi,
        |    o_orderkey % 100 AS x
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(a_lo AS BIGINT) AS a_lo, CAST(a_hi AS BIGINT) AS a_hi,
        |  CAST(b_lo AS BIGINT) AS b_lo, CAST(b_hi AS BIGINT) AS b_hi,
        |  CAST(NOT (b_lo < a_lo OR a_hi < b_hi) AS BIGINT) AS contains_r,
        |  CAST(NOT (x < a_lo OR x >= a_hi) AS BIGINT) AS contains_e,
        |  CAST(NOT (b_hi <= a_lo OR a_hi <= b_lo) AS BIGINT) AS overlaps,
        |  CAST(a_hi = b_lo OR b_hi = a_lo AS BIGINT) AS adjacent,
        |  CASE WHEN greatest(a_lo, b_lo) < least(a_hi, b_hi)
        |    THEN CAST(greatest(a_lo, b_lo) AS BIGINT) END AS inter_lo,
        |  CASE WHEN greatest(a_lo, b_lo) < least(a_hi, b_hi)
        |    THEN CAST(least(a_hi, b_hi) AS BIGINT) END AS inter_hi,
        |  CASE WHEN NOT (b_hi < a_lo OR a_hi < b_lo)
        |    THEN CAST(least(a_lo, b_lo) AS BIGINT) END AS merge_lo,
        |  CASE WHEN NOT (b_hi < a_lo OR a_hi < b_lo)
        |    THEN CAST(greatest(a_hi, b_hi) AS BIGINT) END AS merge_hi
        |FROM r ORDER BY o_orderkey""".stripMargin,

    // q185: the oracle replays all three stages — q24's fingerprint
    // min-id dedup, q43's recursive closure, q135's keep-longest
    // policy re-ranked by tokens over the exact survivors — and the
    // per-lang tallies with integer ppm saving.
    "q185_effective_size" ->
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |  FROM reach GROUP BY n),
         |dt AS (SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
         |      AS n_toks,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM documents),
         |ex AS (SELECT dt.* FROM dt
         |  JOIN (SELECT fp, min(doc_id) AS doc_id FROM dt GROUP BY fp) k
         |    ON dt.fp = k.fp AND dt.doc_id = k.doc_id),
         |mem AS (SELECT cl.cluster_rep, ex.doc_id, ex.n_toks
         |  FROM cl JOIN ex USING (doc_id)),
         |keep AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY cluster_rep
         |      ORDER BY n_toks DESC, doc_id) AS rk FROM mem)
         |  WHERE rk = 1),
         |nd AS (SELECT ex.* FROM ex LEFT JOIN cl USING (doc_id)
         |    WHERE cl.cluster_rep IS NULL
         |  UNION ALL SELECT ex.* FROM ex JOIN keep USING (doc_id)),
         |ra AS (SELECT lang, count(*) AS docs_raw,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_raw FROM dt GROUP BY lang),
         |ea AS (SELECT lang, count(*) AS docs_exact,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_exact FROM ex
         |  GROUP BY lang),
         |na AS (SELECT lang, count(*) AS docs_effective,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_effective FROM nd
         |  GROUP BY lang)
         |SELECT ra.lang, docs_raw, toks_raw, docs_exact, toks_exact,
         |  docs_effective, toks_effective,
         |  (toks_raw - toks_effective) * 1000000 // toks_raw AS saved_ppm
         |FROM ra JOIN ea USING (lang) JOIN na USING (lang)
         |ORDER BY ra.lang""".stripMargin,

    // q184: the oracle runs the DEFINITIONAL correlated LATERAL
    // top-1 with the tolerance predicate — an independent encoding of
    // the engine's single union+running-window pass.
    "q184_asof_tolerance" ->
      s"""WITH e AS (SELECT event_id, user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    CAST(round(value * 100) AS BIGINT) AS x, event_type
         |  FROM events),
         |p AS (SELECT event_id, user_id, us FROM e
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT event_id, user_id, us, x FROM e
         |  WHERE event_type = 'click')
         |SELECT p.event_id, p.user_id, p.us,
         |  m.event_id AS asof_event_id, m.x AS asof_x
         |FROM p LEFT JOIN LATERAL (
         |  SELECT c.event_id, c.x FROM c
         |  WHERE c.user_id = p.user_id
         |    AND (c.us < p.us OR (c.us = p.us AND c.event_id < p.event_id))
         |    AND c.us >= p.us - ${Temporal.AsofTolUs}
         |  ORDER BY c.us DESC, c.event_id DESC LIMIT 1) m ON TRUE
         |ORDER BY p.event_id""".stripMargin,

    // q182: the oracle counts matching patterns with a list lambda
    // (len(list_filter) vs 0 / vs len) — an independent encoding of
    // the ANY/ALL quantifier vs the engine's OR/AND fold.
    "q182_like_quantified" -> {
      def arr(ps: Seq[String]) = ps.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""SELECT p_partkey,
         |  CAST(len(list_filter(${arr(Relational.LikeAnyPatterns)},
         |    p -> p_name LIKE p)) > 0 AS BIGINT) AS m_any,
         |  CAST(len(list_filter(${arr(Relational.LikeAllPatterns)},
         |    p -> p_name LIKE p)) = ${Relational.LikeAllPatterns.length}
         |    AS BIGINT) AS m_all,
         |  CAST(len(list_filter(${arr(Relational.NotLikeAllPatterns)},
         |    p -> p_name LIKE p)) = 0 AS BIGINT) AS m_none
         |FROM part ORDER BY p_partkey""".stripMargin
    },

    // q183: one SQL text, two planners — correlated scalar subquery
    // in HAVING (see havingSubquerySql's scaladoc).
    "q183_having_subquery" -> havingSubquerySql,

    // q181: the oracle re-derives the aHash as a SET-BIT TABLE from
    // per-character code sums (content bytes are the ASCII text
    // bytes, so unicode(ch) IS the byte), matches bands as small
    // integers, and counts Hamming as |A|+|B|-2|A∩B| — independent
    // encodings of fingerprint AND distance vs the engine's packed
    // long + xor/popcount.
    "q181_phash_neardup" ->
      s"""WITH b AS (SELECT doc_id,
         |    list_transform(string_split(text, ''), c -> unicode(c))
         |      AS codes
         |  FROM documents),
         |x AS (SELECT doc_id, unnest(codes) AS v,
         |    generate_subscripts(codes, 1) AS i, len(codes) AS n FROM b),
         |cl AS (SELECT doc_id, ((i - 1) * 64) // n AS cell,
         |    CAST(sum(v) AS BIGINT) AS cv
         |  FROM x GROUP BY doc_id, ((i - 1) * 64) // n),
         |tot AS (SELECT doc_id, CAST(sum(cv) AS BIGINT) AS total
         |  FROM cl GROUP BY doc_id),
         |bits AS (SELECT cl.doc_id, cell FROM cl JOIN tot USING (doc_id)
         |  WHERE cv * 64 > total),
         |spine AS (SELECT doc_id, unnest(range(0, 4)) AS band FROM b),
         |bv AS (SELECT spine.doc_id, spine.band,
         |    CAST(COALESCE(sum(1 << (15 - (bits.cell % 16))), 0) AS BIGINT)
         |      AS bv
         |  FROM spine LEFT JOIN bits ON bits.doc_id = spine.doc_id
         |    AND bits.cell // 16 = spine.band
         |  GROUP BY spine.doc_id, spine.band),
         |hotb AS (SELECT band, bv FROM bv GROUP BY band, bv
         |  HAVING count(*) > ${Multimodal.PHashMaxBandDocs}),
         |bvc AS (SELECT bv.* FROM bv LEFT JOIN hotb
         |    ON bv.band = hotb.band AND bv.bv = hotb.bv
         |  WHERE hotb.band IS NULL),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bvc a JOIN bvc b ON a.band = b.band AND a.bv = b.bv
         |    AND a.doc_id < b.doc_id),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS k FROM bits
         |  GROUP BY doc_id),
         |iv AS (SELECT cand.doc_a, cand.doc_b, CAST(count(*) AS BIGINT)
         |      AS both
         |  FROM cand JOIN bits ba ON ba.doc_id = cand.doc_a
         |    JOIN bits bb ON bb.doc_id = cand.doc_b AND bb.cell = ba.cell
         |  GROUP BY cand.doc_a, cand.doc_b),
         |h AS (SELECT cand.doc_a, cand.doc_b,
         |    COALESCE(na.k, 0) + COALESCE(nbb.k, 0)
         |      - 2 * COALESCE(iv.both, 0) AS ham
         |  FROM cand LEFT JOIN nb na ON na.doc_id = cand.doc_a
         |    LEFT JOIN nb nbb ON nbb.doc_id = cand.doc_b
         |    LEFT JOIN iv ON iv.doc_a = cand.doc_a AND iv.doc_b = cand.doc_b)
         |SELECT doc_a, doc_b, CAST(ham AS BIGINT) AS ham FROM h
         |WHERE ham <= ${Multimodal.PHashMaxHam}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // q180: the oracle never packs bits — Hamming distance is counted
    // directly as sign-mismatched dimensions from the float arrays,
    // vs the engine's packed-long xor+popcount: independent encodings
    // (the q46 pattern); then candidate rank + exact cosine re-rank.
    "q180_binary_ann" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |    FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, e.vec_id AS vb, qe, e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |hx AS (SELECT qid, vb, qe, eb, unnest(range(1, 65)) AS i FROM p),
         |h AS (SELECT qid, vb,
         |    CAST(sum(CASE WHEN (qe[i] > 0) <> (eb[i] > 0) THEN 1 ELSE 0
         |      END) AS BIGINT) AS ham
         |  FROM hx GROUP BY qid, vb),
         |c AS (SELECT p.qid, p.vb, p.qe, p.eb, h.ham,
         |    row_number() OVER (PARTITION BY p.qid
         |      ORDER BY h.ham ASC, p.vb) AS crk
         |  FROM p JOIN h ON p.qid = h.qid AND p.vb = h.vb),
         |cand AS (SELECT qid, vb, qe, eb, ham FROM c
         |  WHERE crk <= ${Similarity.BqCandidates}),
         |x2 AS (SELECT qid, vb, qe AS ea, eb, unnest(range(1, 65)) AS i
         |  FROM cand),
         |s2 AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x2 GROUP BY qid, vb),
         |sim2 AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s2),
         |r AS (SELECT cand.qid, cand.vb, cand.ham, sim2.sim,
         |    CAST(row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY sim2.sim DESC, cand.vb) AS BIGINT) AS rk
         |  FROM cand JOIN sim2 ON cand.qid = sim2.qid AND cand.vb = sim2.vb)
         |SELECT qid, rk, vb AS neighbor, ham, sim FROM r
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // q179: DuckDB replays BOTH ranked lists (q171's BM25 from list
    // primitives, q30's cosine from the unnest formulation, each
    // top-50 with its own window rank) and fuses with the same
    // two-term 1/(60+rank) sum — integer ranks in, one fixed-order
    // double sum out.
    "q179_hybrid_rrf" -> {
      val Seq(t1, t2, t3) = TextAnalysis.SearchTerms
      val k = Similarity.RrfK
      val depth = Similarity.RrfDepth
      // r18: the BM25 idf chains (shared with q171, relation `st`).
      val fl = graft.functions.FixedLog
      val ql179CteA = fl.sqlStagedCtes("st", "(2*n_docs + 2)",
        "(2*df_a + 1)", 9, "lnq179a_")
      val ql179CteB = fl.sqlStagedCtes("sta", "(2*n_docs + 2)",
        "(2*df_b + 1)", 9, "lnq179b_")
      val ql179CteC = fl.sqlStagedCtes("stb", "(2*n_docs + 2)",
        "(2*df_c + 1)", 9, "lnq179c_")
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t1')) AS BIGINT) AS tf_a,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t2')) AS BIGINT) AS tf_b,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t3')) AS BIGINT) AS tf_c,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS dl
         |  FROM documents),
         |st AS (SELECT
         |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_a,
         |    CAST(sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_b,
         |    CAST(sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_c,
         |    count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM c),
         |${ql179CteA._1},
         |sta AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_a
         |        FROM ${ql179CteA._2}),
         |${ql179CteB._1},
         |stb AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_b
         |        FROM ${ql179CteB._2}),
         |${ql179CteC._1},
         |stc AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_c
         |        FROM ${ql179CteC._2}),
         |tr AS (SELECT doc_id,
         |    (ln_a / 1e9)
         |      * (CAST(tf_a AS DOUBLE) * 2.2)
         |      / (CAST(tf_a AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    + (ln_b / 1e9)
         |      * (CAST(tf_b AS DOUBLE) * 2.2)
         |      / (CAST(tf_b AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    + (ln_c / 1e9)
         |      * (CAST(tf_c AS DOUBLE) * 2.2)
         |      / (CAST(tf_c AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    AS raw
         |  FROM c, stc WHERE tf_a + tf_b + tf_c > 0),
         |tl AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY raw DESC,
         |    doc_id) AS BIGINT) AS rank_text
         |  FROM tr ORDER BY raw DESC, doc_id LIMIT $depth),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |px AS (SELECT e.vec_id AS doc_id, qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
         |sv AS (SELECT doc_id,
         |    $cosinePairSql
         |  FROM px GROUP BY doc_id),
         |simv AS (SELECT doc_id, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM sv),
         |vl AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC,
         |    doc_id) AS BIGINT) AS rank_vec
         |  FROM simv ORDER BY sim DESC, doc_id LIMIT $depth),
         |f AS (SELECT COALESCE(tl.doc_id, vl.doc_id) AS doc_id,
         |    rank_text, rank_vec,
         |    (CASE WHEN rank_text IS NOT NULL
         |      THEN 1.0 / ($k + CAST(rank_text AS DOUBLE)) ELSE 0.0 END)
         |    + (CASE WHEN rank_vec IS NOT NULL
         |      THEN 1.0 / ($k + CAST(rank_vec AS DOUBLE)) ELSE 0.0 END)
         |      AS rrf
         |  FROM tl FULL JOIN vl ON tl.doc_id = vl.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
         |    AS BIGINT) AS rk,
         |  doc_id, rank_text, rank_vec, round(rrf, 9) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    },

    // q177: DuckDB re-derives the char counts from its own list
    // primitives; Σc² and the top share are exact integers, so the
    // single log2-of-a-rational is the only float op (rounded at 6).
    "q177_char_quality" ->
      """WITH b AS (SELECT doc_id,
        |    list_filter(string_split(text, ''), c -> c <> '') AS cs
        |  FROM documents),
        |c AS (SELECT doc_id, cs,
        |    list_transform(list_distinct(cs),
        |      ch -> CAST(len(list_filter(cs, x -> x = ch)) AS BIGINT))
        |      AS counts,
        |    CAST(len(cs) AS BIGINT) AS n
        |  FROM b),
        |s AS (SELECT doc_id, n,
        |    CAST(len(list_distinct(cs)) AS BIGINT) AS alphabet,
        |    CAST(list_aggregate(counts, 'max') AS BIGINT) AS top_char_cnt,
        |    CAST(list_aggregate(list_transform(counts, x -> x * x),
        |      'sum') AS BIGINT) AS sum_sq
        |  FROM c)
        |SELECT doc_id, n AS n_chars_t, alphabet, top_char_cnt,
        |  (top_char_cnt * 1000000) // n AS top_char_ppm, sum_sq,
        |  round(log2(CAST(n * n AS DOUBLE) / CAST(sum_sq AS DOUBLE)), 6)
        |    AS renyi2
        |FROM s ORDER BY doc_id""".stripMargin,

    // q176: the engine translates each PG SIMILAR TO pattern
    // generically (similarToRegex); the oracle hardcodes the
    // hand-normalized regex per pattern via regexp_full_match —
    // independent encodings of PG's desugaring (DuckDB's own SIMILAR
    // TO is plain regex, '%' literal — not PG semantics).
    "q176_similar_to" ->
      """SELECT p_partkey,
        |  CAST(regexp_full_match(p_type, '(STANDARD|SMALL|PROMO)')
        |    AS BIGINT) AS m_grade,
        |  CAST(regexp_full_match(p_name, '.*r.d.*') AS BIGINT) AS m_rxd,
        |  CAST(regexp_full_match(p_brand, 'Brand#[0-9]{2}')
        |    AS BIGINT) AS m_brand2,
        |  CAST(regexp_full_match(p_name, '(red|blue) .*')
        |    AS BIGINT) AS m_color,
        |  CAST(regexp_full_match(p_name, 's.*') AS BIGINT) AS m_escape
        |FROM part ORDER BY p_partkey""".stripMargin,

    // q175: DuckDB unrolls the SAME two Lloyd rounds (the q31c
    // machinery), then re-derives the per-cell distinctive terms from
    // its own list primitives — integer-exact lift ppm, so the
    // ranking cannot drift cross-engine.
    "q175_cluster_topics" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |dt AS (SELECT doc_id, unnest(list_distinct(
         |    regexp_split_to_array(text, '\\s+'))) AS term
         |  FROM documents),
         |dtn AS (SELECT doc_id, term FROM dt WHERE term <> ''),
         |ct AS (SELECT cid, term, count(*) AS c_cell
         |  FROM dtn JOIN cells ON dtn.doc_id = cells.vec_id
         |  GROUP BY cid, term),
         |cc AS (SELECT term, count(*) AS c_corp FROM dtn GROUP BY term),
         |nc AS (SELECT cid, count(*) AS n_cell FROM cells GROUP BY cid),
         |nn AS (SELECT count(*) AS nd FROM documents),
         |j AS (SELECT cid, term, c_cell, n_cell, c_corp,
         |    (c_cell * nd * 1000000) // (n_cell * c_corp) AS lift_ppm
         |  FROM ct JOIN cc USING (term) JOIN nc USING (cid) CROSS JOIN nn
         |  WHERE c_cell >= ${Similarity.TopicMinSupport}),
         |r AS (SELECT cid, term, c_cell, n_cell, c_corp,
         |    CAST(lift_ppm AS BIGINT) AS lift_ppm,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY lift_ppm DESC, term) AS BIGINT) AS rk
         |  FROM j)
         |SELECT cid, rk, term, c_cell, n_cell, c_corp, lift_ppm
         |FROM r WHERE rk <= 3 ORDER BY cid, rk""".stripMargin,

    // q174: DuckDB's utf8proc nfc_normalize/strip_accents vs the
    // engine's java.text.Normalizer kernels — two independent Unicode
    // implementations that must agree codepoint-for-codepoint (md5
    // pins exact bytes); the decomposed/precomposed prefixes are the
    // shared constants, so both engines see identical input
    // codepoints.
    "q174_unicode_norm" ->
      s"""WITH b AS (SELECT c_custkey, c_name,
         |    '${Relational.UniDecomposed}' || c_name AS d,
         |    '${Relational.UniPrecomposed}' || c_name AS p
         |  FROM customer)
         |SELECT c_custkey,
         |  CAST(length(d) AS BIGINT) AS n_dec,
         |  CAST(length(nfc_normalize(d)) AS BIGINT) AS n_nfc,
         |  CAST(CASE WHEN nfc_normalize(d) = p THEN 1 ELSE 0 END
         |    AS BIGINT) AS nfc_eq,
         |  md5(nfc_normalize(d)) AS nfc_md5,
         |  strip_accents(p) AS folded,
         |  CAST(CASE WHEN strip_accents(p) =
         |    '${Relational.UniFolded}' || c_name THEN 1 ELSE 0 END
         |    AS BIGINT) AS fold_eq
         |FROM b ORDER BY c_custkey""".stripMargin,

    "q21_text_stats" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_char,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |        greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q22_lang_id" -> {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val scores = langs.map(l => s"(${scoreSql(l)}) AS s_$l").mkString(",\n  ")
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS padded FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $scores
         |FROM p),
         |b AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, lang, CASE $cases ELSE 'und' END AS pred_lang
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "q23_text_quality" ->
      s"""WITH d AS (SELECT source, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT source, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT source,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM e)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN quality > 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         |  round(avg(quality), 4) AS avg_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // q178: DuckDB replays q23's quality formula, its own window
    // rank, and the per-source attrition report — the kept doc_id sum
    // pins WHICH documents survive the cap.
    "q178_source_cap" ->
      s"""WITH d AS (SELECT doc_id, source, text,
         |    ' ' || text || ' ' AS padded,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |      AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, source, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id, source,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25,
         |    6) AS quality
         |  FROM e),
         |r AS (SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rk FROM q)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rk <= ${Curation.SourceCapK} THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rk > ${Curation.SourceCapK} THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN rk <= ${Curation.SourceCapK} THEN doc_id
         |    END) AS BIGINT) AS kept_id_sum,
         |  min(CASE WHEN rk <= ${Curation.SourceCapK} THEN quality END)
         |    AS kept_min_q
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q24_fingerprints" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |             FROM documents),
        |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (SELECT doc_id, p,
        |    CASE WHEN strpos('0123456789abcdef', substring(h, p, 1)) - 1 >= 8
        |         THEN 1 ELSE -1 END AS bit
        |  FROM (SELECT doc_id, h, unnest(range(1, 33)) AS p FROM h) t),
        |votes AS (SELECT doc_id, p, sum(bit) AS vote FROM bits GROUP BY doc_id, p)
        |SELECT doc_id, CAST(sum(CASE WHEN vote > 0
        |    THEN CAST(power(2, 32 - p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q167: the KL drift replayed from first principles — DuckDB
    // derives the same top-32 vocab (count DESC, tok tie-break),
    // grid and add-one smoothing; since r17 the per-token terms are
    // EXACT INTEGERS through the shared FixedLog kernel ((c+1) ×
    // lnScaled of the integer-product rational), so the sum is
    // order-free integer arithmetic and the single float division
    // before round() sees bit-identical inputs in both engines —
    // the 10×-scale audit caught the previous double-fold flipping
    // a 6-decimal .5 boundary at sf0.1 (JVM-vs-DuckDB ln ulp, the
    // DSIR flake class).
    "q167_source_drift" ->
      s"""WITH d AS (SELECT source, regexp_extract_all(text, '\\S+') AS toks
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS n FROM
        |  (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        |voc AS (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 32),
        |occ AS (SELECT source, tok, count(*) AS c FROM
        |  (SELECT source, unnest(toks) AS tok FROM d) u
        |  JOIN voc USING (tok) GROUP BY source, tok),
        |st AS (SELECT source, sum(c) AS tot_s FROM occ GROUP BY source),
        |g AS (SELECT tok, sum(c) AS cg FROM occ GROUP BY tok),
        |gt AS (SELECT sum(cg) AS tot_g FROM g),
        |grid AS (SELECT s.source, g.tok, coalesce(o.c, 0) AS c,
        |    s.tot_s, g.cg, gt.tot_g
        |  FROM st s CROSS JOIN g CROSS JOIN gt
        |  LEFT JOIN occ o ON o.source = s.source AND o.tok = g.tok),
        |nd AS MATERIALIZED (SELECT source, tok, tot_s,
        |    CAST(c + 1 AS BIGINT) AS c1,
        |    CAST((c + 1) * (tot_g + 32) AS BIGINT) AS lnum,
        |    CAST((cg + 1) * (tot_s + 32) AS BIGINT) AS lden
        |  FROM grid),
        |${graft.functions.FixedLog.sqlStagedCtes("nd", "lnum", "lden", 9, "lnr")._1},
        |terms AS (SELECT source, tok, tot_s, c1 * ln_s AS term_i
        |  FROM ${graft.functions.FixedLog.sqlStagedCtes("nd", "lnum", "lden", 9, "lnr")._2})
        |SELECT source, CAST(max(tot_s) AS BIGINT) AS n_occ,
        |  round(sum(term_i) / ((max(tot_s) + 32) * 1e9), 6) AS kl,
        |  struct_extract(max(row(term_i, tok)), 2) AS top_tok,
        |  round(max(term_i) / ((max(tot_s) + 32) * 1e9), 6) AS top_term
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // q169: exact per-pair intersections + the same ±5%-of-exact-
    // union integer band; the engine's inclusion–exclusion estimate
    // is pinned inside it (in_band literal 1).
    "q169_sketch_intersect" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |nd AS (SELECT event_type, count(*) AS nd FROM ut GROUP BY event_type),
        |ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS exact_inter
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type),
        |j AS (SELECT ix.type_a, ix.type_b, ix.exact_inter,
        |    (na.nd + nb.nd - ix.exact_inter) * 5 // 100 + 1 AS slack
        |  FROM ix JOIN nd na ON na.event_type = ix.type_a
        |          JOIN nd nb ON nb.event_type = ix.type_b)
        |SELECT type_a, type_b, exact_inter,
        |  exact_inter - slack AS lo, exact_inter + slack AS hi,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM j ORDER BY type_a, type_b""".stripMargin,

    // q161: the 64-bit simhash re-derived by explode+vote over the
    // first 64 md5 BITS (vs the engine's codegen kernel) — exact
    // HUGEINT shifts assemble the unsigned value, wrapped to the
    // signed BIGINT two's complement (bit 63 is live); then the same
    // 4×16-bit pigeonhole blocking and bit_count(xor) verification.
    "q161_simhash_neardup" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |             FROM documents),
        |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (SELECT doc_id, p,
        |    CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, 1 + p // 4, 1)) - 1) >> (3 - p % 4)) & 1 = 1
        |      THEN 1 ELSE -1 END AS bit
        |  FROM (SELECT doc_id, h, unnest(range(0, 64)) AS p FROM h) t),
        |votes AS (SELECT doc_id, p, sum(bit) AS vote FROM bits GROUP BY doc_id, p),
        |uf AS (SELECT doc_id, sum(CASE WHEN vote > 0
        |    THEN CAST(1 AS HUGEINT) << (63 - p) ELSE CAST(0 AS HUGEINT) END) AS u
        |  FROM votes GROUP BY doc_id),
        |sim AS (SELECT doc_id, CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
        |    THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT) AS fp
        |  FROM uf),
        |bands AS (SELECT doc_id, fp, k, (fp >> (16 * k)) & 65535 AS band
        |  FROM (SELECT doc_id, fp, unnest(range(0, 4)) AS k FROM sim)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.fp AS fa, b.fp AS fb
        |  FROM bands a JOIN bands b
        |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q26_exact_dedup" ->
      """SELECT lang, count(*) AS n_input, count(DISTINCT fp) AS n_unique FROM (
        |  SELECT lang, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM (SELECT lang, text FROM documents
        |        UNION ALL SELECT lang, text FROM documents) u) t
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Best CANDIDATE neighbor (same LSH banding as q28) — at scale an
    // all-pairs best neighbor is unaffordable and meaningless below
    // the LSH collision range; the candidate contract is the honest
    // semantics and is mirrored exactly here.
    "q27_ngram_jaccard" ->
      s"""WITH $minhashCtes,
         |sym AS (SELECT a AS doc_id, b AS nb, jaccard FROM j
         |  UNION ALL SELECT b AS doc_id, a AS nb, jaccard FROM j),
         |r AS (SELECT doc_id, nb, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, nb) AS rn FROM sym)
         |SELECT doc_id, nb AS best_neighbor, jaccard AS best_jaccard
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q28_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT a AS doc_a, b AS doc_b, jaccard FROM j WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Connected components over the q28 pair graph; recursive
    // transitive closure stands in for the label-propagation loop.
    "q43_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a)
         |SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin,

    // q135: the q43 closure composed with canonical-survivor
    // selection — oracle picks the keep-longest survivor via its own
    // window rank (vs the engine's TopKRows k=1 heap).
    "q135_cluster_canon" ->
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |  FROM reach GROUP BY n),
         |mem AS (SELECT cl.cluster_rep, cl.doc_id, d.n_chars
         |  FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_rep
         |    ORDER BY n_chars DESC, doc_id) AS rk FROM mem),
         |sz AS (SELECT cluster_rep, count(*) AS n_members FROM mem
         |  GROUP BY cluster_rep)
         |SELECT r.cluster_rep, sz.n_members, r.doc_id AS canon_doc,
         |  r.n_chars AS canon_chars
         |FROM r JOIN sz USING (cluster_rep) WHERE r.rk = 1
         |ORDER BY r.cluster_rep""".stripMargin,

    // q157: the cluster-aware split — oracle re-derives the closure
    // (q43's recursive reach), the singleton coalesce, the q47 md5
    // bucket on the GROUP id, the bit_xor membership fingerprint via
    // DuckDB's own '0x' hex cast (vs the engine's conv(...,16,10)),
    // and the zero-leak proof from its own assignment.
    "q157_leakage_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |  FROM reach GROUP BY n),
         |g AS (SELECT d.doc_id, d.n_chars,
         |    coalesce(cl.cluster_rep, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |s AS (SELECT doc_id, n_chars, group_id,
         |    CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT *,
         |    ${hexBucketSql("CAST(group_id AS VARCHAR)")} AS bkt FROM g)),
         |leak AS (SELECT CAST(count_if(ns > 1) AS BIGINT) AS leaked_groups
         |  FROM (SELECT group_id, count(DISTINCT split) AS ns
         |        FROM s GROUP BY group_id))
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT group_id) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  bit_xor(CAST(concat('0x',
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT))
         |    AS members_fp,
         |  (SELECT leaked_groups FROM leak) AS leaked_groups
         |FROM s GROUP BY split ORDER BY split""".stripMargin,

    // q168: the incremental near-dup result IS the cross-side slice
    // of the full pair relation (the cap is computed on the combined
    // band table on both paths) — the oracle derives it by filtering
    // the shared j CTE to cross-parity pairs and orienting base/delta.
    "q168_delta_neardup" ->
      s"""WITH $minhashCtes
         |SELECT CASE WHEN a % 2 = 0 THEN a ELSE b END AS base_doc,
         |  CASE WHEN a % 2 = 0 THEN b ELSE a END AS delta_doc, jaccard
         |FROM j WHERE (a % 2) <> (b % 2) AND jaccard >= 0.2
         |ORDER BY delta_doc, base_doc""".stripMargin,

    "q29_embedding_neardup" ->
      s"""WITH $embedNearDupCtes
         |SELECT va AS vec_a, vb AS vec_b, sim FROM sim WHERE sim >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin,

    // Connected components over the q29 pair graph (same recursive
    // transitive-closure oracle shape as q43).
    "q50_embedding_clusters" ->
      s"""WITH RECURSIVE $embedNearDupCtes,
         |p AS (SELECT va AS a, vb AS b FROM sim WHERE sim >= 0.35),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a)
         |SELECT n AS vec_id, least(n, min(m)) AS cluster_rep
         |FROM reach GROUP BY n ORDER BY vec_id""".stripMargin,

    "q51_correlated_subquery" -> correlatedSql,

    // The composed pipeline: quality (q42 fragments) → exact dedup →
    // near-dup representative keep (q43 fragments) → hash split (q47
    // fragment) → shard packing (q45b shape), one aggregate per split.
    "q52_training_pipeline" -> {
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |reps AS (SELECT n AS doc_id, least(n, min(m)) AS rep
         |  FROM reach GROUP BY n),
         |dq AS (SELECT doc_id, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |eq AS (SELECT doc_id, text, n_tok, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM dq),
         |q AS (SELECT doc_id, text, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM eq),
         |f AS (SELECT doc_id, n_tok,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |ded AS (SELECT f.doc_id, f.n_tok FROM f JOIN k USING (fp, doc_id)),
         |kept AS (SELECT ded.doc_id, ded.n_tok FROM ded
         |  LEFT JOIN reps USING (doc_id)
         |  WHERE reps.rep IS NULL OR reps.rep = ded.doc_id),
         |sb AS (SELECT doc_id, n_tok,
         |  CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id // 64 AS shard
         |  FROM (SELECT doc_id, n_tok,
         |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bkt
         |    FROM kept)),
         |c AS (SELECT split, shard, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM sb)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  count(DISTINCT shard * 10000 + (run - n_tok) // 2048) AS n_bins
         |FROM c GROUP BY split ORDER BY split""".stripMargin
    },

    "q30_ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, e.vec_id AS vb, qe AS ea, e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |x AS (SELECT qid, vb, ea, eb, unnest(range(1, 65)) AS i FROM p),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 5
         |ORDER BY qid, rk""".stripMargin,

    "q31_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket FROM e WHERE vec_id < 20),
         |q AS (SELECT qid, qe,
         |    CASE WHEN i = 0 THEN qbucket ELSE xor(qbucket, 1 << (i - 1)) END AS probe
         |  FROM (SELECT qid, qe, qbucket, unnest(range(0, 9)) AS i FROM q0)),
         |p AS (SELECT qid, e.vec_id AS vb, qe AS ea, e.embedding AS eb
         |  FROM e JOIN q ON e.bucket = probe WHERE e.vec_id <> qid),
         |x AS (SELECT qid, vb, ea, eb, unnest(range(1, 65)) AS i FROM p),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin,

    // The engine sums real payload lengths (container headers
    // included); the oracle recomputes them as content bytes + the
    // per-format header constant — an independent check that the wrap
    // adds exactly the PNG/BMP header cost.
    "q32_media_stats" ->
      s"""SELECT source, count(*) AS n_media,
         |  CAST(sum(octet_length(encode(text))
         |    + CASE WHEN doc_id % 2 = 0
         |           THEN ${graft.functions.MediaKernel.PngHeaderBytes}
         |           ELSE ${graft.functions.MediaKernel.BmpHeaderBytes} END)
         |    AS BIGINT) AS total_bytes,
         |  count(DISTINCT md5(text)) AS n_distinct
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // The engine PARSES width/height/format out of the PNG IHDR / BMP
    // info-header bytes it wrapped the content in; the oracle
    // recomputes them arithmetically from doc_id — two independent
    // encodings of the container layout (the q46 pattern).
    "q33_media_decode" ->
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text))
         |    + CASE WHEN doc_id % 2 = 0
         |           THEN ${graft.functions.MediaKernel.PngHeaderBytes}
         |           ELSE ${graft.functions.MediaKernel.BmpHeaderBytes} END
         |    AS BIGINT) AS n_bytes,
         |  CAST(64 + doc_id % 577 AS BIGINT) AS width,
         |  CAST(64 + doc_id % 417 AS BIGINT) AS height,
         |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Resize: the engine re-wraps content under fit-into-256 dims and
    // reports what a RE-PARSE of the new header bytes says; the
    // oracle recomputes the fit arithmetically (floor division).
    "q60_media_resize" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(64 + doc_id % 577 AS BIGINT) AS w,
         |    CAST(64 + doc_id % 417 AS BIGINT) AS h,
         |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
         |    CAST(octet_length(encode(text))
         |      + CASE WHEN doc_id % 2 = 0
         |             THEN ${graft.functions.MediaKernel.PngHeaderBytes}
         |             ELSE ${graft.functions.MediaKernel.BmpHeaderBytes} END
         |      AS BIGINT) AS n_bytes
         |  FROM documents)
         |SELECT doc_id, w AS width, h AS height,
         |  CASE WHEN greatest(w, h) <= 256 THEN w
         |       WHEN w >= h THEN 256 ELSE (w * 256) // h END AS new_width,
         |  CASE WHEN greatest(w, h) <= 256 THEN h
         |       WHEN w >= h THEN (h * 256) // w ELSE 256 END AS new_height,
         |  format, n_bytes
         |FROM d ORDER BY doc_id""".stripMargin,

    // Frame sampling: the engine slices real 256-byte frames and
    // counts what it sliced; the oracle recomputes the counts from
    // the content length (ceil divisions; short-last-frame CASE).
    "q61_frame_sample" -> {
      val fb = graft.operators.Multimodal.FrameBytes
      val st = graft.operators.Multimodal.FrameStride
      s"""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
         |f AS (SELECT doc_id, len, (len + ${fb - 1}) // $fb AS n_frames FROM b),
         |s AS (SELECT doc_id, n_frames, (n_frames + ${st - 1}) // $st AS n_sampled,
         |  CASE WHEN n_frames = 0 THEN 0
         |       WHEN (n_frames - 1) % $st = 0 AND len % $fb > 0
         |       THEN ((n_frames + ${st - 1}) // $st) * $fb - ($fb - len % $fb)
         |       ELSE ((n_frames + ${st - 1}) // $st) * $fb END AS sampled_bytes
         |  FROM f)
         |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
         |  CAST(n_sampled AS BIGINT) AS n_sampled,
         |  CAST(sampled_bytes AS BIGINT) AS sampled_bytes
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q34_asof_join" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  lag(o_orderkey) OVER w AS prev_orderkey,
        |  lag(o_orderdate) OVER w AS prev_orderdate
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // Same oracle as q19 — the typed sessionizer must agree with the
    // declarative session_window operator row for row.
    "q35_sessions_typed" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q36_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin,

    "q37_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q38_topk_agg" ->
      """WITH j AS (SELECT c_mktsegment, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS top3_sum
        |FROM j WHERE rn <= 3 GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q39_token_classes" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_mark
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31b_ann_ivf" -> ivfOracleSql,

    // q195: IDENTICAL search semantics through the STORED cell-
    // partitioned index — same oracle replay; the layout changes
    // I/O, never results (the plan pin lives in SimilaritySpec).
    "q195_stored_ivf" -> ivfOracleSql,

    // q31c: the q31b replay with k-means-TRAINED centroids — two
    // Lloyd rounds unrolled from the same deterministic init (first
    // 16 vectors), each round = argmax assignment over 1e-6-rounded
    // cosines + per-(cell, dim) means rounded at 1e-6 and cast to
    // REAL (the engine's float centroid arrays), then the IVF search
    // against the fitted centroids at nprobe 4.
    "q31c_ann_ivf_trained" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE vec_id < 20 AND rn <= 4),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |x AS (SELECT cand.qid, cand.vb, q.qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM cand JOIN q USING (qid) JOIN embeddings e ON e.vec_id = cand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin,

    // q137: SemDedup replay — the SAME two unrolled Lloyd rounds as
    // q31c (shared CTE builders) to reproduce the engine's k-means
    // cells, then within-cell pairs only (va < vb), rounded cosine
    // >= 0.3, dropped = has any lower-id in-cell near-dup.
    "q137_semdedup" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |wc AS (SELECT c.vec_id, c.cid, e.embedding
         |  FROM cells c JOIN embeddings e USING (vec_id)),
         |px AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    a.embedding AS ea, b.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM wc a JOIN wc b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |ps AS (SELECT va, vb,
         |    $cosinePairSql
         |  FROM px GROUP BY va, vb),
         |f AS (SELECT va, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM ps)
         |SELECT vb AS dropped_vec, min(va) AS dup_of, max(s) AS max_sim,
         |  count(*) AS n_dups
         |FROM f WHERE s >= 0.3 GROUP BY vb ORDER BY dropped_vec""".stripMargin,

    // q158: cluster-balanced diversity sample — the q137 Lloyd
    // unroll (same shared CTE builders) keeps the winning SCORE per
    // vector, then per-cell rank (s DESC, vec_id) <= k with cell
    // sizes joined back — the oracle's window rank vs the engine's
    // TopKRows heap.
    "q158_diversity_sample" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid, s FROM (SELECT vec_id, cid, s,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |n AS (SELECT cid, count(*) AS cell_n FROM cells GROUP BY cid),
         |r AS (SELECT cid, vec_id, s,
         |    row_number() OVER (PARTITION BY cid ORDER BY s DESC, vec_id) AS rk
         |  FROM cells)
         |SELECT r.cid, CAST(r.rk AS BIGINT) AS rk, r.vec_id, r.s, n.cell_n
         |FROM r JOIN n USING (cid) WHERE rk <= 5 ORDER BY r.cid, rk""".stripMargin,

    // q141: the same ordered cascade from first principles — booleans
    // per doc (top-unigram share via unnest + double aggregate, vs
    // the engine's TopGramCount kernel), cumulative-survival products
    // in one aggregate, funnel rows via UNION ALL.
    "q141_filter_cascade" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, lang, n_chars, len(toks) AS n_tok,
        |    (SELECT max(c) FROM (SELECT count(*) AS c
        |       FROM unnest(toks) AS u(tk) GROUP BY tk)) AS top1
        |  FROM d),
        |b AS (SELECT
        |    CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS b1,
        |    CASE WHEN n_chars <= 500 THEN 1 ELSE 0 END AS b2,
        |    CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END AS b3,
        |    CASE WHEN n_tok >= 40 THEN 1 ELSE 0 END AS b4,
        |    CASE WHEN n_tok > 0 AND CAST(top1 AS DOUBLE) / n_tok <= 0.15
        |      THEN 1 ELSE 0 END AS b5
        |  FROM t),
        |s AS (SELECT count(*) AS s0, sum(b1) AS s1, sum(b1*b2) AS s2,
        |    sum(b1*b2*b3) AS s3, sum(b1*b2*b3*b4) AS s4,
        |    sum(b1*b2*b3*b4*b5) AS s5 FROM b),
        |f AS (
        |  SELECT 1 AS stage, 'len_min_100' AS rule, s0 AS n_in, s1 AS n_out FROM s
        |  UNION ALL SELECT 2, 'len_max_500', s1, s2 FROM s
        |  UNION ALL SELECT 3, 'lang_supported', s2, s3 FROM s
        |  UNION ALL SELECT 4, 'tokens_min_40', s3, s4 FROM s
        |  UNION ALL SELECT 5, 'repetition_max_15pct', s4, s5 FROM s)
        |SELECT CAST(stage AS BIGINT) AS stage, rule,
        |  CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_in - n_out AS BIGINT) AS n_dropped,
        |  CAST(n_out AS BIGINT) AS n_out,
        |  round(CAST(n_in - n_out AS DOUBLE) / greatest(n_in, 1), 6)
        |    AS drop_rate
        |FROM f ORDER BY stage""".stripMargin,

    // q142: exact heavy hitters from first principles; the engine's
    // sketch estimates must EQUAL these (maxItemsTracked >> distinct
    // tokens => no eviction) and in_band is pinned to literal 1 —
    // the q20/q96 sketch-twin pattern. Top-5 counts are strictly
    // distinct at both gate SFs, so rk is tie-free.
    "q142_approx_topk" ->
      """WITH t AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS exact_cnt FROM t GROUP BY token),
        |r AS (SELECT token, exact_cnt, CAST(row_number() OVER
        |    (ORDER BY exact_cnt DESC, token) AS BIGINT) AS rk FROM c)
        |SELECT rk, token, exact_cnt AS est_cnt, exact_cnt,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM r WHERE rk <= 5 ORDER BY rk""".stripMargin,

    // q143: PG's multi-array unnest zip from FIRST PRINCIPLES —
    // explicit index range to the longest length, out-of-range
    // subscripts NULL (vs the engine's arrays_zip + posexplode):
    // independent encodings of the NULL-padding contract.
    "q143_multi_unnest" ->
      """WITH b AS (SELECT o_orderkey,
        |    (['alpha','beta','gamma','delta'])[1:(o_orderkey % 5)] AS a,
        |    ([10,20,30])[1:(o_orderkey % 4)] AS b
        |  FROM orders),
        |x AS (SELECT o_orderkey, a, b,
        |    unnest(range(1, greatest(len(a), len(b)) + 1)) AS i
        |  FROM b)
        |SELECT o_orderkey, CAST(i AS BIGINT) AS ord, a[i] AS s,
        |  CAST(b[i] AS BIGINT) AS v
        |FROM x ORDER BY o_orderkey, ord""".stripMargin,

    // q144: the same matrix from the explode side — distinct
    // (source, shingle) via unnest (vs the engine's per-doc
    // sorted_shingles kernel), self-join on shingle, exact counts.
    "q144_source_overlap" ->
      """WITH d AS (SELECT source, regexp_extract_all(text, '\S+') AS l
        |  FROM documents),
        |sh AS (SELECT DISTINCT source,
        |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM (SELECT source, l,
        |      unnest(range(1, greatest(len(l) - 1, 1))) AS i FROM d)),
        |per AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT p.source_a, p.source_b, p.n_shared,
        |  pa.n_sh AS n_a, pb.n_sh AS n_b,
        |  round(CAST(p.n_shared AS DOUBLE) /
        |    (pa.n_sh + pb.n_sh - p.n_shared), 6) AS jaccard
        |FROM p
        |JOIN per pa ON pa.source = p.source_a
        |JOIN per pb ON pb.source = p.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin,

    // q145: case-insensitivity stated as explicit lower()
    // normalization (vs the engine's UTF8_LCASE collated type) —
    // independent encodings; collated group keys are not emitted
    // (representative variant is engine-arbitrary).
    "q145_collation" ->
      """WITH b AS (SELECT c_mktsegment,
        |    CASE WHEN c_custkey % 2 = 1 THEN upper(c_mktsegment)
        |         ELSE lower(c_mktsegment) END AS mixed
        |  FROM customer)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT mixed) AS BIGINT) AS n_cs,
        |  CAST(count(DISTINCT lower(mixed)) AS BIGINT) AS n_ci,
        |  CAST(sum(CASE WHEN mixed = lower(c_mktsegment) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS eq_cs,
        |  CAST(sum(CASE WHEN lower(mixed) = lower(c_mktsegment) THEN 1 ELSE 0
        |    END) AS BIGINT) AS eq_ci
        |FROM b GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // q146: DuckDB's NATIVE recursive UNION on the cyclic affine
    // step — terminates by the same per-step dedup the engine loop
    // emulates; UNION ALL recursion would diverge on this fixture.
    "q146_cyclic_closure" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT c_custkey % 101 AS node FROM customer),
        |r AS (
        |  SELECT node, node AS anc FROM nodes
        |  UNION
        |  SELECT node, (anc * 5 + 3) % 101 AS anc FROM r)
        |SELECT node, anc FROM r ORDER BY node, anc""".stripMargin,

    // q147 / q148: one SQL text, two planners — the USING/NATURAL/
    // FULL-USING spellings and GROUP BY ALL parse identically on
    // both engines; the oracle IS the engine text.
    "q147_join_using" -> joinUsingSql,
    "q148_group_by_all" -> groupByAllSql,

    // q149: DuckDB's NATIVE QUALIFY (the engine emulates it as the
    // post-window filter QUALIFY is defined as) — independent
    // encodings; the predicate is exact Long arithmetic (cents·n >
    // sum_cents), no float mean to disagree on.
    "q149_qualify" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  count(*) OVER w AS n_cust_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
        |    AS BIGINT) AS cust_sum_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey)
        |QUALIFY cents * n_cust_orders > cust_sum_cents
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // q150: DuckDB's native ROW-VALUE comparison states the keyset
    // cursor directly; the engine spells the same total-order
    // predicate as the explicit disjunction — independent encodings.
    "q150_keyset_page" ->
      s"""SELECT o_orderkey, o_orderdate,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |FROM orders
         |WHERE (o_orderdate, o_orderkey) >
         |  (TIMESTAMP '${graft.operators.Relational.KeysetDate}',
         |   ${graft.operators.Relational.KeysetKey})
         |ORDER BY o_orderdate, o_orderkey
         |LIMIT ${graft.operators.Relational.KeysetPageSize}""".stripMargin,

    // q151: the same gaps-and-islands idiom independently spelled —
    // DuckDB's 3-arg date_diff vs the engine's 2-arg datediff, its
    // own row_number run ids, and a rank-window argmax in place of
    // the engine's max_by.
    "q151_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |r AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS run
        |  FROM d),
        |g AS (SELECT user_id, run, count(*) AS len, min(day) AS start_day
        |  FROM r GROUP BY user_id, run),
        |x AS (SELECT user_id, count(*) AS n_streaks,
        |    CAST(sum(len) AS BIGINT) AS n_active_days, max(len) AS best_len
        |  FROM g GROUP BY user_id),
        |b AS (SELECT user_id, start_day,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_day) AS rn
        |  FROM g)
        |SELECT x.user_id, x.n_streaks, x.n_active_days, x.best_len,
        |  CAST(b.start_day AS BIGINT) AS best_start_day
        |FROM x JOIN b ON b.user_id = x.user_id AND b.rn = 1
        |ORDER BY x.user_id""".stripMargin,

    // q152: DuckDB's NATIVE PG-compatible age() read back through
    // date_part vs the engine's explicit subtract-then-borrow
    // calendar arithmetic — independent encodings; total_days
    // cross-checks the symbolic and absolute views.
    "q152_age_breakdown" ->
      """WITH m AS (SELECT o_custkey,
        |    CAST(min(o_orderdate) AS DATE) AS t1,
        |    CAST(max(o_orderdate) AS DATE) AS t2, count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, n_orders, t1, t2,
        |  CAST(date_part('year',
        |    age(CAST(t2 AS TIMESTAMP), CAST(t1 AS TIMESTAMP)))
        |    AS BIGINT) AS age_years,
        |  CAST(date_part('month',
        |    age(CAST(t2 AS TIMESTAMP), CAST(t1 AS TIMESTAMP)))
        |    AS BIGINT) AS age_months,
        |  CAST(date_part('day',
        |    age(CAST(t2 AS TIMESTAMP), CAST(t1 AS TIMESTAMP)))
        |    AS BIGINT) AS age_days,
        |  date_diff('day', t1, t2) AS total_days
        |FROM m ORDER BY o_custkey""".stripMargin,

    // q153: DuckDB replays the temperature math (sqrt/divide/max/
    // floor in the same fixed order — correctly-rounded IEEE ops,
    // bit-identical) and the 20-bit md5 bucket via the '0x' hex
    // cast vs the engine's conv — the q127 determinism argument
    // without the ln caveat.
    "q153_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |r0 AS (SELECT lang, c,
        |    sqrt(CAST(c AS DOUBLE)) / c AS ratio FROM c),
        |r AS (SELECT lang, ratio / (SELECT max(ratio) FROM r0) AS rate
        |  FROM r0),
        |k AS (SELECT d.doc_id, d.lang, d.text, r.rate,
        |    CAST(('0x' || substring(
        |      md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
        |      AS b
        |  FROM documents d JOIN r ON r.lang = d.lang)
        |SELECT lang, count(*) AS n_in,
        |  CAST(floor(max(rate) * 1e6) AS BIGINT) AS rate_ppm,
        |  CAST(count(*) FILTER (WHERE b < floor(rate * 1048576.0))
        |    AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(doc_id)
        |    FILTER (WHERE b < floor(rate * 1048576.0)), 0) AS BIGINT)
        |    AS docid_sum,
        |  CAST(coalesce(sum(len(regexp_extract_all(text, '\S+')))
        |    FILTER (WHERE b < floor(rate * 1048576.0)), 0) AS BIGINT)
        |    AS tokens_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    // q154: the q31b/q133 first-principles IVF replay with probes
    // for EVERY vector (the kNN-join shape) — cells, nprobe=2
    // probes, candidate join, rounded cosine, per-query top-3.
    "q154_knn_join" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings WHERE vec_id < 16),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings v CROSS JOIN c),
         |asum AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |ascore AS (SELECT vec_id, cid,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM asum),
         |ar AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cid) AS rn
         |  FROM ascore),
         |cells AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ar WHERE rn <= 2),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |x AS (SELECT cand.qid, cand.vb, qe.embedding AS ea,
         |    e.embedding AS eb, unnest(range(1, 65)) AS i
         |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.qid
         |  JOIN embeddings e ON e.vec_id = cand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, vb) AS BIGINT) AS rk
         |  FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin,

    // q155: the same strings from FIRST PRINCIPLES — fmt-style
    // '{:,}' grouping on the integer dollars, lpad'd cents digits,
    // and explicit space-padding to the template width (Spark's
    // to_char pads 9-positions with spaces; S adds one sign
    // position) — independent encodings of grouped / signed /
    // currency / zero-padded rendering. Corpus prices are all
    // ≥ $900, so no sub-dollar digit-suppression edge exists.
    "q155_number_format" ->
      """WITH b AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_orderkey, cents,
        |    format('{:,}', cents // 100) || '.' ||
        |      lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS s
        |  FROM b)
        |SELECT o_orderkey, cents,
        |  lpad(s, 14, ' ') AS grouped,
        |  '$' || lpad(s, 14, ' ') AS currency,
        |  lpad('+' || s, 15, ' ') AS signed,
        |  lpad(CAST(cents AS VARCHAR), 12, '0') AS zero_padded
        |FROM f ORDER BY o_orderkey""".stripMargin,

    // q156: adjacency from FIRST PRINCIPLES — explicit 1-based list
    // subscripts l[i], l[i+1] over an unnested index range (the
    // q143 idiom) vs the engine's zip-with-successor fold —
    // independent encodings of "immediately followed by".
    "q156_phrase_search" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_extract_all(text, '\S+') AS l FROM documents),
        |x AS (SELECT doc_id, l,
        |    unnest(range(1, greatest(len(l), 1))) AS i FROM d),
        |h AS (SELECT doc_id, i,
        |    CASE WHEN l[i] = 'table' AND l[i+1] = 'value'
        |      THEN 1 ELSE 0 END AS ha,
        |    CASE WHEN l[i] = 'fast' AND l[i+1] = 'sort'
        |      THEN 1 ELSE 0 END AS hb
        |  FROM x),
        |a AS (SELECT doc_id, CAST(sum(ha) AS BIGINT) AS n_a,
        |    CAST(sum(hb) AS BIGINT) AS n_b,
        |    CAST(coalesce(min(CASE WHEN ha = 1 THEN i END), 0) AS BIGINT)
        |      AS first_a
        |  FROM h GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.l) AS BIGINT) AS n_toks,
        |  a.n_a, a.n_b, a.first_a
        |FROM a JOIN d ON d.doc_id = a.doc_id
        |WHERE a.n_a + a.n_b > 0 ORDER BY d.doc_id""".stripMargin,

    // q133: the q31b first-principles IVF replay with the metadata
    // predicate (candidate label = query label) applied between
    // candidate generation and ranking — hybrid filtered search.
    "q133_filtered_ann" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings v CROSS JOIN c),
         |asum AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |ascore AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM asum),
         |ar AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM ascore),
         |cells AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ar WHERE vec_id < 20 AND rn <= 2),
         |q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < 20),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |fcand AS (SELECT cand.qid, cand.vb, e.label FROM cand
         |  JOIN q USING (qid) JOIN embeddings e ON e.vec_id = cand.vb
         |  WHERE e.label = q.qlabel),
         |x AS (SELECT fcand.qid, fcand.vb, q.qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM fcand JOIN q USING (qid) JOIN embeddings e ON e.vec_id = fcand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT r.qid, r.rk, r.vb AS neighbor,
         |  CAST(e.label AS BIGINT) AS label, r.sim
         |FROM r JOIN embeddings e ON e.vec_id = r.vb WHERE r.rk <= 3
         |ORDER BY r.qid, r.rk""".stripMargin,

    "q40_range_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT a.event_id, count(b.event_id) AS n_next
        |  FROM e a LEFT JOIN e b ON a.user_id = b.user_id
        |    AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '300 seconds'
        |  GROUP BY a.event_id)
        |SELECT e.event_id, e.user_id, e.ts, m.n_next
        |FROM e JOIN m USING (event_id) ORDER BY event_id""".stripMargin,

    // The enumerated window functions under full deterministic
    // orders; first/last use explicit ROWS frames on both sides.
    "q63_window_suite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(rank() OVER wp AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER wp AS BIGINT) AS drk,
        |  CAST(ntile(4) OVER wp AS BIGINT) AS quartile,
        |  lead(o_orderdate, 1) OVER wt AS next_date,
        |  first_value(o_totalprice) OVER (
        |    wt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
        |  last_value(o_totalprice) OVER (
        |    wt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_price
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_custkey
        |                ORDER BY o_totalprice DESC, o_orderkey),
        |       wt AS (PARTITION BY o_custkey
        |                ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // RANGE frame over integer day numbers: the frame boundary is an
    // exact integer compare; the frame sum runs in DECIMAL on both
    // engines (order-free) and casts to double once.
    "q59_range_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, ship_day,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |    PARTITION BY l_suppkey ORDER BY ship_day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_7d
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
        |        CAST(date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS BIGINT) AS ship_day,
        |        l_quantity FROM lineitem) t
        |ORDER BY l_suppkey, ship_day, l_orderkey, l_linenumber""".stripMargin,

    "q41_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q42_clean_corpus" -> {
      s"""WITH d AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, lang, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id, lang, text,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM e),
         |f AS (SELECT doc_id, lang, quality,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |c AS (SELECT f.lang, f.quality FROM f JOIN k USING (fp, doc_id))
         |SELECT lang, count(*) AS n_docs, round(avg(quality), 4) AS avg_quality
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q44_redact" -> {
      // Interpolate the exact Spark-side patterns (plain RE2-valid
      // regexes at runtime) so they can never drift apart.
      val email = TextAnalysis.EmailPattern
      val num = TextAnalysis.LongNumberPattern
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_longnums,
         |  md5(regexp_replace(
         |    regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |    '$num', '<NUM>', 'g')) AS redacted_fp
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q45_pack_bins" ->
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d)
        |SELECT lang, CAST((run - n_tok) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q45b_pack_shards" ->
      """WITH d AS (SELECT doc_id // 64 AS shard, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d)
        |SELECT shard, CAST((run - n_tok) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    // The oracle computes the interval components ARITHMETICALLY; the
    // Spark side packs them through the 16-byte wire payload and back
    // via decode_interval — two independent encodings of the layout.
    "q46_interval_decode" ->
      """SELECT o_orderkey,
        |  CAST(o_orderkey % 24 AS BIGINT) AS iv_months,
        |  CAST(o_orderkey % 30 AS BIGINT) AS iv_days,
        |  CAST((o_orderkey % 86400) * 1000000 + o_orderkey % 1000 AS BIGINT) AS iv_micros
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Bucket 0..255 from the first two md5 hex digits — DuckDB has no
    // hex→int cast, so the oracle decodes the digits via strpos.
    "q47_hash_split" ->
      """WITH b AS (SELECT doc_id, text,
        |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 204 THEN 'train'
        |            WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens
        |FROM b GROUP BY split ORDER BY split""".stripMargin,

    "q48_decontaminate" -> decontaminateOracle,

    // q159: the contamination-severity policy over q48's universe —
    // the oracle re-derives per-doc shingle totals and eval hits by
    // explode + join (vs the engine's two per-row kernels), then the
    // same exact-integer ppm and verdict thresholds.
    "q159_contamination_report" ->
      s"""WITH $shinglesCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh
         |  WHERE doc_id % 10 <> 0 GROUP BY doc_id),
         |hit AS (SELECT t.doc_id, count(*) AS n_hits
         |  FROM sh t JOIN bench USING (shingle)
         |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
         |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 // t.n_sh AS BIGINT)
         |    AS cont_ppm,
         |  CASE WHEN coalesce(h.n_hits, 0) = 0 THEN 'clean'
         |       WHEN coalesce(h.n_hits, 0) * 1000000 // t.n_sh >= 500000
         |         THEN 'drop'
         |       ELSE 'review' END AS verdict
         |FROM tot t LEFT JOIN hit h USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // The Bloom prefilter changes the PLAN, never the answer: same
    // oracle as q48 (false positives vanish at the exact join).
    "q48b_decontaminate_bloom" -> decontaminateOracle,

    // Mixture sampling: the keep decision is bucket < rate in exact
    // integers on both sides; the rate CASE is generated from the one
    // mixtureRates table so engine and oracle can never drift.
    "q53_mixture_sample" -> {
      s"""WITH b AS (SELECT lang, text,
         |    ${hexBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")} AS bucket
         |  FROM documents),
         |k AS (SELECT lang, bucket < ($mixtureRateCase) AS keep,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tok FROM b)
         |SELECT lang, count(*) AS n_in,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },

    // Exact-size stratified sample: rank by salted md5 order within
    // each language, keep the first k; doc_id-sum identity proves the
    // drawn set, not just its size.
    "q62_stratified_sample" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |    md5('strat:' || CAST(doc_id AS VARCHAR)) AS rk_hash
         |  FROM documents),
         |r AS (SELECT doc_id, lang, n_tok,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY rk_hash, doc_id) AS rk FROM d)
         |SELECT lang, count(*) AS n_sampled,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
         |FROM r WHERE rk <= ${graft.operators.Curation.StratK}
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // Histogram threshold audit: kept-bucket aggregate per language.
    // The budget compare is exact integer arithmetic (cum·den ≤
    // total·num); the tie case is kept on both sides (CurationSpec).
    "q54_token_budget" ->
      s"""WITH $budgetCtes
         |SELECT lang, min(bucket) AS threshold_bucket,
         |  CAST(sum(n_docs) AS BIGINT) AS n_kept,
         |  CAST(sum(toks) AS BIGINT) AS tokens_kept
         |FROM c54
         |WHERE cum * ${graft.operators.Curation.BudgetDen}
         |  <= total * ${graft.operators.Curation.BudgetNum}
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // The APPLIED selection: threshold join-back → per-split kept-doc
    // aggregate with a doc_id-sum identity (proves which docs
    // survived, not just how many).
    "q54b_token_budget_apply" ->
      s"""WITH $budgetCtes,
         |t54 AS (SELECT lang, min(bucket) AS thr FROM c54
         |  WHERE cum * ${graft.operators.Curation.BudgetDen}
         |    <= total * ${graft.operators.Curation.BudgetNum}
         |  GROUP BY lang),
         |a54 AS (SELECT sc54.doc_id, sc54.n_toks FROM sc54
         |  JOIN t54 USING (lang) WHERE sc54.bucket >= t54.thr),
         |s54 AS (SELECT doc_id, n_toks,
         |    ${hexBucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
         |  FROM a54)
         |SELECT CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
         |FROM s54 GROUP BY split ORDER BY split""".stripMargin,

    // q52 plus the mixture-sampling stage between near-dup rep keep
    // and split assignment — the complete curation pipeline; lang is
    // carried through so the per-language rate CASE can apply.
    "q58_curated_pipeline" ->
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |reps AS (SELECT n AS doc_id, least(n, min(m)) AS rep
         |  FROM reach GROUP BY n),
         |dq AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |eq AS (SELECT doc_id, lang, text, n_tok, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM dq),
         |q AS (SELECT doc_id, lang, text, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM eq),
         |f AS (SELECT doc_id, lang, n_tok,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |ded AS (SELECT f.doc_id, f.lang, f.n_tok FROM f JOIN k USING (fp, doc_id)),
         |kept AS (SELECT ded.doc_id, ded.lang, ded.n_tok FROM ded
         |  LEFT JOIN reps USING (doc_id)
         |  WHERE reps.rep IS NULL OR reps.rep = ded.doc_id),
         |mx AS (SELECT doc_id, n_tok FROM kept
         |  WHERE ${hexBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")}
         |    < ($mixtureRateCase)),
         |sb AS (SELECT doc_id, n_tok,
         |  CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id // 64 AS shard
         |  FROM (SELECT doc_id, n_tok,
         |    ${hexBucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
         |    FROM mx)),
         |c AS (SELECT split, shard, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM sb)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  count(DISTINCT shard * 10000 + (run - n_tok) // 2048) AS n_bins
         |FROM c GROUP BY split ORDER BY split""".stripMargin,

    // Vocabulary: the rank runs over per-(lang, token) counts; ties
    // broken lexically on the token on both sides.
    "q55_vocab_topk" ->
      """WITH t AS (SELECT lang, unnest(regexp_extract_all(text, '\S+')) AS tok
        |           FROM documents),
        |c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY lang, tok),
        |r AS (SELECT lang, tok, n,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n DESC, tok) AS BIGINT) AS rk FROM c)
        |SELECT lang, tok, n, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,

    // The packing manifest: same shard/bin assignment as q45b, plus
    // the numerically-ordered doc-id list per bin.
    "q56_pack_manifest" ->
      """WITH d AS (SELECT doc_id // 64 AS shard, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d)
        |SELECT shard, CAST((run - n_tok) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_list
        |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    // The salted join must be result-identical to the plain join —
    // the oracle IS the plain join, so the hash gate fails on any
    // dropped or duplicated replica.
    "q57_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_value
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q49_repetition" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS l FROM documents),
        |g AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS gram
        |  FROM (SELECT doc_id, l, unnest(range(1, greatest(len(l), 1))) AS i FROM d)),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
        |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |    CAST(max(cnt) AS BIGINT) AS max_rep FROM c GROUP BY doc_id)
        |SELECT doc_id, n_grams, max_rep,
        |  round(CAST(max_rep AS DOUBLE) / n_grams, 6) AS rep_ratio
        |FROM m ORDER BY doc_id""".stripMargin,

    // Distribution-rank windows: the price order is tie-free
    // (o_orderkey tiebreak), so (rank-1)/(n-1) and peers/n divide the
    // same integers in double on both engines; nth_value pins an
    // explicit running ROWS frame on both sides.
    "q63b_window_dist" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  round(percent_rank() OVER wp, 6) AS pct_rank,
        |  round(cume_dist() OVER wp, 6) AS cume,
        |  nth_value(o_totalprice, 3) OVER (
        |    wt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_price
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_custkey
        |                ORDER BY o_totalprice DESC, o_orderkey),
        |       wt AS (PARTITION BY o_custkey
        |                ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // Each branch is tagged so one result carries all three set-op
    // semantics: distinct intersection, min-multiplicity bag
    // intersection, truncated bag difference.
    "q64_setops_all" ->
      """SELECT op, o_custkey FROM (
        |  SELECT 'intersect' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |    INTERSECT
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00') i
        |  UNION ALL
        |  SELECT 'intersect_all' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00') ia
        |  UNION ALL
        |  SELECT 'except_all' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00') ea
        |) u ORDER BY op, o_custkey""".stripMargin,

    "q65_full_outer" ->
      """WITH a AS (SELECT o_custkey, count(*) AS n95, sum(o_totalprice) AS v95
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |b AS (SELECT o_custkey, count(*) AS n96, sum(o_totalprice) AS v96
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
        |  CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL THEN 'both'
        |       WHEN a.o_custkey IS NOT NULL THEN 'only_1995'
        |       ELSE 'only_1996' END AS presence,
        |  coalesce(n95, 0) AS n_1995, coalesce(n96, 0) AS n_1996,
        |  round(coalesce(v95, 0) + coalesce(v96, 0), 2) AS total_value
        |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q65b_right_join" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(o_custkey) AS n_orders,
        |  count(DISTINCT CASE WHEN o_custkey IS NULL THEN c_custkey END) AS n_inactive,
        |  round(sum(coalesce(o_totalprice, 0)), 2) AS h1_value
        |FROM (SELECT o_custkey, o_totalprice FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00') o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Lines are LineTokens-token segments (the corpus has no
    // newlines); a line in more than BoilerplateDocThreshold distinct
    // docs is boilerplate. The kept-text md5 hashes the actual
    // reconstruction, ordered by line position.
    "q66_line_dedup" -> {
      val n = graft.operators.TextAnalysis.LineTokens
      val k = graft.operators.TextAnalysis.BoilerplateDocThreshold
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents WHERE len(regexp_extract_all(text, '\\S+')) > 0),
         |p AS (SELECT doc_id, toks,
         |    unnest(range(1, CAST((len(toks) + $n - 1) // $n AS BIGINT) + 1)) AS pos
         |  FROM t),
         |l AS (SELECT doc_id, pos,
         |    array_to_string(toks[((pos-1)*$n+1):((pos-1)*$n+$n)], ' ') AS line
         |  FROM p),
         |lf AS (SELECT doc_id, pos, line, md5(line) AS fp FROM l),
         |c AS (SELECT fp AS bfp FROM lf GROUP BY fp
         |      HAVING count(DISTINCT doc_id) > $k),
         |f AS (SELECT lf.doc_id, lf.pos, lf.line, c.bfp IS NOT NULL AS boiler
         |      FROM lf LEFT JOIN c ON lf.fp = c.bfp)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN NOT boiler THEN line END,
         |    chr(10) ORDER BY pos), '')) AS kept_fp
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // Laplace-smoothed bigram log-prob, model fitted on the corpus
    // itself with the bigram table pruned to the BigramVocab most
    // frequent (count desc, then lexicographic — deterministic).
    "q67_bigram_lm" -> {
      val v = graft.operators.TextAnalysis.BigramVocab
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |uni AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
         |v AS (SELECT count(*) AS vsz FROM uni),
         |bp AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |  FROM t WHERE len(toks) >= 2),
         |big AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM bp),
         |bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
         |       ORDER BY c2 DESC, w1, w2 LIMIT $v),
         |lnin AS MATERIALIZED (SELECT p.w1, p.w2,
         |    CAST(coalesce(bc.c2, 0) + 1 AS BIGINT) AS lnum,
         |    CAST(uni.c1 + v.vsz AS BIGINT) AS lden
         |  FROM (SELECT DISTINCT w1, w2 FROM big) p
         |  LEFT JOIN bc ON p.w1 = bc.w1 AND p.w2 = bc.w2
         |  JOIN uni ON p.w1 = uni.w1
         |  CROSS JOIN v),
         |${graft.functions.FixedLog.sqlStagedCtes("lnin", "lnum", "lden", 9, "lnq67_")._1},
         |s AS (SELECT big.doc_id, fl.ln_s AS logp_i
         |  FROM big
         |  JOIN ${graft.functions.FixedLog.sqlStagedCtes("lnin", "lnum", "lden", 9, "lnq67_")._2} fl
         |  ON big.w1 = fl.w1 AND big.w2 = fl.w2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(sum(logp_i) / (count(*) * 1e9), 6) AS logprob
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // The identical SQL text both planners run (the q51 pattern).
    "q68_null_semantics" -> nullSemanticsSql,

    "q69_stats_agg" ->
      """SELECT event_type, count(*) AS n,
        |  round(stddev_samp(value), 4) AS sd,
        |  round(var_samp(value), 4) AS vr,
        |  round(median(value), 6) AS med,
        |  round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_uid,
        |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cov_uid
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q70_array_funcs" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
        |  CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS max_len,
        |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS vocab_fp
        |FROM t ORDER BY doc_id""".stripMargin,

    // Same candidate CTEs as q27/q28/q43; levenshtein in both engines
    // is the classic unit-cost edit distance over an ASCII corpus.
    "q71_edit_distance" ->
      s"""WITH $minhashCtes,
         |dt AS (SELECT doc_id, text FROM documents),
         |e AS (SELECT j.a AS doc_a, j.b AS doc_b, j.jaccard,
         |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
         |    greatest(length(ta.text), length(tb.text)) AS mx
         |  FROM j JOIN dt ta ON ta.doc_id = j.a
         |         JOIN dt tb ON tb.doc_id = j.b)
         |SELECT doc_a, doc_b, jaccard, edit_dist,
         |  round(1.0 - CAST(edit_dist AS DOUBLE) / mx, 6) AS edit_sim
         |FROM e ORDER BY doc_a, doc_b""".stripMargin,

    // Window i covers tokens [i*stride, min(i*stride+chunk, n)) —
    // DuckDB list slices are 1-based inclusive, hence the +1. Chunk
    // and stride constants shared with TextAnalysis by name.
    "q72_chunk_udtf" ->
      s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS l
         |  FROM documents),
         |i AS (SELECT doc_id, l, unnest(range(0, len(l),
         |  ${TextAnalysis.ChunkStride})) AS s FROM d)
         |SELECT doc_id,
         |  CAST(s // ${TextAnalysis.ChunkStride} AS BIGINT) AS chunk_idx,
         |  CAST(least(s + ${TextAnalysis.ChunkSize}, len(l)) - s AS BIGINT)
         |    AS n_chunk_toks,
         |  md5(array_to_string(
         |    l[s + 1 : least(s + ${TextAnalysis.ChunkSize}, len(l))], ' '))
         |    AS chunk_fp
         |FROM i ORDER BY doc_id, chunk_idx""".stripMargin,

    // tf computed over (doc, term) pairs appearing once each; df is
    // the count of docs per term; N counts all documents. Since r17
    // the score is the exact integer tf × lnScaled(N, df, 9) through
    // the shared FixedLog staged-CTE chain (one ln per DISTINCT term,
    // joined back) — ranking and the rounded output derive from the
    // same integer in both engines (the q167 discipline).
    "q73_tfidf" ->
      s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS l
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(l) AS term FROM d),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY doc_id, term),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |dfr AS MATERIALIZED (SELECT term,
         |    CAST(count(*) AS BIGINT) AS df, n_docs
         |  FROM tf CROSS JOIN n GROUP BY term, n_docs),
         |${graft.functions.FixedLog.sqlStagedCtes("dfr", "n_docs", "df", 9, "lnq73_")._1},
         |s AS (SELECT doc_id, tf.term AS term, tf, df,
         |    tf * ln_s AS score_i FROM tf
         |  JOIN ${graft.functions.FixedLog.sqlStagedCtes("dfr", "n_docs", "df", 9, "lnq73_")._2} fl
         |  ON tf.term = fl.term),
         |r AS (SELECT doc_id, term, tf, df, score_i,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_i DESC, term) AS BIGINT) AS rk FROM s)
         |SELECT doc_id, rk, term, tf, df,
         |  round(score_i / 1e9, 6) AS score
         |FROM r WHERE rk <= ${TextAnalysis.TfidfTopK}
         |ORDER BY doc_id, rk""".stripMargin,

    // The oracle is the PLAIN join over raw parquet — bucketing must
    // be result-invisible (the q57 pattern for physical layout).
    "q74_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // ts is TIMESTAMP(NANOS) in parquet; the engine reads it truncated
    // to microseconds (Corpus), so the oracle truncates identically
    // with CAST(ts AS TIMESTAMP) before epoch_us. The last-in-hour
    // pick orders by the same zero-padded (micros, event_id) string
    // as the engine — total order even under timestamp ties.
    "q75_gap_fill" ->
      s"""WITH $hourlyGridCtes
         |SELECT user_id, h, last_value(v_obs IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
         |  n_obs
         |FROM j ORDER BY user_id, h""".stripMargin,

    // PG's DISTINCT ON, stated in its native form — DuckDB implements
    // the PostgreSQL semantics directly, while the engine states it
    // as a row_number()=1 rank limit (which the injected rewrite
    // plans as a k=1 top-k heap). The (micros desc, event_id desc)
    // order is total, so both picks are forced to the same row.
    "q76_distinct_on" ->
      """SELECT DISTINCT ON (user_id) user_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
        |FROM events
        |ORDER BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) DESC,
        |  event_id DESC""".stripMargin,

    // DuckDB's PG-style string_agg(DISTINCT … ORDER BY …) vs Spark's
    // listagg WITHIN GROUP — two spellings of the same SQL:2016
    // ordered string aggregation.
    "q77_string_agg" ->
      """SELECT c_mktsegment,
        |  string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations_csv,
        |  CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations,
        |  count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // First-occurrence order is re-derived via min-ordinality
    // grouping (list_distinct does NOT preserve order in DuckDB) —
    // a genuinely independent formulation of array_distinct's
    // documented first-occurrence semantics.
    "q78_token_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
        |tok AS (SELECT doc_id, unnest(toks) AS term,
        |    generate_subscripts(toks, 1) AS ord FROM t),
        |f AS (SELECT doc_id, term, min(ord) AS first_ord FROM tok
        |  GROUP BY doc_id, term),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_uniq,
        |    md5(string_agg(term, ' ' ORDER BY first_ord)) AS dedup_fp
        |  FROM f GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks, d.n_uniq,
        |  round(1.0 - CAST(d.n_uniq AS DOUBLE) / len(t.toks), 6) AS rep_ratio,
        |  d.dedup_fp
        |FROM t JOIN d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // Same hourly/grid CTEs as q75. The interpolated value is an
    // EXACT integer rational in cents (numerator/denominator plus
    // the truncated micro-unit quotient) — rounded doubles are not
    // gateable here because midpoints land exactly on decimal
    // rounding boundaries where the engines' round() differ.
    "q79_interpolate" ->
      s"""WITH $hourlyGridCtes,
         |w AS (SELECT user_id, h, v_obs,
         |    last_value(v_obs IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         |    last_value(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp,
         |    first_value(v_obs IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
         |    first_value(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hn
         |  FROM j),
         |r AS (SELECT user_id, h,
         |    CASE WHEN v_obs IS NOT NULL THEN 'obs' ELSE 'gap' END AS src,
         |    CASE WHEN v_obs IS NOT NULL
         |      THEN CAST(round(v_obs * 100) AS BIGINT)
         |      ELSE CAST(round(vp * 100) AS BIGINT) * (hn - h) +
         |           CAST(round(vn * 100) AS BIGINT) * (h - hp) END AS num_cents,
         |    CASE WHEN v_obs IS NOT NULL THEN CAST(1 AS BIGINT)
         |      ELSE hn - hp END AS den
         |  FROM w)
         |SELECT user_id, h, src, num_cents, den,
         |  (num_cents * 10000) // den AS v_micro
         |FROM r ORDER BY user_id, h""".stripMargin,

    // Two independent JSON parse paths per row (the ->> operator and
    // json_extract_string), and to_json re-serialization hashed
    // against Spark's writer — the q46 independent-encodings pattern
    // on the published compact-JSON format.
    "q80_json_funcs" ->
      """SELECT event_id,
        |  CAST(props->>'k' AS BIGINT) AS k,
        |  CASE WHEN CAST(props->>'k' AS BIGINT) =
        |    CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS mismatch,
        |  md5(to_json(struct_pack(uid := user_id, et := event_type,
        |    k := CAST(props->>'k' AS BIGINT)))) AS fp
        |FROM events ORDER BY event_id""".stripMargin,

    // floor(log2) via binary-string length on BOTH sides — integer-
    // exact (log(2, x) is an ln ratio in Spark and rounds wrong at
    // exact powers of two).
    "q81_zipf_histogram" ->
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |SELECT CAST(length(printf('%b', cnt)) - 1 AS BIGINT) AS bucket,
        |  count(*) AS n_terms, CAST(sum(cnt) AS BIGINT) AS n_occurrences
        |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin,

    // DuckDB's first-class UNPIVOT vs Spark's Dataset.unpivot — two
    // independent implementations of the same relational transpose.
    // Money summed as exact integer cents BEFORE the melt.
    "q82_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS extendedprice_cents,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |      AS discount_cents,
        |    CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT)
        |      AS tax_cents
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value_cents
        |FROM wide UNPIVOT (value_cents FOR metric IN
        |  (extendedprice_cents, discount_cents, tax_cents))
        |ORDER BY l_returnflag, metric""".stripMargin,

    // Ordered funnel: stage 2 requires a click STRICTLY AFTER the
    // first view, stage 3 a purchase strictly after that first
    // qualifying click — same chained min-after-join formulation on
    // both sides; uid/ts sums are exact integer identities over WHICH
    // users converged and WHEN.
    "q83_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS t2 FROM e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS t3 FROM e
        |  JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  CAST(sum(t1) AS BIGINT) AS ts_us_sum FROM v
        |UNION ALL
        |SELECT '2_click', count(*), CAST(sum(user_id) AS BIGINT),
        |  CAST(sum(t2) AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase', count(*), CAST(sum(user_id) AS BIGINT),
        |  CAST(sum(t3) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin,

    // Top-16 vocabulary by doc frequency (dfreq desc, term — total
    // order), pairs (a < b) within a doc, lift in exact integer ppm:
    // (c_ab · N · 1e6) // (c_a · c_b). Constants pinned to
    // TextAnalysis.CooccurVocab / CooccurMinSupport.
    "q84_cooccur" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(text, '\S+'))) AS term
        |  FROM documents),
        |vocab AS (SELECT term, count(*) AS dfreq FROM tok GROUP BY term
        |  ORDER BY dfreq DESC, term LIMIT 16),
        |f AS (SELECT t.doc_id, t.term FROM tok t
        |  JOIN vocab v ON t.term = v.term),
        |pairs AS (SELECT a.term AS term_a, b.term AS term_b,
        |    count(*) AS c_ab
        |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY a.term, b.term HAVING count(*) >= 5),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term_a, term_b, c_ab, va.dfreq AS c_a, vb.dfreq AS c_b,
        |  CAST((CAST(c_ab AS HUGEINT) * n_docs * 1000000)
        |    // (va.dfreq * vb.dfreq) AS BIGINT) AS lift_ppm
        |FROM pairs
        |JOIN vocab va ON term_a = va.term
        |JOIN vocab vb ON term_b = vb.term
        |CROSS JOIN n
        |ORDER BY term_a, term_b""".stripMargin,

    // Integer-exact rolling z-score: with cents x, S1/S2 over the
    // trailing 24-row frame, |x−μ| > 2σ (population) ⇔
    // (n·x − S1)² > 4·(n·S2 − S1²) — both sides Long, no float σ.
    // The frame ordering (us, event_id) is total in both engines.
    "q85_rolling_zscore" ->
      """WITH b AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |w AS (SELECT event_id, user_id, us, x,
        |    CAST(count(*) OVER win AS BIGINT) AS n_w,
        |    CAST(sum(x) OVER win AS BIGINT) AS s1,
        |    CAST(sum(x * x) OVER win AS BIGINT) AS s2
        |  FROM b WINDOW win AS (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, us, x, n_w, s1, s2,
        |  CASE WHEN (n_w * x - s1) * (n_w * x - s1) >
        |    4 * (n_w * s2 - s1 * s1)
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS anom
        |FROM w ORDER BY event_id""".stripMargin,

    // Bucket restated as `1 + cents // 2500` — an independent integer
    // encoding of width_bucket(x, 0, 60000, 24) (boundaries are exact
    // multiples of the width, so the float path cannot straddle one).
    "q86_value_buckets" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
        |SELECT event_type, CAST(1 + x // 2500 AS BIGINT) AS bucket,
        |  count(*) AS n, CAST(sum(x) AS BIGINT) AS sum_cents
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    // Last-touch attribution: the running last(enc IGNORE NULLS) over
    // rows strictly before the current one carries the latest
    // click/view as ts·4+code (one value — ts and type cannot come
    // from different touches); purchases decode it and test the
    // 7-day horizon (604800000000 µs = Temporal.AttributionWindowUs).
    "q87_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 END
        |      AS code
        |  FROM events),
        |w AS (SELECT event_id, user_id, event_type, us,
        |    last_value(CASE WHEN code IS NOT NULL
        |        THEN us * 4 + code END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_enc
        |  FROM e)
        |SELECT event_id, user_id, us,
        |  CASE WHEN within THEN last_enc // 4 END AS touch_us,
        |  CASE WHEN within THEN
        |    CASE WHEN last_enc % 4 = 1 THEN 'click' ELSE 'view' END
        |  END AS touch_type,
        |  CASE WHEN within THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS attributed
        |FROM (SELECT *, last_enc IS NOT NULL AND
        |    us - last_enc // 4 <= 604800000000 AS within FROM w)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // Stopword list pinned to TextAnalysis.StopWords; DuckDB's
    // list_filter is an independent lambda implementation of the
    // order-preserving filter; fingerprint checks WHICH tokens
    // survived and in what order.
    "q88_stopword_filter" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
        |f AS (SELECT doc_id, toks,
        |    list_filter(toks, x -> x <> 'a' AND x <> 'the') AS content
        |  FROM t)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(content) AS BIGINT) AS n_content,
        |  CAST((len(toks) - len(content)) * 1000000 // len(toks) AS BIGINT)
        |    AS stop_ppm,
        |  md5(array_to_string(content, ' ')) AS content_fp
        |FROM f ORDER BY doc_id""".stripMargin,

    // Directed containment (quote/subset detection) over the
    // df-capped shingle space — constants pinned to
    // Dedup.ContainDfCap / ContainMinPpm / ContainMinShingles; the
    // same word-3-gram shingle CTE as the q27/q28 oracles.
    "q89_containment" ->
      """WITH d AS (SELECT doc_id, lang,
        |    regexp_extract_all(text, '\S+') AS l FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM (
        |  SELECT doc_id, lang, l,
        |    unnest(range(1, greatest(len(l) - 1, 1))) AS i FROM d)),
        |df AS (SELECT shingle, count(*) AS dfreq FROM sh GROUP BY shingle),
        |f AS (SELECT sh.doc_id, sh.lang, sh.shingle FROM sh
        |  JOIN df USING (shingle) WHERE dfreq <= 64),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM f
        |  GROUP BY doc_id HAVING count(*) >= 5),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |  FROM f x JOIN f y ON x.shingle = y.shingle AND x.lang = y.lang
        |    AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT contained, container, common, n_contained, cont_ppm
        |FROM (
        |  SELECT a AS contained, b AS container, common,
        |    s.n_sh AS n_contained,
        |    CAST(common * 1000000 // s.n_sh AS BIGINT) AS cont_ppm
        |  FROM common JOIN sizes s ON a = s.doc_id
        |  UNION ALL
        |  SELECT b, a, common, s.n_sh,
        |    CAST(common * 1000000 // s.n_sh AS BIGINT)
        |  FROM common JOIN sizes s ON b = s.doc_id)
        |WHERE cont_ppm >= 600000
        |ORDER BY contained, container""".stripMargin,

    // Same functions, DuckDB's implementations (strpos for instr,
    // trim(s, chars) for the char-set TRIM) — exact string outputs.
    "q90_string_battery" ->
      """SELECT p_partkey,
        |  split_part(p_name, ' ', 1) AS word1,
        |  split_part(p_name, ' ', 2) AS word2,
        |  translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
        |  lpad(p_brand, 10, '*') AS brand_l,
        |  rpad(p_brand, 10, '=') AS brand_r,
        |  repeat(left(p_name, 2), 3) AS rep2,
        |  reverse(p_name) AS name_rev,
        |  replace(p_name, ' ', '_') AS name_us,
        |  CAST(strpos(p_name, ' ') AS BIGINT) AS sp_pos,
        |  right(p_type, 3) AS type_r3,
        |  trim(p_brand, 'Bdran#') AS brand_num,
        |  CAST(ascii(p_name) AS BIGINT) AS first_ascii
        |FROM part ORDER BY p_partkey""".stripMargin,

    // DuckDB's date surface restated: PG dow convention is native
    // (Spark's is re-based engine-side); next-Monday re-derived
    // arithmetically from dow — an independent encoding of
    // next_day's strictly-after contract.
    // q164: one SQL text, two planners (projected EXISTS becomes an
    // existence join, not a filter).
    "q164_select_exists" -> selectExistsSql,

    // q170: rows derived arithmetically (no parse) and the document
    // bytes rendered by DuckDB's own string constructor — engine
    // parse vs oracle derivation, bytes hash-pinned.
    "q170_json_table" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    unnest(range(1, 2 + o_orderkey % 3)) AS i FROM orders),
        |r AS (SELECT k, i, (k * i) % 97 AS id,
        |    'it' || CAST((k + i) % 5 AS VARCHAR) AS tag FROM b),
        |d AS (SELECT k, '[' || string_agg(
        |    '{"id":' || CAST(id AS VARCHAR) || ',"tag":"' || tag || '"}',
        |    ',' ORDER BY i) || ']' AS doc FROM r GROUP BY k)
        |SELECT r.k AS o_orderkey, d.doc, CAST(r.i AS BIGINT) AS ord,
        |  CAST(r.id AS BIGINT) AS id, r.tag
        |FROM r JOIN d ON d.k = r.k
        |ORDER BY o_orderkey, ord""".stripMargin,

    // q165: PG array operators via DuckDB's native list functions
    // (vs the engine's defining-∀ spelling); the PG NULL-when-absent
    // position contract stated as nullif on both sides.
    "q165_array_ops" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 = 0 THEN CAST([] AS BIGINT[])
        |         ELSE list_transform(range(1, 2 + o_orderkey % 4),
        |                i -> (o_orderkey * i) % 7) END AS arr,
        |    CASE WHEN o_orderkey % 3 = 0 THEN CAST([] AS BIGINT[])
        |         ELSE list_transform(range(1, 2 + o_orderkey % 3),
        |                i -> (o_orderkey + i) % 7) END AS probe
        |  FROM orders)
        |SELECT k AS o_orderkey,
        |  CAST(list_has_all(arr, probe) AS BIGINT) AS contains_p,
        |  CAST(list_has_all(probe, arr) AS BIGINT) AS contained_p,
        |  CAST(list_has_any(arr, probe) AS BIGINT) AS overlap_p,
        |  CAST(nullif(list_position(arr, 3), 0) AS BIGINT) AS pos3,
        |  coalesce(array_to_string(list_filter(arr, x -> x != k % 7), '/'),
        |           '') AS removed
        |FROM b ORDER BY o_orderkey""".stripMargin,

    // q163: the PARSE direction — each engine builds the strings
    // with its own formatter and parses with its own template
    // dialect (Java patterns vs strptime %-codes); round-trip
    // asymmetries on either side are value-visible.
    "q163_datetime_parse" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |    o_orderkey % 86400 AS secs FROM orders),
        |t AS (SELECT o_orderkey, d,
        |    CAST(d AS TIMESTAMP) + secs * INTERVAL 1 SECOND AS ts FROM b)
        |SELECT o_orderkey,
        |  strftime(d, '%d-%b-%Y') AS s_date,
        |  CAST(strptime(strftime(d, '%d-%b-%Y'), '%d-%b-%Y') AS DATE)
        |    AS d_parsed,
        |  strftime(ts, '%m/%d/%Y %I:%M:%S %p') AS s_ts,
        |  CAST(epoch_us(strptime(strftime(ts, '%m/%d/%Y %I:%M:%S %p'),
        |    '%m/%d/%Y %I:%M:%S %p')) AS BIGINT) AS us_parsed
        |FROM t ORDER BY o_orderkey""".stripMargin,

    "q91_date_battery" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(date_trunc('month', d) AS DATE) AS mon,
        |  CAST(date_trunc('quarter', d) AS DATE) AS qtr,
        |  CAST(extract(dow FROM d) AS BIGINT) AS dow,
        |  CAST(extract(doy FROM d) AS BIGINT) AS doy,
        |  CAST(extract(week FROM d) AS BIGINT) AS iso_week,
        |  last_day(d) AS month_end,
        |  CAST(d + INTERVAL 3 MONTH AS DATE) AS plus3mo,
        |  d + 30 AS plus30d,
        |  CAST(date_diff('day', d, DATE '2000-01-01') AS BIGINT)
        |    AS days_to_y2k,
        |  d + CASE WHEN (8 - CAST(extract(dow FROM d) AS INT)) % 7 = 0
        |    THEN 7 ELSE (8 - CAST(extract(dow FROM d) AS INT)) % 7 END
        |    AS next_monday
        |FROM b ORDER BY o_orderkey""".stripMargin,

    "q92_disc_mode" -> discModeSql,

    // Same lead-window formulation over the same total (us, event_id)
    // order; all integer (cents × µs, Long-safe at this span).
    "q93_twa" ->
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |w AS (SELECT user_id, us, x,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dt
        |  FROM b),
        |a AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(x * dt) AS BIGINT) AS num,
        |    max(us) - min(us) AS den
        |  FROM w GROUP BY user_id)
        |SELECT user_id, n_events, num, den, num // den AS twa_cents
        |FROM a WHERE den > 0 ORDER BY user_id""".stripMargin,

    // The map exists only on the engine side — the oracle computes
    // every output directly from the source columns (the q46
    // independent-encodings inversion), so an engine-side value that
    // survives build → concat → extract unchanged proves MapType
    // semantics.
    "q94_map_roundtrip" ->
      """SELECT doc_id,
        |  n_chars AS chars_v,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks_v,
        |  CAST(2 * len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |    AS toks2_v,
        |  CAST(3 AS BIGINT) AS m_size,
        |  'chars,toks,toks2' AS keys_csv,
        |  CAST((CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) +
        |    (CASE WHEN len(regexp_extract_all(text, '\S+')) >= 100
        |      THEN 1 ELSE 0 END) +
        |    (CASE WHEN 2 * len(regexp_extract_all(text, '\S+')) >= 100
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Interpolated quantile boundaries (quantile_cont == Spark
    // percentile, the q41 parity), value-based bucket = count of
    // bounds strictly below — a pure function of n_toks, so ties
    // share a bucket deterministically.
    "q95_token_deciles" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |q AS (SELECT quantile_cont(n_toks,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
        |  FROM b)
        |SELECT CAST(len(list_filter(bounds,
        |    x -> CAST(n_toks AS DOUBLE) > x)) AS BIGINT) AS bucket,
        |  count(*) AS n_docs, min(n_toks) AS min_toks,
        |  max(n_toks) AS max_toks, CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |FROM b CROSS JOIN q
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // q96: the q20 pattern for quantile sketches — the gated columns
    // are the EXACT percentile_disc bracket [p−δ, p+δ] in integer
    // cents plus in_band flags (oracle: literal 1); the sketch values
    // themselves never reach the hash. δ = Events.DiscDelta is
    // interpolated into BOTH SQL texts, so retuning the bracket (or
    // ApproxPercentileAccuracy, whose contract δ must contain) cannot
    // silently desync engine and oracle. The δ=0.01 rank band
    // strictly contains the sketch's rank-error contract
    // (n/accuracy + 1 ranks) for any group ≥ 102 rows.
    "q96_approx_percentile" ->
      s"""WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |p AS (SELECT event_type,
        |    CAST(percentile_disc(${Events.discP(0.5 - Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS lo50,
        |    CAST(percentile_disc(${Events.discP(0.5 + Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS hi50,
        |    CAST(percentile_disc(${Events.discP(0.9 - Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS lo90,
        |    CAST(percentile_disc(${Events.discP(0.9 + Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS hi90,
        |    count(*) AS n
        |  FROM b GROUP BY event_type)
        |SELECT event_type, n, lo50, hi50, lo90, hi90,
        |  CAST(1 AS BIGINT) AS ap50_in_band,
        |  CAST(1 AS BIGINT) AS ap90_in_band
        |FROM p ORDER BY event_type""".stripMargin,

    // DuckDB's regexp_extract with group index mirrors Spark's; the
    // num_matches_key column must be all-1 on both sides.
    "q97_regex_battery" ->
      """SELECT c_custkey,
        |  CAST(regexp_extract(c_name, '#(\d+)', 1) AS BIGINT) AS name_num,
        |  CAST(len(regexp_extract_all(c_mktsegment, '[AEIOU]+'))
        |    AS BIGINT) AS n_vowel_runs,
        |  CASE WHEN regexp_matches(c_name, '00$')
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ends_00,
        |  CASE WHEN CAST(regexp_extract(c_name, '#(\d+)', 1) AS BIGINT)
        |      = c_custkey
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |    AS num_matches_key
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // DuckDB's ^ is exponentiation — XOR via xor(); pmod restated as
    // ((x % m) + m) % m. All BIGINT-exact.
    "q98_bit_battery" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS and255,
        |  o_orderkey | 4096 AS or4096,
        |  xor(o_orderkey, 777) AS xor777,
        |  o_orderkey << 3 AS shl3,
        |  o_orderkey >> 2 AS shr2,
        |  CAST(bit_count(o_orderkey) AS BIGINT) AS pop,
        |  ((2500 - o_orderkey) % 7 + 7) % 7 AS pm7,
        |  abs(o_orderkey - 5000) AS absd,
        |  CAST(CASE WHEN o_orderkey > 5000 THEN 1
        |    WHEN o_orderkey < 5000 THEN -1 ELSE 0 END AS BIGINT) AS sgn
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Posting prefix = the sorted doc-id list sliced to the cap
    // (PostingCap = 16, pinned to TextAnalysis.PostingCap); df is the
    // full distinct-doc count.
    "q99_inverted_index" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(list_distinct(regexp_extract_all(text, '\S+'))) AS term
        |  FROM documents),
        |g AS (SELECT term, count(*) AS dfreq,
        |    list_sort(list(doc_id)) AS all_docs
        |  FROM tok GROUP BY term)
        |SELECT term, dfreq,
        |  CAST(least(dfreq, 16) AS BIGINT) AS n_posting,
        |  array_to_string(all_docs[1:16], ',') AS posting_csv
        |FROM g ORDER BY term""".stripMargin,

    // Ratio-to-report in exact integer ppm; the oracle uses the
    // window-over-() formulation the engine deliberately avoids —
    // same values, independent plans.
    "q100_type_shares" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS type_cents FROM b
        |  GROUP BY event_type)
        |SELECT event_type, n, type_cents,
        |  CAST(type_cents * 1000000 //
        |    (sum(type_cents) OVER ()) AS BIGINT) AS cents_ppm,
        |  CAST(n * 1000000 // (sum(n) OVER ()) AS BIGINT) AS count_ppm
        |FROM g ORDER BY event_type""".stripMargin,

    // Composed pipeline: the q19 gaps-and-islands session count
    // joined to the q83 chained funnel CTEs with the 6-hour
    // step-conversion horizon (21600000000 µs =
    // Events.ProfileHorizonUs — the unbounded funnel saturates on
    // this corpus), summarized per stage reached. uid/session sums
    // are exact integer identities over WHICH users landed in each
    // stage.
    "q101_user_profiles" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |ns AS (SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        |  FROM m GROUP BY user_id),
        |v AS (SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS t2 FROM e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > t1
        |    AND us <= t1 + 21600000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS t3 FROM e
        |  JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2
        |    AND us <= t2 + 21600000000 GROUP BY e.user_id),
        |prof AS (SELECT ns.user_id, ns.n_sessions,
        |    CASE WHEN p.user_id IS NOT NULL THEN 3
        |      WHEN c.user_id IS NOT NULL THEN 2
        |      WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM ns LEFT JOIN v USING (user_id)
        |    LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        |SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  CAST(sum(n_sessions) AS BIGINT) AS sessions_sum
        |FROM prof GROUP BY stage ORDER BY stage""".stripMargin,

    // Distinct (user, epoch-day) activity → per-user first day →
    // offset histogram; same integer epoch-day math on both sides.
    "q102_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY user_id)
        |SELECT day - d0 AS day_offset, count(*) AS n_users,
        |  CAST(sum(days.user_id) AS BIGINT) AS uid_sum
        |FROM days JOIN f ON days.user_id = f.user_id
        |GROUP BY day_offset ORDER BY day_offset""".stripMargin,

    // The q81 binary-length log2 bucket over lag() gaps; zero gaps
    // (same-µs events) take bucket -1 by convention on both sides.
    "q103_interarrival" ->
      """WITH e AS (SELECT event_type, user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS dt
        |  FROM e),
        |b AS (SELECT event_type, dt,
        |    CASE WHEN dt = 0 THEN CAST(-1 AS BIGINT)
        |      ELSE CAST(length(printf('%b', dt)) - 1 AS BIGINT) END
        |      AS bucket
        |  FROM g WHERE dt IS NOT NULL)
        |SELECT event_type, bucket, count(*) AS n,
        |  CAST(sum(dt) AS BIGINT) AS sum_dt_us
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "q104_filter_agg" -> filterAggSql,
    "q107_grouping_meta" -> groupingMetaSql,
    "q105_nulls_order" -> nullsOrderSql,

    // DuckDB's native recursive CTE over the same ancestor closure;
    // only the integer-division spelling differs (`//` vs `div`).
    "q108_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_custkey AS BIGINT) AS anc, CAST(0 AS BIGINT) AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT node, anc // 2 AS anc, depth + 1 AS depth
        |  FROM anc WHERE anc > 1
        |)
        |SELECT node, anc, depth FROM anc ORDER BY node, depth""".stripMargin,

    // q162: PG 14 SEARCH DEPTH/BREADTH FIRST desugared per PG's own
    // definition — DuckDB builds the path with ITS list primitives
    // (list_append, // division, array_to_string) and ranks with its
    // own lexicographic list ordering; independent encodings.
    "q162_search_order" ->
      """WITH RECURSIVE t AS (
        |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth,
        |    [CAST(1 AS BIGINT)] AS path
        |  UNION ALL
        |  SELECT CAST(c.c_custkey AS BIGINT), t.depth + 1,
        |    list_append(t.path, CAST(c.c_custkey AS BIGINT))
        |  FROM t JOIN customer c ON c.c_custkey // 2 = t.node
        |    AND c.c_custkey > 1
        |)
        |SELECT row_number() OVER (ORDER BY path) AS dfs_rank,
        |  row_number() OVER (ORDER BY depth, node) AS bfs_rank,
        |  node, depth, array_to_string(path, '/') AS path_str
        |FROM t ORDER BY dfs_rank""".stripMargin,

    // q108b: DuckDB's NATIVE `WITH RECURSIVE … UNION` (per-iteration
    // dedup against everything already produced — the PG semantics
    // Spark's UNION ALL-only recursion lacks) over the same two-edge
    // converging-path DAG the engine closes with its iterative
    // dropDuplicates + anti-join loop.
    "q108b_recursive_union" ->
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_custkey AS BIGINT) AS anc
        |  FROM customer
        |  UNION
        |  SELECT a.node, a.anc // d.v AS anc
        |  FROM anc a, (VALUES (2), (3)) d(v)
        |  WHERE a.anc // d.v >= 1 AND a.anc // d.v < a.anc
        |)
        |SELECT node, anc FROM anc ORDER BY node, anc""".stripMargin,

    // q116: engine-RNG sampling is never hash-comparable, so the
    // oracle pins the PROPERTY columns (subset, determinism, 6σ
    // binomial size band) to literals and computes only the corpus
    // anchor n_source itself.
    "q116_tablesample" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_source,
        |  CAST(0 AS BIGINT) AS not_in_source,
        |  CAST(0 AS BIGINT) AS n_diff,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM documents""".stripMargin,

    // One SQL text, two planners (the q51 pattern).
    "q109_lateral_join" -> lateralSql,
    "q112_null_safe" -> nullSafeSql,
    "q113_bool_agg" -> boolAggSql,
    "q115_percentile_cont" -> percentileContSql,

    // q115b: PG's multi-percentile ordered-set form, DuckDB-native —
    // percentile_cont(ARRAY[…]) WITHIN GROUP, ONE sort per group
    // serving four cut points, slots extracted to scalars because raw
    // array columns don't hash-compare stably cross-engine (q121
    // finding). Engine side: Spark's array-fraction `percentile`.
    "q115b_percentile_array" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |p AS (SELECT event_type,
        |    percentile_cont(ARRAY[0.25, 0.5, 0.75, 0.9])
        |      WITHIN GROUP (ORDER BY x) AS ps,
        |    count(*) AS n
        |  FROM b GROUP BY event_type)
        |SELECT event_type,
        |  round(ps[1], 6) AS p25, round(ps[2], 6) AS p50,
        |  round(ps[3], 6) AS p75, round(ps[4], 6) AS p90, n
        |FROM p ORDER BY event_type""".stripMargin,

    "q117_named_window" -> namedWindowSql,
    "q119_limit_offset" -> limitOffsetSql,
    "q140_bit_aggs" -> bitAggSql,

    // q138: the published width_bucket contract restated from FIRST
    // PRINCIPLES (this DuckDB predates native width_bucket) — CASE
    // branches for the underflow/overflow buckets, multiply-before-
    // divide floor arithmetic in the engine kernel's association so
    // the IEEE doubles agree bit-for-bit. Both the ascending and the
    // descending-bounds mirror, exact-cent min/max per cell.
    "q138_width_bucket" ->
      """WITH b AS (SELECT event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN value < 50.0 THEN 0
        |         WHEN value >= 450.0 THEN 9
        |         ELSE CAST(floor(8.0 * (value - 50.0) / 400.0) AS BIGINT) + 1
        |    END AS b_asc,
        |    CASE WHEN value > 450.0 THEN 0
        |         WHEN value <= 50.0 THEN 9
        |         ELSE CAST(floor(8.0 * (450.0 - value) / 400.0) AS BIGINT) + 1
        |    END AS b_desc
        |  FROM events)
        |SELECT event_type, b_asc, b_desc, count(*) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents
        |FROM b GROUP BY event_type, b_asc, b_desc
        |ORDER BY event_type, b_asc, b_desc""".stripMargin,

    // q139: C-style strftime vs the engine's Java DateTimeFormatter
    // patterns — two unrelated pattern languages rendering the same
    // English names (DuckDB strftime is C-locale; Spark formats
    // under Locale.US) and zero-padded numerics.
    "q139_date_format" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders)
        |SELECT o_orderkey,
        |  strftime(d, '%Y-%m') AS ym,
        |  strftime(d, '%Y%m%d') AS ymd_compact,
        |  strftime(d, '%a') AS dow_abbrev,
        |  strftime(d, '%A') AS dow_full,
        |  strftime(d, '%b') AS mon_abbrev,
        |  strftime(d, '%B') AS mon_full,
        |  strftime(d, '%j') AS doy_padded,
        |  strftime(d, '%a, %d %b %Y') AS report_label
        |FROM b ORDER BY o_orderkey""".stripMargin,

    // q120: DuckDB's NATIVE correlated quantified comparisons vs the
    // engine's aggregate+CASE three-valued emulation (Spark has no
    // ALL/ANY subqueries) — independent encodings; the shared CTE
    // prologue injects the NULLs that make every 3VL branch fire.
    "q120_quantified_cmp" ->
      s"""WITH $quantifiedCte
         |SELECT c.c_custkey, c.bal,
         |  CAST(c.bal > ALL (SELECT v FROM o
         |    WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS gt_all,
         |  CAST(c.bal < ANY (SELECT v FROM o
         |    WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS lt_any
         |FROM c ORDER BY c.c_custkey""".stripMargin,

    // q121: DuckDB's native ordered array_agg + list slicing vs the
    // engine's sort-encoded collect (Spark collect_list has no order
    // contract) — both projected to a fingerprint because raw array
    // columns don't hash-compare stably cross-engine.
    "q121_array_agg_order" ->
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  (array_agg(x ORDER BY us, event_id))[1] AS first_x,
        |  md5(array_to_string(
        |    (array_agg(CAST(x AS VARCHAR) ORDER BY us, event_id))[1:5],
        |    ' ')) AS first5_fp
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q136: DuckDB's native ordered array_agg sliced THEN serialized
    // by its own JSON writer — the hash covers the exact JSON bytes
    // both engines print for the ordered payload.
    "q136_json_agg" ->
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  to_json((array_agg(struct_pack(u := us, x := x)
        |    ORDER BY us, event_id))[1:3])::VARCHAR AS first3_json
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q122: the DEFINITIONAL encoding of FETCH FIRST 48 WITH TIES —
    // rank() <= 48 — vs the engine's boundary-key decomposition
    // (top-n reduce + broadcast <= filter): independent encodings;
    // neither engine parses WITH TIES natively. 48 (not 50) so the
    // boundary day has real ties at both gate SFs.
    "q122_fetch_ties" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM (SELECT *, rank() OVER (ORDER BY o_orderdate) AS r
        |  FROM orders)
        |WHERE r <= 48 ORDER BY o_orderkey""".stripMargin,

    // q123: first-principles regression from EXACT integer sums
    // (HUGEINT Σx/Σy/Σxy/Σx²/Σy², cast to DOUBLE only at the final
    // ratios) vs Spark's native streaming regr_* moment aggregates —
    // the gate proves the one-pass states reproduce the closed form.
    "q123_regr" ->
      """WITH b AS (SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM b GROUP BY flag)
        |SELECT flag, CAST(n AS BIGINT) AS n_pairs,
        |  round(CAST(sx AS DOUBLE) / n, 6) AS avgx,
        |  round(CAST(sy AS DOUBLE) / n, 6) AS avgy,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 2) AS slope,
        |  round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / n, 2) AS icept,
        |  round(pow(CAST(n * sxy - sx * sy AS DOUBLE), 2)
        |    / (CAST(n * sxx - sx * sx AS DOUBLE)
        |       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM s ORDER BY flag""".stripMargin,

    // q124: DuckDB's generate_series TABLE function + parenthesized
    // VALUES vs the engine's explode(sequence) + Spark VALUES —
    // independent encodings of the series and inline-table surfaces.
    "q124_calendar_spine" ->
      """WITH spine AS (
        |  SELECT CAST(gs AS DATE) AS d
        |  FROM generate_series(DATE '1995-01-01', DATE '1995-06-30',
        |    INTERVAL 1 DAY) t(gs)),
        |daily AS (
        |  SELECT o_orderdate AS d, count(*) AS n_orders,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_orderdate),
        |w AS (SELECT * FROM (VALUES (1, 10), (2, 25)) t(q, weight))
        |SELECT s.d, CAST(quarter(s.d) AS BIGINT) AS qtr,
        |  coalesce(dl.n_orders, 0) AS n_orders,
        |  CAST(coalesce(dl.cents, 0) AS BIGINT) AS cents,
        |  CAST(coalesce(dl.n_orders, 0) * w.weight AS BIGINT)
        |    AS weighted
        |FROM spine s
        |JOIN w ON w.q = quarter(s.d)
        |LEFT JOIN daily dl ON dl.d = s.d
        |ORDER BY s.d""".stripMargin,

    // q125: DuckDB's DISTINCT-modified aggregates — the multi-arg
    // variant spelled `count(DISTINCT (a, b))` (struct row) vs
    // Spark's `count(DISTINCT a, b)`; sum(DISTINCT BIGINT) widens to
    // HUGEINT there, hence the CAST.
    "q125_distinct_aggs" ->
      """SELECT l_returnflag AS flag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT (l_partkey, l_suppkey)) AS nd_pair,
        |  CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS sum_dq,
        |  round(avg(DISTINCT CAST(l_quantity AS BIGINT)), 6) AS avg_dq,
        |  count(*) AS n
        |FROM lineitem GROUP BY flag ORDER BY flag""".stripMargin,

    // q126: the same logical query with the parameters INLINED as
    // literals — proves Spark's :param binding is semantically
    // identical to literal substitution.
    "q126_named_params" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  c_mktsegment AS seg
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |WHERE o_totalprice > 150000
        |  AND o_orderdate < CAST('1996-01-01' AS DATE)
        |  AND c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,

    "q128_bool_test" -> boolTestSql,
    "q129_any_value" -> anyValueSql,

    // q134: same standard spellings where this DuckDB has them;
    // OVERLAY emulated from the standard's definition
    // prefix || placing || suffix (substr arithmetic) — independent
    // encoding for exactly the columns the engine runs natively.
    "q134_std_strings" ->
      """SELECT c_custkey,
        |  substring(c_name FROM 3 FOR 8) AS sub,
        |  TRIM(LEADING 'C' FROM c_name) AS ltrim_c,
        |  TRIM(TRAILING '01' FROM c_name) AS rtrim_01,
        |  TRIM(BOTH ' ' FROM concat(' ', c_name, ' ')) AS btrim_sp,
        |  CAST(POSITION('#' IN c_name) AS BIGINT) AS pos_hash,
        |  concat(substring(c_name, 1, 9), '***',
        |    substring(c_name, 13)) AS ovl,
        |  concat(substring(c_name, 1, 3), '**',
        |    substring(c_name, 10)) AS ovl_for,
        |  CAST(concat(c_name,
        |      CASE WHEN c_custkey % 2 = 0 THEN '_x' ELSE 'yx' END)
        |    LIKE '%!_x' ESCAPE '!' AS BIGINT) AS like_esc
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // q131: the oracle derives OVERLAPS from non-overlap negation and
    // BETWEEN SYMMETRIC from explicit CASE bound-swapping — different
    // algebra than the engine's least/greatest normalization.
    // The engine's parity-swapped probe endpoints and n1/n2 bounds
    // normalize to the SAME constants every row — so the oracle
    // hardcodes the normalized [1995-04-01, 1995-06-30) probe and
    // [5000000, 20000000] bounds, proving the engine's least/greatest
    // normalization did its job on the swapped rows.
    "q131_range_predicates" ->
      """WITH b AS (SELECT o_orderkey,
        |    CAST(o_orderdate AS DATE) AS s1,
        |    CAST(o_orderdate AS DATE) + 30 AS e1,
        |    CASE WHEN o_orderkey % 13 = 0 THEN CAST(NULL AS BIGINT)
        |         ELSE CAST(round(o_totalprice * 100) AS BIGINT)
        |         END AS cents
        |  FROM orders)
        |SELECT o_orderkey, cents,
        |  CAST(NOT (e1 <= DATE '1995-04-01' OR DATE '1995-06-30' <= s1)
        |    AS BIGINT) AS ovl,
        |  CAST(cents >= 5000000 AND cents <= 20000000 AS BIGINT) AS sym
        |FROM b ORDER BY o_orderkey""".stripMargin,

    // q132: DuckDB's NATIVE time_bucket(stride, ts, origin) vs the
    // engine's exact integer-micros bin arithmetic — independent
    // encodings of PG 14's date_bin.
    "q132_date_bin" ->
      """SELECT event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  epoch_us(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP),
        |    TIMESTAMP '1970-01-01 00:05:00')) AS bin_us
        |FROM events ORDER BY event_id""".stripMargin,

    // q130: DuckDB replays the retrieval from its own list/regexp
    // primitives — list_filter term counters, conditional df sums,
    // and the SAME fixed-order score expression (an unordered SUM of
    // double contributions would be association-order-nondeterministic
    // for equal-profile docs); selection by raw score, rounded only
    // in the output.
    // q130 (r18): the three idf logs are FixedLog staged chains over
    // the single-row normalizer — raw_i is an exact integer on both
    // engines; no libm anywhere in the gate.
    "q130_ranked_search" -> {
      val Seq(t1, t2, t3) = TextAnalysis.SearchTerms
      val fl = graft.functions.FixedLog
      val (ca, fa) = fl.sqlStagedCtes("s", "n_docs", "df_a", 9, "lnq130a_")
      val (cb, fb) = fl.sqlStagedCtes("sa", "n_docs", "df_b", 9, "lnq130b_")
      val (cc, fc) = fl.sqlStagedCtes("sb", "n_docs", "df_c", 9, "lnq130c_")
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t1')) AS BIGINT) AS tf_a,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t2')) AS BIGINT) AS tf_b,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t3')) AS BIGINT) AS tf_c
         |  FROM documents),
         |s AS (SELECT
         |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_a,
         |    CAST(sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_b,
         |    CAST(sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_c,
         |    count(*) AS n_docs FROM c),
         |$ca,
         |sa AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_a FROM $fa),
         |$cb,
         |sb AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_b FROM $fb),
         |$cc,
         |sc AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_c FROM $fc),
         |r AS (SELECT doc_id, tf_a, tf_b, tf_c,
         |    tf_a * ln_a + tf_b * ln_b + tf_c * ln_c AS raw_i
         |  FROM c, sc WHERE tf_a + tf_b + tf_c > 0)
         |SELECT doc_id, tf_a, tf_b, tf_c, round(raw_i / 1e9, 6) AS score
         |FROM r ORDER BY raw_i DESC, doc_id LIMIT 10""".stripMargin
    },

    // q171: DuckDB replays BM25 from its own list primitives — the
    // q130 counters plus non-empty-token doc length, the same
    // fixed-order three-term score with identical decimal literals
    // (k1 = 1.2, b = 0.75, k1+1 = 2.2, 1−b = 0.25 — both parsers bind
    // them to the same doubles), selection by raw score. r18: the idf
    // is the FixedLog integer ln of (2N+2)/(2df+1) — the only libm
    // call is gone; the remaining float factor is identical IEEE
    // arithmetic on identical integers.
    "q171_bm25_search" -> {
      val Seq(t1, t2, t3) = TextAnalysis.SearchTerms
      val fl = graft.functions.FixedLog
      val (ca, fa) = fl.sqlStagedCtes("s", "(2*n_docs + 2)", "(2*df_a + 1)",
        9, "lnq171a_")
      val (cb, fb) = fl.sqlStagedCtes("sa", "(2*n_docs + 2)", "(2*df_b + 1)",
        9, "lnq171b_")
      val (cc, fc) = fl.sqlStagedCtes("sb", "(2*n_docs + 2)", "(2*df_c + 1)",
        9, "lnq171c_")
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t1')) AS BIGINT) AS tf_a,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t2')) AS BIGINT) AS tf_b,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t3')) AS BIGINT) AS tf_c,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS dl
         |  FROM documents),
         |s AS (SELECT
         |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_a,
         |    CAST(sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_b,
         |    CAST(sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_c,
         |    count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM c),
         |$ca,
         |sa AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_a FROM $fa),
         |$cb,
         |sb AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_b FROM $fb),
         |$cc,
         |sc AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_c FROM $fc),
         |r AS (SELECT doc_id, tf_a, tf_b, tf_c, dl,
         |    (ln_a / 1e9)
         |      * (CAST(tf_a AS DOUBLE) * 2.2)
         |      / (CAST(tf_a AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    + (ln_b / 1e9)
         |      * (CAST(tf_b AS DOUBLE) * 2.2)
         |      / (CAST(tf_b AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    + (ln_c / 1e9)
         |      * (CAST(tf_c AS DOUBLE) * 2.2)
         |      / (CAST(tf_c AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    AS raw
         |  FROM c, sc WHERE tf_a + tf_b + tf_c > 0)
         |SELECT doc_id, tf_a, tf_b, tf_c, dl, round(raw, 6) AS score
         |FROM r ORDER BY raw DESC, doc_id LIMIT 10""".stripMargin
    },

    // q172: DuckDB replays the int8 quantization (scale = amax/127,
    // floor(x/scale + 0.5) — floor, not round(): the engines' round()
    // half-way rules differ while floor is IEEE-identical), the EXACT
    // integer code dot (order-free), the scale-product approximate
    // rank, and the full-precision cosine re-rank on candidates only.
    "q172_sq_ann" ->
      s"""WITH qn AS (SELECT vec_id, embedding,
         |    CAST(list_aggregate(list_transform(embedding, x -> abs(x)),
         |      'max') AS DOUBLE) / 127.0 AS scale
         |  FROM embeddings),
         |qv AS (SELECT vec_id, embedding, scale,
         |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
         |      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)
         |      END) AS qvec
         |  FROM qn),
         |q AS (SELECT vec_id AS qid, embedding AS qe, scale AS qscale,
         |    qvec AS qqv FROM qv WHERE vec_id < 20),
         |p AS (SELECT qid, v.vec_id AS vb, qe, v.embedding AS eb, qscale,
         |    v.scale AS dscale, qqv, v.qvec AS dqv
         |  FROM qv v CROSS JOIN q WHERE v.vec_id <> qid),
         |x AS (SELECT qid, vb, qqv, dqv, unnest(range(1, 65)) AS i FROM p),
         |d AS (SELECT qid, vb, CAST(sum(qqv[i] * dqv[i]) AS BIGINT) AS qdot
         |  FROM x GROUP BY qid, vb),
         |a AS (SELECT p.qid, p.vb, p.qe, p.eb, d.qdot,
         |    round(CAST(d.qdot AS DOUBLE) * p.qscale * p.dscale, 6) AS approx
         |  FROM p JOIN d ON p.qid = d.qid AND p.vb = d.vb),
         |c AS (SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY approx DESC, vb) AS crk FROM a),
         |cand AS (SELECT qid, vb, qe, eb, qdot, approx FROM c WHERE crk <= 20),
         |x2 AS (SELECT qid, vb, qe AS ea, eb, unnest(range(1, 65)) AS i
         |  FROM cand),
         |s2 AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x2 GROUP BY qid, vb),
         |sim2 AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s2),
         |r AS (SELECT cand.qid, cand.vb, cand.qdot, cand.approx, sim2.sim,
         |    CAST(row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY sim2.sim DESC, cand.vb) AS BIGINT) AS rk
         |  FROM cand JOIN sim2 ON cand.qid = sim2.qid AND cand.vb = sim2.vb)
         |SELECT qid, rk, vb AS neighbor, qdot, approx, sim FROM r
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // q127: DuckDB replays the SAME exponential clocks — md5 prefix
    // decoded via the '0x' hex cast (vs Spark's conv), ln, and its
    // own window rank — so the oracle independently derives WHICH
    // docs the Efraimidis–Spirakis draw selects.
    "q127_weighted_sample" ->
      """WITH b AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS wt,
        |    CAST(('0x' || substring(
        |      md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |      AS v
        |  FROM documents WHERE n_chars > 0),
        |kx AS (SELECT doc_id, lang, wt,
        |    -ln((v + 1) / 4503599627370496.0) / wt AS key FROM b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY key, doc_id) AS rk FROM kx)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
        |  CAST(wt AS BIGINT) AS w_chars, round(key, 9) AS key
        |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    // q118: IGNORE NULLS window offsets — the engine side is the
    // DataFrame API (lag/lead/first/last with the ignoreNulls flag),
    // the oracle DuckDB's `f(x IGNORE NULLS)` spelling: independent
    // encodings of skip-the-nulls offset semantics (PG itself lacks
    // IGNORE NULLS; it is the standard's spelling of the carry-
    // forward idiom the q75 gap-fill relies on, gated explicitly).
    "q118_ignore_nulls" ->
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN event_id % 3 = 0 THEN NULL
        |      ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events)
        |SELECT user_id, event_id, v,
        |  last_value(v IGNORE NULLS) OVER w AS carry,
        |  lag(v IGNORE NULLS) OVER w AS prev_nn,
        |  lead(v IGNORE NULLS) OVER w AS next_nn,
        |  first_value(v IGNORE NULLS) OVER w AS first_nn
        |FROM b
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // unnest + generate_subscripts — DuckDB's independent encoding of
    // WITH ORDINALITY (the q78-oracle idiom, here as its own gate).
    "q114_ordinality" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(text, '\S+') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok,
        |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM t)
        |SELECT doc_id, ord, tok FROM tok WHERE ord <= 5
        |ORDER BY doc_id, ord""".stripMargin,

    // DuckDB's NATIVE window FILTER vs the engine's CASE-projection
    // emulation (Spark has no window FILTER) — independent encodings
    // of the same running conditional aggregate.
    "q111_window_filter" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  CAST(o_totalprice > 150000 AS BIGINT) AS is_big,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_totalprice > 150000) OVER w
        |    AS BIGINT) AS run_big_cents,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 150000) OVER w
        |    AS BIGINT) AS run_big_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_orderkey""".stripMargin,

    // The oracle derives the GROUPS frame from FIRST PRINCIPLES (this
    // DuckDB predates native GROUPS mode, and a first-principles
    // encoding is the stronger check anyway): the frame of a row is
    // BY DEFINITION the rows whose ORDER value is the row's own x or
    // the previous distinct x in its partition — materialized as two
    // equi-joins — and each EXCLUDE variant is a FILTER over that row
    // set. SUM FILTER over an emptied set is NULL, which reproduces
    // the empty-frame NULLs without any special-casing.
    "q110_groups_frame" ->
      """WITH b AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x, user_id AS w
        |  FROM events),
        |d AS (SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY x) AS px
        |  FROM (SELECT DISTINCT event_type, x FROM b)),
        |pairs AS (
        |  SELECT r.event_id AS rid, r.x AS rx, s.event_id AS sid,
        |    s.x AS sx, s.w AS sw
        |  FROM b r JOIN b s
        |    ON s.event_type = r.event_type AND s.x = r.x
        |  UNION ALL
        |  SELECT r.event_id, r.x, s.event_id, s.x, s.w
        |  FROM b r
        |  JOIN d ON d.event_type = r.event_type AND d.x = r.x
        |  JOIN b s ON s.event_type = r.event_type AND s.x = d.px),
        |f AS (SELECT rid,
        |    CAST(sum(sw) AS BIGINT) AS g_sum,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx) AS BIGINT) AS x_group,
        |    CAST(sum(sw) FILTER (WHERE sid <> rid) AS BIGINT) AS x_row,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx OR sid = rid)
        |      AS BIGINT) AS x_ties
        |  FROM pairs GROUP BY rid)
        |SELECT b.event_id, b.event_type, b.x, b.w,
        |  g_sum, x_group, x_row, x_ties
        |FROM b JOIN f ON b.event_id = f.rid
        |ORDER BY b.event_id""".stripMargin,

    // q110b: the q110 first-principles oracle generalized to GROUPS
    // 3 PRECEDING AND 1 FOLLOWING — instead of materializing "my x or
    // the previous distinct x" with two equi-joins, dense-rank the
    // distinct ORDER values once and band-join rows whose group
    // ranks are within [-3, +1] of the current row's. The EXCLUDE
    // variants stay the same FILTER aggregates over that row set
    // (FILTER over an emptied set is NULL — reproduces the
    // empty-frame NULLs with no special-casing).
    "q110b_groups_frame_wide" ->
      """WITH b AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x, user_id AS w
        |  FROM events),
        |d AS (SELECT event_type, x,
        |    CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS dr
        |  FROM (SELECT DISTINCT event_type, x FROM b)),
        |br AS (SELECT b.event_id, b.event_type, b.x, b.w, d.dr
        |  FROM b JOIN d ON d.event_type = b.event_type AND d.x = b.x),
        |pairs AS (
        |  SELECT r.event_id AS rid, r.x AS rx, s.event_id AS sid,
        |    s.x AS sx, s.w AS sw
        |  FROM br r JOIN br s
        |    ON s.event_type = r.event_type
        |    AND s.dr BETWEEN r.dr - 3 AND r.dr + 1),
        |f AS (SELECT rid,
        |    CAST(sum(sw) AS BIGINT) AS g_sum,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx) AS BIGINT) AS x_group,
        |    CAST(sum(sw) FILTER (WHERE sid <> rid) AS BIGINT) AS x_row,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx OR sid = rid)
        |      AS BIGINT) AS x_ties
        |  FROM pairs GROUP BY rid)
        |SELECT b.event_id, b.event_type, b.x, b.w,
        |  g_sum, x_group, x_row, x_ties
        |FROM b JOIN f ON b.event_id = f.rid
        |ORDER BY b.event_id""".stripMargin,

    // The oracle joins the ORIGINAL parquet — the engine side goes
    // through CSV/JSON re-writes of the dims, so any format
    // round-trip mangling breaks the hash (the q74 plain-oracle
    // pattern applied to the format selector).
    "q106_federated" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    // q200: the oracle decodes the 4-hex-digit shard the strpos way
    // (the q47 idiom) and re-ranks by the same md5 string — ASCII hex
    // sorts identically in both engines.
    "q200_epoch_shuffle" ->
      s"""WITH d AS (SELECT doc_id,
         |    md5('epoch:1:' || CAST(doc_id AS VARCHAR)) AS skey
         |  FROM documents),
         |s AS (SELECT doc_id, skey, CAST(
         |    ((((strpos('0123456789abcdef', skey[1]) - 1) * 16
         |      + strpos('0123456789abcdef', skey[2]) - 1) * 16
         |      + strpos('0123456789abcdef', skey[3]) - 1) * 16
         |      + strpos('0123456789abcdef', skey[4]) - 1)
         |      % ${Curation.EpochShards} AS BIGINT) AS shard FROM d)
         |SELECT shard, CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY skey, doc_id) AS BIGINT) AS pos, doc_id
         |FROM s ORDER BY shard, pos""".stripMargin,

    // q201: q30's cosine machinery plus the label split — hardest
    // positive re-derived as a per-anchor min, negatives ranked the
    // same way the engine's heap ranks them.
    "q201_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, qlabel, e.vec_id AS vb, e.label AS lb,
         |    qe AS ea, e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |x AS (SELECT qid, qlabel, vb, lb, ea, eb,
         |    unnest(range(1, 65)) AS i FROM p),
         |s AS (SELECT qid, qlabel, vb, lb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, qlabel, vb, lb),
         |sim AS (SELECT qid, qlabel, vb, lb,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |pos AS (SELECT qid, min(sim) AS pos_sim FROM sim
         |  WHERE lb = qlabel GROUP BY qid),
         |neg AS (SELECT qid, vb, sim, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, vb) AS BIGINT) AS rk
         |  FROM sim WHERE lb <> qlabel)
         |SELECT n.qid, n.rk, n.vb AS neighbor, n.sim, p.pos_sim,
         |  CAST(n.sim < p.pos_sim AS BIGINT) AS is_semihard
         |FROM neg n LEFT JOIN pos p ON n.qid = p.qid
         |WHERE n.rk <= 5 ORDER BY n.qid, n.rk""".stripMargin,

    // q202: the q45b bin assignment re-derived, then the waste
    // report's integer arithmetic replayed; both overflow terms stay
    // non-negative so `//` and Spark's `div` agree.
    "q202_packing_efficiency" ->
      """WITH d AS (SELECT doc_id // 64 AS shard, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d),
        |b AS (SELECT shard, (run - n_tok) // 2048 AS bin,
        |    count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |  FROM c GROUP BY shard, bin),
        |t AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
        |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |    CAST(sum(bin_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(min(bin_tokens) AS BIGINT) AS min_bin_fill,
        |    CAST(max(bin_tokens) AS BIGINT) AS max_bin_fill
        |  FROM b GROUP BY shard)
        |SELECT shard, n_bins, n_docs, sum_tokens,
        |  n_bins * 2048 AS capacity,
        |  greatest(n_bins * 2048 - sum_tokens, 0) * 1000000
        |    // (n_bins * 2048) AS waste_ppm,
        |  greatest(sum_tokens - n_bins * 2048, 0) AS overflow_tokens,
        |  min_bin_fill, max_bin_fill
        |FROM t ORDER BY shard""".stripMargin,

    // q203: decimals constructed from integer digits on both sides —
    // never by dividing a decimal (scale/rounding rules differ) —
    // and rendered as text so the digits themselves are pinned.
    "q203_decimal_exact" ->
      """WITH b AS (SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |  FROM lineitem),
        |d AS (SELECT l_returnflag, l_linestatus,
        |    CAST(price_c // 100 || '.' ||
        |      lpad(CAST(price_c % 100 AS VARCHAR), 2, '0')
        |      AS DECIMAL(18,2)) AS price_d,
        |    price_c * (100 - disc_c) AS rev_u FROM b),
        |e AS (SELECT l_returnflag, l_linestatus, price_d,
        |    CAST(rev_u // 10000 || '.' ||
        |      lpad(CAST(rev_u % 10000 AS VARCHAR), 4, '0')
        |      AS DECIMAL(28,4)) AS rev_d FROM d)
        |SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(price_d) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
        |  CAST(min(price_d) AS VARCHAR) AS min_price,
        |  CAST(max(price_d) AS VARCHAR) AS max_price,
        |  CAST(CAST(sum(rev_d) AS DECIMAL(38,4)) AS VARCHAR) AS sum_revenue
        |FROM e GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // q204: DuckDB's native UNION ALL recursion carrying the path
    // list, list_contains as the stop predicate — PG 14 CYCLE
    // semantics from first principles vs the engine's driver loop.
    "q204_cycle_path" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT c_custkey % 101 AS node FROM customer),
        |walk AS (
        |  SELECT node AS start, node AS cur, CAST(0 AS BIGINT) AS depth,
        |    [node] AS path, false AS is_cycle FROM nodes
        |  UNION ALL
        |  SELECT start, (cur * 5 + 3) % 101 AS cur, depth + 1,
        |    list_append(path, (cur * 5 + 3) % 101),
        |    list_contains(path, (cur * 5 + 3) % 101)
        |  FROM walk WHERE NOT is_cycle)
        |SELECT start, depth, cur, CAST(is_cycle AS BIGINT) AS is_cycle,
        |  md5(array_to_string(path, '->')) AS path_fp
        |FROM walk ORDER BY start, depth""".stripMargin,

    // q205: DuckDB's list primitives restate the DISTINCT+ORDER BY
    // aggregate; the rendered CSV keeps arrays out of the hash (the
    // q121 finding).
    "q205_distinct_ordered_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))),
        |    ',') AS prio_csv,
        |  CAST(len(list_distinct(list(substring(o_orderpriority, 1, 1))))
        |    AS BIGINT) AS n_prio_codes
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // q206: exact-integer histogram, ln rounded to 1e-6 BEFORE the
    // regression on both engines, fit statistics rounded after.
    "q206_activity_powerlaw" ->
      """WITH a AS (SELECT user_id, count(*) AS k FROM events
        |  GROUP BY user_id),
        |h AS (SELECT k, count(*) AS n_users FROM a GROUP BY k),
        |l AS (SELECT k, n_users, round(ln(k), 6) AS lk,
        |    round(ln(n_users), 6) AS ln_n FROM h)
        |SELECT count(*) AS n_points,
        |  CAST(sum(n_users * k) AS BIGINT) AS n_events,
        |  round(regr_slope(ln_n, lk), 6) AS slope,
        |  round(regr_intercept(ln_n, lk), 6) AS intercept,
        |  round(regr_r2(ln_n, lk), 6) AS r2
        |FROM l""".stripMargin,

    // q207: first-principles dynamic-gap islands — a running max of
    // per-event proposed ends, new session at ts >= that max (the
    // [start, end) contract); vs the engine's native dynamic
    // session_window merge. All exact integer micros.
    "q207_adaptive_sessions" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN event_type = 'error' THEN 3600000000
        |         ELSE 1800000000 END AS gap_us, value FROM events),
        |m AS (SELECT *, max(us + gap_us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |s0 AS (SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end
        |    THEN 1 ELSE 0 END AS new_s FROM m),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s0)
        |SELECT user_id, min(us) AS start_us,
        |  CAST(max(us + gap_us) AS BIGINT) AS end_us,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    // q208: byte counts via octet_length(encode()) (the q32 idiom);
    // percentile_disc agrees with Spark's at every probed fraction
    // (both follow the SQL-standard smallest-cum≥p contract — probed
    // on n=10 and n=7 ladders before gating).
    "q208_fertility" ->
      """WITH d AS (SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_tok)
        |    AS BIGINT) AS tok_q1,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok)
        |    AS BIGINT) AS tok_med,
        |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_tok)
        |    AS BIGINT) AS tok_q3,
        |  CASE WHEN sum(n_tok) > 0 THEN CAST(sum(n_chars) AS BIGINT)
        |    * 1000 // CAST(sum(n_tok) AS BIGINT)
        |  END AS chars_per_tok_milli,
        |  CASE WHEN sum(n_tok) > 0 THEN CAST(sum(n_bytes) AS BIGINT)
        |    * 1000 // CAST(sum(n_tok) AS BIGINT)
        |  END AS bytes_per_tok_milli
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    // q209: the same percentile_disc cutpoints re-derived, membership
    // by the same strict > compares — no ntile anywhere.
    "q209_rfm" ->
      """WITH u AS (SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS last_ts,
        |    count(*) AS f,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |a AS (SELECT max(last_ts) AS asof_ts FROM u),
        |r AS (SELECT user_id,
        |    CAST(date_diff('day', CAST(last_ts AS DATE),
        |      CAST(asof_ts AS DATE)) AS BIGINT) AS rec, f, m
        |  FROM u CROSS JOIN a),
        |c AS (SELECT
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c0,
        |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c1,
        |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c2,
        |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c3,
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c0,
        |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c1,
        |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c2,
        |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c3,
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c0,
        |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c1,
        |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c2,
        |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c3
        |  FROM r),
        |q AS (SELECT user_id, f, m,
        |    1 + CAST(rec > rec_c0 AS BIGINT) + CAST(rec > rec_c1 AS BIGINT)
        |      + CAST(rec > rec_c2 AS BIGINT) + CAST(rec > rec_c3 AS BIGINT) AS r_q,
        |    1 + CAST(f > f_c0 AS BIGINT) + CAST(f > f_c1 AS BIGINT)
        |      + CAST(f > f_c2 AS BIGINT) + CAST(f > f_c3 AS BIGINT) AS f_q,
        |    1 + CAST(m > m_c0 AS BIGINT) + CAST(m > m_c1 AS BIGINT)
        |      + CAST(m > m_c2 AS BIGINT) + CAST(m > m_c3 AS BIGINT) AS m_q
        |  FROM r CROSS JOIN c)
        |SELECT r_q, f_q, m_q, count(*) AS n_users,
        |  CAST(sum(f) AS BIGINT) AS sum_events,
        |  CAST(sum(m) AS BIGINT) AS sum_cents
        |FROM q GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q""".stripMargin,

    // q210: q23's quality CTE (cross-engine-pinned there) feeding
    // tie-broken row_number ranks; Σd² exact, one final division.
    "q210_spearman" ->
      s"""WITH d AS (SELECT doc_id, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |  FROM e),
         |r AS (SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT) AS rq,
         |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rl
         |  FROM q),
         |s AS (SELECT count(*) AS n_docs,
         |  CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS sum_d2 FROM r)
         |SELECT n_docs, sum_d2,
         |  round(1.0 - 6.0 * sum_d2 / (n_docs * (n_docs * n_docs - 1)), 6)
         |    AS rho
         |FROM s""".stripMargin,

    // q211: band endpoints re-derived, winsorize/trim restated as
    // CASE arithmetic over the same integer cents.
    "q211_trimmed_stats" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |p AS (SELECT event_type,
        |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS p05,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS p95
        |  FROM b GROUP BY event_type)
        |SELECT b.event_type, count(*) AS n,
        |  min(p.p05) AS p05, min(p.p95) AS p95,
        |  CAST(sum(least(greatest(b.x, p.p05), p.p95)) AS BIGINT)
        |    AS winsor_sum,
        |  CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_trim,
        |  CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95 THEN b.x END)
        |    AS BIGINT) AS trim_sum,
        |  CAST(sum(least(greatest(b.x, p.p05), p.p95)) AS BIGINT)
        |    // count(*) AS winsor_cents,
        |  CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95 THEN b.x END)
        |    AS BIGINT) // CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95
        |    THEN 1 ELSE 0 END) AS BIGINT) AS trim_cents
        |FROM b JOIN p ON b.event_type = p.event_type
        |GROUP BY b.event_type ORDER BY b.event_type""".stripMargin,

    // q212: dims re-derived arithmetically (the q33 pattern — the
    // engine parses them out of real container headers), patch
    // arithmetic replayed in integer ceil-division.
    "q212_patch_grid" ->
      s"""WITH d AS (SELECT doc_id,
        |    CAST(64 + doc_id % 577 AS BIGINT) AS width,
        |    CAST(64 + doc_id % 417 AS BIGINT) AS height FROM documents),
        |g AS (SELECT doc_id, width, height,
        |    (width + 15) // 16 AS grid_w,
        |    (height + 15) // 16 AS grid_h FROM d)
        |SELECT doc_id, width, height, grid_w, grid_h,
        |  grid_w * 16 - width AS pad_w, grid_h * 16 - height AS pad_h,
        |  grid_w * grid_h AS n_patches, grid_w * grid_h + 1 AS seq_len,
         |  CAST(grid_w * grid_h > ${Multimodal.PatchBudget} AS BIGINT)
         |    AS needs_downscale
         |FROM g ORDER BY doc_id""".stripMargin,

    // q213: the pair join replayed; the power-of-two weight ladder is
    // an integer shift on both engines, shares are integer permille.
    "q213_decay_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |t AS (SELECT user_id, event_type AS touch_type, us AS t_us
         |  FROM e WHERE event_type IN ('click', 'view')),
         |c AS (SELECT user_id, event_id AS conv_id, us AS c_us
         |  FROM e WHERE event_type = 'purchase'),
         |p AS (SELECT touch_type, conv_id,
         |    (c_us - t_us) // 86400000000 AS days
         |  FROM t JOIN c USING (user_id)
         |  WHERE t_us < c_us
         |    AND c_us - t_us < ${Temporal.AttributionWindowUs}),
         |w AS (SELECT touch_type, conv_id,
         |    1 << CAST(6 - days AS INTEGER) AS w_units FROM p),
         |a AS (SELECT touch_type, count(*) AS n_touches,
         |    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
         |    CAST(sum(w_units) AS BIGINT) AS w_sum
         |  FROM w GROUP BY touch_type),
         |tt AS (SELECT CAST(sum(w_sum) AS BIGINT) AS w_total FROM a)
         |SELECT touch_type, n_touches, n_conversions, w_sum,
         |  w_sum * 1000 // w_total AS share_permille
         |FROM a CROSS JOIN tt ORDER BY touch_type""".stripMargin,

    // q214: the PQ pipeline unrolled stage by stage — subspace
    // element rows, the same one Lloyd round (round-6 argmin,
    // mean→round-6→float), ADC table, candidate rank, cosine
    // re-rank via the shared q30 machinery. Engine folds distances
    // in fixed dim order, the oracle sums group rows — round-6
    // before every compare absorbs the ulp (the q31c argument).
    "q214_pq_ann" ->
      s"""WITH sub0 AS (SELECT vec_id, embedding,
         |    unnest(range(0, 8)) AS m FROM embeddings),
         |el AS (SELECT vec_id, m, unnest(range(1, 9)) AS i,
         |    embedding AS emb FROM sub0),
         |elv AS (SELECT vec_id, m, i,
         |    CAST(emb[m * 8 + i] AS DOUBLE) AS v FROM el),
         |c0 AS (SELECT vec_id AS cid, m, i, v AS cv FROM elv
         |  WHERE vec_id < 4),
         |d0 AS (SELECT e.vec_id, e.m, c.cid,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
         |  FROM elv e JOIN c0 c ON e.m = c.m AND e.i = c.i
         |  GROUP BY e.vec_id, e.m, c.cid),
         |a0 AS (SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d0)
         |  WHERE rn = 1),
         |c1 AS (SELECT a.m, a.cid, e.i,
         |    CAST(CAST(round(avg(e.v), 6) AS FLOAT) AS DOUBLE) AS cv
         |  FROM a0 a JOIN elv e ON a.vec_id = e.vec_id AND a.m = e.m
         |  GROUP BY a.m, a.cid, e.i),
         |d1 AS (SELECT e.vec_id, e.m, c.cid,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
         |  FROM elv e JOIN c1 c ON e.m = c.m AND e.i = c.i
         |  GROUP BY e.vec_id, e.m, c.cid),
         |codes AS (SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d1)
         |  WHERE rn = 1),
         |dq AS (SELECT e.vec_id AS qid, e.m, c.cid,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS dqv
         |  FROM elv e JOIN c1 c ON e.m = c.m AND e.i = c.i
         |  WHERE e.vec_id < 20 GROUP BY e.vec_id, e.m, c.cid),
         |ap AS (SELECT q.qid, k.vec_id, round(sum(q.dqv), 6) AS approx
         |  FROM codes k JOIN dq q ON k.m = q.m AND k.cid = q.cid
         |  WHERE k.vec_id <> q.qid GROUP BY q.qid, k.vec_id),
         |cand AS (SELECT qid, vec_id, approx FROM (
         |    SELECT qid, vec_id, approx, row_number() OVER (
         |      PARTITION BY qid ORDER BY approx, vec_id) AS crk FROM ap)
         |  WHERE crk <= 50),
         |px AS (SELECT c.qid, c.vec_id AS vb, c.approx,
         |    q.embedding AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.qid
         |  JOIN embeddings e ON e.vec_id = c.vec_id),
         |s AS (SELECT qid, vb, approx,
         |    $cosinePairSql
         |  FROM px GROUP BY qid, vb, approx),
         |sim AS (SELECT qid, vb, approx,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, approx, sim, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, vb) AS BIGINT) AS rk
         |  FROM sim)
         |SELECT qid, rk, vb AS neighbor, approx, sim
         |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // q215: DuckDB's dayofweek is 0-based Sunday, Spark's 1-based —
    // the +1 aligns the calendars; baseline/residual replayed in
    // exact integers.
    "q215_seasonal_baseline" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |b AS (SELECT event_type, dow, hr, count(*) AS n_slot,
        |    CAST(sum(x) AS BIGINT) AS sum_slot
        |  FROM e GROUP BY event_type, dow, hr),
        |j AS (SELECT e.event_id, e.event_type, e.dow, e.hr, e.x,
        |    b.sum_slot // b.n_slot AS baseline, b.n_slot,
        |    e.x - b.sum_slot // b.n_slot AS residual
        |  FROM e JOIN b USING (event_type, dow, hr)),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    ORDER BY abs(residual) DESC, event_id) AS BIGINT) AS rk
        |  FROM j)
        |SELECT rk, event_id, event_type, dow, hr, x, baseline, residual,
        |  n_slot
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,

    // q216: the same synthesized raw URLs (shared SQL text),
    // canonicalized by pure regex vs the engine's parse_url — two
    // independent decodings of the URL grammar.
    "q216_url_canon" ->
      s"""WITH d AS (SELECT doc_id, ${TextAnalysis.UrlSynthesisSql} AS url
         |  FROM documents),
         |p AS (SELECT doc_id, url,
         |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         |  regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS auth,
         |  regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
         |  regexp_extract(url, '\\?([^#]*)', 1) AS query0 FROM d),
         |q AS (SELECT doc_id, scheme,
         |  lower(regexp_extract(auth, '^([^:]+)', 1)) AS host,
         |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port,
         |  regexp_replace(path0, '/$$', '') AS path,
         |  array_to_string(list_filter(string_split(query0, '&'),
         |    el -> NOT starts_with(el, 'utm_')), '&') AS qs FROM p),
         |c AS (SELECT doc_id,
         |  scheme || '://' || host ||
         |  CASE WHEN port <> '' AND NOT (scheme = 'https' AND port = '443')
         |        AND NOT (scheme = 'http' AND port = '80')
         |    THEN ':' || port ELSE '' END ||
         |  path ||
         |  CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical
         |  FROM q)
         |SELECT canonical, count(*) AS n_docs, min(doc_id) AS min_doc
         |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,

    // q217: the DIRECT inequality join over the same gap-island
    // sessions — the gate proves the engine's hour-bucket blocking
    // (candidates + exact verify) is lossless.
    "q217_interval_join" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |iv AS (SELECT user_id, sid, min(us) AS s_us,
        |    CAST(max(us) + 1800000000 AS BIGINT) AS e_us
        |  FROM s GROUP BY user_id, sid),
        |pr AS (SELECT a.user_id AS u_a, b.user_id AS u_b,
        |    least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
        |  FROM iv a JOIN iv b ON a.user_id < b.user_id
        |    AND a.s_us < b.e_us AND b.s_us < a.e_us)
        |SELECT u_a, u_b, count(*) AS n_overlaps,
        |  CAST(sum(overlap_us) AS BIGINT) AS sum_overlap_us
        |FROM pr GROUP BY u_a, u_b ORDER BY u_a, u_b""".stripMargin,

    // q218: the merged table re-derived from the ORIGINAL parquet —
    // even keys lose their priority (the old-schema files), odd keys
    // keep it; any row the mergeSchema scan drops or mistypes moves
    // a checksum.
    "q218_schema_evolution" ->
      """WITH m AS (SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio0
        |  FROM orders)
        |SELECT coalesce(prio0, 'PRE_SCHEMA') AS prio,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM m GROUP BY prio ORDER BY prio""".stripMargin,

    // q219: the same change-point islands from first principles.
    "q219_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |    AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS run FROM m),
        |g AS (SELECT user_id, run, min(us) AS valid_from,
        |    min(event_type) AS state, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |f AS (SELECT user_id, run AS version, state, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
        |      AS valid_to, n_events FROM g)
        |SELECT user_id, version, state, valid_from, valid_to, n_events,
        |  CAST(valid_to IS NULL AS BIGINT) AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin,

    // q220: dense calendar spine via generate_series; negative-delta
    // permille stated sign × (|delta|×1000 // prior) on both sides
    // because Spark div truncates and DuckDB // floors.
    "q220_period_report" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY day),
        |sp AS (SELECT CAST(unnest(generate_series(
        |    (SELECT min(day) FROM d), (SELECT max(day) FROM d),
        |    INTERVAL 1 DAY)) AS DATE) AS day),
        |j AS (SELECT sp.day, coalesce(d.rev, 0) AS rev,
        |    coalesce(d.n_purchases, 0) AS n_purchases
        |  FROM sp LEFT JOIN d USING (day)),
        |l AS (SELECT *, lag(rev, 1) OVER (ORDER BY day) AS prev1,
        |    lag(rev, 7) OVER (ORDER BY day) AS prev7 FROM j)
        |SELECT day, rev, n_purchases,
        |  rev - prev1 AS rev_dod, rev - prev7 AS rev_wow,
        |  CASE WHEN prev1 > 0 THEN
        |    (CASE WHEN rev - prev1 < 0 THEN -1 ELSE 1 END)
        |      * (abs(rev - prev1) * 1000 // prev1) END AS dod_permille,
        |  CASE WHEN prev7 > 0 THEN
        |    (CASE WHEN rev - prev7 < 0 THEN -1 ELSE 1 END)
        |      * (abs(rev - prev7) * 1000 // prev7) END AS wow_permille
        |FROM l ORDER BY day""".stripMargin,

    // q221: both populations re-derived arithmetically — the corrupt
    // set is event_id % 17 = 0 by construction.
    "q221_corrupt_json" ->
      """WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT count(*) AS n_lines,
        |  CAST(sum(CASE WHEN event_id % 17 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN event_id % 17 <> 0 THEN event_id END)
        |    AS BIGINT) AS good_id_sum,
        |  CAST(sum(CASE WHEN event_id % 17 <> 0 THEN cents END)
        |    AS BIGINT) AS good_cents
        |FROM e""".stripMargin,

    // q222: the INSERTION semantics — the hypothetical row is really
    // unioned into each group and the genuine window functions are
    // read off it; meets the engine's counting identities only if
    // those identities ARE the semantics.
    "q222_hypothetical_rank" ->
      s"""WITH b AS (SELECT o_orderstatus,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    0 AS is_h FROM orders),
         |h AS (SELECT DISTINCT o_orderstatus,
         |    CAST(${Relational.HypoCents} AS BIGINT) AS cents, 1 AS is_h
         |  FROM orders),
         |u AS (SELECT * FROM b UNION ALL SELECT * FROM h),
         |w AS (SELECT o_orderstatus, is_h,
         |    CAST(rank() OVER win AS BIGINT) AS rk,
         |    CAST(dense_rank() OVER win AS BIGINT) AS drk,
         |    round(percent_rank() OVER win, 6) AS prk,
         |    round(cume_dist() OVER win, 6) AS cd
         |  FROM u
         |  WINDOW win AS (PARTITION BY o_orderstatus ORDER BY cents)),
         |n AS (SELECT o_orderstatus, count(*) AS n FROM b
         |  GROUP BY o_orderstatus)
         |SELECT w.o_orderstatus, n.n, w.rk AS hypo_rank,
         |  w.drk AS hypo_dense_rank, w.prk AS hypo_percent_rank,
         |  w.cd AS hypo_cume_dist
         |FROM w JOIN n ON w.o_orderstatus = n.o_orderstatus
         |WHERE w.is_h = 1 ORDER BY w.o_orderstatus""".stripMargin,

    // q223: last-of-month from first principles (trunc + 1 month −
    // 1 day — PG's spelling; it has no last_day), the clamp cases
    // live via the leap-year span.
    "q223_calendar_edges" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)
        |    AS plus_1m,
        |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 13 MONTH AS DATE)
        |    AS minus_13m,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 YEAR AS DATE)
        |    AS plus_1y,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE))
        |    + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE) AS month_last,
        |  CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
        |    AS qtr_start,
        |  CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
        |    AS week_start,
        |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // q225: both packing costs replayed in exact integers over the
    // same deterministic doc_id batch order.
    "q225_bucketed_batching" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT *, (row_number() OVER (ORDER BY doc_id) - 1) // 32
        |    AS batch FROM d),
        |nb AS (SELECT batch, count(*) AS bn, max(n_tok) AS bmax,
        |    CAST(sum(n_tok) AS BIGINT) AS bsum FROM r GROUP BY batch),
        |nv AS (SELECT CAST(sum(bn * bmax - bsum) AS BIGINT)
        |    AS naive_waste FROM nb),
        |bk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |    CAST(sum(((n_tok + 63) // 64) * 64 - n_tok) AS BIGINT)
        |      AS bucketed_waste,
        |    CAST(count(DISTINCT ((n_tok + 63) // 64) * 64) AS BIGINT)
        |      AS n_buckets FROM d)
        |SELECT n_docs, total_tokens, n_buckets, naive_waste,
        |  bucketed_waste,
        |  CASE WHEN naive_waste > 0 THEN
        |    greatest(naive_waste - bucketed_waste, 0) * 1000 // naive_waste
        |  END AS saving_permille
        |FROM bk CROSS JOIN nv""".stripMargin,

    // q226: truth = every shingle-sharing pair's exact Jaccard over
    // the df-capped shingle space (Dedup.RecallTruthDfCap, mirrored
    // here — the cap bounds per-shingle truth fanout), candidates =
    // the shared q28 relation; recall counted per threshold on both
    // sides' round-6 values.
    "q226_lsh_recall" ->
      s"""WITH $minhashCtes,
         |keepT AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) <= ${Dedup.RecallTruthDfCap}),
         |shT AS (SELECT sh.* FROM sh JOIN keepT USING (shingle)),
         |sizesT AS (SELECT doc_id, count(*) AS n_sh FROM shT
         |  GROUP BY doc_id),
         |commonT AS (SELECT x.doc_id AS ta, y.doc_id AS tb, count(*) AS c
         |  FROM shT x JOIN shT y ON x.shingle = y.shingle
         |    AND x.lang = y.lang AND x.doc_id < y.doc_id
         |  GROUP BY ta, tb),
         |jt AS (SELECT round(CAST(c AS DOUBLE) /
         |    (sa.n_sh + sb.n_sh - c), 6) AS jt
         |  FROM commonT JOIN sizesT sa ON sa.doc_id = ta
         |  JOIN sizesT sb ON sb.doc_id = tb),
         |thr AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.7, 0.9]) AS t),
         |tr AS (SELECT t, count(*) AS n_true FROM thr
         |  JOIN jt ON jt.jt >= thr.t GROUP BY t),
         |ca AS (SELECT t, count(*) AS n_lsh FROM thr
         |  JOIN j ON j.jaccard >= thr.t GROUP BY t)
         |SELECT CAST(round(t * 100) AS BIGINT) AS threshold_pct,
         |  CAST(coalesce(tr.n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(ca.n_lsh, 0) AS BIGINT) AS n_lsh,
         |  CASE WHEN coalesce(tr.n_true, 0) > 0
         |    THEN coalesce(ca.n_lsh, 0) * 1000 // tr.n_true END
         |    AS recall_permille
         |FROM thr LEFT JOIN tr USING (t) LEFT JOIN ca USING (t)
         |ORDER BY threshold_pct""".stripMargin,

    // q227: the same weighted-percentile crossing re-derived; exact
    // integers make the pick deterministic under ties.
    "q227_weighted_median" ->
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum FROM d),
        |t AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS total_tok,
        |    count(*) AS n_docs FROM d GROUP BY lang),
        |x AS (SELECT c.lang, c.n_chars, c.doc_id, t.total_tok, t.n_docs,
        |    row_number() OVER (PARTITION BY c.lang
        |      ORDER BY c.n_chars, c.doc_id) AS rn
        |  FROM c JOIN t ON c.lang = t.lang WHERE c.cum * 2 >= t.total_tok)
        |SELECT lang, n_docs, total_tok,
        |  n_chars AS weighted_median_chars, doc_id AS median_doc
        |FROM x WHERE rn = 1 ORDER BY lang""".stripMargin,

    // q228: both stages replayed — the doubled corpus's exact stage
    // from the q26 fingerprint, the near-dup stage from the shared
    // candidate relation under the q137 set-wise policy.
    "q228_dedup_funnel" ->
      s"""WITH $minhashCtes,
         |base AS (SELECT doc_id,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, text FROM documents
         |        UNION ALL SELECT doc_id + ${Dedup.FunnelCopyOffset}, text
         |        FROM documents) u),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY fp),
         |s1 AS (SELECT b.* FROM base b JOIN keep1 k ON b.doc_id = k.doc_id),
         |drop2 AS (SELECT DISTINCT j.b AS doc_id FROM j
         |  WHERE j.jaccard >= 0.2
         |    AND j.a IN (SELECT doc_id FROM keep1)
         |    AND j.b IN (SELECT doc_id FROM keep1)),
         |s2 AS (SELECT * FROM s1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
         |t0 AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM base),
         |t1 AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM s1),
         |t2 AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM s2)
         |SELECT '1_exact' AS stage, t0.n AS docs_in, t1.n AS docs_out,
         |  t0.n - t1.n AS docs_removed, t0.tk - t1.tk AS tokens_removed
         |FROM t0 CROSS JOIN t1
         |UNION ALL
         |SELECT '2_neardup', t1.n, t2.n, t1.n - t2.n, t1.tk - t2.tk
         |FROM t1 CROSS JOIN t2
         |ORDER BY stage""".stripMargin,

    // q229: q226's machinery with the corpus restricted to the
    // deterministic 'rc:'-salted 20% sample BEFORE shingling/banding
    // — the minhash CTEs re-rooted onto the sampled relation BY
    // CONSTRUCTION (minhashCtesOver, not post-hoc string replace).
    "q229_lsh_recall_sampled" ->
      s"""WITH docs_s AS (SELECT * FROM documents
         |  WHERE ${hexBucketSql("'rc:' || CAST(doc_id AS VARCHAR)")}
         |    < ${Dedup.RecallSampleBound}),
         |${minhashCtesOver("docs_s")},
         |keepT AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) <= ${Dedup.RecallTruthDfCap}),
         |shT AS (SELECT sh.* FROM sh JOIN keepT USING (shingle)),
         |sizesT AS (SELECT doc_id, count(*) AS n_sh FROM shT
         |  GROUP BY doc_id),
         |commonT AS (SELECT x.doc_id AS ta, y.doc_id AS tb, count(*) AS c
         |  FROM shT x JOIN shT y ON x.shingle = y.shingle
         |    AND x.lang = y.lang AND x.doc_id < y.doc_id
         |  GROUP BY ta, tb),
         |jt AS (SELECT round(CAST(c AS DOUBLE) /
         |    (sa.n_sh + sb.n_sh - c), 6) AS jt
         |  FROM commonT JOIN sizesT sa ON sa.doc_id = ta
         |  JOIN sizesT sb ON sb.doc_id = tb),
         |thr AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.7, 0.9]) AS t),
         |tr AS (SELECT t, count(*) AS n_true FROM thr
         |  JOIN jt ON jt.jt >= thr.t GROUP BY t),
         |ca AS (SELECT t, count(*) AS n_lsh FROM thr
         |  JOIN j ON j.jaccard >= thr.t GROUP BY t)
         |SELECT CAST(round(t * 100) AS BIGINT) AS threshold_pct,
         |  CAST(coalesce(tr.n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(ca.n_lsh, 0) AS BIGINT) AS n_lsh,
         |  CASE WHEN coalesce(tr.n_true, 0) > 0
         |    THEN coalesce(ca.n_lsh, 0) * 1000 // tr.n_true END
         |    AS recall_permille
         |FROM thr LEFT JOIN tr USING (t) LEFT JOIN ca USING (t)
         |ORDER BY threshold_pct""".stripMargin,

    // q230: the LTV triangle replayed — first-seen, week indices as
    // integer div, cumulative over the bounded grid.
    "q230_cohort_ltv" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |  FROM e GROUP BY user_id),
        |d0 AS (SELECT min(first_day) AS d0 FROM fs),
        |u AS (SELECT user_id, first_day,
        |    CAST(date_diff('day', d0, first_day) AS BIGINT) // 7
        |      AS cohort_week
        |  FROM fs CROSS JOIN d0),
        |sz AS (SELECT cohort_week,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM u GROUP BY cohort_week),
        |g AS (SELECT u.cohort_week,
        |    CAST(date_diff('day', u.first_day, CAST(e.ts AS DATE))
        |      AS BIGINT) // 7 AS age_weeks,
        |    CAST(sum(e.x) AS BIGINT) AS week_cents
        |  FROM e JOIN u ON e.user_id = u.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY u.cohort_week, age_weeks),
        |c AS (SELECT *, CAST(sum(week_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY age_weeks ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_cents FROM g)
        |SELECT c.cohort_week, c.age_weeks, sz.n_users, c.week_cents,
        |  c.cum_cents, c.cum_cents // sz.n_users AS cum_per_user_cents
        |FROM c JOIN sz ON c.cohort_week = sz.cohort_week
        |ORDER BY c.cohort_week, c.age_weeks""".stripMargin,

    // q231/q231b: the oracle takes the POSITIONAL route (the q190
    // pattern) — covered positions from the shared-shingle hits, KEPT
    // positions by anti-join, the cleaned text re-assembled with
    // string_agg in position order, then md5 — fully independent of
    // BOTH engine encodings (exact-set kernel and Bloom-ladder join),
    // which must agree with it and therefore each other.
    "q231_span_excision" -> exciseOracleSql,
    "q231b_span_excision_bloom" -> exciseOracleSql,

    // qS02: the staged feed delivers every event TWICE; the streamed
    // dedup must emit each exactly once, so the oracle is a plain
    // projection of the original (unique-by-event_id) events.
    "qS02_stream_dedup" ->
      """SELECT event_id, user_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,

    // q232: DuckDB replays the closed-form water-fill — same integer
    // sort key, same prefix-cumulative saturation test, same floor
    // division — over the same mixtureRates CASE.
    "q232_mixture_waterfill" ->
      s"""WITH a AS (SELECT lang,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |      AS avail,
         |    CAST($mixtureRateCase AS BIGINT) AS w
         |  FROM documents GROUP BY lang),
         |f AS (SELECT * FROM a WHERE w > 0),
         |t AS (SELECT CAST(sum(avail) AS BIGINT) AS tot,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM f),
         |c AS (SELECT f.*, t.tot, t.wsum, t.tot * 3 // 4 AS budget,
         |    avail * 1000 // w AS key FROM f CROSS JOIN t),
         |p AS (SELECT *,
         |    COALESCE(CAST(sum(avail) OVER (ORDER BY key, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cuma,
         |    COALESCE(CAST(sum(w) OVER (ORDER BY key, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cumw
         |  FROM c),
         |s AS (SELECT *, CASE WHEN avail * (wsum - cumw)
         |      <= (budget - cuma) * w THEN 1 ELSE 0 END AS sat FROM p),
         |st AS (SELECT
         |    COALESCE(CAST(sum(CASE WHEN sat = 1 THEN avail END)
         |      AS BIGINT), 0) AS sata,
         |    COALESCE(CAST(sum(CASE WHEN sat = 1 THEN w END)
         |      AS BIGINT), 0) AS satw FROM s),
         |o AS (SELECT s.*, CASE WHEN sat = 1 THEN avail
         |    ELSE greatest(budget - sata, 0) * w // (wsum - satw)
         |  END AS alloc FROM s CROSS JOIN st)
         |SELECT lang, avail AS avail_tokens, w AS weight,
         |  CAST(sat AS BIGINT) AS saturated,
         |  CAST(alloc AS BIGINT) AS alloc_tokens,
         |  alloc * 1000 // greatest(avail, 1) AS upsample_permille
         |FROM o ORDER BY lang""".stripMargin,

    // q233: DuckDB re-derives the pg_trgm construction with its own
    // list primitives (string_split_regex / list_transform / range /
    // list_intersect vs Spark's split / transform / sequence /
    // array_intersect) — independent encodings of the same padding
    // and trigram rules.
    "q233_trgm_fuzzy" ->
      """WITH n AS (SELECT n_name AS name,
        |  list_distinct(flatten(list_transform(
        |    list_filter(string_split_regex(lower(n_name), '[^a-z0-9]+'),
        |      w -> w <> ''),
        |    w -> list_transform(range(1, length('  ' || w || ' ') - 1),
        |           i -> substring('  ' || w || ' ',
        |             CAST(i AS INTEGER), 3))))) AS tg
        |  FROM nation),
        |p AS (SELECT a.name AS name_a, b.name AS name_b,
        |    a.tg AS ta, b.tg AS tb
        |  FROM n a JOIN n b ON a.name < b.name),
        |c AS (SELECT name_a, name_b,
        |    CAST(len(ta) AS BIGINT) AS n_a, CAST(len(tb) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS common
        |  FROM p)
        |SELECT name_a, name_b, n_a, n_b, common,
        |  common * 1000 // (n_a + n_b - common) AS sim_permille
        |FROM c WHERE common > 0
        |ORDER BY sim_permille DESC, name_a, name_b""".stripMargin,

    // q234: DuckDB replays the whole linkage — same deterministic
    // deletion, same trigram derivation (its own list primitives),
    // same df cap, its own levenshtein, best match by (dist, cid).
    "q234_fuzzy_join" ->
      s"""WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS id,
         |    c_name AS name FROM customer),
         |dirty AS (SELECT id AS did,
         |    substring(name, 1,
         |      CAST(id % greatest(length(name) - 2, 1) + 1 AS INTEGER)) ||
         |    substring(name,
         |      CAST(id % greatest(length(name) - 2, 1) + 3 AS INTEGER), 1000)
         |      AS dname
         |  FROM cust),
         |tgc AS (SELECT id AS cid, name AS cname,
         |    unnest(list_distinct(flatten(list_transform(
         |      list_filter(string_split_regex(lower(name), '[^a-z0-9]+'),
         |        w -> w <> ''),
         |      w -> list_transform(range(1, length('  ' || w || ' ') - 1),
         |             i -> substring('  ' || w || ' ',
         |               CAST(i AS INTEGER), 3)))))) AS tg
         |  FROM cust),
         |keep AS (SELECT tg FROM tgc GROUP BY tg
         |  HAVING count(*) <= ${TextAnalysis.TrgmDfCap}),
         |idx AS (SELECT tgc.* FROM tgc JOIN keep USING (tg)),
         |tgd AS (SELECT did, dname,
         |    unnest(list_distinct(flatten(list_transform(
         |      list_filter(string_split_regex(lower(dname), '[^a-z0-9]+'),
         |        w -> w <> ''),
         |      w -> list_transform(range(1, length('  ' || w || ' ') - 1),
         |             i -> substring('  ' || w || ' ',
         |               CAST(i AS INTEGER), 3)))))) AS tg
         |  FROM dirty),
         |cand AS (SELECT DISTINCT did, dname, cid, cname
         |  FROM tgd JOIN idx USING (tg)),
         |v AS (SELECT did, dname, cid, cname,
         |    CAST(levenshtein(dname, cname) AS BIGINT) AS dist
         |  FROM cand WHERE levenshtein(dname, cname) <= 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY did
         |    ORDER BY dist, cid) AS rk FROM v),
         |best AS (SELECT did, cid AS matched_id, cname AS matched_name,
         |    dist FROM r WHERE rk = 1)
         |SELECT d.did, d.dname, b.matched_id, b.matched_name, b.dist
         |FROM dirty d LEFT JOIN best b USING (did)
         |ORDER BY d.did""".stripMargin,

    // q243: DuckDB replays the FastSS linkage — same deterministic
    // deletion fixture, its OWN deletion-neighborhood construction
    // (range/list_transform/flatten vs Spark's sequence/transform),
    // its own levenshtein, same best-match and LEFT-join contract.
    "q243_symspell_fuzzy" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    c_name AS name FROM customer),
        |dirty AS (SELECT id AS did,
        |    substring(name, 1,
        |      CAST(id % greatest(length(name) - 2, 1) + 1 AS INTEGER)) ||
        |    substring(name,
        |      CAST(id % greatest(length(name) - 2, 1) + 3 AS INTEGER), 1000)
        |      AS dname
        |  FROM cust),
        |vc AS (SELECT id AS cid, unnest(list_distinct(
        |    [name]
        |    || list_transform(range(1, length(name) + 1),
        |         i -> substring(name, 1, CAST(i - 1 AS INTEGER)) ||
        |              substring(name, CAST(i + 1 AS INTEGER), length(name)))
        |    || flatten(list_transform(range(1, length(name)),
        |         i -> list_transform(range(i + 1, length(name) + 1),
        |           j -> substring(name, 1, CAST(i - 1 AS INTEGER)) ||
        |                substring(name, CAST(i + 1 AS INTEGER),
        |                  CAST(j - i - 1 AS INTEGER)) ||
        |                substring(name, CAST(j + 1 AS INTEGER),
        |                  length(name))))))) AS v
        |  FROM cust),
        |vd AS (SELECT did, unnest(list_distinct(
        |    [dname]
        |    || list_transform(range(1, length(dname) + 1),
        |         i -> substring(dname, 1, CAST(i - 1 AS INTEGER)) ||
        |              substring(dname, CAST(i + 1 AS INTEGER), length(dname)))
        |    || flatten(list_transform(range(1, length(dname)),
        |         i -> list_transform(range(i + 1, length(dname) + 1),
        |           j -> substring(dname, 1, CAST(i - 1 AS INTEGER)) ||
        |                substring(dname, CAST(i + 1 AS INTEGER),
        |                  CAST(j - i - 1 AS INTEGER)) ||
        |                substring(dname, CAST(j + 1 AS INTEGER),
        |                  length(dname))))))) AS v
        |  FROM dirty),
        |cand AS (SELECT DISTINCT did, cid FROM vd JOIN vc USING (v)),
        |named AS (SELECT c.did, d.dname, c.cid, cu.name AS cname
        |  FROM cand c JOIN dirty d USING (did)
        |  JOIN cust cu ON c.cid = cu.id),
        |v2 AS (SELECT did, dname, cid, cname,
        |    CAST(levenshtein(dname, cname) AS BIGINT) AS dist
        |  FROM named WHERE levenshtein(dname, cname) <= 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY did
        |    ORDER BY dist, cid) AS rk FROM v2),
        |best AS (SELECT did, cid AS matched_id, cname AS matched_name,
        |    dist FROM r WHERE rk = 1)
        |SELECT d.did, d.dname, b.matched_id, b.matched_name, b.dist
        |FROM dirty d LEFT JOIN best b USING (did)
        |ORDER BY d.did""".stripMargin,

    // q235: DuckDB replays each truncation's brute top-k with its own
    // unnest-range pair sums over the first d components, then the
    // same truth intersection and integer recall.
    "q235_mrl_recall" -> {
      val dims = Seq(16, 32, 64)
      val blocks = dims.map { d =>
        s"""x$d AS (SELECT qid, vb, ea, eb, unnest(range(1, ${d + 1})) AS i
           |  FROM p),
           |s$d AS (SELECT qid, vb,
           |    $cosinePairSql
           |  FROM x$d GROUP BY qid, vb),
           |m$d AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0
           |    THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
           |  FROM s$d),
           |r$d AS (SELECT qid, vb, row_number() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, vb) AS rk FROM m$d)""".stripMargin
      }.mkString(",\n")
      val union = dims.map(d =>
        s"SELECT CAST($d AS BIGINT) AS dim, qid, vb FROM r$d WHERE rk <= 10")
        .mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |  FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT q.qid, e.vec_id AS vb, q.qe AS ea,
         |    e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |$blocks,
         |truth AS (SELECT qid, vb FROM r${dims.max} WHERE rk <= 10),
         |u AS ($union),
         |h AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM u JOIN truth USING (qid, vb) GROUP BY dim),
         |dl AS (SELECT CAST(unnest([${dims.mkString(", ")}]) AS BIGINT)
         |  AS dim)
         |SELECT dl.dim, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  coalesce(h.n_hits, 0) * 1000 // 200 AS recall_permille
         |FROM dl LEFT JOIN h USING (dim) ORDER BY dim""".stripMargin
    },

    // q236: DuckDB re-derives the per-column profile as one UNION ALL
    // block per column (n_nulls via count(*)−count(c)); doubles in
    // integer cents on both sides — float→string formatting is
    // engine-specific and never enters the hash. The column list is
    // Relational.ProfileColumns — the SAME value the engine relation
    // is built from, so a schema change breaks both sides together;
    // names are double-quoted in the generated SQL.
    "q236_table_profile" ->
      Relational.ProfileColumns.map { case (c, dbl) =>
        val q = "\"" + c + "\""
        val mn = if (dbl) s"CAST(CAST(round(min($q) * 100) AS BIGINT) AS VARCHAR)"
                 else s"CAST(min($q) AS VARCHAR)"
        val mx = if (dbl) s"CAST(CAST(round(max($q) * 100) AS BIGINT) AS VARCHAR)"
                 else s"CAST(max($q) AS VARCHAR)"
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($q) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $q) AS BIGINT) AS n_distinct,
           |  $mn AS min_val, $mx AS max_val
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    // q238: the approx-profiler gate — the q20 sketch contract per
    // column: the HLL++ estimate itself is engine-specific and stays
    // out of the hash; the oracle re-derives the exact count and the
    // same ±SlackPct integer band, and asserts in_band as literal 1.
    // Generated from the same Relational.ProfileColumns.
    "q238_table_profile_approx" ->
      Relational.ProfileColumns.map { case (c, _) =>
        val q = "\"" + c + "\""
        val slack = s"(count(DISTINCT $q) * ${Events.SlackPct} // 100 + 1)"
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($q) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $q) AS BIGINT) AS exact_distinct,
           |  CAST(count(DISTINCT $q) - $slack AS BIGINT) AS lo_distinct,
           |  CAST(count(DISTINCT $q) + $slack AS BIGINT) AS hi_distinct,
           |  CAST(1 AS BIGINT) AS in_band
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    // q240: DSIR importance weights. The oracle re-derives the
    // hashed-bigram feature map from FIRST PRINCIPLES — explicit
    // (doc, position) adjacency join (the q114 ordinality idiom)
    // where the engine uses a per-row higher-order transform, and an
    // explode+join re-aggregation where the engine uses a broadcast
    // map-literal lookup. The md5 hex prefix is the q47 portable
    // hash; the bucket log-ratio is fixed to micro-unit BIGINTs
    // before the per-doc sum, so the compared numbers are integer
    // sums (the only float step is the ≤1024 bucket-level ln's).
    "q240_dsir_weights" -> dsirWeightsOracle,

    // qS04: DSIR scoring at ingest is a STATELESS projection with an
    // offline-fit model, so the streamed emitted set equals the
    // batch scoring of the same corpus — the oracle is verbatim
    // q240's (the qS03 stateless-gate argument applied to q240).
    "qS04_stream_dsir" -> dsirWeightsOracle,

    // q241: DSIR Gumbel top-k resampling over q240's weights. The
    // seeded noise is re-derived independently: 6-hex md5 prefix →
    // u = (2h+1)/2^25 → the two FixedLog integer ln evaluations —
    // both engines rank by the same BIGINT key by construction.
    "q241_dsir_resample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok,
         |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM t),
         |bg AS (SELECT a.doc_id, a.lang, md5(a.tok || ' ' || b.tok) AS h
         |  FROM tok a JOIN tok b
         |    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
         |bk AS (SELECT doc_id, lang,
         |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 256
         |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16
         |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1))
         |    % 1024 AS b
         |  FROM bg),
         |dist AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS cp,
         |    count(*) AS cq FROM bk GROUP BY b),
         |tot AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM dist),
         |${dsirLwCtes("", "dist", "tot")},
         |doc AS (SELECT bk.doc_id, CAST(sum(w.lw) AS BIGINT) AS w_micro
         |  FROM bk JOIN w USING (b) GROUP BY bk.doc_id),
         |gum AS (SELECT doc_id, w_micro,
         |    md5('dsir-seed-7:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM doc),
         |${gumbelKeyCtes("doc_id")}
         |SELECT doc_id, w_micro, key_micro FROM keyed
         |ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin,

    // q247: the DSIR-curated pipeline — q58's CTE chain with the
    // score + Gumbel-top-k resampling stage spliced between near-dup
    // rep keep and mixture. The DSIR fit runs over the FULL raw
    // corpus (the paper's raw distribution; d-prefixed CTEs — the
    // q241 derivation verbatim), kept survivors inner-join their
    // scores (zero-bigram docs leave the pool in both engines), and
    // the per-split report adds a docid_sum identity so the gate
    // pins exactly which documents survived end-to-end.
    "q247_dsir_pipeline" ->
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |reps AS (SELECT n AS doc_id, least(n, min(m)) AS rep
         |  FROM reach GROUP BY n),
         |dq AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |eq AS (SELECT doc_id, lang, text, n_tok, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM dq),
         |q AS (SELECT doc_id, lang, text, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM eq),
         |f AS (SELECT doc_id, lang, n_tok,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |ded AS (SELECT f.doc_id, f.lang, f.n_tok FROM f JOIN k USING (fp, doc_id)),
         |kept AS (SELECT ded.doc_id, ded.lang, ded.n_tok FROM ded
         |  LEFT JOIN reps USING (doc_id)
         |  WHERE reps.rep IS NULL OR reps.rep = ded.doc_id),
         |dt AS (SELECT doc_id, lang,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |dtok AS (SELECT doc_id, lang, unnest(toks) AS tok,
         |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM dt),
         |dbg AS (SELECT a.doc_id, a.lang, md5(a.tok || ' ' || b.tok) AS h
         |  FROM dtok a JOIN dtok b
         |    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
         |dbk AS (SELECT doc_id, lang,
         |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 256
         |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16
         |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1))
         |    % 1024 AS b
         |  FROM dbg),
         |ddist AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS cp,
         |    count(*) AS cq FROM dbk GROUP BY b),
         |dtot AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM ddist),
         |${dsirLwCtes("d", "ddist", "dtot")},
         |ddoc AS (SELECT dbk.doc_id, CAST(sum(dw.lw) AS BIGINT) AS w_micro
         |  FROM dbk JOIN dw USING (b) GROUP BY dbk.doc_id),
         |gum AS (SELECT kept.doc_id, kept.lang, kept.n_tok, ddoc.w_micro,
         |    md5('dsir-seed-7:' || CAST(kept.doc_id AS VARCHAR)) AS h
         |  FROM kept JOIN ddoc USING (doc_id)),
         |${gumbelKeyCtes("doc_id, lang, n_tok")},
         |sel AS (SELECT doc_id, lang, n_tok, key_micro FROM keyed
         |  ORDER BY key_micro DESC, doc_id
         |  LIMIT ${graft.operators.TextAnalysis.DsirPipelineK}),
         |mx AS (SELECT doc_id, n_tok FROM sel
         |  WHERE ${hexBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")}
         |    < ($mixtureRateCase)),
         |sb AS (SELECT doc_id, n_tok,
         |  CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id // 64 AS shard
         |  FROM (SELECT doc_id, n_tok,
         |    ${hexBucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
         |    FROM mx)),
         |c AS (SELECT split, shard, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM sb)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  count(DISTINCT shard * 10000 + (run - n_tok) // 2048) AS n_bins,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
         |FROM c GROUP BY split ORDER BY split""".stripMargin,

    // q244: DuckDB replays the whole BPE training loop as
    // [[TextAnalysis.BpeMerges]] UNROLLED stages (the q235
    // block-generation idiom) — pair counts from 1-based list
    // subscripts over an unnested index range (vs the engine's
    // higher-order shifted-zip), the same (count, pair) argmax, the
    // same replace()-as-greedy-merge (both engines' replace is
    // leftmost-non-overlapping — exactly BPE's merge order). The
    // per-round CTEs are MATERIALIZED: DuckDB inlines CTEs by
    // default and each round references its argmax three times, so
    // the plain form expands 3^rounds.
    "q244_bpe_train" -> bpeTrainOracle,

    // q253: the r17 LOCAL dictionary trainer must select the exact
    // same rules as DuckDB's from-scratch unrolled training — the
    // SAME oracle text as q244, so fast-path ≡ loop ≡ DuckDB is one
    // three-way identity (the trainer leg of the production-BPE
    // evidence chain; q254 gates the apply leg at 1024 rules).
    "q253_bpe_train_fast" -> bpeTrainOracle,

    // q254: production merge count. DuckDB re-applies the engine's
    // 1024-rule sequence-level table (embedded as VALUES — the
    // trained model is the INPUT here, its selection logic being
    // gated by q253/q244) via a 1024-iteration recursive replace
    // chain over the distinct (lang, text) units, then re-aggregates
    // fertility. The engine side runs the flat-cost kernel — this
    // gate IS kernel ≡ replace-chain at production merge count.
    "q254_bpe1k_fertility" -> bpeSeqOracle,

    // q245: the trained tokenizer APPLIED — the oracle re-derives
    // the q244 merge chain (same shared CTEs), then applies each
    // argmax merge to a LANG-AWARE copy of the vocabulary and
    // re-aggregates the fertility report with exact integer
    // permilles. Application order is the merge RANK order — both
    // engines replay it as the same replace() chain.
    "q245_bpe_apply" -> {
      val applyChain = (1 to TextAnalysis.BpeMerges).map { k =>
        val p = k - 1
        s"""wl$k AS MATERIALIZED (SELECT lang, cnt, chars, replace(sym,
           |    '·' || (SELECT a FROM m$k) || '··' ||
           |      (SELECT b FROM m$k) || '·',
           |    '·' || (SELECT a FROM m$k) ||
           |      (SELECT b FROM m$k) || '·') AS sym
           |  FROM wl$p)""".stripMargin
      }.mkString(",\n")
      val R = TextAnalysis.BpeMerges
      s"""WITH $bpeSelectionCtes,
         |wl0 AS MATERIALIZED (SELECT lang, count(*) AS cnt,
         |    length(w) AS chars,
         |    '·' || array_to_string(
         |      list_transform(range(1, length(w) + 1),
         |        i -> substring(w, CAST(i AS INTEGER), 1)), '··') || '·'
         |      AS sym
         |  FROM tok GROUP BY lang, w),
         |$applyChain,
         |fin AS (SELECT lang, cnt, chars,
         |    len(string_split(substring(sym, 2, length(sym) - 2),
         |      '··')) AS n_tok
         |  FROM wl$R)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_word_types,
         |  CAST(sum(cnt) AS BIGINT) AS n_word_occurrences,
         |  CAST(sum(chars * cnt) AS BIGINT) AS sum_chars,
         |  CAST(sum(n_tok * cnt) AS BIGINT) AS sum_subwords,
         |  CAST(sum(n_tok * cnt) * 1000 // sum(cnt) AS BIGINT)
         |    AS subwords_per_word_permille,
         |  CAST(sum(chars * cnt) * 1000 // sum(n_tok * cnt) AS BIGINT)
         |    AS chars_per_subword_permille
         |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
    },

    // q246: DuckDB re-derives snapshot B with the same deterministic
    // modular fixture, fingerprints with its own md5, and classifies
    // with a FULL OUTER JOIN — independent join/CASE encodings of the
    // same CDC semantics; sum_keys is an exact-integer identity of
    // WHICH keys landed in each class, not just how many.
    "q246_snapshot_diff" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |base AS (SELECT doc_id, md5(text) AS fpa FROM documents),
        |surv AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS fpb
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, md5(text) AS fpb
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |snap AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
        |j AS (SELECT coalesce(base.doc_id, snap.doc_id) AS doc_id,
        |    fpa, fpb FROM base FULL OUTER JOIN snap
        |    ON base.doc_id = snap.doc_id),
        |c AS (SELECT doc_id,
        |    CASE WHEN fpa IS NULL THEN 'insert'
        |         WHEN fpb IS NULL THEN 'delete'
        |         WHEN fpa = fpb THEN 'unchanged'
        |         ELSE 'update' END AS change
        |  FROM j)
        |SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_keys
        |FROM c GROUP BY change ORDER BY change""".stripMargin,

    // q248: incremental dedup-survivor maintenance. The oracle is
    // deliberately NOT incremental — it rebuilds snapshot B from the
    // fixture arithmetic and performs the FULL dedup recompute, so a
    // hash match proves the engine's delta-only derivation equals
    // the ground-truth recompute (the IVM correctness identity).
    "q248_dedup_ivm" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |surv AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, md5(text) AS fp
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |b AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
        |SELECT fp, CAST(min(doc_id) AS BIGINT) AS survivor_id
        |FROM b GROUP BY fp ORDER BY fp""".stripMargin,

    // q249: incremental document-frequency maintenance. Like q248,
    // the oracle is the FULL recompute — snapshot B rebuilt from the
    // fixture arithmetic, per-term distinct-doc counts from scratch —
    // so hash-match proves the engine's signed-delta merge equals
    // the ground truth.
    "q249_df_ivm" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |surv AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, text
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |b AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
        |t AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(text, '\S+'))) AS token
        |  FROM b)
        |SELECT token, CAST(count(*) AS BIGINT) AS df
        |FROM t GROUP BY token ORDER BY token""".stripMargin,

    // q250: incremental IVF maintenance. The oracle reassigns the
    // WHOLE snapshot B from scratch against the frozen snapshot-A
    // centroids (first-16 vectors) — the engine only assigns the
    // delta and carries the stored index — so hash-match is the
    // maintenance≡rebuild identity. Arrivals are negated re-keys
    // (cosine sign flips → different cells than their originals).
    "q250_ivf_ivm" -> ivfIvmOracle(11, 13),

    // q255: the STORED-index twin of q250 — same logical index, but
    // the engine maintains cid-partitioned FILES through dynamic
    // partition overwrite and reports from the read-back. The oracle
    // is q250's from-scratch logical recompute VERBATIM, so
    // hash-match is the physical-maintenance ≡ logical-rebuild
    // identity (Breadth17Spec adds the write-path half SQL cannot
    // see: untouched partitions byte-identical, touched set exact).
    "q255_stored_ivf_maint" -> ivfIvmOracle(97, 101),

    // q256: DuckDB re-derives the deterministic PII fixture (the
    // q246 modular-fixture philosophy — doc_id-derived email/phone/
    // IPv4 appended to 2/3 of documents), then runs the IDENTICAL
    // pattern text through ITS regex engine (RE2) — cross-engine
    // agreement on the match semantics is part of the gate. The
    // redacted_fp bit_xor pins the rewrite itself: a single
    // mis-redacted character anywhere in the corpus flips the hash.
    "q256_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 3 = 0 THEN text ELSE
         |      text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.org or +1-555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
         |    END AS pii_text
         |  FROM documents),
         |scrub AS (
         |  SELECT source,
         |    len(regexp_extract_all(pii_text,
         |      '${TextAnalysis.PiiEmailRe}')) AS e,
         |    len(regexp_extract_all(pii_text,
         |      '${TextAnalysis.PiiPhoneRe}')) AS p,
         |    len(regexp_extract_all(pii_text,
         |      '${TextAnalysis.PiiIpv4Re}')) AS i,
         |    regexp_replace(regexp_replace(regexp_replace(pii_text,
         |      '${TextAnalysis.PiiEmailRe}', '<EMAIL>', 'g'),
         |      '${TextAnalysis.PiiPhoneRe}', '<PHONE>', 'g'),
         |      '${TextAnalysis.PiiIpv4Re}', '<IP>', 'g') AS redacted
         |  FROM aug)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(e) AS BIGINT) AS n_emails,
         |  CAST(sum(p) AS BIGINT) AS n_phones,
         |  CAST(sum(i) AS BIGINT) AS n_ips,
         |  bit_xor(CAST(concat('0x', substring(md5(redacted), 1, 15))
         |    AS BIGINT)) AS redacted_fp
         |FROM scrub GROUP BY source ORDER BY source""".stripMargin,

    // q257: Theta/KMV native set algebra (the q20/q169 gate idiom).
    // DuckDB replays the exact twin for every pair; BOTH sketch
    // implementations' estimates are emitted as BIGINTs that must
    // EQUAL the exact values — the transparent KMV at k=4096
    // (unsaturated ⇒ exact by construction) AND Spark 4.1's native
    // DataSketches Theta at lgk=12 (exact mode below 4096 entries;
    // every gate corpus has ≤1500 distinct users/day) — and the
    // saturated k=128 KMV legs pin their in-band bits to 1.
    // Set-algebra correctness is in the row hash; the saturated
    // accuracy contract is the spec's 5σ randomized test.
    "q257_theta_intersect" ->
      """WITH ut AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events),
        |nd AS (SELECT day, count(*) AS nd FROM ut GROUP BY day),
        |ix AS (SELECT a.day AS day_a, b.day AS day_b,
        |    count(*) AS exact_inter
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND b.day = a.day + INTERVAL 1 DAY
        |  GROUP BY a.day, b.day)
        |SELECT ix.day_a, ix.day_b,
        |  CAST(exact_inter AS BIGINT) AS exact_inter,
        |  CAST(na.nd - exact_inter AS BIGINT) AS exact_anotb,
        |  CAST(na.nd + nb.nd - exact_inter AS BIGINT) AS exact_union,
        |  CAST(exact_inter AS BIGINT) AS hi_inter,
        |  CAST(na.nd - exact_inter AS BIGINT) AS hi_anotb,
        |  CAST(na.nd + nb.nd - exact_inter AS BIGINT) AS hi_union,
        |  CAST(exact_inter AS BIGINT) AS nat_inter,
        |  CAST(na.nd - exact_inter AS BIGINT) AS nat_anotb,
        |  CAST(na.nd + nb.nd - exact_inter AS BIGINT) AS nat_union,
        |  CAST(1 AS BIGINT) AS lo_inter_in_band,
        |  CAST(1 AS BIGINT) AS lo_union_in_band
        |FROM ix JOIN nd na ON na.day = ix.day_a
        |        JOIN nd nb ON nb.day = ix.day_b
        |ORDER BY day_a""".stripMargin,

    // q258: the q96 exact-bracket idiom for the native KLL family —
    // DuckDB replays the exact percentile_disc brackets and counts;
    // sketch_n (the stream length) is exact and deterministic, so it
    // pins as n; the three in-band bits pin to 1 (the raw KLL values
    // are randomized-compaction outputs and may never enter a hash).
    "q258_kll_quantiles" -> {
      import graft.operators.Events.{KllDelta, discP}
      s"""WITH b AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
         |p AS (SELECT event_type,
         |    CAST(percentile_disc(${discP(0.5 - KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS lo50,
         |    CAST(percentile_disc(${discP(0.5 + KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS hi50,
         |    CAST(percentile_disc(${discP(0.9 - KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS lo90,
         |    CAST(percentile_disc(${discP(0.9 + KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS hi90,
         |    count(*) AS n
         |  FROM b GROUP BY event_type)
         |SELECT event_type, n, lo50, hi50, lo90, hi90,
         |  n AS sketch_n,
         |  CAST(1 AS BIGINT) AS k50_in_band,
         |  CAST(1 AS BIGINT) AS k90_in_band,
         |  CAST(1 AS BIGINT) AS merged50_in_band
         |FROM p ORDER BY event_type""".stripMargin
    },

    // q259: the oracle parses the SAME synthesized JSON bytes
    // (VariantJsonSynth, shared verbatim) with DuckDB's native JSON
    // functions and CASE-builds the observed-schema label from the
    // same mod arithmetic — pinning Spark's schema_of_variant render
    // (alphabetical fields, BIGINT ints, VOID null) as contract.
    "q259_variant_shred" ->
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j),
         |s AS (SELECT js, concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema
         |  FROM f)
         |SELECT schema, count(*) AS n,
         |  CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |    AS BIGINT) AS sum_uid,
         |  count(CAST(json_extract(js, '$$.value') AS BIGINT)) AS n_value,
         |  CAST(sum(CAST(json_extract(js, '$$.value') AS BIGINT))
         |    AS BIGINT) AS sum_value,
         |  count(CASE WHEN json_extract_string(js, '$$.code') LIKE 'c%'
         |    THEN 1 END) AS n_code_str,
         |  count(json_extract_string(js, '$$.tags[1]')) AS n_tag2,
         |  count(CASE WHEN json_type(js, '$$.note') = 'NULL'
         |    THEN 1 END) AS n_note_null,
         |  min(json_extract_string(js, '$$.tags[0]')) AS first_tag
         |FROM s GROUP BY schema ORDER BY schema""".stripMargin,

    // q260: the theta warehouse roll-up — DuckDB replays the exact
    // weekly twin; both sketch implementations' weekly estimates are
    // exact at gate cardinality (native lgk=12 exact mode, KMV k=4096
    // unsaturated) so they pin EQUAL, and the saturated k=128 leg
    // pins its in-band bit (the q257 idiom at the next grain up).
    "q260_theta_rollup" ->
      """WITH ut AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events),
        |wk AS (SELECT (day - DATE '1970-01-01') // 7 AS week, day,
        |    user_id FROM ut),
        |d AS (SELECT week, count(DISTINCT day) AS n_days,
        |    count(DISTINCT user_id) AS exact_nd
        |  FROM wk GROUP BY week)
        |SELECT week, n_days, exact_nd,
        |  exact_nd AS nat_weekly,
        |  exact_nd AS hi_weekly,
        |  CAST(1 AS BIGINT) AS lo_in_band
        |FROM d ORDER BY week""".stripMargin,

    // q261: the shredded-write identity gate — the oracle replays the
    // schema census from the SAME synthesized bytes (the q259 CASE-
    // built label) and pins every read-back match count at the group
    // size: the files-on-disk identity is Spark-side physics the
    // oracle states as n.
    "q261_variant_shred_write" ->
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j),
         |s AS (SELECT js, concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema
         |  FROM f)
         |SELECT schema, count(*) AS n,
         |  CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |    AS BIGINT) AS sum_uid_stored,
         |  CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |    AS BIGINT) AS sum_uid_reparsed,
         |  count(*) AS n_match_uid,
         |  count(*) AS n_match_value,
         |  count(*) AS n_match_code,
         |  count(*) AS n_match_tag2,
         |  count(*) AS n_match_note,
         |  count(*) AS n_match_schema
         |FROM s GROUP BY schema ORDER BY schema""".stripMargin,

    // q263: native shredding parity — the oracle replays ONE census
    // from the shared synthesis; both layout legs' columns pin to the
    // same values (shredded-read ≡ binary-read is Spark-side physics
    // the oracle states once per column pair).
    "q263_variant_native_shred" ->
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j),
         |s AS (SELECT js, concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema
         |  FROM f),
         |a AS (SELECT schema, count(*) AS n,
         |    CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |      AS BIGINT) AS sum_uid,
         |    count(CAST(json_extract(js, '$$.value') AS BIGINT))
         |      AS n_value,
         |    CAST(sum(CAST(json_extract(js, '$$.value') AS BIGINT))
         |      AS BIGINT) AS sum_value,
         |    count(CASE WHEN json_extract_string(js, '$$.code')
         |      LIKE 'c%' THEN 1 END) AS n_code_str,
         |    count(json_extract_string(js, '$$.tags[1]')) AS n_tag2,
         |    count(CASE WHEN json_type(js, '$$.note') = 'NULL'
         |      THEN 1 END) AS n_note_null
         |  FROM s GROUP BY schema)
         |SELECT schema,
         |  n AS n_sh, n AS n_pl,
         |  sum_uid AS sum_uid_sh, sum_uid AS sum_uid_pl,
         |  n_value AS n_value_sh, n_value AS n_value_pl,
         |  sum_value AS sum_value_sh, sum_value AS sum_value_pl,
         |  n_code_str AS n_code_str_sh, n_code_str AS n_code_str_pl,
         |  n_tag2 AS n_tag2_sh, n_tag2 AS n_tag2_pl,
         |  n_note_null AS n_note_null_sh, n_note_null AS n_note_null_pl
         |FROM a ORDER BY schema""".stripMargin,

    // q262: native TIME(6) profile — TIME-typed columns ride the row
    // hash as values (Spark Parquet TIME(µs) and DuckDB TIME both
    // surface as datetime.time in the comparator); DuckDB builds its
    // TIMEs by exact string parse of the zero-padded µs render, and
    // replays every integer twin column from the same µs arithmetic.
    "q262_time_native" ->
      """WITH b AS (SELECT event_type,
        |    epoch_us(ts) % 86400000000 AS us FROM events),
        |a AS (SELECT event_type, us // 3600000000 AS h,
        |    count(*) AS n, min(us) AS mn, max(us) AS mx,
        |    CAST(sum(us % 60000000) AS BIGINT) AS sec_us
        |  FROM b GROUP BY event_type, h)
        |SELECT event_type,
        |  CAST(printf('%02d:00:00', h) AS TIME) AS hour_t,
        |  n,
        |  CAST(printf('%02d:%02d:%02d.%06d', mn // 3600000000,
        |    (mn // 60000000) % 60, (mn // 1000000) % 60,
        |    mn % 1000000) AS TIME) AS min_t,
        |  CAST(printf('%02d:%02d:%02d.%06d', mx // 3600000000,
        |    (mx // 60000000) % 60, (mx // 1000000) % 60,
        |    mx % 1000000) AS TIME) AS max_t,
        |  mn AS min_us_nat,
        |  mn AS min_us,
        |  sec_us AS sec_us_nat,
        |  sec_us AS sec_us,
        |  n AS n_recon
        |FROM a ORDER BY event_type, hour_t""".stripMargin,

    // q264: the oracle re-derives the four SQL-function BODIES inline
    // (independent encodings of the same definitions — Spark resolves
    // them through CREATE FUNCTION + catalog lookup + inlining, DuckDB
    // evaluates the raw expressions).
    "q264_sql_udf" ->
      """WITH so AS (SELECT o.o_orderpriority AS prio,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) *
        |      (CASE substring(o.o_orderpriority, 1, 1) WHEN '1' THEN 5
        |        WHEN '2' THEN 4 WHEN '3' THEN 3 WHEN '4' THEN 2
        |        ELSE 1 END) AS wcents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING')
        |SELECT prio,
        |  CASE substring(prio, 1, 1) WHEN '1' THEN 5 WHEN '2' THEN 4
        |    WHEN '3' THEN 3 WHEN '4' THEN 2 ELSE 1 END AS w,
        |  count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(wcents) AS BIGINT) AS sum_wcents
        |FROM so GROUP BY prio ORDER BY prio""".stripMargin,

    // q265: the oracle INLINES the variable values ('AUTOMOBILE', the
    // orders table name) and replays the data-derived threshold as a
    // scalar subquery — q126's proof pattern for bound parameters.
    "q265_exec_immediate" ->
      """WITH m AS (SELECT count(*) // 50 AS minn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'AUTOMOBILE')
        |SELECT c.c_nationkey AS nk, count(*) AS n,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'AUTOMOBILE'
        |GROUP BY c.c_nationkey
        |HAVING count(*) >= (SELECT minn FROM m)
        |ORDER BY nk""".stripMargin,

    // q266: DuckDB has no XML parser, so the oracle replays the drift
    // axes arithmetically from the same source columns (the q262
    // pattern) — every from_xml- and xpath-derived aggregate must
    // land on the mod-arithmetic ground truth.
    "q266_xml_census" ->
      """WITH b AS (SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    (event_id % 7 <> 0) AS has_v,
        |    (event_id % 3 = 0) AS has_t
        |  FROM events)
        |SELECT event_type AS tier,
        |  concat(CASE WHEN has_v THEN 'v1' ELSE 'v0' END,
        |    CASE WHEN has_t THEN '-t1' ELSE '-t0' END) AS shape,
        |  count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  count(CASE WHEN has_v THEN 1 END) AS n_value,
        |  CAST(sum(CASE WHEN has_v THEN cents END) AS BIGINT)
        |    AS sum_value,
        |  count(CASE WHEN has_t THEN 1 END) AS n_tag2,
        |  min(CASE WHEN has_t THEN event_type END) AS first_tag,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid_xp,
        |  count(CASE WHEN has_v THEN 1 END) AS n_value_xp,
        |  count(CASE WHEN has_t THEN 1 END) AS n_tag2_xp,
        |  count(*) AS n_tier_agree
        |FROM b GROUP BY tier, shape ORDER BY tier, shape""".stripMargin,

    // q267: each try_* outcome re-encoded independently — DuckDB
    // TRY_CAST, /nullif for ÷0, HUGEINT-compare overflow guards,
    // native out-of-range list indexing; the to_number round-trip
    // replays the cents it rendered. Nullable BIGINTs surface as
    // float64 through pandas on BOTH sides, so 9.2e18 stringifies
    // identically.
    "q267_try_arithmetic" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT k, cents,
        |    CASE WHEN k % 3 = 0 THEN 'x' || CAST(k AS VARCHAR)
        |      ELSE CAST(k AS VARCHAR) END AS s,
        |    CAST(9223372036854775800 + k % 8 AS BIGINT) AS big,
        |    [k, k + 1, k + 2] AS arr
        |  FROM b)
        |SELECT k,
        |  TRY_CAST(s AS BIGINT) AS safe_int,
        |  round(k / nullif(k % 5, 0), 6) AS safe_div,
        |  CAST(CASE WHEN CAST(big AS HUGEINT) + (k % 2 * 10) >
        |      9223372036854775807 THEN NULL
        |    ELSE CAST(big AS HUGEINT) + (k % 2 * 10) END AS BIGINT)
        |    AS safe_add,
        |  CAST(CASE WHEN CAST(big AS HUGEINT) * (k % 2 + 1) >
        |      9223372036854775807 THEN NULL
        |    ELSE CAST(big AS HUGEINT) * (k % 2 + 1) END AS BIGINT)
        |    AS safe_mul,
        |  arr[CAST(1 + k % 5 AS BIGINT)] AS safe_elem,
        |  cents AS cents_back,
        |  CAST(NULL AS DECIMAL(3,0)) AS bad_number
        |FROM f ORDER BY k""".stripMargin,

    // qS12: q262's TIME derivation at ingest, gated at ROW grain —
    // the oracle replays every arriving row's µs-of-day arithmetic
    // and builds its TIME values by exact string parse (the q262
    // comparator contract: TIME compared as values).
    "qS12_stream_time" ->
      """WITH b AS (SELECT event_id,
        |    epoch_us(ts) % 86400000000 AS us FROM events)
        |SELECT event_id, us,
        |  CAST(printf('%02d:%02d:%02d.%06d', us // 3600000000,
        |    (us // 60000000) % 60, (us // 1000000) % 60,
        |    us % 1000000) AS TIME) AS t,
        |  CAST(printf('%02d:00:00', us // 3600000000) AS TIME)
        |    AS hour_t,
        |  us % 60000000 AS sec_us_nat,
        |  us % 60000000 AS sec_us
        |FROM b ORDER BY event_id""".stripMargin,

    // qS11: q259's extraction at ingest, gated at ROW grain — the
    // oracle replays every arriving row's typed extraction and
    // schema label from the shared synthesis text.
    "qS11_stream_variant" ->
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT event_id, js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j)
         |SELECT event_id,
         |  concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema,
         |  CAST(json_extract(js, '$$.user.uid') AS BIGINT) AS uid,
         |  CAST(json_extract(js, '$$.value') AS BIGINT) AS value_cents,
         |  json_extract_string(js, '$$.code') AS code,
         |  json_extract_string(js, '$$.tags[1]') AS tag2,
         |  CAST(CASE WHEN json_type(js, '$$.note') = 'NULL'
         |    THEN 1 ELSE 0 END AS BIGINT) AS note_is_null
         |FROM f ORDER BY event_id""".stripMargin,

    // q251: DuckDB rebuilds the ENTIRE band index from scratch over
    // its own snapshot-B derivation (the q246 modular fixture carried
    // as full document rows), through the same shingle→minhash→band
    // CTEs the q28 pair oracle uses — so hash-match on every (doc,
    // band, bkey) row IS the IVM identity: the engine's delta-only
    // maintenance ≡ a from-scratch rebuild, cross-engine.
    "q251_lsh_ivm" ->
      s"""WITH $snapbDocsCte,
         |${bandsCteOver("snapb")}
         |SELECT doc_id, lang, CAST(band AS BIGINT) AS band, bkey
         |FROM bk0 ORDER BY doc_id, band""".stripMargin,

    // q252: the composed IVM gate. DuckDB recomputes ALL THREE
    // document-side artifacts from scratch over its own snapshot-B
    // derivation (survivor election, per-term distinct-doc DF, the
    // full band rebuild through the shared q28 CTEs), renders each
    // row canonically and folds it into the same 60-bit bit_xor
    // fingerprint the engine computes over its DELTA-MAINTAINED
    // artifacts — maintenance ≡ recompute for the whole family, plus
    // a fingerprint of the shared change feed itself.
    "q252_cdc_maintain_all" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |$snapbDocsCte,
         |sfp AS (SELECT doc_id, md5(text) AS fp FROM snapb),
         |sv AS (SELECT fp, min(doc_id) AS sid FROM sfp GROUP BY fp),
         |tokd2 AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_extract_all(text, '\\S+')))
         |      AS token
         |  FROM snapb),
         |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |  FROM tokd2 GROUP BY token),
         |${bandsCteOver("snapb")},
         |feed AS (
         |  SELECT 'D:' || CAST(doc_id AS VARCHAR) AS r
         |  FROM documents WHERE doc_id % 11 = 0
         |  UNION ALL
         |  SELECT 'U:' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT 'I:' || CAST(doc_id + (SELECT m FROM mx) + 1 AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0)
         |SELECT * FROM (
         |  SELECT 'band_index' AS artifact,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    bit_xor(CAST(concat('0x', substring(md5(
         |      CAST(doc_id AS VARCHAR) || ':' || CAST(band AS VARCHAR)
         |        || ':' || bkey), 1, 15)) AS BIGINT)) AS content_fp
         |  FROM bk0
         |  UNION ALL
         |  SELECT 'cdc_delta', CAST(count(*) AS BIGINT),
         |    bit_xor(CAST(concat('0x', substring(md5(r), 1, 15))
         |      AS BIGINT))
         |  FROM feed
         |  UNION ALL
         |  SELECT 'df_table', CAST(count(*) AS BIGINT),
         |    bit_xor(CAST(concat('0x', substring(md5(
         |      token || ':' || CAST(df AS VARCHAR)), 1, 15)) AS BIGINT))
         |  FROM dft
         |  UNION ALL
         |  SELECT 'survivors', CAST(count(*) AS BIGINT),
         |    bit_xor(CAST(concat('0x', substring(md5(
         |      fp || ':' || CAST(sid AS VARCHAR)), 1, 15)) AS BIGINT))
         |  FROM sv)
         |ORDER BY artifact""".stripMargin,

    // qS06: q250's arrival-assignment leg at ingest. The oracle is
    // q250's from-scratch derivation RESTRICTED to the arrival set
    // (the stateless-gate argument: per-row argmax with an
    // offline-fit model emits the same rows streamed or batch).
    "qS06_stream_ivf_assign" ->
      s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
         |cents AS (SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings WHERE vec_id < 16),
         |arr AS (SELECT vec_id + m + 1 AS vec_id,
         |    list_transform(embedding, x -> -x) AS embedding
         |  FROM embeddings, mx WHERE vec_id % 13 = 0),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM arr v CROSS JOIN cents c),
         |su AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |sc AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0
         |    THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s
         |  FROM su),
         |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cid) AS rn
         |  FROM sc) WHERE rn = 1)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM cell GROUP BY cid ORDER BY cid""".stripMargin,

    // qS07: the trained tokenizer APPLIED at ingest, per document.
    // The oracle re-derives q244's merge chain (the shared training
    // CTEs), applies it to the DISTINCT word types — the vocabulary
    // route, deliberately different from the engine's per-row
    // joined-string projection — and joins subword counts back to a
    // doc_id-carrying token relation. Per-document totals must agree
    // with the engine's separator-count arithmetic exactly.
    "qS07_stream_bpe_tokenize" -> {
      val applyChain = (1 to TextAnalysis.BpeMerges).map { k =>
        val p = k - 1
        s"""al$k AS MATERIALIZED (SELECT w, replace(sym,
           |    '·' || (SELECT a FROM m$k) || '··' ||
           |      (SELECT b FROM m$k) || '·',
           |    '·' || (SELECT a FROM m$k) ||
           |      (SELECT b FROM m$k) || '·') AS sym
           |  FROM al$p)""".stripMargin
      }.mkString(",\n")
      val R = TextAnalysis.BpeMerges
      s"""WITH $bpeSelectionCtes,
         |tokd AS (SELECT doc_id, lang,
         |    unnest(regexp_extract_all(text, '\\S+')) AS w
         |  FROM documents),
         |vt AS (SELECT DISTINCT w FROM tokd),
         |al0 AS MATERIALIZED (SELECT w, '·' || array_to_string(
         |    list_transform(range(1, length(w) + 1),
         |      i -> substring(w, CAST(i AS INTEGER), 1)), '··') || '·'
         |    AS sym
         |  FROM vt),
         |$applyChain,
         |wt AS (SELECT w, len(string_split(
         |    substring(sym, 2, length(sym) - 2), '··')) AS n_tok
         |  FROM al$R)
         |SELECT tokd.doc_id, tokd.lang,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(wt.n_tok) AS BIGINT) AS n_subwords
         |FROM tokd JOIN wt USING (w)
         |GROUP BY tokd.doc_id, tokd.lang ORDER BY tokd.doc_id""".stripMargin
    },

    // qS08: q251's arrival leg at ingest. The oracle is q251's
    // from-scratch band derivation RESTRICTED to the arrival set
    // (revised texts under their old key + re-keyed inserts) — the
    // same stateless-gate argument as qS06.
    "qS08_stream_lsh_band" ->
      s"""WITH arrb AS (
         |  SELECT doc_id, lang, text || ' [rev2]' AS text
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
         |      AS doc_id, lang, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |${bandsCteOver("arrb")}
         |SELECT doc_id, lang, CAST(band AS BIGINT) AS band, bkey
         |FROM bk0 ORDER BY doc_id, band""".stripMargin,

    // qS09: content-dedup admission at ingest. DuckDB derives the
    // same arrival feed (revised + re-keyed rows, new content on
    // even re-keys) and admits by its own NOT IN anti-join against
    // the distinct base fingerprint set — fingerprints never null,
    // so NOT IN is the exact anti-join.
    "qS09_stream_dedup_admit" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |basefp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
        |arr AS (
        |  SELECT doc_id, lang, text || ' [rev2]' AS text
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + m + 1 AS doc_id, lang,
        |    CASE WHEN (doc_id + m + 1) % 2 = 0 THEN text || ' [new]'
        |         ELSE text END AS text
        |  FROM documents, mx WHERE doc_id % 13 = 0)
        |SELECT doc_id, lang, md5(text) AS fp
        |FROM arr WHERE md5(text) NOT IN (SELECT fp FROM basefp)
        |ORDER BY doc_id""".stripMargin,

    // qS10: q256's scrub at ingest, gated at ROW grain — the same
    // fixture + detect/redact CTEs, emitted per document with the
    // md5 of the redacted text (the batch gate's aggregate folds the
    // same values per source; this one pins every row's rewrite).
    "qS10_stream_pii" ->
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 0 THEN text ELSE
         |      text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.org or +1-555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
         |    END AS pii_text
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '${graft.operators.TextAnalysis.PiiEmailRe}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '${graft.operators.TextAnalysis.PiiPhoneRe}')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '${graft.operators.TextAnalysis.PiiIpv4Re}')) AS BIGINT)
         |    AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '${graft.operators.TextAnalysis.PiiEmailRe}', '<EMAIL>', 'g'),
         |    '${graft.operators.TextAnalysis.PiiPhoneRe}', '<PHONE>', 'g'),
         |    '${graft.operators.TextAnalysis.PiiIpv4Re}', '<IP>', 'g'))
         |    AS redacted_fp
         |FROM aug ORDER BY doc_id""".stripMargin,

    // qS05: q246's CDC at ingest. Same deterministic snapshot-B
    // fixture, but classified from the FEED's point of view — a LEFT
    // join from arrivals to base (the stream-static shape), so only
    // the three classes an arrival can witness exist; delete is a
    // non-arrival and stays with the batch reconciliation (q246).
    "qS05_stream_cdc" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |base AS (SELECT doc_id, md5(text) AS fpa FROM documents),
        |surv AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS fpb
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, md5(text) AS fpb
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |snap AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
        |j AS (SELECT snap.doc_id, fpa, fpb
        |  FROM snap LEFT JOIN base USING (doc_id)),
        |c AS (SELECT doc_id,
        |    CASE WHEN fpa IS NULL THEN 'insert'
        |         WHEN fpa = fpb THEN 'unchanged'
        |         ELSE 'update' END AS change
        |  FROM j)
        |SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_keys
        |FROM c GROUP BY change ORDER BY change""".stripMargin,

    // q242: the q237 philosophy applied to z-order — the oracle
    // re-derives the 8-bit scaling, the Morton interleave (the SAME
    // div/mod fragment builder, DuckDB's `//` spelling) and both
    // arithmetic file assignments from the ORIGINAL lineitem, never
    // reading the scratch layouts; a physical write/read/introspect
    // divergence breaks the hash.
    "q242_zorder_layout" -> {
      val z = graft.sources.Layout.zInterleaveExpr("xb", "yb", "//")
      s"""WITH s AS (SELECT CAST(l_partkey AS BIGINT) AS x,
         |    CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
         |mx AS (SELECT max(x) AS maxx, max(y) AS maxy FROM s),
         |b AS (SELECT x * 256 // (maxx + 1) AS xb,
         |    y * 256 // (maxy + 1) AS yb FROM s, mx),
         |a AS (SELECT xb, yb, ($z) // 4096 AS f_zorder,
         |    xb // 16 AS f_linear FROM b),
         |pz AS (SELECT f_zorder, count(*) AS n,
         |    min(xb) AS mnx, max(xb) AS mxx,
         |    min(yb) AS mny, max(yb) AS mxy FROM a GROUP BY 1),
         |pl AS (SELECT f_linear, count(*) AS n,
         |    min(xb) AS mnx, max(xb) AS mxx,
         |    min(yb) AS mny, max(yb) AS mxy FROM a GROUP BY 1),
         |rz AS (SELECT 'zorder' AS layout,
         |    CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |      AS sum_bbox_area,
         |    CAST(sum(CASE WHEN mnx <= 115 AND mxx >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_x,
         |    CAST(sum(CASE WHEN mny <= 115 AND mxy >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_y FROM pz),
         |rl AS (SELECT 'linear' AS layout,
         |    CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |      AS sum_bbox_area,
         |    CAST(sum(CASE WHEN mnx <= 115 AND mxx >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_x,
         |    CAST(sum(CASE WHEN mny <= 115 AND mxy >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_y FROM pl)
         |SELECT * FROM rz UNION ALL SELECT * FROM rl
         |ORDER BY layout""".stripMargin
    },

    // q237: the oracle re-derives every per-file statistic from the
    // ORIGINAL table via the same arithmetic file assignment — it
    // never reads the scratch layouts, so a physical write/read/
    // introspect divergence in the engine breaks the hash (the q106
    // philosophy applied to layout stats).
    "q237_layout_health" ->
      """WITH li AS (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem),
        |m AS (SELECT max(k) // 8 + 1 AS width FROM li),
        |a AS (SELECT k, k // width AS fc, k % 8 AS fs
        |  FROM li CROSS JOIN m),
        |pc AS (SELECT fc AS f, count(*) AS n, min(k) AS mn, max(k) AS mx
        |  FROM a GROUP BY fc),
        |ps AS (SELECT fs AS f, count(*) AS n, min(k) AS mn, max(k) AS mx
        |  FROM a GROUP BY fs),
        |oc AS (SELECT CAST(count(*) AS BIGINT) AS ov FROM pc x JOIN pc y
        |  ON x.f < y.f AND y.mn <= x.mx AND x.mn <= y.mx),
        |os AS (SELECT CAST(count(*) AS BIGINT) AS ov FROM ps x JOIN ps y
        |  ON x.f < y.f AND y.mn <= x.mx AND x.mn <= y.mx)
        |SELECT 'clustered' AS layout,
        |  CAST((SELECT count(*) FROM pc) AS BIGINT) AS n_files,
        |  CAST((SELECT sum(n) FROM pc) AS BIGINT) AS n_rows,
        |  (SELECT ov FROM oc) AS overlapping_pairs
        |UNION ALL
        |SELECT 'shuffled',
        |  CAST((SELECT count(*) FROM ps) AS BIGINT),
        |  CAST((SELECT sum(n) FROM ps) AS BIGINT),
        |  (SELECT ov FROM os)
        |ORDER BY layout""".stripMargin,

    // qS03: the cleaning stage is stateless, so the streamed output
    // is exactly the batch projection — the q42 quality construction
    // with the 0.4 threshold, plus the q44 redaction md5, per doc.
    "qS03_stream_clean" -> {
      val email = TextAnalysis.EmailPattern
      val num = TextAnalysis.LongNumberPattern
      s"""WITH d AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, lang, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id, lang, text,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6)
         |    AS quality
         |  FROM e)
         |SELECT doc_id, lang, quality,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |  md5(regexp_replace(
         |    regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |    '$num', '<NUM>', 'g')) AS redacted_fp
         |FROM q WHERE quality > 0.4 ORDER BY doc_id""".stripMargin
    },

    // qS01: the streaming run's emitted set replayed in batch — q19's
    // gaps-and-islands sessionization plus the watermark SEAL: only
    // sessions whose end (last event + 30 min) is at or below the
    // final watermark (max event time floored to Spark's ms watermark
    // precision, minus the 2 h delay) are append-emitted. Epoch-µs
    // BIGINTs on both sides (instant/naive parquet timestamps don't
    // hash cross-engine).
    "qS01_stream_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 7200000000
        |    AS wm_us FROM e),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT user_id, epoch_us(min(ts)) AS start_us,
        |    epoch_us(max(ts)) + 1800000000 AS end_us,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |      AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM g CROSS JOIN wm WHERE end_us <= wm_us
        |ORDER BY user_id, start_us""".stripMargin
  )

  /** The DSIR bucket-weight CTE pair shared by every DSIR oracle:
    * the smoothed log-ratio as ONE rational, its ln taken by
    * [[graft.functions.FixedLog.sqlExpr]] — the exact integer
    * algorithm the engine runs in Scala, so the micro-unit BIGINTs
    * agree by construction (no float `ln` left in any DSIR gate;
    * the r16 verdict's flake-class kill). `dist`/`tot` carry
    * (b, cp, cq) and (np, nq); emits `<p>wr` and `<p>w`.
    */
  private def dsirLwCtes(p: String, dist: String, tot: String): String =
    s"""${p}wr AS (SELECT b, (2 * cp + 1) * (2 * nq + 1024) AS lnum,
       |    (2 * np + 1024) * (2 * cq + 1) AS lden FROM $dist, $tot),
       |${p}w AS (SELECT b,
       |  ${graft.functions.FixedLog.sqlExpr("lnum", "lden", 6)} AS lw
       |  FROM ${p}wr)""".stripMargin

  /** The integer-exact seeded Gumbel key CTEs shared by q241/q247:
    * 6-hex md5 prefix h → u = (2h+1)/2^25, inner −ln(u) in PICO
    * units, outer −ln(inner) in micro — both [[FixedLog.sqlExpr]]
    * integer evaluations, mirroring the engine's gumbelKeyMicro.
    * Input `gum` carries (h, w_micro, $carry); emits `gh`/`gi`/
    * `keyed` with key_micro = w_micro + g_micro.
    */
  private def gumbelKeyCtes(carry: String): String =
    s"""gh AS (SELECT $carry, w_micro,
       |    2 * ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 1048576
       |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 65536
       |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 4096
       |     + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 256
       |     + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1)) + 1
       |      AS hden
       |  FROM gum),
       |gi AS (SELECT $carry, w_micro,
       |    ${graft.functions.FixedLog.sqlExpr("33554432", "hden", 12)}
       |      AS ipico
       |  FROM gh),
       |keyed AS (SELECT $carry, w_micro, w_micro -
       |    ${graft.functions.FixedLog.sqlExpr("ipico", "1000000000000", 6)}
       |      AS key_micro
       |  FROM gi)""".stripMargin

  /** Shared q240/qS04 oracle: DSIR importance weights re-derived
    * from first principles (the q114 ordinality idiom for bigram
    * adjacency, the q47 md5 bucket hash, micro-unit integer
    * log-ratios via the FixedLog integer algorithm). qS04's streamed
    * scorer is a stateless projection of an offline-fit model over
    * the same corpus, so its emitted set equals the batch scoring —
    * ONE oracle text, two gates.
    */
  private val dsirWeightsOracle: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
       |tok AS (SELECT doc_id, lang, unnest(toks) AS tok,
       |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM t),
       |bg AS (SELECT a.doc_id, a.lang, md5(a.tok || ' ' || b.tok) AS h
       |  FROM tok a JOIN tok b
       |    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
       |bk AS (SELECT doc_id, lang,
       |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 256
       |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1))
       |    % 1024 AS b
       |  FROM bg),
       |dist AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS cp,
       |    count(*) AS cq FROM bk GROUP BY b),
       |tot AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM dist),
       |${dsirLwCtes("", "dist", "tot")}
       |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(w.lw) AS BIGINT) AS w_micro
       |FROM bk JOIN w USING (b)
       |GROUP BY bk.doc_id ORDER BY doc_id""".stripMargin

  /** Shared q250/q255 oracle: the maintained IVF index re-derived
    * from scratch over DuckDB's own snapshot-B (survivors + re-keyed
    * negated arrivals, assigned to the frozen first-16 centroids) —
    * the maintenance ≡ rebuild identity, consumed by the logical IVM
    * gate (q250, moduli 11/13) and the stored-partitioned
    * write-path gate (q255, sparser 97/101 so churn touches a strict
    * subset of cells — the partial-rewrite story being gated).
    */
  private def ivfIvmOracle(depMod: Int, arrMod: Int): String =
    s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
       |cents AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 16),
       |surv AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % $depMod <> 0),
       |arr AS (SELECT vec_id + m + 1 AS vec_id,
       |    list_transform(embedding, x -> -x) AS embedding
       |  FROM embeddings, mx WHERE vec_id % $arrMod = 0),
       |b AS (SELECT * FROM surv UNION ALL SELECT * FROM arr),
       |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
       |    unnest(range(1, 65)) AS i
       |  FROM b v CROSS JOIN cents c),
       |su AS (SELECT vec_id, cid,
       |    $cosinePairSql
       |  FROM ax GROUP BY vec_id, cid),
       |sc AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0
       |    THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s
       |  FROM su),
       |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid) AS rn
       |  FROM sc) WHERE rn = 1)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(vec_id) AS BIGINT) AS sum_ids
       |FROM cell GROUP BY cid ORDER BY cid""".stripMargin

  /** Corpus dir the DYNAMIC oracles (q254) are generated against.
    * [[Verify]] sets it to its sfDir argument BEFORE dumping
    * oracle_sql.json, so the embedded artifact always matches the
    * corpus the driver compares on; the default keeps spec-time
    * evaluation cheap and deterministic.
    */
  @volatile var oracleCorpusDir: String = "/root/testdata/sf0.001"

  /** Shared q244/q253 oracle: DuckDB trains the [[TextAnalysis
    * .BpeMerges]]-round merge table from scratch (unrolled stages).
    */
  private lazy val bpeTrainOracle: String = {
    val rows = (1 to TextAnalysis.BpeMerges).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, a AS lhs, b AS rhs, " +
        s"CAST(pc AS BIGINT) AS pair_count FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeSelectionCtes
       |$rows
       |ORDER BY rank""".stripMargin
  }

  /** q254 oracle, generated at oracle-dump time: embed the engine's
    * trained 1024-rule sequence-level table as VALUES and re-APPLY it
    * in DuckDB with a recursive per-rank replace chain (rank r fires
    * at recursion depth r — literally the chain semantics the kernel
    * must reproduce), then re-derive the fertility report. Training
    * is memoized, so the query and its oracle read the same artifact;
    * the table's SELECTION is independently cross-engine-gated at 64
    * rules by q253 (DuckDB trains from scratch there — 1024 unrolled
    * training stages would be a megabyte of SQL and quadratic planner
    * pain, while 1024 APPLY iterations are one recursive CTE).
    */
  private def bpeSeqOracle: String = {
    // The active session, not a builder: getOrCreate with configs
    // would rewrite the calling session's runtime conf.
    val spark = SparkSession.active
    val merges = TextAnalysis.bpeSeqMergesFor(spark, oracleCorpusDir)
    def esc(s: String) = s.replace("'", "''")
    val values = merges
      .map { case (r, a, b, _) => s"($r, '${esc(a)}', '${esc(b)}')" }
      .mkString(", ")
    val n = merges.length
    s"""WITH RECURSIVE m AS (SELECT * FROM (VALUES $values) v(rank, a, b)),
       |u AS (SELECT lang, text, count(*) AS cnt FROM documents
       |  GROUP BY lang, text),
       |base AS (SELECT lang, text, cnt, length(text) AS chars,
       |    '·' || array_to_string(list_transform(range(1, length(text) + 1),
       |      i -> substring(text, CAST(i AS INTEGER), 1)), '··') || '·'
       |      AS sym
       |  FROM u),
       |app AS (
       |  SELECT lang, text, cnt, chars, sym, 0 AS r FROM base
       |  UNION ALL
       |  SELECT a.lang, a.text, a.cnt, a.chars,
       |    replace(a.sym, '·' || m.a || '··' || m.b || '·',
       |      '·' || m.a || m.b || '·'), a.r + 1
       |  FROM app a JOIN m ON m.rank = a.r + 1 WHERE a.r < $n),
       |fin AS (SELECT lang, cnt, chars,
       |    len(string_split(substring(sym, 2, length(sym) - 2), '··'))
       |      AS n_tok
       |  FROM app WHERE r = $n)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_text_types,
       |  CAST(sum(cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(chars * cnt) AS BIGINT) AS sum_chars,
       |  CAST(sum(n_tok * cnt) AS BIGINT) AS sum_subwords,
       |  CAST(sum(chars * cnt) * 1000 // sum(n_tok * cnt) AS BIGINT)
       |    AS chars_per_subword_permille
       |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Shared q244/q245 oracle CTEs: the BPE merge-SELECTION chain —
    * word counts, char-fenced symbols, and one MATERIALIZED
    * (pair-count → argmax → replace) stage per merge round (DuckDB
    * inlines CTEs by default and each argmax is referenced three
    * times, so the plain form expands 3^rounds). q244 reads the m$k
    * argmax rows; q245 additionally applies them to a lang-aware
    * vocabulary copy.
    */
  private val bpeSelectionCtes: String = {
    val stages = (1 to TextAnalysis.BpeMerges).map { k =>
      val p = k - 1
      s"""px$k AS (SELECT cnt, string_split(
         |    substring(sym, 2, length(sym) - 2), '··') AS parts
         |  FROM w$p),
         |pe$k AS (SELECT cnt, parts,
         |    unnest(range(1, len(parts))) AS i FROM px$k),
         |pp$k AS (SELECT cnt, parts[CAST(i AS INTEGER)] AS a,
         |    parts[CAST(i + 1 AS INTEGER)] AS b FROM pe$k),
         |pc$k AS (SELECT a, b, sum(cnt) AS pc FROM pp$k GROUP BY a, b),
         |m$k AS MATERIALIZED (SELECT a, b, pc FROM pc$k
         |  ORDER BY pc DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (SELECT replace(sym,
         |    '·' || (SELECT a FROM m$k) || '··' ||
         |      (SELECT b FROM m$k) || '·',
         |    '·' || (SELECT a FROM m$k) ||
         |      (SELECT b FROM m$k) || '·') AS sym,
         |  cnt FROM w$p)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT lang, unnest(regexp_extract_all(text, '\\S+'))
       |    AS w FROM documents),
       |wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
       |w0 AS MATERIALIZED (SELECT '·' || array_to_string(
       |    list_transform(range(1, length(w) + 1),
       |      i -> substring(w, CAST(i AS INTEGER), 1)), '··') || '·'
       |    AS sym,
       |  cnt FROM wc),
       |$stages""".stripMargin
  }

  /** Shared q75/q79 oracle CTEs: per-(user, hour) collapse with the
    * total-ordered last-in-hour pick, per-user bounds, the hourly
    * grid, and the grid⟕hourly join `j`.
    */
  private val hourlyGridCtes: String =
    """hourly AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    arg_max(value,
      |      lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0') ||
      |      lpad(CAST(event_id AS VARCHAR), 12, '0')) AS v_obs,
      |    CAST(count(*) AS BIGINT) AS n_obs
      |  FROM events GROUP BY user_id, h),
      |bounds AS (SELECT user_id, min(h) AS hmin, max(h) AS hmax
      |  FROM hourly GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(range(hmin, hmax + 1)) AS h
      |  FROM bounds),
      |j AS (SELECT g.user_id, g.h, o.v_obs,
      |    coalesce(o.n_obs, CAST(0 AS BIGINT)) AS n_obs
      |  FROM grid g LEFT JOIN hourly o
      |    ON g.user_id = o.user_id AND g.h = o.h)""".stripMargin
}
