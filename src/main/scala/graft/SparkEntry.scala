package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, AsofJoin, Cluster, CoreQueries, CorpusOps,
  CurationGate, Dedup, FormatQueries, Governance, Graph, JdbcQueries,
  KpiQueries, NeardupGate, Profiling, RangeJoin, RetailQueries, ScaleOps,
  SemdedupGate, Similarity, Skew, Stats, TextQueries}

/** The query registry and its entry points — see SURVEY.md §7.
  *
  * Each `queries` key has a DuckDB-runnable oracle in [[OracleSql]]
  * (omitted only for ops whose semantics aren't SQL-expressible; the
  * driver then records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The T1 denormalization join chain — the engine's spine. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q03DenormJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pruned_agg" -> (CoreQueries.q01PrunedAgg _),
    "q02_filtered_scan" -> (CoreQueries.q02FilteredScan _),
    "q03_denorm_join" -> (CoreQueries.q03DenormJoin _),
    "q04_cte_sql" -> (CoreQueries.q04CteSql _),
    "q05_agg_then_join" -> (CoreQueries.q05AggThenJoin _),
    "q06_count_distinct" -> (CoreQueries.q06CountDistinct _),
    "q07_kpi_arithmetic" -> (CoreQueries.q07KpiArithmetic _),
    "q08_weekday" -> (CoreQueries.q08Weekday _),
    "q09_multi_sort" -> (CoreQueries.q09MultiSort _),
    "q10_topk" -> (CoreQueries.q10TopK _),
    "q11_window_rank" -> (CoreQueries.q11WindowRank _),
    "q12_json_extract" -> (CoreQueries.q12JsonExtract _),
    "q13_anti_join" -> (CoreQueries.q13AntiJoin _),
    "q14_semi_join" -> (CoreQueries.q14SemiJoin _),
    "q19_hourly_events" -> (CoreQueries.q19HourlyEvents _),
    "q36_rollup" -> (CoreQueries.q36Rollup _),
    // LLM-data-pipeline surface: text analysis, dedup, similarity,
    // multimodal plumbing.
    "q15_tokens_quality" -> (TextQueries.q15TokensQuality _),
    "q16_langid" -> (TextQueries.q16LangId _),
    "q17_fingerprint" -> (TextQueries.q17Fingerprint _),
    "q18_exact_dedup" -> (TextQueries.q18ExactDedup _),
    "q20_minhash_signature" -> (Dedup.q20MinhashSignature _),
    "q21_lsh_pairs" -> (Dedup.q21LshPairs _),
    "q22_ngram_jaccard" -> (TextQueries.q22NgramJaccard _),
    "q23_knn_bruteforce" -> (Similarity.q23KnnBruteForce _),
    "q24_ann_lsh" -> (Similarity.q24AnnLsh _),
    "q25_binary_meta" -> (graft.multimodal.Multimodal.q25BinaryMeta _),
    "q31_cosine_neardup" -> (Similarity.q31CosineNearDup _),
    "q32_bpe_tokens" -> (TextQueries.q32BpeTokens _),
    "q34_ann_ivf" -> (Similarity.q34AnnIvf _),
    "q35_trigram_langid" -> (TextQueries.q35TrigramLangId _),
    "q33_media_preprocess" -> (graft.multimodal.Multimodal.q33MediaPreprocess _),
    "q26_simhash" -> (Dedup.q26Simhash _),
    // Athena-KPI-shaped queries (SURVEY §2.13)
    "q27_weekday_hour" -> (KpiQueries.q27WeekdayHour _),
    "q28_customer_monthly" -> (KpiQueries.q28CustomerMonthly _),
    "q29_category_share" -> (KpiQueries.q29CategoryShare _),
    "q30_deterministic_sample" -> (TextQueries.q30DeterministicSample _),
    // Round-2 analytic surface: custom operators Spark lacks (as-of
    // join, binned range join, dedup clustering) + windowed analytics,
    // sessionization, set ops, CUBE, pivot, arg-max, quantiles, TF-IDF.
    "q37_asof_join" -> (AsofJoin.q37AsofJoin _),
    "q38_range_join" -> (RangeJoin.q38RangeJoin _),
    "q39_dedup_clusters" -> (Cluster.q39DedupClusters _),
    "q40_moving_window" -> (Analytics.q40MovingWindow _),
    "q41_sessionize" -> (Analytics.q41Sessionize _),
    "q42_setops" -> (Analytics.q42SetOps _),
    "q43_cube" -> (Analytics.q43Cube _),
    "q44_pivot" -> (Analytics.q44Pivot _),
    "q45_argmax" -> (Analytics.q45ArgMax _),
    "q46_quantiles" -> (Analytics.q46Quantiles _),
    "q47_approx_distinct" -> (Analytics.q47ApproxDistinct _),
    "q48_tfidf" -> (TextQueries.q48TfIdf _),
    "q49_stratified_sample" -> (Analytics.q49StratifiedSample _),
    "q50_group_arrays" -> (Analytics.q50GroupArrays _),
    "q51_salted_agg" -> (Analytics.q51SaltedAgg _),
    "q52_media_knn" -> (graft.multimodal.Multimodal.q52MediaKnn _),
    "q53_ann_ivf_trained" -> (Similarity.q53AnnIvfTrained _),
    "q54_minhash_md5" -> (Dedup.q54MinhashMd5 _),
    "q55_lsh_pairs_md5" -> (Dedup.q55LshPairsMd5 _),
    // Round-3 corpus-preparation surface: boilerplate spans,
    // PII scrubbing, contamination checks, sequence packing, vocab
    // stats, weighted sampling, repetition filters, curriculum
    // buckets, SCD2 history, per-source rollups.
    "q56_boilerplate_spans" -> (CorpusOps.q56BoilerplateSpans _),
    "q57_pii_mask" -> (CorpusOps.q57PiiMask _),
    "q58_contamination" -> (CorpusOps.q58Contamination _),
    "q59_seq_packing" -> (CorpusOps.q59SeqPacking _),
    "q60_vocab_topk" -> (CorpusOps.q60VocabTopK _),
    "q61_weighted_sample" -> (CorpusOps.q61WeightedSample _),
    "q62_repetition_stats" -> (CorpusOps.q62RepetitionStats _),
    "q63_curriculum_buckets" -> (CorpusOps.q63CurriculumBuckets _),
    "q64_scd2_history" -> (CorpusOps.q64Scd2History _),
    "q65_source_rollup" -> (CorpusOps.q65SourceRollup _),
    // Oracle-checked ANN variants: md5-Rademacher LSH (the
    // hash-checkable twin of q24) and int8 scalar-quantized KNN.
    "q66_ann_rademacher" -> (Similarity.q66AnnRademacher _),
    "q67_quantized_knn" -> (Similarity.q67QuantizedKnn _),
    // Round-3 profiling / OLAP-extras / collocation surface: column
    // profiles, histograms, percentile placement, UNPIVOT, GROUPING
    // SETS, edit-distance blocking dedup, embedding centroids, bigram
    // collocation mining.
    "q68_column_profile" -> (Profiling.q68ColumnProfile _),
    "q69_edit_distance" -> (Dedup.q69EditDistancePairs _),
    "q70_embedding_centroids" -> (Similarity.q70EmbeddingCentroids _),
    "q71_unpivot" -> (Analytics.q71Unpivot _),
    "q72_collocations" -> (TextQueries.q72Collocations _),
    "q73_grouping_sets" -> (Analytics.q73GroupingSets _),
    "q74_histogram" -> (Profiling.q74Histogram _),
    "q75_segment_percentiles" -> (Profiling.q75SegmentPercentiles _),
    "q76_bpe_merge_step" -> (TextQueries.q76BpeMergeStep _),
    "q77_heavy_hitters" -> (Profiling.q77HeavyHitters _),
    "q78_date_spine" -> (Analytics.q78DateSpine _),
    "q79_salted_join" -> (Analytics.q79SaltedJoin _),
    "q80_dataset_split" -> (CorpusOps.q80DatasetSplit _),
    "q81_full_outer" -> (CorpusOps.q81FullOuter _),
    "q82_chunking" -> (CorpusOps.q82Chunking _),
    "q83_bm25" -> (TextQueries.q83Bm25 _),
    "q84_inverted_index" -> (TextQueries.q84InvertedIndex _),
    "q85_funnel" -> (Analytics.q85Funnel _),
    "q86_retention_cohorts" -> (Analytics.q86RetentionCohorts _),
    "q87_ab_test" -> (Analytics.q87AbTest _),
    "q88_range_frame" -> (Analytics.q88RangeFrame _),
    "q89_correlated_subquery" -> (Analytics.q89CorrelatedSubquery _),
    // Statistical / behavioral analytics pack: point-in-time SCD2
    // lookup, Markov transitions, z-score anomalies, chi-square
    // contingency, co-purchase pair mining, sliding distinct counts.
    "q90_point_in_time" -> (Stats.q90PointInTime _),
    "q91_markov_transitions" -> (Stats.q91MarkovTransitions _),
    "q92_zscore_anomaly" -> (Stats.q92ZscoreAnomaly _),
    "q93_chi2_contingency" -> (Stats.q93Chi2Contingency _),
    "q94_copurchase_pairs" -> (Stats.q94CopurchasePairs _),
    "q95_rolling_distinct" -> (Stats.q95RollingDistinct _),
    "q96_quality_report" -> (Profiling.q96QualityReport _),
    "q97_topk_per_group" -> (Analytics.q97TopkPerGroup _),
    "q98_winsorize" -> (Stats.q98Winsorize _),
    "q99_time_weighted" -> (Stats.q99TimeWeighted _),
    "q100_grouped_regression" -> (Stats.q100GroupedRegression _),
    "q101_pagerank" -> (Graph.q101Pagerank _),
    "q102_prefix_jaccard" -> (Dedup.q102PrefixJaccardJoin _),
    "q103_supplier_topk" -> (Analytics.q103SupplierTopk _),
    "q104_ngram_generate" -> (TextQueries.q104NgramGenerate _),
    "q105_correlation_audit" -> (Similarity.q105CorrelationAudit _),
    "q106_item_similarity" -> (Stats.q106ItemSimilarity _),
    "q107_frequent_triples" -> (Stats.q107FrequentTriples _),
    "q108_mad_anomaly" -> (Stats.q108MadAnomaly _),
    "q109_linear_interp" -> (Analytics.q109LinearInterp _),
    "q110_embedding_outliers" -> (Similarity.q110EmbeddingOutliers _),
    "q111_purchase_intervals" -> (Stats.q111PurchaseIntervals _),
    "q112_first_touch" -> (Analytics.q112FirstTouch _),
    "q113_activity_streaks" -> (Analytics.q113ActivityStreaks _),
    "q114_mixture_diagnostics" -> (Profiling.q114MixtureDiagnostics _),
    "q115_leakage_matrix" -> (CorpusOps.q115LeakageMatrix _),
    "q116_distribution_drift" -> (Stats.q116DistributionDrift _),
    "q117_lorenz_gini" -> (Stats.q117LorenzGini _),
    "q118_cuped" -> (Stats.q118Cuped _),
    "q119_path_mining" -> (Analytics.q119PathMining _),
    // Scale-pattern pack: sketch-pruned exact queries (bloom semi-join,
    // CMS heavy hitters), higher-order array folds, incremental
    // aggregate maintenance, zone-map file skipping.
    "q120_bloom_join" -> (ScaleOps.q120BloomJoin _),
    "q121_sketch_heavy_hitters" -> (ScaleOps.q121SketchHeavyHitters _),
    "q122_array_fold" -> (ScaleOps.q122ArrayFold _),
    "q123_incremental_agg" -> (ScaleOps.q123IncrementalAgg _),
    "q124_zonemap_skipping" -> (ScaleOps.q124ZonemapSkipping _),
    "q125_skyline" -> (ScaleOps.q125Skyline _),
    "q126_rfm" -> (ScaleOps.q126Rfm _),
    "q127_theil_sen" -> (ScaleOps.q127TheilSen _),
    "q128_table_checksum" -> (ScaleOps.q128TableChecksum _),
    "q129_nested_pruning" -> (ScaleOps.q129NestedPruning _),
    "q130_balanced_sample" -> (CorpusOps.q130BalancedSample _),
    "q131_session_window" -> (Analytics.q131SessionWindow _),
    "q132_weighted_median" -> (Stats.q132WeightedMedian _),
    "q133_listagg" -> (Analytics.q133ListAgg _),
    "q134_rendezvous" -> (ScaleOps.q134RendezvousRouting _),
    "q135_snapshot_diff" -> (ScaleOps.q135SnapshotDiff _),
    "q136_cumulative_distinct" -> (Stats.q136CumulativeDistinct _),
    "q137_quarantine_audit" -> (Profiling.q137QuarantineAudit _),
    "q138_feature_hashing" -> (TextQueries.q138FeatureHashing _),
    "q139_class_weights" -> (Similarity.q139ClassWeights _),
    "q140_simhash_pairs" -> (Dedup.q140SimhashPairs _),
    "q141_asof_tolerance" -> (AsofJoin.q141AsofTolerance _),
    "q142_bucketed_join" -> (graft.etl.Bucketing.q142BucketedJoin _),
    "q143_proportional_allocation" ->
      (CorpusOps.q143ProportionalAllocation _),
    "q144_bounce_analysis" -> (Analytics.q144BounceAnalysis _),
    "q145_interval_merge" -> (Analytics.q145IntervalMerge _),
    "q146_hourly_entropy" -> (Stats.q146HourlyEntropy _),
    "q147_triangle_count" -> (Graph.q147TriangleCount _),
    "q148_fk_integrity" -> (Profiling.q148FkIntegrity _),
    "q149_cusum_changepoint" -> (Stats.q149CusumChangepoint _),
    "q150_copurchase_recs" -> (Graph.q150CopurchaseRecs _),
    "q151_unigram_lm" -> (TextQueries.q151UnigramLmScore _),
    "q152_mix_shift" -> (Analytics.q152MixShift _),
    "q153_transition_dwell" -> (Stats.q153TransitionDwell _),
    "q154_decile_gains" -> (Analytics.q154DecileGains _),
    "q155_km_retention" -> (Stats.q155KmRetention _),
    "q156_seasonal_index" -> (Analytics.q156SeasonalIndex _),
    // S1/S2 JDBC extract, live against an embedded Derby instance
    "q157_jdbc_source" -> (JdbcQueries.q157JdbcSource _),
    // corpus governance: the mixture-decision accounting layer
    "q158_dup_passage" -> (Governance.q158DupPassageCoverage _),
    "q159_mix_planner" -> (Governance.q159MixPlanner _),
    "q160_source_dedup_health" -> (Governance.q160SourceDedupHealth _),
    "q161_leakage_safe_split" -> (Governance.q161LeakageSafeSplit _),
    // join-driven partition pruning + Spark 4 recursive SQL
    "q162_dpp_join" -> (ScaleOps.q162DppJoin _),
    "q163_recursive_hierarchy" -> (CoreQueries.q163RecursiveHierarchy _),
    // the reference's OWN retail golden path (seed CSVs + FIXTURES.md
    // fact), hash-checked end-to-end — see RetailQueries's staging note
    "q164_retail_datetime" -> (RetailQueries.q164RetailDatetime _),
    "q165_retail_ageproducts" -> (RetailQueries.q165RetailAgeProducts _),
    "q166_retail_residence" -> (RetailQueries.q166RetailResidence _),
    "q167_retail_customer" -> (RetailQueries.q167RetailCustomer _),
    // incremental ingest dedup: batch vs historical fingerprint index,
    // and its fuzzy twin probing the history's LSH band index
    "q168_incremental_dedup" -> (Dedup.q168IncrementalDedup _),
    "q169_incremental_neardup" -> (Dedup.q169IncrementalNeardup _),
    // semantic dedup (SemDeDup) + product-quantization ANN — the
    // embedding-side scale pair: cluster-bounded cosine dedup and the
    // 4-bit-per-dim compressed index with exact re-rank
    "q170_semantic_dedup" -> (Similarity.q170SemanticDedup _),
    "q171_pq_ann" -> (Similarity.q171PqAnn _),
    // hybrid retrieval: BM25 leg + PRF-seeded embedding leg fused by
    // reciprocal-rank fusion — rank-based, so fully engine-exact
    "q172_hybrid_rrf" -> (TextQueries.q172HybridRrf _),
    // privacy release gates: k-anonymity audit + right-to-be-forgotten
    // deletion-propagation audit
    "q173_k_anonymity" -> (Governance.q173KAnonymity _),
    "q174_deletion_audit" -> (Governance.q174DeletionAudit _),
    // incremental semantic dedup: batch embeddings probe the history's
    // LSH-bucket index — completes the dedup matrix (exact/shingle/
    // semantic × whole-corpus/incremental)
    "q175_incremental_semdedup" -> (Similarity.q175IncrementalSemdedup _),
    // GPU-efficiency audit: padding waste under arrival-order vs
    // length-sorted batch assembly
    "q176_padding_audit" -> (CorpusOps.q176PaddingAudit _),
    "q177_phash_neardup" ->
      (graft.multimodal.Multimodal.q177PhashNearDup _),
    "q178_shard_plan" -> (CorpusOps.q178ShardPlan _),
    "q179_epoch_schedule" -> (Governance.q179EpochSchedule _),
    "q180_quantile_sketch" -> (Profiling.q180QuantileSketch _),
    "q181_orc_roundtrip" -> (ScaleOps.q181OrcRoundtrip _),
    "q182_json_roundtrip" -> (ScaleOps.q182JsonRoundtrip _),
    "q183_audio_frames" ->
      (graft.multimodal.Multimodal.q183AudioFrames _),
    "q184_canonical_dedup" -> (Cluster.q184CanonicalDedup _),
    "q185_schema_evolution" -> (ScaleOps.q185SchemaEvolution _),
    "q186_allpairs_tfidf" -> (TextQueries.q186AllPairsTfidf _),
    "q187_resolve_choice" -> (ScaleOps.q187ResolveChoice _),
    "q188_null_skew_join" -> (Skew.q188NullSkewJoin _),
    // the streaming engine inside the correctness gate: a real
    // Structured Streaming run whose output is hash-checked against
    // the batch oracle (same rows as q19)
    "q189_streaming_hourly" ->
      (graft.streaming.EventStream.q189StreamingHourly _),
    "q190_video_shots" -> (graft.multimodal.Multimodal.q190VideoShots _),
    "q191_hll_md5" -> (Analytics.q191HllMd5 _),
    "q192_streaming_sessions" ->
      (graft.streaming.EventStream.q192StreamingSessions _),
    "q193_aqe_skew_join" -> (Skew.q193AqeSkewJoin _),
    "q194_rebalance_write" -> (Skew.q194RebalanceWrite _),
    "q195_streaming_dedup" ->
      (graft.streaming.EventStream.q195StreamingDedup _),
    "q196_stream_static_join" ->
      (graft.streaming.EventStream.q196StreamStaticJoin _),
    "q197_custom_state_sessions" ->
      (graft.streaming.EventStream.q197CustomStateSessions _),
    "q198_eventlog_source" -> (ScaleOps.q198EventlogSource _),
    "q199_cogroup_align" -> (Analytics.q199CogroupAlign _),
    "q200_cbo_reorder" -> (ScaleOps.q200CboReorder _),
    "q201_streaming_connector" ->
      (graft.streaming.EventStream.q201StreamingConnector _),
    "q202_observed_audit" -> (ScaleOps.q202ObservedAudit _),
    "q203_variant_extract" -> (CoreQueries.q203VariantExtract _),
    "q204_incremental_view" ->
      (graft.streaming.EventStream.q204IncrementalView _),
    // table-format layer (manifest + snapshot + zone maps + COW)
    "q205_format_snapshot" -> (FormatQueries.q205FormatSnapshot _),
    "q206_time_travel" -> (FormatQueries.q206TimeTravel _),
    "q207_pruned_read" -> (FormatQueries.q207PrunedRead _),
    "q208_cow_delete" -> (FormatQueries.q208CowDelete _),
    "q209_merge_upsert" -> (FormatQueries.q209MergeUpsert _),
    "q210_streaming_table_sink" ->
      (FormatQueries.q210StreamingTableSink _),
    "q211_zorder_prune" -> (FormatQueries.q211ZorderPrune _),
    "q212_incremental_changes" ->
      (FormatQueries.q212IncrementalChanges _),
    "q213_schema_evolution_fmt" ->
      (FormatQueries.q213SchemaEvolution _),
    "q214_cdc_maintained_view" ->
      (FormatQueries.q214CdcMaintainedView _),
    "q215_predicate_pruned_scan" ->
      (FormatQueries.q215PredicatePrunedScan _),
    "q216_metadata_agg" -> (FormatQueries.q216MetadataAgg _),
    "q217_replace_where" -> (FormatQueries.q217ReplaceWhere _),
    "q218_lakehouse_silver" -> (FormatQueries.q218LakehouseSilver _),
    "q219_connector_read" -> (FormatQueries.q219ConnectorRead _),
    "q220_lakehouse_gold" -> (FormatQueries.q220LakehouseGold _),
    "q221_connector_write" -> (FormatQueries.q221ConnectorWrite _),
    "q222_metadata_agg_sql" -> (FormatQueries.q222MetadataAggSql _),
    "q223_connector_changes" -> (FormatQueries.q223ConnectorChanges _),
    "q224_streaming_read" -> (FormatQueries.q224StreamingRead _),
    "q225_catalog_read" -> (FormatQueries.q225CatalogRead _),
    "q226_sql_delete" -> (FormatQueries.q226SqlDelete _),
    "q227_sql_merge" -> (FormatQueries.q227SqlMerge _),
    "q228_connector_replace_where" ->
      (FormatQueries.q228ConnectorReplaceWhere _),
    "q229_streaming_write" -> (FormatQueries.q229StreamingWrite _),
    "q230_sql_update" -> (FormatQueries.q230SqlUpdate _),
    "q231_timestamp_travel" -> (FormatQueries.q231TimestampTravel _),
    "q232_mor_delete" -> (FormatQueries.q232MorDelete _),
    "q233_mor_connector" -> (FormatQueries.q233MorConnector _),
    "q234_mor_merge" -> (FormatQueries.q234MorMerge _),
    "q235_sql_merge_mor" -> (FormatQueries.q235SqlMergeMor _),
    "q236_sql_update_mor" -> (FormatQueries.q236SqlUpdateMor _),
    "q237_cdc_mor" -> (FormatQueries.q237CdcMor _),
    "q238_spj_join" -> (FormatQueries.q238SpjJoin _),
    "q239_restore" -> (FormatQueries.q239Restore _),
    "q240_clustered_insert" -> (FormatQueries.q240ClusteredInsert _),
    "q241_bloom_lookup" -> (FormatQueries.q241BloomLookup _),
    "q242_sql_procedures" -> (FormatQueries.q242SqlProcedures _),
    "q243_zorder_3d" -> (FormatQueries.q243Zorder3d _),
    "q244_constrained_insert" -> (FormatQueries.q244ConstrainedInsert _),
    "q245_schema_evolution" -> (FormatQueries.q245SchemaEvolution _),
    "q246_tagged_snapshot" -> (FormatQueries.q246TaggedSnapshot _),
    "q247_streaming_cdc" -> (FormatQueries.q247StreamingCdc _),
    "q248_cdc_compaction" -> (FormatQueries.q248CdcCompaction _),
    "q249_cdc_merge_updates" -> (FormatQueries.q249CdcMergeUpdates _),
    "q250_compact_where" -> (FormatQueries.q250CompactWhere _),
    "q251_table_changes_named" ->
      (FormatQueries.q251TableChangesNamed _),
    "q252_packed_scan" -> (FormatQueries.q252PackedScan _),
    "q253_split_scan" -> (FormatQueries.q253SplitScan _),
    "q254_rate_limited_stream" ->
      (FormatQueries.q254RateLimitedStream _),
    "q255_cdc_curation" -> (CurationGate.q255CdcCuration _),
    "q256_cdc_neardup" -> (NeardupGate.q256CdcNeardup _),
    "q257_cdc_semdedup" -> (SemdedupGate.q257CdcSemdedup _)
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted (→ rows-only check) only for the
    * ops whose seeds/sketches aren't SQL-expressible: q20/q21 (xxhash64
    * MinHash — DuckDB has no xxhash64), q47 (HLL registers), q53
    * (k-means float accumulation order); each of those has a spec
    * pinning its semantics instead, and q54/q55/q66 are the
    * hash-checked twins of the MinHash/LSH family. Round 7 oracle-ized
    * q24 (md5-derived planes) and q26/q140 (FNV-1a SimHash reproduced
    * in DuckDB HUGEINT arithmetic). */
  def oracleSql: Map[String, String] = OracleSql.all
}
