package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.Media
import graft.operators._
import graft.plans.MvRewrite
import graft.sources.{Formats, IcebergExport, Manifest, ZMaintain, ZOrder, ZPrune}
import graft.streaming._
import graft.web.{Redirects, WebIngest}

/** The gate registry (driver contract, SURVEY.md §7). Every implemented
  * operator from SURVEY.md §2, plus the extension surface (dedup,
  * similarity search, text analysis, streaming), is one row of
  * [[gates]]: its name, its operator and its DuckDB oracle SQL, which
  * must produce IDENTICAL column names and deterministic values.
  * [[queries]], [[oracleSql]] and [[names]] are derived from the rows,
  * so a gate cannot be registered without its oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One registered gate. The oracle SQL is held by name: building or
    * reading [[queries]] evaluates no `*Sql` val. */
  private[graft] final class Gate(val name: String,
      val op: (SparkSession, String) => DataFrame, sqlOf: () => String) {
    def sql: String = sqlOf()
  }

  private def gate(name: String, op: (SparkSession, String) => DataFrame,
      sql: => String): Gate = new Gate(name, op, () => sql)

  /** Every gate, one row each. A row whose oracle is another gate's SQL
    * says why the two must agree. */
  private[graft] val gates: Seq[Gate] = Seq(
    gate("q1_agg", Relational.q1Agg _, Relational.q1AggSql),
    gate("q2_selective_agg", Relational.q2SelectiveAgg _, Relational.q2SelectiveAggSql),
    gate("q3_join_topk", Relational.q3JoinTopk _, Relational.q3JoinTopkSql),
    gate("q4_semi_join", Relational.q4SemiJoin _, Relational.q4SemiJoinSql),
    gate("q5_anti_join", Relational.q5AntiJoin _, Relational.q5AntiJoinSql),
    gate("q6_multi_join", Relational.q6MultiJoin _, Relational.q6MultiJoinSql),
    gate("q7_broadcast_join", Relational.q7BroadcastJoin _, Relational.q7BroadcastJoinSql),
    gate("q8_window_rank", Relational.q8WindowRank _, Relational.q8WindowRankSql),
    gate("q9_window_running", Relational.q9WindowRunning _, Relational.q9WindowRunningSql),
    gate("q10_topk", Relational.q10TopK _, Relational.q10TopKSql),
    gate("q11_setops", Relational.q11SetOps _, Relational.q11SetOpsSql),
    gate("q12_rollup", Relational.q12Rollup _, Relational.q12RollupSql),
    gate("q13_cube", Relational.q13Cube _, Relational.q13CubeSql),
    gate("q14_distinct_agg", Relational.q14DistinctAgg _, Relational.q14DistinctAggSql),
    gate("q15_scalar", Relational.q15Scalar _, Relational.q15ScalarSql),
    gate("q16_date_parts", Relational.q16DateParts _, Relational.q16DatePartsSql),
    gate("q17_json", Relational.q17Json _, Relational.q17JsonSql),
    gate("q18_asof", Relational.q18AsOf _, Relational.q18AsOfSql),
    gate("q19_event_window", Relational.q19EventWindow _, Relational.q19EventWindowSql),
    gate("q20_approx_distinct", Relational.q20ApproxDistinct _, Relational.q20ApproxDistinctSql),
    gate("q21_arrays", Relational.q21Arrays _, Relational.q21ArraysSql),
    gate("q23_stats", Relational.q23Stats _, Relational.q23StatsSql),
    gate("q24_pivot", Relational2.q24Pivot _, Relational2.q24PivotSql),
    gate("q25_correlated", Relational2.q25Correlated _, Relational2.q25CorrelatedSql),
    gate("q26_posexplode", Relational2.q26PosExplode _, Relational2.q26PosExplodeSql),
    gate("q27_maps", Relational2.q27Maps _, Relational2.q27MapsSql),
    gate("q28_regex", Relational2.q28Regex _, Relational2.q28RegexSql),
    gate("q29_window_battery", Relational2.q29WindowBattery _, Relational2.q29WindowBatterySql),
    gate("q30_range_join", Relational2.q30RangeJoin _, Relational2.q30RangeJoinSql),
    gate("mr_wc", MrQueries.mrWc _, MrQueries.mrWcSql),
    gate("mr_indexer", MrQueries.mrIndexer _, MrQueries.mrIndexerSql),
    gate("mr_doc_tokens", MrQueries.mrDocTokens _, MrQueries.mrDocTokensSql),
    gate("mr_metadata", MrQueries.mrMetadata _, MrQueries.mrMetadataSql),
    // same oracle as mr_wc: the compat façade must compute what the
    // DataFrame-native plan computes
    gate("mr_compat_wc", MrQueries.mrCompatWc _, MrQueries.mrWcSql),
    // same oracle as mr_indexer: the façade's "<n> <docs>" reduce
    // value is parsed back to mr_indexer's columns
    gate("mr_compat_indexer", MrQueries.mrCompatIndexer _, MrQueries.mrIndexerSql),
    gate("ta_quality", TextAnalysis.taQuality _, TextAnalysis.taQualitySql),
    gate("ta_token_count", TextAnalysis.taTokenCount _, TextAnalysis.taTokenCountSql),
    gate("ta_lang_id", TextAnalysis.taLangId _, TextAnalysis.taLangIdSql),
    gate("ta_fingerprint", TextAnalysis.taFingerprint _, TextAnalysis.taFingerprintSql),
    gate("ta_chunk_fp", TextAnalysis.taChunkFp _, TextAnalysis.taChunkFpSql),
    gate("ta_heavy_hitters", HeavyHitters.taHeavyHitters _, HeavyHitters.taHeavyHittersSql),
    gate("dedup_exact", Dedup.dedupExact _, Dedup.dedupExactSql),
    gate("dedup_ngram", Dedup.dedupNgram _, Dedup.dedupNgramSql),
    gate("dedup_minhash", Dedup.dedupMinhash _, Dedup.dedupMinhashSql),
    gate("dedup_simhash", Dedup.dedupSimhash _, Dedup.dedupSimhashSql),
    gate("dedup_embedding", Dedup.dedupEmbedding _, Dedup.dedupEmbeddingSql),
    gate("dedup_cc", Dedup.dedupCc _, Dedup.dedupCcSql),
    // same fixpoint as min-label propagation, so the same oracle
    gate("dedup_cc_star", Dedup.dedupCcStar _, Dedup.dedupCcSql),
    gate("minhash_agg_sig", Dedup.minhashAggSig _, Dedup.minhashAggSigSql),
    gate("q38_bucketed_join", BucketedJoin.q38BucketedJoin _, BucketedJoin.q38BucketedJoinSql),
    gate("q39_full_outer", Pipeline.q39FullOuter _, Pipeline.q39FullOuterSql),
    gate("q40_gapfill", Relational2.q40GapFill _, Relational2.q40GapFillSql),
    gate("pipeline_clean", Pipeline.pipelineClean _, Pipeline.pipelineCleanSql),
    gate("ta_tfidf", CorpusOps.taTfidf _, CorpusOps.taTfidfSql),
    gate("ta_bigrams", CorpusOps.taBigrams _, CorpusOps.taBigramsSql),
    gate("ta_lm_score", CorpusOps.taLmScore _, CorpusOps.taLmScoreSql),
    gate("ta_lm_kn", CorpusOps.taLmKn _, CorpusOps.taLmKnSql),
    gate("ta_bm25", CorpusOps.taBm25 _, CorpusOps.taBm25Sql),
    gate("sample_stratified", CorpusOps.sampleStratified _, CorpusOps.sampleStratifiedSql),
    gate("sample_fixed_k", CorpusOps.sampleFixedK _, CorpusOps.sampleFixedKSql),
    gate("emb_centroids", CorpusOps.embCentroids _, CorpusOps.embCentroidsSql),
    gate("emb_kmeans", KMeans.embKmeans _, KMeans.embKmeansSql),
    gate("emb_quantize", KMeans.embQuantize _, KMeans.embQuantizeSql),
    gate("q31_approx_pctile", Relational.q31ApproxPercentile _, Relational.q31ApproxPercentileSql),
    gate("q32_range_frame", Relational2.q32RangeFrame _, Relational2.q32RangeFrameSql),
    gate("q33_cov_corr", Relational.q33CovCorr _, Relational.q33CovCorrSql),
    gate("q34_histogram", Relational.q34Histogram _, Relational.q34HistogramSql),
    gate("q36_funnel", Relational2.q36Funnel _, Relational2.q36FunnelSql),
    gate("q37_cohort", Relational2.q37Cohort _, Relational2.q37CohortSql),
    gate("q35_dq_checks", Relational.q35DqChecks _, Relational.q35DqChecksSql),
    gate("dedup_edit", Dedup.dedupEdit _, Dedup.dedupEditSql),
    gate("dedup_ngram_verify", Dedup.dedupNgramVerify _, Dedup.dedupNgramVerifySql),
    gate("dedup_substring", Dedup.dedupSubstring _, Dedup.dedupSubstringSql),
    gate("sql_cte", SqlSurface.qSqlCte _, SqlSurface.sqlCte),
    gate("sim_topk", Similarity.simTopk _, Similarity.simTopkSql),
    gate("sim_lsh_topk", Similarity.simLshTopk _, Similarity.simLshTopkSql),
    gate("sim_ivf_topk", Similarity.simIvfTopk _, Similarity.simIvfTopkSql),
    gate("stream_sliding", EventStreams.qStreamSliding _, EventStreams.qStreamSlidingSql),
    gate("stream_session", EventStreams.qStreamSession _, EventStreams.qStreamSessionSql),
    gate("stream_user_stats", EventStreams.qStreamUserStats _, EventStreams.qStreamUserStatsSql),
    gate("stream_join", EventStreams.qStreamJoin _, EventStreams.qStreamJoinSql),
    gate("stream_left_join", EventStreams.qStreamLeftJoin _, EventStreams.qStreamLeftJoinSql),
    gate("stream_dedup", EventStreams.qStreamDedup _, EventStreams.qStreamDedupSql),
    gate("mm_features", Media.mmFeatures _, Media.mmFeaturesSql),
    gate("mm_frames", Media.mmFrames _, Media.mmFramesSql),
    gate("dedup_simhash_pairs", Dedup.dedupSimhashPairs _, Dedup.dedupSimhashPairsSql),
    gate("sql_direct", SqlSurface.qSqlDirect _, SqlSurface.sqlDirect),
    gate("q22_grouping_sets", SqlSurface.qGroupingSets _, SqlSurface.sqlGroupingSets),
    gate("pii_mask", Cleaning.piiMask _, Cleaning.piiMaskSql),
    gate("ta_denylist_scrub", Cleaning.taDenylistScrub _, Cleaning.taDenylistScrubSql),
    gate("ta_decontaminate", Cleaning.taDecontaminate _, Cleaning.taDecontaminateSql),
    gate("ta_repetition", Cleaning.taRepetition _, Cleaning.taRepetitionSql),
    gate("ta_pack_chunks", Cleaning.taPackChunks _, Cleaning.taPackChunksSql),
    gate("dedup_incremental", Cleaning.dedupIncremental _, Cleaning.dedupIncrementalSql),
    gate("emb_pq", KMeans.embPq _, KMeans.embPqSql),
    gate("emb_pq_trained", KMeans.embPqTrained _, KMeans.embPqTrainedSql),
    gate("pipeline_full", Pipeline.pipelineFull _, Pipeline.pipelineFullSql),
    gate("pipeline_scored", Pipeline.pipelineScored _, Pipeline.pipelineScoredSql),
    gate("pipeline_ppl", Pipeline.pipelinePpl _, Pipeline.pipelinePplSql),
    // same oracle as the regex twin: the set kernel is bit-identical
    gate("ta_denylist_scrub_large", Cleaning.taDenylistScrubLarge _, Cleaning.taDenylistScrubSql),
    gate("ta_denylist_phrases", Cleaning.taDenylistPhrases _, Cleaning.taDenylistPhrasesSql),
    gate("vocab_build", Tokenizer.vocabBuild _, Tokenizer.vocabBuildSql),
    gate("vocab_encode", Tokenizer.vocabEncode _, Tokenizer.vocabEncodeSql),
    gate("sample_mixture", CorpusOps.sampleMixture _, CorpusOps.sampleMixtureSql),
    gate("corpus_shuffle", CorpusOps.corpusShuffle _, CorpusOps.corpusShuffleSql),
    gate("ta_quality_clf", Classifier.taQualityClf _, Classifier.taQualityClfSql),
    gate("ta_quality_clf_model", Classifier.taQualityClfModel _, Classifier.taQualityClfModelSql),
    gate("dedup_semantic", Dedup.dedupSemantic _, Dedup.dedupSemanticSql),
    gate("dedup_semantic_cc", Dedup.dedupSemanticCc _, Dedup.dedupSemanticCcSql),
    gate("sim_ivfpq_topk", Similarity.simIvfPqTopk _, Similarity.simIvfPqTopkSql),
    gate("sim_recall_eval", Similarity.simRecallEval _, Similarity.simRecallEvalSql),
    gate("dedup_minhash_incr", Dedup.dedupMinhashIncr _, Dedup.dedupMinhashIncrSql),
    gate("search_hybrid", (s, dir) => Pipeline.searchHybrid(s, dir), Pipeline.searchHybridSql),
    gate("search_hybrid_wide", Pipeline.searchHybridWide _, Pipeline.searchHybridWideSql),
    // salted == unsalted is the operator's whole contract
    gate("q18_asof_salted", Relational.q18AsOfSaltedGate _, Relational.q18AsOfSql),
    gate("q41_unpivot", Relational2.q41Unpivot _, Relational2.q41UnpivotSql),
    gate("q42_islands", Relational2.q42Islands _, Relational2.q42IslandsSql),
    gate("events_attribution", Relational2.eventsAttribution _, Relational2.eventsAttributionSql),
    gate("events_transitions", Relational2.eventsTransitions _, Relational2.eventsTransitionsSql),
    gate("events_anomaly", Relational2.eventsAnomaly _, Relational2.eventsAnomalySql),
    // the incremental path must reproduce the full recompute exactly —
    // its oracle IS the full-graph recursive-CTE CC
    gate("dedup_cc_incr", Dedup.dedupCcIncr _, Dedup.dedupCcSql),
    gate("mm_resize", Media.mmResize _, Media.mmResizeSql),
    gate("mm_dedup", Media.mmDedup _, Media.mmDedupSql),
    gate("mm_png", Media.mmPng _, Media.mmPngSql),
    gate("mm_gif", Media.mmGif _, Media.mmGifSql),
    gate("mm_gif_frames", Media.mmGifFrames _, Media.mmGifFramesSql),
    gate("mm_tiff", Media.mmTiff _, Media.mmTiffSql),
    gate("mm_tiff_pages", Media.mmTiffPages _, Media.mmTiffPagesSql),
    gate("mm_pack_pairs", Media.mmPackPairs _, Media.mmPackPairsSql),
    gate("mm_pack_bpe", Media.mmPackBpe _, Media.mmPackBpeSql),
    gate("mm_wav", Media.mmWav _, Media.mmWavSql),
    gate("mm_energy", Media.mmEnergy _, Media.mmEnergySql),
    gate("mm_phash", Media.mmPhash _, Media.mmPhashSql),
    gate("mm_phash_pairs", Media.mmPhashPairs _, Media.mmPhashPairsSql),
    gate("graph_pagerank", Graphs.graphPagerank _, Graphs.graphPagerankSql),
    gate("graph_canonical", Graphs.graphCanonical _, Graphs.graphCanonicalSql),
    gate("graph_communities", Graphs.graphCommunities _, Graphs.graphCommunitiesSql),
    gate("ta_cms_eval", HeavyHitters.taCmsEval _, HeavyHitters.taCmsEvalSql),
    gate("ta_hll_eval", HeavyHitters.taHllEval _, HeavyHitters.taHllEvalSql),
    gate("ta_quantile_eval", HeavyHitters.taQuantileEval _, HeavyHitters.taQuantileEvalSql),
    gate("sample_domain_cap", CorpusOps.sampleDomainCap _, CorpusOps.sampleDomainCapSql),
    gate("dedup_containment", Dedup.dedupContainment _, Dedup.dedupContainmentSql),
    gate("sample_cluster_cap", CorpusOps.sampleClusterCap _, CorpusOps.sampleClusterCapSql),
    gate("pipeline_mix", Pipeline.pipelineMix _, Pipeline.pipelineMixSql),
    gate("pipeline_incr", Pipeline.pipelineIncr _, Pipeline.pipelineIncrSql),
    gate("snapshot_upsert", Snapshots.snapshotUpsert _, Snapshots.snapshotUpsertSql),
    gate("q43_zorder", ZOrder.q43ZOrder _, ZOrder.q43ZOrderSql),
    gate("corpus_split", CorpusOps.corpusSplit _, CorpusOps.corpusSplitSql),
    gate("corpus_report", CorpusOps.corpusReport _, CorpusOps.corpusReportSql),
    gate("snapshot_zmaintain", ZMaintain.snapshotZMaintain _, ZMaintain.snapshotZMaintainSql),
    gate("stream_upsert", SnapshotStream.streamUpsert _, SnapshotStream.streamUpsertSql),
    // the maintained index must reconstruct the one-pass index exactly,
    // so its search oracle IS the stored-index search oracle
    gate("sim_index_upsert", Similarity.simIndexUpsert _, Similarity.simIvfPqTopkSql),
    gate("sim_index_recall", Similarity.simIndexRecall _, Similarity.simIndexRecallSql),
    gate("dedup_containment_incr", Dedup.dedupContainmentIncr _, Dedup.dedupContainmentIncrSql),
    gate("dedup_paragraph", ParagraphDedup.dedupParagraph _, ParagraphDedup.dedupParagraphSql),
    gate("vocab_bpe", Tokenizer.vocabBpe _, Tokenizer.vocabBpeSql),
    gate("graph_triangles", Graphs.graphTriangles _, Graphs.graphTrianglesSql),
    gate("layout_manifest", Manifest.layoutManifest _, Manifest.layoutManifestSql),
    // round-trip identity: the Iceberg-tree read-back must reconstruct
    // exactly the stats table the export was built from
    gate("layout_export_iceberg", IcebergExport.layoutExportIceberg _, Manifest.layoutManifestSql),
    gate("vocab_bpe_encode", Tokenizer.vocabBpeEncode _, Tokenizer.vocabBpeEncodeSql),
    gate("pack_bpe", Tokenizer.packBpe _, Tokenizer.packBpeSql),
    gate("pack_report", Tokenizer.packReport _, Tokenizer.packReportSql),
    gate("dedup_paragraph_incr", ParagraphDedup.dedupParagraphIncr _, ParagraphDedup.dedupParagraphIncrSql),
    // the order-fold identity: sequential range batches through the
    // seen-paragraph state must reproduce the ONE-SHOT dedup exactly
    gate("stream_paragraph", ParagraphStream.streamParagraph _, ParagraphDedup.dedupParagraphSql),
    gate("snapshot_diff", Snapshots.snapshotDiff _, Snapshots.snapshotDiffSql),
    gate("snapshot_history", Snapshots.snapshotHistory _, Snapshots.snapshotHistorySql),
    // the time-travel identity: the AS-OF v=1 interval read must equal
    // the direct upsert fold to v1
    gate("snapshot_timetravel", Snapshots.snapshotTimetravel _, Snapshots.snapshotTimetravelSql),
    gate("sample_importance", CorpusOps.sampleImportance _, CorpusOps.sampleImportanceSql),
    gate("mix_doremi", CorpusOps.mixDoremi _, CorpusOps.mixDoremiSql),
    gate("dedup_recall_eval", Dedup.dedupRecallEval _, Dedup.dedupRecallEvalSql),
    // the sketch fold identity: counter addition is associative, so the
    // two-batch fold must reproduce the ONE-SHOT ta_cms_eval exactly
    gate("stream_cms", SketchStream.streamCms _, HeavyHitters.taCmsEvalSql),
    gate("emb_pca", Pca.embPca _, Pca.embPcaSql),
    gate("graph_bfs", Graphs.graphBfs _, Graphs.graphBfsSql),
    gate("sample_epoch_mix", CorpusOps.sampleEpochMix _, CorpusOps.sampleEpochMixSql),
    gate("sql_lateral", SqlSurface.qSqlLateral _, SqlSurface.sqlLateral),
    gate("ta_entropy", CorpusOps.taEntropy _, CorpusOps.taEntropySql),
    gate("ta_winnow", TextAnalysis.taWinnow _, TextAnalysis.taWinnowSql),
    gate("ta_langid_eval", TextAnalysis.taLangIdEval _, TextAnalysis.taLangIdEvalSql),
    // the pruned scan must be semantically invisible: plain relational
    // twin with the bucket recomputed from the interleave
    gate("layout_prune_scan", ZPrune.layoutPruneScan _, ZPrune.layoutPruneScanSql),
    gate("graph_kcore", Graphs.graphKcore _, Graphs.graphKcoreSql),
    gate("ta_collocations", CorpusOps.taCollocations _, CorpusOps.taCollocationsSql),
    gate("sample_temperature", CorpusOps.sampleTemperature _, CorpusOps.sampleTemperatureSql),
    gate("corpus_budget", CorpusOps.corpusBudget _, CorpusOps.corpusBudgetSql),
    gate("corpus_overlap", CorpusOps.corpusOverlap _, CorpusOps.corpusOverlapSql),
    gate("corpus_drift", CorpusOps.corpusDrift _, CorpusOps.corpusDriftSql),
    gate("emb_kmeans_pp", KMeans.embKmeansPp _, KMeans.embKmeansPpSql),
    // the maintenance identity: the incremental close-and-append fold
    // must equal the one-shot history REBUILD
    gate("stream_history", Snapshots.streamHistory _, Snapshots.snapshotHistorySql),
    gate("dedup_threshold_curve", Dedup.dedupThresholdCurve _, Dedup.dedupThresholdCurveSql),
    gate("ta_lang_mix", TextAnalysis.taLangMix _, TextAnalysis.taLangMixSql),
    // the view-maintenance identity: signed-delta merge from the change
    // feed must equal the from-scratch recompute over the new version
    gate("ivm_agg", Ivm.ivmAgg _, Ivm.ivmAggSql),
    gate("ivm_fold", Ivm.ivmFold _, Ivm.ivmFoldSql),
    // bootstrap-from-empty + feed fold must equal the recompute at v2:
    // one code path backfills a new view and keeps it fresh
    gate("stream_ivm", Ivm.streamIvm _, Ivm.ivmFoldSql),
    // membership skipping must be semantically invisible: plain point
    // lookup with the bucket recomputed from the interleave
    gate("layout_bloom_scan", ZPrune.layoutBloomScan _, ZPrune.layoutBloomScanSql),
    // join-view maintenance: ΔR ⋈ dim merged into the stored view must
    // equal re-joining and re-aggregating the new fact version
    gate("ivm_join", Ivm.ivmJoin _, Ivm.ivmJoinSql),
    // rollback without rewriting history: close changed-since-v opens,
    // reopen the AS-OF-v values, leave untouched keys alone
    gate("snapshot_restore", Snapshots.snapshotRestore _, Snapshots.snapshotRestoreSql),
    // the rewrite must be result-invisible: the oracle aggregates the
    // corpus directly while the gate's plan reads the view
    gate("mv_rewrite", MvRewrite.mvRewrite _, MvRewrite.mvRewriteSql),
    gate("ta_gopher_rules", TextAnalysis.taGopherRules _, TextAnalysis.taGopherRulesSql),
    gate("q44_skyline", Skyline.q44Skyline _, Skyline.q44SkylineSql),
    gate("er_pairs", EntityResolution.erPairs _, EntityResolution.erPairsSql),
    gate("er_entities", EntityResolution.erEntities _, EntityResolution.erEntitiesSql),
    gate("er_block_recall", EntityResolution.erBlockRecall _, EntityResolution.erBlockRecallSql),
    // the centroid-state fold identity: any batching through the
    // (Σ, n) merge must equal the one-shot first Lloyd round
    gate("stream_kmeans", CentroidStream.streamKmeans _, CentroidStream.streamKmeansSql),
    // the frontier-merge identity: skyline(A ∪ B) =
    // skyline(skyline(A) ∪ skyline(B)) — the incremental fold must
    // reproduce the one-shot frontier exactly
    gate("skyline_incr", Skyline.skylineIncr _, Skyline.q44SkylineSql),
    // the incremental-ER identity: contraction + delta propagation
    // must reproduce the full recompute exactly (append-only keys,
    // cap not newly binding)
    gate("er_incr", EntityResolution.erIncr _, EntityResolution.erEntitiesSql),
    gate("events_paths", Relational2.eventsPaths _, Relational2.eventsPathsSql),
    gate("dq_skew_report", Relational.dqSkewReport _, Relational.dqSkewReportSql),
    gate("dq_profile", Profiling.dqProfile _, Profiling.dqProfileSql),
    gate("dq_join_estimate", HeavyHitters.dqJoinEstimate _, HeavyHitters.dqJoinEstimateSql),
    // dim-side view maintenance: remapping the fact pre-aggregate
    // through the dim feed must equal re-joining against the new dim
    gate("ivm_dim", Ivm.ivmDim _, Ivm.ivmDimSql),
    // one recursive-CTE string, both engines verbatim
    gate("sql_recursive", SqlSurface.qSqlRecursive _, SqlSurface.sqlRecursive),
    gate("pipeline_rules", Pipeline.pipelineRules _, Pipeline.pipelineRulesSql),
    gate("dq_fk_check", Profiling.dqFkCheck _, Profiling.dqFkCheckSql),
    // the ER maintenance identity: bootstrap + steady-state fold must
    // equal the full recompute
    gate("stream_er", EntityResolution.streamEr _, EntityResolution.erEntitiesSql),
    // keyed-sketch fold identities: register max / counter addition
    // over any batching must equal the one-shot aggregation, so each
    // stream gate's oracle IS its one-shot eval's SQL
    gate("stream_hll", SketchStream.streamHll _, HeavyHitters.taHllEvalSql),
    gate("stream_quantile", SketchStream.streamQuantile _, HeavyHitters.taQuantileEvalSql),
    gate("mm_audio_fp", Media.mmAudioFp _, Media.mmAudioFpSql),
    gate("mm_audio_pairs", Media.mmAudioPairs _, Media.mmAudioPairsSql),
    gate("graph_jaccard", Graphs.graphJaccard _, Graphs.graphJaccardSql),
    gate("vocab_coverage", Tokenizer.vocabCoverage _, Tokenizer.vocabCoverageSql),
    gate("sim_hard_negatives", Similarity.simHardNegatives _, Similarity.simHardNegativesSql),
    gate("sim_bitext", Similarity.simBitext _, Similarity.simBitextSql),
    gate("corpus_icp", Similarity.corpusIcp _, Similarity.corpusIcpSql),
    gate("pack_icp", Similarity.packIcp _, Similarity.packIcpSql),
    gate("stream_icp", IcpStream.streamIcp _, IcpStream.streamIcpSql),
    gate("events_dau", Relational2.eventsDau _, Relational2.eventsDauSql),
    gate("ta_novelty", CorpusOps.taNovelty _, CorpusOps.taNoveltySql),
    // the min-merge fold identity: first-occurrence state over any
    // batching must reproduce the one-shot novelty exactly
    gate("stream_novelty", NoveltyStream.streamNovelty _, CorpusOps.taNoveltySql),
    gate("corpus_waterfall", Pipeline.corpusWaterfall _, Pipeline.corpusWaterfallSql),
    // the CC maintenance identity: the three-batch fold through the
    // contraction step must equal the full-corpus recompute
    gate("stream_cc", CcStream.streamCc _, Dedup.dedupCcSql),
    gate("events_rfm", Relational2.eventsRfm _, Relational2.eventsRfmSql),
    gate("corpus_rank", CorpusOps.corpusRank _, CorpusOps.corpusRankSql),
    // the CDC round-trip identity: apply(v_old, diff(v_old, v_new))
    // must equal v_new constructed directly
    gate("snapshot_apply", Snapshots.snapshotApply _, Snapshots.snapshotApplySql),
    gate("mm_phash_cc", Media.mmPhashCc _, Media.mmPhashCcSql),
    gate("events_ewma", Relational2.eventsEwma _, Relational2.eventsEwmaSql),
    // one window-function ANSI string, both engines verbatim
    gate("sql_window", SqlSurface.qSqlWindow _, SqlSurface.sqlWindow),
    gate("dedup_keep_longest", Dedup.dedupKeepLongest _, Dedup.dedupKeepLongestSql),
    gate("ta_quality_calibration", Classifier.taQualityCalibration _, Classifier.taQualityCalibrationSql),
    // exact order statistics by two-pass counting selection: every
    // output is an ELEMENT of the column at the ceil-rank position, so
    // the oracle's brute ROW_NUMBER walk must agree to the cent
    gate("q45_exact_pctile", Selection.q45ExactPctile _, Selection.q45ExactPctileSql),
    // lossy format, exact oracle: on the block-constant even-valued
    // subspace the JPEG DCT round-trip is bit-exact, so the analytic
    // twin's sums match iff the entropy/DCT pipeline reconstructed
    // every pixel (JpegCodec scaladoc has the arithmetic)
    gate("mm_jpeg", Media.mmJpeg _, Media.mmJpegSql),
    // same lossy-but-exact trick for audio: µ-law's encode∘decode is
    // the identity on the codeword image, and the oracle evaluates the
    // G.711 expansion in integer SQL
    gate("mm_ulaw", Media.mmUlaw _, Media.mmUlawSql),
    gate("mm_alaw", Media.mmAlaw _, Media.mmAlawSql),
    gate("mm_flac", Media.mmFlac _, Media.mmFlacSql),
    gate("mm_audio_dispatch", Media.mmAudioDispatch _, Media.mmAudioDispatchSql),
    gate("mm_audio_xdedup", Media.mmAudioXdedup _, Media.mmAudioXdedupSql),
    // MJPEG frames through the AVI container walk + every-2nd-frame
    // sampling; the twin sums the sampled frames' block formula
    gate("mm_video", Media.mmVideo _, Media.mmVideoSql),
    // the embedding lens on the SAME benchmark split the n-gram
    // decontaminator checks — cell-bucketed corpus×bench scoring at
    // dedup_semantic's own integer-exact threshold
    gate("ta_decontaminate_semantic", Cleaning.taDecontaminateSemantic _, Cleaning.taDecontaminateSemanticSql),
    // maximal-munch segmentation: the oracle replays the greedy walk
    // via a (word, position) longest-match jump table + recursive
    // stepping, so the hash covers every word's full segmentation
    gate("vocab_wordpiece", Tokenizer.vocabWordpiece _, Tokenizer.vocabWordpieceSql),
    gate("vocab_wordpiece_encode", Tokenizer.vocabWordpieceEncode _, Tokenizer.vocabWordpieceEncodeSql),
    // the oracle is the BRUTE all-pairs join on purpose: the gate only
    // hash-matches if the prefix/length pruning is provably lossless
    gate("dedup_allpairs", Dedup.dedupAllpairs _, Dedup.dedupAllpairsSql),
    // the doctrine composed: exact join AMONG replica-collapsed
    // canonicals — the scale-safe form on duplicate-heavy corpora
    gate("dedup_allpairs_clean", Dedup.dedupAllpairsClean _, Dedup.dedupAllpairsCleanSql),
    // the incremental member: exact new-vs-snapshot join, prefix
    // discipline over the UNION gram census, brute cross-join oracle
    gate("dedup_allpairs_incr", Dedup.dedupAllpairsIncr _, Dedup.dedupAllpairsIncrSql),
    // schema evolution: merged read across two file generations must
    // surface old-generation rows with NULL in the added column
    gate("layout_schema_merge", Formats.layoutSchemaMerge _, Formats.layoutSchemaMergeSql),
    gate("web_warc_extract", WebIngest.webWarcExtract _, WebIngest.webWarcExtractSql),
    gate("web_images", WebIngest.webImages _, WebIngest.webImagesSql),
    gate("web_url_parse", WebIngest.webUrlParse _, WebIngest.webUrlParseSql),
    gate("web_domain_stats", WebIngest.webDomainStats _, WebIngest.webDomainStatsSql),
    gate("web_robots", WebIngest.webRobots _, WebIngest.webRobotsSql),
    gate("web_links", WebIngest.webLinks _, WebIngest.webLinksSql),
    gate("web_link_graph", WebIngest.webLinkGraph _, WebIngest.webLinkGraphSql),
    gate("web_url_normalize", WebIngest.webUrlNormalize _, WebIngest.webUrlNormalizeSql),
    gate("web_frontier", WebIngest.webFrontier _, WebIngest.webFrontierSql),
    gate("web_charset", WebIngest.webCharset _, WebIngest.webCharsetSql),
    gate("web_redirects", Redirects.webRedirects _, Redirects.webRedirectsSql),
    gate("web_boilerplate", WebIngest.webBoilerplate _, WebIngest.webBoilerplateSql),
    gate("web_sitemap", WebIngest.webSitemap _, WebIngest.webSitemapSql),
    gate("stream_frontier", FrontierStream.streamFrontier _, WebIngest.streamFrontierSql),
    gate("web_host_pagerank", WebIngest.webHostPagerank _, WebIngest.webHostPagerankSql),
    gate("feat_scale", Features.featScale _, Features.featScaleSql),
    gate("feat_bucketize", Features.featBucketize _, Features.featBucketizeSql),
    gate("feat_onehot", Features.featOnehot _, Features.featOnehotSql),
    gate("feat_hashed_cross", Features.featHashedCross _, Features.featHashedCrossSql),
    gate("web_warc_index", WebIngest.webWarcIndex _, WebIngest.webWarcIndexSql),
    gate("ta_sentences", TextAnalysis.taSentences _, TextAnalysis.taSentencesSql),
    gate("pipeline_web", WebIngest.pipelineWeb _, WebIngest.pipelineWebSql),
    gate("web_anchor_text", WebIngest.webAnchorText _, WebIngest.webAnchorTextSql),
    gate("web_frontier_admitted", WebIngest.webFrontierAdmitted _, WebIngest.webFrontierAdmittedSql),
    gate("ta_readability", TextAnalysis.taReadability _, TextAnalysis.taReadabilitySql),
    gate("feat_quantile_bucketize", Features.featQuantileBucketize _, Features.featQuantileBucketizeSql),
    gate("feat_target_encode", Features.featTargetEncode _, Features.featTargetEncodeSql),
    // the stats fold identity: scoring under the folded stats must
    // reproduce one-shot feat_scale exactly
    gate("stream_feat_scale", FeatureStream.streamFeatScale _, Features.featScaleSql),
    gate("stream_web", WebStream.streamWeb _, WebIngest.streamWebSql),
    gate("stream_images", ImageStream.streamImages _, ImageStream.streamImagesSql),
    gate("stream_audio", AudioStream.streamAudio _, AudioStream.streamAudioSql),
    // the count fold identity: weights under the folded model must
    // equal one-shot mix_doremi exactly
    gate("stream_doremi", DoremiStream.streamDoremi _, CorpusOps.mixDoremiSql),
    // the cursor-carry fold identity: the batched manifests must
    // reproduce one-shot ta_pack_chunks exactly
    gate("stream_pack", PackStream.streamPack _, Cleaning.taPackChunksSql),
    // the cursor-carry fold identity under the REAL token metric: the
    // batched manifests must reproduce one-shot pack_bpe exactly
    gate("stream_pack_bpe", PackStream.streamPackBpe _, Tokenizer.packBpeSql),
    gate("q46_pctile_wide", Selection.q46PctileWide _, Selection.q46PctileWideSql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.op).toMap

  /** Lazy, so that reading [[queries]] never builds the oracle SQL. */
  lazy val oracleSql: Map[String, String] = gates.map(g => g.name -> g.sql).toMap

  /** Every gate name, sorted: the all-gates order of Verify, Probe,
    * ScaleRehearsal, `Graft.ops` and `BENCH_ALL`. */
  val names: Seq[String] = gates.map(_.name).sorted

  /** Headline subset used by Bench (keep it representative, not
    * exhaustive). r3 adds the star-CC variant, the zero-shuffle
    * bucketed join, and the Lloyd k-means loop; r4 adds the two
    * heaviest corpus-cleaning operators (decontamination's broadcast
    * semi-join, repetition's per-doc gram aggregation); r5 adds the
    * trained-PQ Lloyd loop and the composed cleaning capstone; r6 adds
    * the graph capstone (CC + PageRank over one shared edge exchange);
    * r7 adds the quantile sketch eval, label-propagation communities,
    * and the bounded-top-K domain cap.
    * q38's first run pays the one-time bucketed write; min-of-2 reports
    * the steady-state join that layout exists to amortize. */
  def benchQueries: Seq[String] = Seq(
    "q1_agg", "q2_selective_agg", "q3_join_topk", "q6_multi_join",
    "q7_broadcast_join", "q9_window_running", "q14_distinct_agg", "q18_asof",
    "mr_wc", "dedup_exact", "dedup_minhash", "dedup_cc", "dedup_cc_star",
    "ta_tfidf", "sim_lsh_topk", "stream_session", "q38_bucketed_join",
    "emb_kmeans", "ta_decontaminate", "ta_repetition",
    "emb_pq_trained", "pipeline_full", "sim_ivfpq_topk", "vocab_encode",
    "dedup_ngram_verify", "ta_denylist_phrases", "dedup_substring",
    "dedup_semantic", "dedup_semantic_cc", "ta_quality_clf",
    "graph_canonical",
    // r7: the new sketch/graph/sampling families + the mix capstone and
    // layout/maintenance ops (dedup_containment stays full-suite-only:
    // its 13 s exact-verify tier is represented by dedup_ngram_verify
    // here, and the headline should stay a cross-family sample, not a
    // stress suite)
    "ta_quantile_eval", "graph_communities", "sample_domain_cap",
    "pipeline_mix", "snapshot_upsert", "q43_zorder",
    // r8: maintenance capstones — upsert into a z-bucketed table with
    // sorted compaction, the batch-bounded ANN index upsert — and the
    // compressed-codec decode pass (per-row CPU-bound, zero shuffle)
    "snapshot_zmaintain", "sim_index_upsert", "mm_png",
    // r8b: the sub-document dedup lens (min-struct keeper aggregate)
    // and the iterative BPE trainer (vocabulary-sized rounds + 1-row
    // argmax collects — the driver-loop family alongside emb_kmeans);
    // graph_triangles stays full-suite-only (the graph family already
    // holds two headline slots)
    "dedup_paragraph", "vocab_bpe",
    // r8c: the session's new families — CDC diff (full-outer change
    // feed), DSIR importance scoring (broadcast log-ratio + TakeOrdered
    // selection), seed-distance BFS (iterative frontier joins), and the
    // PCA corpus pass (one Gram aggregation + driver rounds)
    "snapshot_diff", "sample_importance", "graph_bfs", "emb_pca",
    // r8d: incremental view maintenance (join-view delta merge — the
    // O(changes) path that replaces full recompute) and membership
    // data skipping (bloom manifest build + pruned point lookup);
    // ivm_agg/ivm_fold/stream_ivm/snapshot_restore stay
    // full-suite-only — ivm_join and layout_bloom_scan carry their
    // families' representative cost here
    "ivm_join", "layout_bloom_scan",
    // r8e: blocked entity resolution (distinct-name contraction + CC
    // closure — the family's full pipeline cost) and the skyline
    // operator (local-frontier prune + dominance census);
    // ta_gopher_rules/er_pairs/stream_kmeans/skyline_incr stay
    // full-suite-only — er_entities and q44_skyline carry their
    // families' representative cost here
    "er_entities", "q44_skyline",
    // r8f: keyed sketch-state streaming (stream_hll carries the
    // family; cms/quantile/novelty stay full-suite-only) and the
    // first-occurrence novelty scorer — the session's two new
    // corpus-state shapes; audio fp / jaccard / coverage / dau /
    // hard-negatives stay full-suite-only (their families already
    // hold headline slots)
    "stream_hll", "ta_novelty",
    // r10: exact order statistics by two-pass counting selection — its
    // claim is precisely a scale claim (the ORDER BY / percentile()
    // replacement), so it gets a headline slot and a SCALE.md record —
    // and the profiling census (dq_profile carries the DQ family's
    // representative cost; fk_check/skew_report stay full-suite-only)
    "q45_exact_pctile", "dq_profile",
    // r10b: the web-ingest front end — web_warc_extract carries the
    // family's representative cost (per-row gzip + WARC + HTTP + HTML
    // parse chain, CPU-bound, zero shuffle — the crawl-decode analog
    // of mm_png); url_parse/domain_stats/robots stay full-suite-only
    "web_warc_extract",
    // r10c: the frontier capstone is the family's only SHUFFLE-shaped
    // member (normalize-keyed anti-join + census vs the narrow decode
    // passes), so it gets the second web slot; links/link_graph/
    // normalize/charset stay full-suite-only inside its composition
    "web_frontier",
    // r10c: the family capstone (every member composed in one narrow
    // pass) carries the end-to-end ingest cost
    "pipeline_web",
    // r11: headline de-staling (the r10 verdict's "watch the expensive
    // tail, not only the cheap head") — the full-suite top-5 by cost
    // join the headline so drift tracking covers where the time
    // actually goes: the exact-containment verify tier (+ its
    // incremental member), the streaming CC fold, the incremental CC
    // delta path, and the base ngram join; plus the deliberately
    // lossless PPJoin all-pairs capstone the r10 round added
    "dedup_containment", "dedup_containment_incr", "stream_cc",
    "dedup_cc_incr", "dedup_ngram", "dedup_allpairs_clean",
    // r11: the session's two new scale-story gates — the streaming web
    // capstone (extract + fold + admit per batch) and the distributed
    // exact keyed percentile (the ORDER-BY-free high-cardinality tier)
    "stream_web", "q46_pctile_wide",
    // r12: tokenizer-true packing (the BPE-encode → chunk-kernel
    // composition; ta_pack_chunks' surrogate twin stays
    // full-suite-only) and the Iceberg-shape metadata round-trip
    // (driver-side Avro write/read — its cost claim is that it STAYS
    // metadata-scale)
    "pack_bpe", "layout_export_iceberg",
    // r12d: the lossless-audio capstone — per-row FLAC encode+decode
    // with the MD5-anchored round-trip (the CPU-bound narrow-codec
    // family's newest member; mm_wav/mm_alaw stay full-suite-only)
    "mm_flac",
    // r13: headline de-staling refresh (the r11 discipline, VERDICT r12
    // item 6) — the full-suite top-5 by cost not yet tracked join the
    // headline so drift tracking covers where the time actually goes:
    // the perceptual-hash CC closure, the streaming ER fold, the scored
    // cleaning capstone, the LOSSLESS PPJoin all-pairs base (its _clean
    // variant was already here), and the calibration eval
    "mm_phash_cc", "stream_er", "pipeline_scored", "dedup_allpairs",
    "ta_quality_calibration",
    // r13: the r12 expensive tail the verdict named — DoReMi one-shot +
    // standing-state members and the tokenizer-true streaming packer
    "mix_doremi", "stream_doremi", "stream_pack_bpe",
    // r14: the jumpiest stream member joins the headline so drift
    // tracking covers it (VERDICT r13 item 3): stream_quantile's r13e
    // 0.56→1.63 s same-fp move was adjudicated as window-level
    // amplification of its eager two-batch fold's driver-side job
    // overhead (isolated A/B: the fold costs 0.07 s over the shared
    // ta_quantile_eval harness in a calm window vs 0.98 s in the r13e
    // drifted one) — headlining it makes the next move diff-visible
    // against its twin instead of full-suite-only
    "stream_quantile")
}
