package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the extension
  * surface: dedup, similarity search, text analysis, streaming) gets one
  * entry in [[queries]]; SQL-expressible ones also get a DuckDB oracle in
  * [[oracleSql]] with IDENTICAL column names and deterministic values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"            -> (Relational.q1Agg _),
    "q2_selective_agg"  -> (Relational.q2SelectiveAgg _),
    "q3_join_topk"      -> (Relational.q3JoinTopk _),
    "q4_semi_join"      -> (Relational.q4SemiJoin _),
    "q5_anti_join"      -> (Relational.q5AntiJoin _),
    "q6_multi_join"     -> (Relational.q6MultiJoin _),
    "q7_broadcast_join" -> (Relational.q7BroadcastJoin _),
    "q8_window_rank"    -> (Relational.q8WindowRank _),
    "q9_window_running" -> (Relational.q9WindowRunning _),
    "q10_topk"          -> (Relational.q10TopK _),
    "q11_setops"        -> (Relational.q11SetOps _),
    "q12_rollup"        -> (Relational.q12Rollup _),
    "q13_cube"          -> (Relational.q13Cube _),
    "q14_distinct_agg"  -> (Relational.q14DistinctAgg _),
    "q15_scalar"        -> (Relational.q15Scalar _),
    "q16_date_parts"    -> (Relational.q16DateParts _),
    "q17_json"          -> (Relational.q17Json _),
    "q18_asof"          -> (Relational.q18AsOf _),
    "q19_event_window"  -> (Relational.q19EventWindow _),
    "q20_approx_distinct" -> (Relational.q20ApproxDistinct _),
    "q21_arrays"        -> (Relational.q21Arrays _),
    "q23_stats"         -> (Relational.q23Stats _),
    "q24_pivot"         -> (Relational2.q24Pivot _),
    "q25_correlated"    -> (Relational2.q25Correlated _),
    "q26_posexplode"    -> (Relational2.q26PosExplode _),
    "q27_maps"          -> (Relational2.q27Maps _),
    "q28_regex"         -> (Relational2.q28Regex _),
    "q29_window_battery" -> (Relational2.q29WindowBattery _),
    "q30_range_join"    -> (Relational2.q30RangeJoin _),
    "mr_wc"             -> (MrQueries.mrWc _),
    "mr_indexer"        -> (MrQueries.mrIndexer _),
    "mr_doc_tokens"     -> (MrQueries.mrDocTokens _),
    "mr_metadata"       -> (MrQueries.mrMetadata _),
    "mr_compat_wc"      -> (MrQueries.mrCompatWc _),
    "mr_compat_indexer" -> (MrQueries.mrCompatIndexer _),
    "ta_quality"        -> (TextAnalysis.taQuality _),
    "ta_token_count"    -> (TextAnalysis.taTokenCount _),
    "ta_lang_id"        -> (TextAnalysis.taLangId _),
    "ta_fingerprint"    -> (TextAnalysis.taFingerprint _),
    "ta_chunk_fp"       -> (TextAnalysis.taChunkFp _),
    "ta_heavy_hitters"  -> (HeavyHitters.taHeavyHitters _),
    "dedup_exact"       -> (Dedup.dedupExact _),
    "dedup_ngram"       -> (Dedup.dedupNgram _),
    "dedup_minhash"     -> (Dedup.dedupMinhash _),
    "dedup_simhash"     -> (Dedup.dedupSimhash _),
    "dedup_embedding"   -> (Dedup.dedupEmbedding _),
    "dedup_cc"          -> (Dedup.dedupCc _),
    "dedup_cc_star"     -> (Dedup.dedupCcStar _),
    "minhash_agg_sig"   -> (Dedup.minhashAggSig _),
    "q38_bucketed_join" -> (BucketedJoin.q38BucketedJoin _),
    "q39_full_outer"    -> (Pipeline.q39FullOuter _),
    "q40_gapfill"       -> (Relational2.q40GapFill _),
    "pipeline_clean"    -> (Pipeline.pipelineClean _),
    "ta_tfidf"          -> (CorpusOps.taTfidf _),
    "ta_bigrams"        -> (CorpusOps.taBigrams _),
    "ta_lm_score"       -> (CorpusOps.taLmScore _),
    "ta_lm_kn"          -> (CorpusOps.taLmKn _),
    "ta_bm25"           -> (CorpusOps.taBm25 _),
    "sample_stratified" -> (CorpusOps.sampleStratified _),
    "sample_fixed_k"    -> (CorpusOps.sampleFixedK _),
    "emb_centroids"     -> (CorpusOps.embCentroids _),
    "emb_kmeans"        -> (KMeans.embKmeans _),
    "emb_quantize"      -> (KMeans.embQuantize _),
    "q31_approx_pctile" -> (Relational.q31ApproxPercentile _),
    "q32_range_frame"   -> (Relational2.q32RangeFrame _),
    "q33_cov_corr"      -> (Relational.q33CovCorr _),
    "q34_histogram"     -> (Relational.q34Histogram _),
    "q36_funnel"        -> (Relational2.q36Funnel _),
    "q37_cohort"        -> (Relational2.q37Cohort _),
    "q35_dq_checks"     -> (Relational.q35DqChecks _),
    "dedup_edit"        -> (Dedup.dedupEdit _),
    "dedup_ngram_verify" -> (Dedup.dedupNgramVerify _),
    "dedup_substring"   -> (Dedup.dedupSubstring _),
    "sql_cte"           -> (SqlSurface.qSqlCte _),
    "sim_topk"          -> (Similarity.simTopk _),
    "sim_lsh_topk"      -> (Similarity.simLshTopk _),
    "sim_ivf_topk"      -> (Similarity.simIvfTopk _),
    "stream_sliding"    -> (graft.streaming.EventStreams.qStreamSliding _),
    "stream_session"    -> (graft.streaming.EventStreams.qStreamSession _),
    "stream_user_stats" -> (graft.streaming.EventStreams.qStreamUserStats _),
    "stream_join"       -> (graft.streaming.EventStreams.qStreamJoin _),
    "stream_left_join"  -> (graft.streaming.EventStreams.qStreamLeftJoin _),
    "stream_dedup"      -> (graft.streaming.EventStreams.qStreamDedup _),
    "mm_features"       -> (graft.multimodal.Media.mmFeatures _),
    "mm_frames"         -> (graft.multimodal.Media.mmFrames _),
    "dedup_simhash_pairs" -> (Dedup.dedupSimhashPairs _),
    "sql_direct"        -> (SqlSurface.qSqlDirect _),
    "q22_grouping_sets" -> (SqlSurface.qGroupingSets _),
    "pii_mask"          -> (Cleaning.piiMask _),
    "ta_denylist_scrub" -> (Cleaning.taDenylistScrub _),
    "ta_decontaminate"  -> (Cleaning.taDecontaminate _),
    "ta_repetition"     -> (Cleaning.taRepetition _),
    "ta_pack_chunks"    -> (Cleaning.taPackChunks _),
    "dedup_incremental" -> (Cleaning.dedupIncremental _),
    "emb_pq"            -> (KMeans.embPq _),
    "emb_pq_trained"    -> (KMeans.embPqTrained _),
    "pipeline_full"     -> (Pipeline.pipelineFull _),
    "pipeline_scored"   -> (Pipeline.pipelineScored _),
    "pipeline_ppl"      -> (Pipeline.pipelinePpl _),
    "ta_denylist_scrub_large" -> (Cleaning.taDenylistScrubLarge _),
    "ta_denylist_phrases" -> (Cleaning.taDenylistPhrases _),
    "vocab_build"       -> (Tokenizer.vocabBuild _),
    "vocab_encode"      -> (Tokenizer.vocabEncode _),
    "sample_mixture"    -> (CorpusOps.sampleMixture _),
    "corpus_shuffle"    -> (CorpusOps.corpusShuffle _),
    "ta_quality_clf"    -> (Classifier.taQualityClf _),
    "ta_quality_clf_model" -> (Classifier.taQualityClfModel _),
    "dedup_semantic"    -> (Dedup.dedupSemantic _),
    "dedup_semantic_cc" -> (Dedup.dedupSemanticCc _),
    "sim_ivfpq_topk"    -> (Similarity.simIvfPqTopk _),
    "sim_recall_eval"   -> (Similarity.simRecallEval _),
    "dedup_minhash_incr" -> (Dedup.dedupMinhashIncr _),
    "search_hybrid"     -> ((s, dir) => Pipeline.searchHybrid(s, dir)),
    "search_hybrid_wide" -> (Pipeline.searchHybridWide _),
    "q18_asof_salted"   -> (Relational.q18AsOfSaltedGate _),
    "q41_unpivot"       -> (Relational2.q41Unpivot _),
    "q42_islands"       -> (Relational2.q42Islands _),
    "events_attribution" -> (Relational2.eventsAttribution _),
    "events_transitions" -> (Relational2.eventsTransitions _),
    "events_anomaly"    -> (Relational2.eventsAnomaly _),
    "dedup_cc_incr"     -> (Dedup.dedupCcIncr _),
    "mm_resize"         -> (graft.multimodal.Media.mmResize _),
    "mm_dedup"          -> (graft.multimodal.Media.mmDedup _),
    "mm_png"            -> (graft.multimodal.Media.mmPng _),
    "mm_gif"            -> (graft.multimodal.Media.mmGif _),
    "mm_gif_frames"     -> (graft.multimodal.Media.mmGifFrames _),
    "mm_tiff"           -> (graft.multimodal.Media.mmTiff _),
    "mm_tiff_pages"     -> (graft.multimodal.Media.mmTiffPages _),
    "mm_pack_pairs"     -> (graft.multimodal.Media.mmPackPairs _),
    "mm_pack_bpe"       -> (graft.multimodal.Media.mmPackBpe _),
    "mm_wav"            -> (graft.multimodal.Media.mmWav _),
    "mm_energy"         -> (graft.multimodal.Media.mmEnergy _),
    "mm_phash"          -> (graft.multimodal.Media.mmPhash _),
    "mm_phash_pairs"    -> (graft.multimodal.Media.mmPhashPairs _),
    "graph_pagerank"    -> (Graphs.graphPagerank _),
    "graph_canonical"   -> (Graphs.graphCanonical _),
    "graph_communities" -> (Graphs.graphCommunities _),
    "ta_cms_eval"       -> (HeavyHitters.taCmsEval _),
    "ta_hll_eval"       -> (HeavyHitters.taHllEval _),
    "ta_quantile_eval"  -> (HeavyHitters.taQuantileEval _),
    "sample_domain_cap" -> (CorpusOps.sampleDomainCap _),
    "dedup_containment" -> (Dedup.dedupContainment _),
    "sample_cluster_cap" -> (CorpusOps.sampleClusterCap _),
    "pipeline_mix"      -> (Pipeline.pipelineMix _),
    "pipeline_incr"     -> (Pipeline.pipelineIncr _),
    "snapshot_upsert"   -> (Snapshots.snapshotUpsert _),
    "q43_zorder"        -> (graft.sources.ZOrder.q43ZOrder _),
    "corpus_split"      -> (CorpusOps.corpusSplit _),
    "corpus_report"     -> (CorpusOps.corpusReport _),
    "snapshot_zmaintain" -> (graft.sources.ZMaintain.snapshotZMaintain _),
    "stream_upsert"     -> (graft.streaming.SnapshotStream.streamUpsert _),
    "sim_index_upsert"  -> (Similarity.simIndexUpsert _),
    "sim_index_recall"  -> (Similarity.simIndexRecall _),
    "dedup_containment_incr" -> (Dedup.dedupContainmentIncr _),
    "dedup_paragraph"   -> (ParagraphDedup.dedupParagraph _),
    "vocab_bpe"         -> (Tokenizer.vocabBpe _),
    "graph_triangles"   -> (Graphs.graphTriangles _),
    "layout_manifest"   -> (graft.sources.Manifest.layoutManifest _),
    "layout_export_iceberg" -> (graft.sources.IcebergExport.layoutExportIceberg _),
    "vocab_bpe_encode"  -> (Tokenizer.vocabBpeEncode _),
    "pack_bpe"          -> (Tokenizer.packBpe _),
    "pack_report"       -> (Tokenizer.packReport _),
    "dedup_paragraph_incr" -> (ParagraphDedup.dedupParagraphIncr _),
    "stream_paragraph"  -> (graft.streaming.ParagraphStream.streamParagraph _),
    "snapshot_diff"     -> (Snapshots.snapshotDiff _),
    "snapshot_history"  -> (Snapshots.snapshotHistory _),
    "snapshot_timetravel" -> (Snapshots.snapshotTimetravel _),
    "sample_importance" -> (CorpusOps.sampleImportance _),
    "mix_doremi"        -> (CorpusOps.mixDoremi _),
    "dedup_recall_eval" -> (Dedup.dedupRecallEval _),
    "stream_cms"        -> (graft.streaming.SketchStream.streamCms _),
    "emb_pca"           -> (Pca.embPca _),
    "graph_bfs"         -> (Graphs.graphBfs _),
    "sample_epoch_mix"  -> (CorpusOps.sampleEpochMix _),
    "sql_lateral"       -> (SqlSurface.qSqlLateral _),
    "ta_entropy"        -> (CorpusOps.taEntropy _),
    "ta_winnow"         -> (TextAnalysis.taWinnow _),
    "ta_langid_eval"    -> (TextAnalysis.taLangIdEval _),
    "layout_prune_scan" -> (graft.sources.ZPrune.layoutPruneScan _),
    "graph_kcore"       -> (Graphs.graphKcore _),
    "ta_collocations"   -> (CorpusOps.taCollocations _),
    "sample_temperature" -> (CorpusOps.sampleTemperature _),
    "corpus_budget"     -> (CorpusOps.corpusBudget _),
    "corpus_overlap"    -> (CorpusOps.corpusOverlap _),
    "corpus_drift"      -> (CorpusOps.corpusDrift _),
    "emb_kmeans_pp"     -> (KMeans.embKmeansPp _),
    "stream_history"    -> (Snapshots.streamHistory _),
    "dedup_threshold_curve" -> (Dedup.dedupThresholdCurve _),
    "ta_lang_mix"       -> (TextAnalysis.taLangMix _),
    "ivm_agg"           -> (Ivm.ivmAgg _),
    "ivm_fold"          -> (Ivm.ivmFold _),
    "stream_ivm"        -> (Ivm.streamIvm _),
    "layout_bloom_scan" -> (graft.sources.ZPrune.layoutBloomScan _),
    "ivm_join"          -> (Ivm.ivmJoin _),
    "snapshot_restore"  -> (Snapshots.snapshotRestore _),
    "mv_rewrite"        -> (graft.plans.MvRewrite.mvRewrite _),
    "ta_gopher_rules"   -> (TextAnalysis.taGopherRules _),
    "q44_skyline"       -> (Skyline.q44Skyline _),
    "er_pairs"          -> (EntityResolution.erPairs _),
    "er_entities"       -> (EntityResolution.erEntities _),
    "er_block_recall"   -> (EntityResolution.erBlockRecall _),
    "stream_kmeans"     -> (graft.streaming.CentroidStream.streamKmeans _),
    "skyline_incr"      -> (Skyline.skylineIncr _),
    "er_incr"           -> (EntityResolution.erIncr _),
    "events_paths"      -> (Relational2.eventsPaths _),
    "dq_skew_report"    -> (Relational.dqSkewReport _),
    "dq_profile"        -> (Profiling.dqProfile _),
    "dq_join_estimate"  -> (HeavyHitters.dqJoinEstimate _),
    "ivm_dim"           -> (Ivm.ivmDim _),
    "sql_recursive"     -> (SqlSurface.qSqlRecursive _),
    "pipeline_rules"    -> (Pipeline.pipelineRules _),
    "dq_fk_check"       -> (Profiling.dqFkCheck _),
    "stream_er"         -> (EntityResolution.streamEr _),
    "stream_hll"        -> (graft.streaming.SketchStream.streamHll _),
    "stream_quantile"   -> (graft.streaming.SketchStream.streamQuantile _),
    "mm_audio_fp"       -> (graft.multimodal.Media.mmAudioFp _),
    "mm_audio_pairs"    -> (graft.multimodal.Media.mmAudioPairs _),
    "graph_jaccard"     -> (Graphs.graphJaccard _),
    "vocab_coverage"    -> (Tokenizer.vocabCoverage _),
    "sim_hard_negatives" -> (Similarity.simHardNegatives _),
    "sim_bitext"        -> (Similarity.simBitext _),
    "corpus_icp"        -> (Similarity.corpusIcp _),
    "pack_icp"          -> (Similarity.packIcp _),
    "stream_icp"        -> (graft.streaming.IcpStream.streamIcp _),
    "events_dau"        -> (Relational2.eventsDau _),
    "ta_novelty"        -> (CorpusOps.taNovelty _),
    "stream_novelty"    -> (graft.streaming.NoveltyStream.streamNovelty _),
    "corpus_waterfall"  -> (Pipeline.corpusWaterfall _),
    "stream_cc"         -> (graft.streaming.CcStream.streamCc _),
    "events_rfm"        -> (Relational2.eventsRfm _),
    "corpus_rank"       -> (CorpusOps.corpusRank _),
    "snapshot_apply"    -> (Snapshots.snapshotApply _),
    "mm_phash_cc"       -> (graft.multimodal.Media.mmPhashCc _),
    "events_ewma"       -> (Relational2.eventsEwma _),
    "sql_window"        -> (SqlSurface.qSqlWindow _),
    "dedup_keep_longest" -> (Dedup.dedupKeepLongest _),
    "ta_quality_calibration" -> (Classifier.taQualityCalibration _),
    "q45_exact_pctile"  -> (Selection.q45ExactPctile _),
    "mm_jpeg"           -> (graft.multimodal.Media.mmJpeg _),
    "mm_ulaw"           -> (graft.multimodal.Media.mmUlaw _),
    "mm_alaw"           -> (graft.multimodal.Media.mmAlaw _),
    "mm_flac"           -> (graft.multimodal.Media.mmFlac _),
    "mm_audio_dispatch" -> (graft.multimodal.Media.mmAudioDispatch _),
    "mm_audio_xdedup"   -> (graft.multimodal.Media.mmAudioXdedup _),
    "mm_video"          -> (graft.multimodal.Media.mmVideo _),
    "ta_decontaminate_semantic" -> (Cleaning.taDecontaminateSemantic _),
    "vocab_wordpiece"   -> (Tokenizer.vocabWordpiece _),
    "vocab_wordpiece_encode" -> (Tokenizer.vocabWordpieceEncode _),
    "dedup_allpairs"    -> (Dedup.dedupAllpairs _),
    "dedup_allpairs_clean" -> (Dedup.dedupAllpairsClean _),
    "dedup_allpairs_incr" -> (Dedup.dedupAllpairsIncr _),
    "layout_schema_merge" -> (graft.sources.Formats.layoutSchemaMerge _),
    "web_warc_extract"  -> (graft.web.WebIngest.webWarcExtract _),
    "web_images"        -> (graft.web.WebIngest.webImages _),
    "web_url_parse"     -> (graft.web.WebIngest.webUrlParse _),
    "web_domain_stats"  -> (graft.web.WebIngest.webDomainStats _),
    "web_robots"        -> (graft.web.WebIngest.webRobots _),
    "web_links"         -> (graft.web.WebIngest.webLinks _),
    "web_link_graph"    -> (graft.web.WebIngest.webLinkGraph _),
    "web_url_normalize" -> (graft.web.WebIngest.webUrlNormalize _),
    "web_frontier"      -> (graft.web.WebIngest.webFrontier _),
    "web_charset"       -> (graft.web.WebIngest.webCharset _),
    "web_redirects"     -> (graft.web.Redirects.webRedirects _),
    "web_boilerplate"   -> (graft.web.WebIngest.webBoilerplate _),
    "web_sitemap"       -> (graft.web.WebIngest.webSitemap _),
    "stream_frontier"   -> (graft.streaming.FrontierStream.streamFrontier _),
    "web_host_pagerank" -> (graft.web.WebIngest.webHostPagerank _),
    "feat_scale"        -> (Features.featScale _),
    "feat_bucketize"    -> (Features.featBucketize _),
    "feat_onehot"       -> (Features.featOnehot _),
    "feat_hashed_cross" -> (Features.featHashedCross _),
    "web_warc_index"    -> (graft.web.WebIngest.webWarcIndex _),
    "ta_sentences"      -> (TextAnalysis.taSentences _),
    "pipeline_web"      -> (graft.web.WebIngest.pipelineWeb _),
    "web_anchor_text"   -> (graft.web.WebIngest.webAnchorText _),
    "web_frontier_admitted" -> (graft.web.WebIngest.webFrontierAdmitted _),
    "ta_readability"    -> (TextAnalysis.taReadability _),
    "feat_quantile_bucketize" -> (Features.featQuantileBucketize _),
    "feat_target_encode" -> (Features.featTargetEncode _),
    "stream_feat_scale" -> (graft.streaming.FeatureStream.streamFeatScale _),
    "stream_web"        -> (graft.streaming.WebStream.streamWeb _),
    "stream_images"     -> (graft.streaming.ImageStream.streamImages _),
    "stream_audio"      -> (graft.streaming.AudioStream.streamAudio _),
    "stream_doremi"     -> (graft.streaming.DoremiStream.streamDoremi _),
    "stream_pack"       -> (graft.streaming.PackStream.streamPack _),
    "stream_pack_bpe"   -> (graft.streaming.PackStream.streamPackBpe _),
    "q46_pctile_wide"   -> (Selection.q46PctileWide _)
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg"            -> Relational.q1AggSql,
    "q2_selective_agg"  -> Relational.q2SelectiveAggSql,
    "q3_join_topk"      -> Relational.q3JoinTopkSql,
    "q4_semi_join"      -> Relational.q4SemiJoinSql,
    "q5_anti_join"      -> Relational.q5AntiJoinSql,
    "q6_multi_join"     -> Relational.q6MultiJoinSql,
    "q7_broadcast_join" -> Relational.q7BroadcastJoinSql,
    "q8_window_rank"    -> Relational.q8WindowRankSql,
    "q9_window_running" -> Relational.q9WindowRunningSql,
    "q10_topk"          -> Relational.q10TopKSql,
    "q11_setops"        -> Relational.q11SetOpsSql,
    "q12_rollup"        -> Relational.q12RollupSql,
    "q13_cube"          -> Relational.q13CubeSql,
    "q14_distinct_agg"  -> Relational.q14DistinctAggSql,
    "q15_scalar"        -> Relational.q15ScalarSql,
    "q16_date_parts"    -> Relational.q16DatePartsSql,
    "q17_json"          -> Relational.q17JsonSql,
    "q18_asof"          -> Relational.q18AsOfSql,
    "q19_event_window"  -> Relational.q19EventWindowSql,
    "q20_approx_distinct" -> Relational.q20ApproxDistinctSql,
    "q21_arrays"        -> Relational.q21ArraysSql,
    "q23_stats"         -> Relational.q23StatsSql,
    "q24_pivot"         -> Relational2.q24PivotSql,
    "q25_correlated"    -> Relational2.q25CorrelatedSql,
    "q26_posexplode"    -> Relational2.q26PosExplodeSql,
    "q27_maps"          -> Relational2.q27MapsSql,
    "q28_regex"         -> Relational2.q28RegexSql,
    "q29_window_battery" -> Relational2.q29WindowBatterySql,
    "q30_range_join"    -> Relational2.q30RangeJoinSql,
    "mr_wc"             -> MrQueries.mrWcSql,
    "mr_indexer"        -> MrQueries.mrIndexerSql,
    "mr_doc_tokens"     -> MrQueries.mrDocTokensSql,
    "mr_metadata"       -> MrQueries.mrMetadataSql,
    "mr_compat_wc"      -> MrQueries.mrCompatWcSql,
    "mr_compat_indexer" -> MrQueries.mrCompatIndexerSql,
    "ta_quality"        -> TextAnalysis.taQualitySql,
    "ta_token_count"    -> TextAnalysis.taTokenCountSql,
    "ta_lang_id"        -> TextAnalysis.taLangIdSql,
    "ta_fingerprint"    -> TextAnalysis.taFingerprintSql,
    "ta_chunk_fp"       -> TextAnalysis.taChunkFpSql,
    "ta_heavy_hitters"  -> HeavyHitters.taHeavyHittersSql,
    "dedup_exact"       -> Dedup.dedupExactSql,
    "dedup_ngram"       -> Dedup.dedupNgramSql,
    "dedup_minhash"     -> Dedup.dedupMinhashSql,
    "dedup_simhash"     -> Dedup.dedupSimhashSql,
    "dedup_embedding"   -> Dedup.dedupEmbeddingSql,
    "dedup_cc"          -> Dedup.dedupCcSql,
    "dedup_cc_star"     -> Dedup.dedupCcStarSql,
    "minhash_agg_sig"   -> Dedup.minhashAggSigSql,
    "q38_bucketed_join" -> BucketedJoin.q38BucketedJoinSql,
    "q39_full_outer"    -> Pipeline.q39FullOuterSql,
    "q40_gapfill"       -> Relational2.q40GapFillSql,
    "pipeline_clean"    -> Pipeline.pipelineCleanSql,
    "ta_tfidf"          -> CorpusOps.taTfidfSql,
    "ta_bigrams"        -> CorpusOps.taBigramsSql,
    "ta_lm_score"       -> CorpusOps.taLmScoreSql,
    "ta_lm_kn"          -> CorpusOps.taLmKnSql,
    "ta_bm25"           -> CorpusOps.taBm25Sql,
    "sample_stratified" -> CorpusOps.sampleStratifiedSql,
    "sample_fixed_k"    -> CorpusOps.sampleFixedKSql,
    "emb_centroids"     -> CorpusOps.embCentroidsSql,
    "emb_kmeans"        -> KMeans.embKmeansSql,
    "emb_quantize"      -> KMeans.embQuantizeSql,
    "q31_approx_pctile" -> Relational.q31ApproxPercentileSql,
    "q32_range_frame"   -> Relational2.q32RangeFrameSql,
    "q33_cov_corr"      -> Relational.q33CovCorrSql,
    "q34_histogram"     -> Relational.q34HistogramSql,
    "q36_funnel"        -> Relational2.q36FunnelSql,
    "q37_cohort"        -> Relational2.q37CohortSql,
    "q35_dq_checks"     -> Relational.q35DqChecksSql,
    "dedup_edit"        -> Dedup.dedupEditSql,
    "dedup_ngram_verify" -> Dedup.dedupNgramVerifySql,
    "dedup_substring"   -> Dedup.dedupSubstringSql,
    "sql_cte"           -> SqlSurface.sqlCte,
    "sim_topk"          -> Similarity.simTopkSql,
    "sim_lsh_topk"      -> Similarity.simLshTopkSql,
    "sim_ivf_topk"      -> Similarity.simIvfTopkSql,
    "stream_sliding"    -> graft.streaming.EventStreams.qStreamSlidingSql,
    "stream_session"    -> graft.streaming.EventStreams.qStreamSessionSql,
    "stream_user_stats" -> graft.streaming.EventStreams.qStreamUserStatsSql,
    "stream_join"       -> graft.streaming.EventStreams.qStreamJoinSql,
    "stream_left_join"  -> graft.streaming.EventStreams.qStreamLeftJoinSql,
    "stream_dedup"      -> graft.streaming.EventStreams.qStreamDedupSql,
    "mm_features"       -> graft.multimodal.Media.mmFeaturesSql,
    "mm_frames"         -> graft.multimodal.Media.mmFramesSql,
    "dedup_simhash_pairs" -> Dedup.dedupSimhashPairsSql,
    "sql_direct"        -> SqlSurface.sqlDirect,
    "q22_grouping_sets" -> SqlSurface.sqlGroupingSets,
    "pii_mask"          -> Cleaning.piiMaskSql,
    "ta_denylist_scrub" -> Cleaning.taDenylistScrubSql,
    "ta_decontaminate"  -> Cleaning.taDecontaminateSql,
    "ta_repetition"     -> Cleaning.taRepetitionSql,
    "ta_pack_chunks"    -> Cleaning.taPackChunksSql,
    "dedup_incremental" -> Cleaning.dedupIncrementalSql,
    "emb_pq"            -> KMeans.embPqSql,
    "emb_pq_trained"    -> KMeans.embPqTrainedSql,
    "pipeline_full"     -> Pipeline.pipelineFullSql,
    "pipeline_scored"   -> Pipeline.pipelineScoredSql,
    "pipeline_ppl"      -> Pipeline.pipelinePplSql,
    // same oracle as the regex twin: the set kernel is bit-identical
    "ta_denylist_scrub_large" -> Cleaning.taDenylistScrubSql,
    "ta_denylist_phrases" -> Cleaning.taDenylistPhrasesSql,
    "vocab_build"       -> Tokenizer.vocabBuildSql,
    "vocab_encode"      -> Tokenizer.vocabEncodeSql,
    "sample_mixture"    -> CorpusOps.sampleMixtureSql,
    "corpus_shuffle"    -> CorpusOps.corpusShuffleSql,
    "ta_quality_clf"    -> Classifier.taQualityClfSql,
    "ta_quality_clf_model" -> Classifier.taQualityClfModelSql,
    "dedup_semantic"    -> Dedup.dedupSemanticSql,
    "dedup_semantic_cc" -> Dedup.dedupSemanticCcSql,
    "sim_ivfpq_topk"    -> Similarity.simIvfPqTopkSql,
    "sim_recall_eval"   -> Similarity.simRecallEvalSql,
    "dedup_minhash_incr" -> Dedup.dedupMinhashIncrSql,
    "search_hybrid"     -> Pipeline.searchHybridSql,
    "search_hybrid_wide" -> Pipeline.searchHybridWideSql,
    "q18_asof_salted"   -> Relational.q18AsOfSql,
    "q41_unpivot"       -> Relational2.q41UnpivotSql,
    "q42_islands"       -> Relational2.q42IslandsSql,
    "events_attribution" -> Relational2.eventsAttributionSql,
    "events_transitions" -> Relational2.eventsTransitionsSql,
    "events_anomaly"    -> Relational2.eventsAnomalySql,
    // the incremental path must reproduce the full recompute exactly —
    // its oracle IS the full-graph recursive-CTE CC
    "dedup_cc_incr"     -> Dedup.dedupCcSql,
    "mm_resize"         -> graft.multimodal.Media.mmResizeSql,
    "mm_dedup"          -> graft.multimodal.Media.mmDedupSql,
    "mm_png"            -> graft.multimodal.Media.mmPngSql,
    "mm_gif"            -> graft.multimodal.Media.mmGifSql,
    "mm_gif_frames"     -> graft.multimodal.Media.mmGifFramesSql,
    "mm_tiff"           -> graft.multimodal.Media.mmTiffSql,
    "mm_tiff_pages"     -> graft.multimodal.Media.mmTiffPagesSql,
    "mm_pack_pairs"     -> graft.multimodal.Media.mmPackPairsSql,
    "mm_pack_bpe"       -> graft.multimodal.Media.mmPackBpeSql,
    "mm_wav"            -> graft.multimodal.Media.mmWavSql,
    "mm_energy"         -> graft.multimodal.Media.mmEnergySql,
    "mm_phash"          -> graft.multimodal.Media.mmPhashSql,
    "mm_phash_pairs"    -> graft.multimodal.Media.mmPhashPairsSql,
    "graph_pagerank"    -> Graphs.graphPagerankSql,
    "graph_canonical"   -> Graphs.graphCanonicalSql,
    "graph_communities" -> Graphs.graphCommunitiesSql,
    "ta_cms_eval"       -> HeavyHitters.taCmsEvalSql,
    "ta_hll_eval"       -> HeavyHitters.taHllEvalSql,
    "ta_quantile_eval"  -> HeavyHitters.taQuantileEvalSql,
    "sample_domain_cap" -> CorpusOps.sampleDomainCapSql,
    "dedup_containment" -> Dedup.dedupContainmentSql,
    "sample_cluster_cap" -> CorpusOps.sampleClusterCapSql,
    "pipeline_mix"      -> Pipeline.pipelineMixSql,
    "pipeline_incr"     -> Pipeline.pipelineIncrSql,
    "snapshot_upsert"   -> Snapshots.snapshotUpsertSql,
    "q43_zorder"        -> graft.sources.ZOrder.q43ZOrderSql,
    "corpus_split"      -> CorpusOps.corpusSplitSql,
    "corpus_report"     -> CorpusOps.corpusReportSql,
    "snapshot_zmaintain" -> graft.sources.ZMaintain.snapshotZMaintainSql,
    "stream_upsert"     -> graft.streaming.SnapshotStream.streamUpsertSql,
    // the maintained index must reconstruct the one-pass index exactly,
    // so its search oracle IS the stored-index search oracle
    "sim_index_upsert"  -> Similarity.simIvfPqTopkSql,
    "sim_index_recall"  -> Similarity.simIndexRecallSql,
    "dedup_containment_incr" -> Dedup.dedupContainmentIncrSql,
    "dedup_paragraph"   -> ParagraphDedup.dedupParagraphSql,
    "vocab_bpe"         -> Tokenizer.vocabBpeSql,
    "graph_triangles"   -> Graphs.graphTrianglesSql,
    "layout_manifest"   -> graft.sources.Manifest.layoutManifestSql,
    // round-trip identity: the Iceberg-tree read-back must reconstruct
    // exactly the stats table the export was built from
    "layout_export_iceberg" -> graft.sources.IcebergExport.layoutExportIcebergSql,
    "vocab_bpe_encode"  -> Tokenizer.vocabBpeEncodeSql,
    "pack_bpe"          -> Tokenizer.packBpeSql,
    "pack_report"       -> Tokenizer.packReportSql,
    "dedup_paragraph_incr" -> ParagraphDedup.dedupParagraphIncrSql,
    // the order-fold identity: sequential range batches through the
    // seen-paragraph state must reproduce the ONE-SHOT dedup exactly
    "stream_paragraph"  -> ParagraphDedup.dedupParagraphSql,
    "snapshot_diff"     -> Snapshots.snapshotDiffSql,
    "snapshot_history"  -> Snapshots.snapshotHistorySql,
    // the time-travel identity: the AS-OF v=1 interval read must equal
    // the direct upsert fold to v1
    "snapshot_timetravel" -> Snapshots.snapshotTimetravelSql,
    "sample_importance" -> CorpusOps.sampleImportanceSql,
    "mix_doremi"        -> CorpusOps.mixDoremiSql,
    "dedup_recall_eval" -> Dedup.dedupRecallEvalSql,
    // the sketch fold identity: counter addition is associative, so the
    // two-batch fold must reproduce the ONE-SHOT ta_cms_eval exactly
    "stream_cms"        -> HeavyHitters.taCmsEvalSql,
    "emb_pca"           -> Pca.embPcaSql,
    "graph_bfs"         -> Graphs.graphBfsSql,
    "sample_epoch_mix"  -> CorpusOps.sampleEpochMixSql,
    "sql_lateral"       -> SqlSurface.sqlLateral,
    "ta_entropy"        -> CorpusOps.taEntropySql,
    "ta_winnow"         -> TextAnalysis.taWinnowSql,
    "ta_langid_eval"    -> TextAnalysis.taLangIdEvalSql,
    // the pruned scan must be semantically invisible: plain relational
    // twin with the bucket recomputed from the interleave
    "layout_prune_scan" -> graft.sources.ZPrune.layoutPruneScanSql,
    "graph_kcore"       -> Graphs.graphKcoreSql,
    "ta_collocations"   -> CorpusOps.taCollocationsSql,
    "sample_temperature" -> CorpusOps.sampleTemperatureSql,
    "corpus_budget"     -> CorpusOps.corpusBudgetSql,
    "corpus_overlap"    -> CorpusOps.corpusOverlapSql,
    "corpus_drift"      -> CorpusOps.corpusDriftSql,
    "emb_kmeans_pp"     -> KMeans.embKmeansPpSql,
    // the maintenance identity: the incremental close-and-append fold
    // must equal the one-shot history REBUILD
    "stream_history"    -> Snapshots.snapshotHistorySql,
    "dedup_threshold_curve" -> Dedup.dedupThresholdCurveSql,
    "ta_lang_mix"       -> TextAnalysis.taLangMixSql,
    // the view-maintenance identity: signed-delta merge from the change
    // feed must equal the from-scratch recompute over the new version
    "ivm_agg"           -> Ivm.ivmAggSql,
    "ivm_fold"          -> Ivm.ivmFoldSql,
    // bootstrap-from-empty + feed fold must equal the recompute at v2:
    // one code path backfills a new view and keeps it fresh
    "stream_ivm"        -> Ivm.ivmFoldSql,
    // membership skipping must be semantically invisible: plain point
    // lookup with the bucket recomputed from the interleave
    "layout_bloom_scan" -> graft.sources.ZPrune.layoutBloomScanSql,
    // join-view maintenance: ΔR ⋈ dim merged into the stored view must
    // equal re-joining and re-aggregating the new fact version
    "ivm_join"          -> Ivm.ivmJoinSql,
    // rollback without rewriting history: close changed-since-v opens,
    // reopen the AS-OF-v values, leave untouched keys alone
    "snapshot_restore"  -> Snapshots.snapshotRestoreSql,
    // the rewrite must be result-invisible: the oracle aggregates the
    // corpus directly while the gate's plan reads the view
    "mv_rewrite"        -> graft.plans.MvRewrite.mvRewriteSql,
    "ta_gopher_rules"   -> TextAnalysis.taGopherRulesSql,
    "q44_skyline"       -> Skyline.q44SkylineSql,
    "er_pairs"          -> EntityResolution.erPairsSql,
    "er_entities"       -> EntityResolution.erEntitiesSql,
    "er_block_recall"   -> EntityResolution.erBlockRecallSql,
    // the centroid-state fold identity: any batching through the
    // (Σ, n) merge must equal the one-shot first Lloyd round
    "stream_kmeans"     -> graft.streaming.CentroidStream.streamKmeansSql,
    // the frontier-merge identity: skyline(A ∪ B) =
    // skyline(skyline(A) ∪ skyline(B)) — the incremental fold must
    // reproduce the one-shot frontier exactly
    "skyline_incr"      -> Skyline.q44SkylineSql,
    // the incremental-ER identity: contraction + delta propagation
    // must reproduce the full recompute exactly (append-only keys,
    // cap not newly binding)
    "er_incr"           -> EntityResolution.erEntitiesSql,
    "events_paths"      -> Relational2.eventsPathsSql,
    "dq_skew_report"    -> Relational.dqSkewReportSql,
    "dq_profile"        -> Profiling.dqProfileSql,
    "dq_join_estimate"  -> HeavyHitters.dqJoinEstimateSql,
    // dim-side view maintenance: remapping the fact pre-aggregate
    // through the dim feed must equal re-joining against the new dim
    "ivm_dim"           -> Ivm.ivmDimSql,
    // one recursive-CTE string, both engines verbatim
    "sql_recursive"     -> SqlSurface.sqlRecursive,
    "pipeline_rules"    -> Pipeline.pipelineRulesSql,
    "dq_fk_check"       -> Profiling.dqFkCheckSql,
    // the ER maintenance identity: bootstrap + steady-state fold must
    // equal the full recompute
    "stream_er"         -> EntityResolution.erEntitiesSql,
    // keyed-sketch fold identities: register max / counter addition
    // over any batching must equal the one-shot aggregation, so each
    // stream gate's oracle IS its one-shot eval's SQL
    "stream_hll"        -> HeavyHitters.taHllEvalSql,
    "stream_quantile"   -> HeavyHitters.taQuantileEvalSql,
    "mm_audio_fp"       -> graft.multimodal.Media.mmAudioFpSql,
    "mm_audio_pairs"    -> graft.multimodal.Media.mmAudioPairsSql,
    "graph_jaccard"     -> Graphs.graphJaccardSql,
    "vocab_coverage"    -> Tokenizer.vocabCoverageSql,
    "sim_hard_negatives" -> Similarity.simHardNegativesSql,
    "sim_bitext"        -> Similarity.simBitextSql,
    "corpus_icp"        -> Similarity.corpusIcpSql,
    "pack_icp"          -> Similarity.packIcpSql,
    "stream_icp"        -> graft.streaming.IcpStream.streamIcpSql,
    "events_dau"        -> Relational2.eventsDauSql,
    "ta_novelty"        -> CorpusOps.taNoveltySql,
    // the min-merge fold identity: first-occurrence state over any
    // batching must reproduce the one-shot novelty exactly
    "stream_novelty"    -> CorpusOps.taNoveltySql,
    "corpus_waterfall"  -> Pipeline.corpusWaterfallSql,
    // the CC maintenance identity: the three-batch fold through the
    // contraction step must equal the full-corpus recompute
    "stream_cc"         -> Dedup.dedupCcSql,
    "events_rfm"        -> Relational2.eventsRfmSql,
    "corpus_rank"       -> CorpusOps.corpusRankSql,
    // the CDC round-trip identity: apply(v_old, diff(v_old, v_new))
    // must equal v_new constructed directly
    "snapshot_apply"    -> Snapshots.snapshotApplySql,
    "mm_phash_cc"       -> graft.multimodal.Media.mmPhashCcSql,
    "events_ewma"       -> Relational2.eventsEwmaSql,
    // one window-function ANSI string, both engines verbatim
    "sql_window"        -> SqlSurface.sqlWindow,
    "dedup_keep_longest" -> Dedup.dedupKeepLongestSql,
    "ta_quality_calibration" -> Classifier.taQualityCalibrationSql,
    // exact order statistics by two-pass counting selection: every
    // output is an ELEMENT of the column at the ceil-rank position, so
    // the oracle's brute ROW_NUMBER walk must agree to the cent
    "q45_exact_pctile"  -> Selection.q45ExactPctileSql,
    // lossy format, exact oracle: on the block-constant even-valued
    // subspace the JPEG DCT round-trip is bit-exact, so the analytic
    // twin's sums match iff the entropy/DCT pipeline reconstructed
    // every pixel (JpegCodec scaladoc has the arithmetic)
    "mm_jpeg"           -> graft.multimodal.Media.mmJpegSql,
    // same lossy-but-exact trick for audio: µ-law's encode∘decode is
    // the identity on the codeword image, and the oracle evaluates the
    // G.711 expansion in integer SQL
    "mm_ulaw"           -> graft.multimodal.Media.mmUlawSql,
    "mm_alaw"           -> graft.multimodal.Media.mmAlawSql,
    "mm_flac"           -> graft.multimodal.Media.mmFlacSql,
    "mm_audio_dispatch" -> graft.multimodal.Media.mmAudioDispatchSql,
    "mm_audio_xdedup"   -> graft.multimodal.Media.mmAudioXdedupSql,
    // MJPEG frames through the AVI container walk + every-2nd-frame
    // sampling; the twin sums the sampled frames' block formula
    "mm_video"          -> graft.multimodal.Media.mmVideoSql,
    // the embedding lens on the SAME benchmark split the n-gram
    // decontaminator checks — cell-bucketed corpus×bench scoring at
    // dedup_semantic's own integer-exact threshold
    "ta_decontaminate_semantic" -> Cleaning.taDecontaminateSemanticSql,
    // maximal-munch segmentation: the oracle replays the greedy walk
    // via a (word, position) longest-match jump table + recursive
    // stepping, so the hash covers every word's full segmentation
    "vocab_wordpiece"   -> Tokenizer.vocabWordpieceSql,
    "vocab_wordpiece_encode" -> Tokenizer.vocabWordpieceEncodeSql,
    // the oracle is the BRUTE all-pairs join on purpose: the gate only
    // hash-matches if the prefix/length pruning is provably lossless
    "dedup_allpairs"    -> Dedup.dedupAllpairsSql,
    // the doctrine composed: exact join AMONG replica-collapsed
    // canonicals — the scale-safe form on duplicate-heavy corpora
    "dedup_allpairs_clean" -> Dedup.dedupAllpairsCleanSql,
    // the incremental member: exact new-vs-snapshot join, prefix
    // discipline over the UNION gram census, brute cross-join oracle
    "dedup_allpairs_incr" -> Dedup.dedupAllpairsIncrSql,
    // schema evolution: merged read across two file generations must
    // surface old-generation rows with NULL in the added column
    "layout_schema_merge" -> graft.sources.Formats.layoutSchemaMergeSql,
    "web_warc_extract"  -> graft.web.WebIngest.webWarcExtractSql,
    "web_images"        -> graft.web.WebIngest.webImagesSql,
    "web_url_parse"     -> graft.web.WebIngest.webUrlParseSql,
    "web_domain_stats"  -> graft.web.WebIngest.webDomainStatsSql,
    "web_robots"        -> graft.web.WebIngest.webRobotsSql,
    "web_links"         -> graft.web.WebIngest.webLinksSql,
    "web_link_graph"    -> graft.web.WebIngest.webLinkGraphSql,
    "web_url_normalize" -> graft.web.WebIngest.webUrlNormalizeSql,
    "web_frontier"      -> graft.web.WebIngest.webFrontierSql,
    "web_charset"       -> graft.web.WebIngest.webCharsetSql,
    "web_redirects"     -> graft.web.Redirects.webRedirectsSql,
    "web_boilerplate"   -> graft.web.WebIngest.webBoilerplateSql,
    "web_sitemap"       -> graft.web.WebIngest.webSitemapSql,
    "stream_frontier"   -> graft.web.WebIngest.streamFrontierSql,
    "web_host_pagerank" -> graft.web.WebIngest.webHostPagerankSql,
    "feat_scale"        -> Features.featScaleSql,
    "feat_bucketize"    -> Features.featBucketizeSql,
    "feat_onehot"       -> Features.featOnehotSql,
    "feat_hashed_cross" -> Features.featHashedCrossSql,
    "web_warc_index"    -> graft.web.WebIngest.webWarcIndexSql,
    "ta_sentences"      -> TextAnalysis.taSentencesSql,
    "pipeline_web"      -> graft.web.WebIngest.pipelineWebSql,
    "web_anchor_text"   -> graft.web.WebIngest.webAnchorTextSql,
    "web_frontier_admitted" -> graft.web.WebIngest.webFrontierAdmittedSql,
    "ta_readability"    -> TextAnalysis.taReadabilitySql,
    "feat_quantile_bucketize" -> Features.featQuantileBucketizeSql,
    "feat_target_encode" -> Features.featTargetEncodeSql,
    "stream_feat_scale" -> Features.featScaleSql,
    "stream_web"        -> graft.web.WebIngest.streamWebSql,
    "stream_images"     -> graft.streaming.ImageStream.streamImagesSql,
    "stream_audio"      -> graft.streaming.AudioStream.streamAudioSql,
    "stream_doremi"     -> CorpusOps.mixDoremiSql,
    "stream_pack"       -> graft.operators.Cleaning.taPackChunksSql,
    // the cursor-carry fold identity under the REAL token metric: the
    // batched manifests must reproduce one-shot pack_bpe exactly
    "stream_pack_bpe"   -> graft.operators.Tokenizer.packBpeSql,
    "q46_pctile_wide"   -> Selection.q46PctileWideSql
  )

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
