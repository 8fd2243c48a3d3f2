package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** The query catalog.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline extensions) is one named entry in `queries`; `oracleSql` holds
  * the DuckDB-equivalent SQL over the same parquet tables with identical
  * column names, so the driver's sort-columns/sort-rows/hash compare is
  * exact.
  *
  * Every entry is a prepared query ([[graft.ops.Prepared]]):
  *  - Kept: after an entry's first call in a session, its analyzed and
  *    optimized logical plans and its physical plan before preparation,
  *    in the [[graft.ops.Memo]] frame (one tag per entry).
  *  - Keyed on: the session, the dir, the session's SQL conf, and the
  *    file inventory (name, length, modification time of each file) of
  *    every path `Tables` or `Artifacts` resolved during the build.
  *  - A call whose key matches returns a new `DataFrame` over the kept
  *    plans: no build, analysis, optimization or strategy planning; the
  *    physical plan's preparation (adaptive execution, exchanges) and
  *    execution run as on a first call.
  *  - Rebuilt: when a table is rewritten or appended, a conf is set, the
  *    session is another one, or the memo frame moved to another dir or
  *    context.
  *  - Never kept: a build that read a memo (d8, s10, c10 and every query
  *    over their labels, indexes or survivors: invalidating the memo
  *    forces a new build), and a plan that holds a checkpoint or cached
  *    relation. Such an entry builds on every call.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The KafkaMusic chart — the reference's own flagship app — end-to-end:
    * filter ≥30s plays → song join → count → top-5 per genre + overall. */
  def entry(spark: SparkSession): DataFrame =
    Composites.musicChart(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * A ListMap so iteration (Verify dump order, Bench measurement order)
    * follows the declaration order below — deterministic and documented.
    * The first measured query absorbs whatever process warmup the bench's
    * explicit warmup missed, so the trivial `o1` projection leads rather
    * than a heavy pipeline (BASELINE.md records this). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap[String, (SparkSession, String) => DataFrame](
    // §2.2 stateless (O1–O16)
    "o1_map_values"     -> (Stateless.mapValuesUpper _),
    "o2_map_rekey"      -> (Stateless.mapRekeyDouble _),
    "o3_select_key"     -> (Stateless.selectKey _),
    "o4_flatmap_corrupt" -> (Stateless.flatMapCorrupt _),
    "o5_flatmap_words"  -> (Stateless.flatMapWords _),
    "o6_filter_stream"  -> (Stateless.filterStream _),
    "o7_filter_having"  -> (Stateless.filterTableHaving _),
    "o9_branch"         -> (Stateless.branch _),
    "o10_fanout"        -> (Stateless.fanout _),
    "o12_passthrough"   -> (Stateless.passThrough _),
    "s2_latest_per_key" -> (Stateless.latestPerKey _),
    "s6_dynamic_routing" -> (Stateless.dynamicRouting _),
    "o8_tombstone_filter" -> (Stateless.tombstoneFilter _),
    "a7_topn_latest"    -> (Aggregations.topNLatest _),
    "o11_peek"          -> (Stateless.peek _),
    "o13_json_typed"    -> (Stateless.jsonToTyped _),
    "o14_validation"    -> (Stateless.validation _),
    "o15_string_ops"    -> (Stateless.stringOps _),
    "o16_math_ops"      -> (Stateless.mathOps _),
    "o17_order_limit"   -> (Stateless.orderLimit _),
    "o18_avro_roundtrip" -> (Stateless.avroRoundtrip _),
    "o19_sum_odd"       -> (Stateless.sumOdd _),
    "o20_wire_registry" -> (Stateless.wireRegistryRoundtrip _),
    "t9_distinct_users" -> (TextAnalysis.distinctUsers _),
    "t10_tfidf_top"     -> (TextAnalysis.tfidfTopTerm _),
    // §2.3 aggregations (A1–A12)
    "a1_sum_by_key"     -> (Aggregations.sumByKey _),
    "a2_wordcount"      -> (Aggregations.wordCount _),
    "a4_q1_pricing"     -> (Aggregations.q1PricingSummary _),
    "a3_latest_regroup" -> (Aggregations.latestPerKeyRegroup _),
    "a5_ordered_concat" -> (Aggregations.orderedConcat _),
    "a6_custom_agg"     -> (Aggregations.customAggregate _),
    "a8_topn_per_group" -> (Aggregations.topNPerGroup _),
    "a9_session_spend"  -> (Aggregations.sessionSpend _),
    "a10_minmax"        -> (Aggregations.minMax _),
    "a11_running_count" -> (Aggregations.runningCount _),
    "a12_reservation"   -> (Aggregations.reservation _),
    // §2.5 joins (J1–J8)
    "j1_stream_table"   -> (Joins.streamTableInner _),
    "j2_stream_table_left" -> (Joins.streamTableLeft _),
    "j3_fk_chain"       -> (Joins.broadcastFkChain _),
    "j5_windowed_inner" -> (Joins.windowedInner _),
    "j6_windowed_outer" -> (Joins.windowedOuter _),
    "j7_table_table"    -> (Joins.tableTable _),
    "j8_asof"           -> (Joins.asOfJoin _),
    "j9_salted"         -> (Joins.saltedJoin _),
    // §2.4 windows (W1–W5)
    "w1_tumbling"       -> (Windows.tumblingHourly _),
    "w2_hopping"        -> (Windows.hopping _),
    "w4_daily_paris"    -> (Windows.dailyParis _),
    "w5_late_data"      -> (Windows.lateDataFilter _),
    // §2.8 + training-data dedup
    "d1_exact_id"       -> (Dedup.exactById _),
    "d2_exact_text"     -> (Dedup.exactText _),
    "d3_minhash_sig"    -> (Dedup.minhashSignatures _),
    "d4_minhash_lsh"    -> (Dedup.minhashLsh _),
    "d5_simhash"        -> (Dedup.simhash _),
    "d6_simhash_pairs"  -> (Dedup.simhashPairs _),
    "d7_ngram_jaccard"  -> (Dedup.ngramJaccard _),
    "d8_dedup_clusters" -> (Dedup.dedupClusters _),
    "d9_contamination"  -> (Dedup.contamination _),
    "d10_dedup_apply"   -> (Dedup.dedupApply _),
    // the production-knob forms, oracle-checked at their scaled constants
    // (d6/s5/s8 stay the bit-stable small-scale enumeration/audit forms)
    "d11_simhash_scaled" -> ((s: SparkSession, dir: String) =>
      Dedup.simhashPairsScaled(s, dir, Dedup.ScaledBits)),
    "d12_decontam_attrib" -> (Dedup.decontamAttribution _),
    "d13_containment_pairs" -> (Dedup.containmentPairs _),
    "d14_substring_dup" -> (Dedup.substringDup _),
    "d15_substring_scrub" -> (Dedup.substringScrub _),
    "d16_delta_dedup"   -> (Dedup.deltaDedup _),
    "d17_crosssource_dup" -> (Dedup.crossSourcePairs _),
    "c11_prep_packed" -> (Composites.prepPackedFunnel _),
    "c12_quality_report" -> (Composites.qualityReport _),
    "c13_leakage_split" -> (Composites.leakageSplit _),
    "c14_release_manifest" -> (Composites.releaseManifest _),
    "c15_curriculum"    -> (Composites.curriculumShards _),
    "c16_dataset_diff"  -> (Composites.datasetDiff _),
    "c17_packed_ids"    -> (Composites.prepPackedIds _),
    "c18_trainer_shards" -> (Composites.trainerShards _),
    "c19_pack_manifest" -> (Composites.packManifest _),
    "c20_delta_shards"  -> (Composites.deltaShards _),
    "c21_curriculum_shards" -> (Composites.curriculumTrainerShards _),
    "c22_loader_order"  -> (Composites.loaderOrderReport _),
    // similarity search
    "s1_brute_topk"     -> (Similarity.bruteForceTopK _),
    "s14_lsh_topk"       -> (Similarity.lshTopK _),
    "s3_embedding_neardup" -> (Similarity.embeddingNearDup _),
    "s4_native_cosine"  -> (Similarity.embeddingNearDupNative _),
    "s5_bucketed_neardup" -> (Similarity.bucketedNearDup _),
    "s7_multiprobe_topk" -> (Similarity.lshTopKMultiProbe _),
    "s8_ivf_topk"       -> (Similarity.ivfTopK _),
    "s9_quantize_stats" -> (Similarity.quantizeStats _),
    "s10_semantic_dedup" -> (Similarity.semanticDedupClusters _),
    "s11_semantic_apply" -> (Similarity.semanticDedupApply _),
    "s12_neardup_scaled" -> ((s: SparkSession, dir: String) =>
      Similarity.bucketedNearDupWith(s, dir, Similarity.ScaledPlanes)),
    "s13_ivf_scaled"    -> (Similarity.ivfTopKScaled _),
    "s15_kmeans_cells"  -> (Similarity.kmeansCells _),
    "s16_pq_codes"      -> (Similarity.pqCodes _),
    "s17_pq_adc"        -> (Similarity.pqAdcTopK _),
    "s18_ivfpq"         -> (Similarity.ivfPqTopK _),
    "s19_filtered_ann"  -> (Similarity.filteredIvfTopK _),
    "s20_delta_assign"  -> (Similarity.deltaAssign _),
    "s21_sq8"           -> (Similarity.sq8Quantize _),
    "s22_ivfpq_residual" -> (Similarity.resIvfPqTopK _),
    "s23_filtered_ivfpq" -> (Similarity.filteredIvfPqTopK _),
    "s24_ivfpq_rerank"  -> (Similarity.ivfPqRerankTopK _),
    "s25_ivfpq_rerank_deep" -> (Similarity.ivfPqRerankDeepTopK _),
    // text analysis
    "t1_langid"         -> (TextAnalysis.langId _),
    "t2_quality"        -> (TextAnalysis.qualityScore _),
    "t3_token_counts"   -> (TextAnalysis.tokenCounts _),
    "t4_fingerprint"    -> (TextAnalysis.fingerprint _),
    "t5_ngram_counts"   -> (TextAnalysis.ngramCounts _),
    "t6_deterministic_sample" -> (TextAnalysis.deterministicSample _),
    "t11_chunking"      -> (TextAnalysis.chunkDocuments _),
    "t12_lang_balanced" -> (TextAnalysis.langBalancedSample _),
    "t13_collapse_repeats" -> (TextAnalysis.collapseRepeats _),
    "t14_boilerplate_ngrams" -> (TextAnalysis.boilerplateNgrams _),
    "t15_scrub_numeric" -> (TextAnalysis.scrubNumeric _),
    "t16_lm_support" -> (TextAnalysis.lmSupport _),
    "t17_sequence_pack" -> (TextAnalysis.sequencePack _),
    "t18_domain_balance" -> (TextAnalysis.domainBalance _),
    "t19_inverted_index" -> (TextAnalysis.invertedIndex _),
    "t20_pmi_pairs"     -> (TextAnalysis.pmiPairs _),
    "t21_bpe_merges"    -> (TextAnalysis.bpeMerges _),
    "t22_winnowing"     -> (TextAnalysis.winnowing _),
    "t24_bpe_encode"    -> (TextAnalysis.bpeEncode _),
    "t25_bm25_topk"     -> (TextAnalysis.bm25TopK _),
    "t26_pii_scrub"     -> (TextAnalysis.piiScrub _),
    "t27_lm_quality"    -> (TextAnalysis.lmQuality _),
    "t28_dsir_weights"  -> (TextAnalysis.dsirWeights _),
    "t29_token_ids"     -> (TextAnalysis.tokenIds _),
    "t30_alpha_mixture" -> (TextAnalysis.alphaMixture _),
    "t31_gopher_rules"  -> (TextAnalysis.gopherRules _),
    "t32_repetition_rules" -> (TextAnalysis.repetitionRules _),
    "t23_vocab_growth"  -> (TextAnalysis.vocabGrowth _),
    // multimodal plumbing
    "m1_decode_features" -> (Multimodal.decodeFeatures _),
    "m2_frame_sample"   -> (Multimodal.frameSample _),
    "m3_thumbnail_plan" -> (Multimodal.thumbnailPlan _),
    "m4_phash_pairs"    -> (Multimodal.phashPairs _),
    "m5_audio_stats"    -> (Multimodal.audioStats _),
    "t7_length_quantiles" -> (TextAnalysis.lengthQuantiles _),
    "t8_repetition"     -> (TextAnalysis.repetitionScore _),
    // composite reference topologies
    "c1_pageview_region" -> (Composites.pageViewRegion _),
    "c2_top_articles"   -> (Composites.topArticles _),
    "c3_anomaly"        -> (Composites.anomalyDetection _),
    "c4_prep_funnel"    -> (Composites.prepFunnel _),
    "c5_wikifeed_avro"  -> (Composites.wikipediaFeed _),
    "c6_prep_chunked"   -> (Composites.prepChunkedFunnel _),
    "c7_music_chart"    -> (Composites.musicChart _),
    "c8_microservices"  -> (Composites.microservicesValidation _),
    "c9_email_routed"   -> (Composites.emailRouted _),
    "c10_prep_full"     -> (Composites.prepFullFunnel _),
    "c23_epoch_plan"    -> (Composites.epochPlan _),
    "c24_filtered_epochs" -> (Composites.filteredEpochPlan _),
  ).map { case (name, build) => name -> new Prepared(build) }

  /** DuckDB-equivalent SQL per query (same tables, same column names).
    * Built in OracleSql to keep this file readable. */
  def oracleSql: Map[String, String] = OracleSql.all
}
