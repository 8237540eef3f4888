package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Oracle conventions (keep Spark and DuckDB hash-identical):
  *  - money/float aggregates: exact decimal sum, cast to double LAST;
  *  - integer conditional counts via COUNT(CASE …) (DuckDB SUM(int)
  *    returns HUGEINT, which would break the schema compare);
  *  - integer sums wrapped in CAST(… AS BIGINT) on the DuckDB side;
  *  - every ORDER BY under a LIMIT carries a unique tiebreaker;
  *  - column names aliased identically on both sides.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core ETL (etly-derived)
    "etl_transform" -> (Etl.transform _),
    "etl_filter" -> (Etl.filterOp _),
    "etl_enrich" -> (Etl.enrich _),
    "etl_route_mod" -> (Etl.routeMod _),
    "etl_route_date" -> (Etl.routeDate _),
    "etl_var_extract" -> (Etl.varExtract _),
    "etl_meta" -> (Etl.meta _),
    "etl_schema_map" -> (Etl.schemaMap _),
    "etl_sql_text_source" -> (Etl.sqlTextSource _),
    "etl_upsert_merge" -> (Etl.upsertMerge _),
    "etl_cdc_apply" -> (Etl.cdcApply _),
    "etl_incremental_agg" -> (Etl.incrementalAgg _),
    "etl_binary_ingest" -> (Etl.binaryIngest _),
    "etl_blob_compact" -> (Etl.blobCompact _),
    "etl_quality_constraints" -> (Etl.qualityConstraints _),
    "etl_partition_overwrite" -> (Etl.partitionOverwrite _),
    "etl_scd2_history" -> (Etl.scd2History _),
    "etl_partition_pruning" -> (Etl.partitionPruning _),
    "etl_retention_sweep" -> (Etl.retentionSweep _),
    "etl_ndjson_roundtrip" -> (Etl.ndjsonRoundtrip _),
    "etl_csv_roundtrip" -> (Etl.csvRoundtrip _),
    "etl_orc_roundtrip" -> (Etl.orcRoundtrip _),
    "etl_var_extract_path" -> (Etl.varExtractPath _),
    "etl_route_file" -> (Etl.routeFile _),
    "etl_datatype_match" -> (Etl.dataTypeMatch _),
    "etl_compact_files" -> (Etl.compactSmallFiles _),
    "text_quality_filter" -> (TextAnalysis.qualityFilter _),
    "text_source_mix" -> (TextAnalysis.sourceMix _),
    "text_mix_rebalance" -> (TextAnalysis.mixRebalance _),
    "text_heavy_hitters" -> (TextAnalysis.heavyHitters _),
    "text_weighted_sample" -> (TextAnalysis.weightedSample _),
    "text_token_budget" -> (TextAnalysis.tokenBudget _),
    "text_length_hist" -> (TextAnalysis.lengthHistogram _),
    "etl_error_tolerance" -> (Etl.errorTolerance _),
    "etl_dynamic_partition_write" -> (Etl.dynamicPartitionWrite _),
    "etl_jdbc_roundtrip" -> (Etl.jdbcRoundtrip _),
    "etl_time_window" -> (Etl.timeWindow _),
    "etl_schema_evolution" -> (Etl.schemaEvolution _),
    "etl_policy_route" -> (Etl.policyRoute _),
    "etl_meta_incremental" -> (Etl.metaIncremental _),
    "etl_max_transfers" -> (Etl.maxTransfersDrain _),
    "etl_config_json" -> (Etl.configJsonTransfer _),
    "etl_config_scheduled" -> (Etl.configScheduledTransfer _),
    "etl_config_timewindow" -> (Etl.configTimeWindowTransfer _),
    // the declarative maintenance document: serialize → parse → plan,
    // so the config path equals the hand-built planner BY the gate
    "etl_maintenance_config" -> ((s: SparkSession, dir: String) =>
      graft.plans.ConfigJson.maintenancePlan(s, dir,
        graft.plans.ConfigJson.maintenanceJson(Similarity.DefaultMaintDoc))),
    // Apply: true — the document as an EXECUTION order (the
    // reference's scheduler runs the decided work): the config path
    // lands on the executor's full three-stage table
    "etl_maintenance_config_apply" -> ((s: SparkSession, dir: String) =>
      graft.plans.ConfigJson.maintenancePlan(s, dir,
        graft.plans.ConfigJson.maintenanceJson(Similarity.DefaultMaintDoc,
          apply = true))),
    // query engine
    "q1_agg" -> (Analytics.q1Agg _),
    "q3_join" -> (Analytics.q3Join _),
    "q5_multijoin" -> (Analytics.q5MultiJoin _),
    "q_filter_pushdown" -> (Analytics.qFilterPushdown _),
    "q_topk" -> (Analytics.qTopK _),
    "q_window" -> (Analytics.qWindow _),
    "q_having" -> (Analytics.qHaving _),
    "q_distinct" -> (Analytics.qDistinct _),
    "q_approx_distinct" -> (Analytics.qApproxDistinctCheck _),
    "q_approx_percentile" -> (Analytics.qApproxPercentileCheck _),
    "q_rollup" -> (Analytics.qRollup _),
    "q_semi_join" -> (Analytics.qSemiJoin _),
    "q_anti_join" -> (Analytics.qAntiJoin _),
    "q_union" -> (Analytics.qUnion _),
    "q_case_expr" -> (Analytics.qCaseExpr _),
    "q_string_funcs" -> (Analytics.qStringFuncs _),
    "q_date_funcs" -> (Analytics.qDateFuncs _),
    "q_scalar_subquery" -> (Analytics.qScalarSubquery _),
    "q_pivot" -> (Analytics.qPivot _),
    "q_unpivot" -> (Analytics.qUnpivot _),
    "q_range_join" -> (Analytics.qRangeJoin _),
    "q_asof_join" -> (Windows.asofJoin _),
    "q6_selective" -> (Analytics2.q6Selective _),
    "q10_returns" -> (Analytics2.q10Returns _),
    "q14_promo_share" -> (Analytics2.q14PromoShare _),
    "q16_supplier_counts" -> (Analytics2.q16SupplierCounts _),
    "q18_large_orders" -> (Analytics2.q18LargeOrders _),
    "q19_disjunctive" -> (Analytics2.q19Disjunctive _),
    "q21_late_suppliers" -> (Analytics2.q21LateSuppliers _),
    "q22_dormant" -> (Analytics2.q22Dormant _),
    "q4_priority" -> (Analytics3.q4Priority _),
    "q7_volume" -> (Analytics3.q7Volume _),
    "q8_market_share" -> (Analytics3.q8MarketShare _),
    "q9_profit" -> (Analytics3.q9Profit _),
    "q12_priority_mix" -> (Analytics3.q12PriorityMix _),
    "q13_custdist" -> (Analytics3.q13CustDist _),
    "q15_top_supplier" -> (Analytics3.q15TopSupplier _),
    "q17_small_qty" -> (Analytics3.q17SmallQty _),
    "q20_part_suppliers" -> (Analytics3.q20PartSuppliers _),
    "q2_min_cost" -> (Analytics3.q2MinCost _),
    "q11_important_stock" -> (Analytics3.q11ImportantStock _),
    "q_funnel" -> (Analytics3.qFunnel _),
    "q_retention" -> (Analytics3.qRetention _),
    "q_attribution" -> (Analytics3.qAttribution _),
    "q_journeys" -> (Analytics3.qJourneys _),
    "q_gap_fill" -> (TimeSeries.gapFill _),
    "q_anomaly" -> (TimeSeries.anomaly _),
    "q_trend" -> (TimeSeries.trend _),
    "q_sketch_merge" -> (Analytics3.sketchMerge _),
    "q_recursive_cte" -> (Analytics3.qRecursiveCte _),
    "stream_anomaly" -> (graft.streaming.Streams.streamAnomaly _),
    "stream_upsert" -> (graft.streaming.Streams.streamUpsert _),
    "stream_trending" -> (graft.streaming.Streams.streamTrending _),
    "q_window3" -> (Analytics2.qWindow3 _),
    "q_cube" -> (Analytics2.qCube _),
    "q_intersect_except" -> (Analytics2.qIntersectExcept _),
    "q_grouping_sets" -> (Analytics2.qGroupingSets _),
    "q_null_semantics" -> (Analytics2.qNullSemantics _),
    "q_percentile" -> (Analytics2.qPercentile _),
    "q_window2" -> (Analytics2.qWindow2 _),
    "q_collect" -> (Analytics2.qCollect _),
    // distributed-execution patterns (oracle-equal results)
    "pat_skew_agg" -> (Patterns.skewAgg _),
    "pat_skew_join" -> (Patterns.skewJoin _),
    "pat_typed_agg" -> (Patterns.typedAgg _),
    "pat_untyped_agg" -> (Patterns.untypedAgg _),
    "pat_bucketed_join" -> (Patterns.bucketedJoin _),
    "pat_codec_roundtrip" -> (Patterns.codecRoundtrip _),
    "pat_zorder_skip" -> (Patterns.zorderSkip _),
    "pat_exchange_reuse" -> (Patterns.exchangeReuse _),
    "pat_bloom_join" -> (Patterns.bloomJoin _),
    // streaming batch-equivalents (TimeWindow/Frequency transfers)
    "stream_tumbling" -> (Windows.tumbling _),
    "stream_sliding" -> (Windows.sliding _),
    "stream_session" -> (Windows.session _),
    "stream_session_native" -> (Windows.sessionNative _),
    // dedup
    "dedup_exact" -> (Dedup.exact _),
    "dedup_incremental" -> (Dedup.incremental _),
    "dedup_incremental_bloom" -> (Dedup.incrementalBloom _),
    "dedup_incremental_near" -> (Dedup.incrementalNear _),
    "dedup_exact_keyed" -> (Dedup.exactKeyed _),
    "dedup_minhash_lsh" -> (Dedup.minhashAudit _),
    "dedup_simhash" -> (Dedup.simhashAudit _),
    "dedup_ngram_jaccard" -> (Dedup.ngramJaccard _),
    "dedup_lsh_verified" -> (Dedup.lshVerified _),
    "dedup_cascade" -> (Dedup.cascade _),
    "dedup_cascade_incremental" -> (Dedup.cascadeIncremental _),
    "dedup_embedding" -> (Dedup.embedding _),
    "dedup_embedding_lsh" -> (Dedup.embeddingLsh _),
    "dedup_embedding_lsh_capped" -> (Dedup.embeddingLshCapped _),
    "dedup_semantic" -> (Similarity.semanticDedup _),
    "dedup_semantic_incremental" -> (Similarity.semanticDedupIncremental _),
    "dedup_semantic_apply" -> (Similarity.semanticDedupApply _),
    "dedup_paragraph" -> (Dedup.paragraphs _),
    "dedup_paragraph_apply" -> (Dedup.paragraphsApply _),
    "dedup_substring_apply" -> (Dedup.substringsApply _),
    "dedup_substring" -> (Dedup.substrings _),
    "dedup_components" -> (Dedup.components _),
    "dedup_components_incremental" -> (Dedup.componentsIncremental _),
    "dedup_components_lineage" -> (Dedup.componentsLineage _),
    "dedup_cluster_stats" -> (Dedup.clusterStats _),
    "dedup_prefix_join" -> (Dedup.prefixJoin _),
    "dedup_survivors" -> (Dedup.survivors _),
    "dedup_survivors_lineage" -> (Dedup.survivorsLineage _),
    "dedup_survivors_list" -> (Dedup.survivorsList _),
    // similarity search
    "sim_brute_topk" -> (Similarity.bruteTopK _),
    "sim_native_topk" -> (Similarity.nativeTopK _),
    "sim_lsh_topk" -> (Similarity.lshTopK _),
    "sim_range_search" -> (Similarity.rangeSearch _),
    "sim_recall_report" -> (Similarity.recallReport _),
    // graph consumers are derivation-only (staged kNN lineage,
    // VERDICT r7 #1); sim_knn_graph stays the recompute twin
    "sim_pagerank" -> (Similarity.pagerankLineage _),
    "sim_centroid_drift" -> (Similarity.centroidDrift _),
    "sim_label_prop" -> (Similarity.labelPropLineage _),
    "sim_multiprobe_topk" -> (Similarity.multiprobeTopK _),
    "sim_rerank_topk" -> (Similarity.rerankTopK _),
    "sim_matryoshka_topk" -> (Similarity.matryoshkaTopK _),
    "sim_ivf_topk" -> (Similarity.topK(Similarity.Ivf) _),
    "sim_ivf_index_topk" -> (Similarity.indexTopK(Similarity.Ivf) _),
    "sim_ivf_index_incremental" -> (Similarity.incTopK(Similarity.Ivf) _),
    "sim_ivf_index_drift" -> (Similarity.driftReport(Similarity.Ivf) _),
    "sim_ivf_pq_index_incremental" -> (Similarity.incTopK(Similarity.IvfPq) _),
    "sim_ivf_pq_lifecycle_topk" -> (Similarity.lifecycleTopK(Similarity.IvfPq) _),
    "sim_ivf_pq_index_drift" -> (Similarity.driftReport(Similarity.IvfPq) _),
    "sim_ivf_index_compact" -> (Similarity.compactTopK(Similarity.Ivf) _),
    "sim_ivf_lifecycle_topk" -> (Similarity.lifecycleTopK(Similarity.Ivf) _),
    "sim_ivf_index_imbalance" -> (Similarity.imbalanceReport(Similarity.Ivf) _),
    "sim_ivf_pq_index_imbalance" -> (Similarity.imbalanceReport(Similarity.IvfPq) _),
    "sim_maintenance_plan" -> (Similarity.maintenancePlan _),
    "sim_maintenance_apply" -> (Similarity.maintenanceApply _),
    "sim_maintenance_nightly" -> (Similarity.twoNightTopK(Similarity.Ivf) _),
    "sim_pq_maintenance_nightly" -> (Similarity.twoNightTopK(Similarity.IvfPq) _),
    "text_bm25_maintenance_nightly" -> (TextAnalysis.bm25TwoNightTopK _),
    "sim_ivf_lifecycle_retrain" -> (Similarity.retrainTopK(Similarity.Ivf) _),
    "sim_ivf_pq_lifecycle_retrain" -> (Similarity.retrainTopK(Similarity.IvfPq) _),
    "sim_ivf_pq_index_compact" -> (Similarity.compactTopK(Similarity.IvfPq) _),
    "stream_index_append" -> (graft.streaming.Streams.streamIndexAppend(Similarity.Ivf) _),
    "text_bm25_topk" -> (TextAnalysis.bm25TopK _),
    "text_bm25_index_topk" -> (Similarity.indexTopK(Similarity.Bm25) _),
    "text_bm25_index_incremental" -> (Similarity.incTopK(Similarity.Bm25) _),
    "text_bm25_index_compact" -> (Similarity.compactTopK(Similarity.Bm25) _),
    "text_bm25_index_drift" -> (TextAnalysis.bm25IndexDriftReport _),
    "text_bm25_lifecycle_topk" -> (Similarity.lifecycleTopK(Similarity.Bm25) _),
    "text_bm25_index_restat" -> (TextAnalysis.bm25IndexRestatTopK _),
    "stream_bm25_index_append" -> (graft.streaming.Streams.streamIndexAppend(Similarity.Bm25) _),
    "sim_hybrid_rrf_topk" -> (Similarity.hybridRrfTopK _),
    "sim_hybrid_index_topk" -> (Similarity.hybridIndexTopK _),
    "sim_hybrid_lifecycle_topk" -> (Similarity.hybridLifecycleTopK _),
    "sim_hybrid_retrain_topk" -> (Similarity.hybridRetrainTopK _),
    "sim_hybrid_index_batch_topk" -> (Similarity.hybridIndexBatchTopK _),
    "stream_hybrid_serving" -> (graft.streaming.Streams.streamHybridServing _),
    "sim_pq_topk" -> (Similarity.pqTopK _),
    "sim_ivf_pq_topk" -> (Similarity.topK(Similarity.IvfPq) _),
    "sim_ivf_pq_index_topk" -> (Similarity.indexTopK(Similarity.IvfPq) _),
    "sim_quantize" -> (Similarity.quantize _),
    "sim_knn_graph" -> (Similarity.knnGraph _),
    "sim_knn_graph_lineage" -> (Similarity.knnGraphLineage _),
    "sim_knn_graph_incremental" -> (Similarity.knnGraphIncremental _),
    "sim_knn_components" -> (Similarity.knnComponents _),
    // multimodal
    "mm_meta_extract" -> (Multimodal.metaExtract _),
    "mm_frame_sample" -> (Multimodal.frameSample _),
    "mm_decode_features" -> (Multimodal.decodeFeatures _),
    "mm_resize_meta" -> (Multimodal.resizeMeta _),
    "mm_dedup" -> (Multimodal.payloadDedup _),
    "mm_frame_dedup" -> (Multimodal.frameDedup _),
    "mm_overlap_dedup" -> (Multimodal.overlapDedup _),
    "mm_overlap_dedup_capped" -> (Multimodal.overlapDedupCapped _),
    "mm_phash_dedup" -> (Multimodal.phashDedup _),
    "mm_clip_filter" -> (Multimodal.clipFilter _),
    "mm_phash_dedup_capped" -> (Multimodal.phashDedupCapped _),
    "mm_phash_dedup_unicode" -> (Multimodal.phashDedupUnicode _),
    "mm_phash_dedup_incremental" -> (Multimodal.phashDedupIncremental _),
    // declarative pipeline config + real structured streaming
    "etl_pipeline_config" -> ((s, dir) => {
      import graft.plans.Pipeline._
      val spec = TransferSpec(
        source = SourceSpec(s"$dir/orders.parquet", Parquet),
        filterExpr = Some("o_totalprice > 100000"),
        transforms = Seq("priority_class" -> "substring(o_orderpriority, 1, 1)"),
        enrich = Some(EnrichSpec(
          graft.sources.Tables.customer(s, dir),
          "o_custkey" -> "c_custkey", Seq("c_mktsegment" -> "segment"))),
        routes = Seq(ModKey("shard", "o_custkey", 4), DateKey("dt", "o_orderdate", "yyyy-MM")),
        select = Seq("o_orderkey", "priority_class", "segment", "shard", "dt"))
      plan(s, spec)
    }),
    "stream_file_transfer" -> (graft.streaming.Streams.streamFileTransfer _),
    "stream_scheduled" -> (graft.streaming.Streams.streamScheduledTransfer _),
    "stream_dedup" -> (graft.streaming.Streams.streamDedupTransfer _),
    "stream_sessionize" -> (graft.streaming.Streams.streamSessionize _),
    "stream_attribution" -> (graft.streaming.Streams.streamAttribution _),
    "stream_late_data" -> (graft.streaming.Streams.streamLateData _),
    "stream_resume" -> (graft.streaming.Streams.streamResume _),
    "stream_ann_serving" -> (graft.streaming.Streams.streamAnnServing _),
    "stream_ivf_serving" -> (graft.streaming.Streams.streamIvfServing _),
    // text analysis
    "text_quality" -> (TextAnalysis.quality _),
    "text_lang_topk_native" -> (TextAnalysis.langTopQualityNative _),
    "text_tokens" -> (TextAnalysis.tokens _),
    "text_langid" -> (TextAnalysis.langid _),
    "text_ngrams" -> (TextAnalysis.ngrams _),
    "text_fingerprint" -> (TextAnalysis.fingerprint _),
    "text_feature_hash" -> (TextAnalysis.featureHash _),
    "text_top_terms" -> (TextAnalysis.topTerms _),
    "text_redact" -> (TextAnalysis.redact _),
    "text_repetition" -> (TextAnalysis.repetition _),
    "text_chunk" -> (TextAnalysis.chunk _),
    "text_split" -> (TextAnalysis.trainValSplit _),
    "text_stratified_split" -> (TextAnalysis.stratifiedSplit _),
    "stream_pq_index_append" -> (graft.streaming.Streams.streamIndexAppend(Similarity.IvfPq) _),
    "text_split_leakage_free" -> (TextAnalysis.leakageFreeSplit _),
    "text_split_leakage_lineage" -> (TextAnalysis.leakageFreeSplitLineage _),
    "text_pack" -> (TextAnalysis.pack _),
    "text_decontaminate" -> (TextAnalysis.decontaminate _),
    "text_decontaminate_apply" -> (TextAnalysis.decontaminateApply _),
    "text_decontaminate_bloom" -> (TextAnalysis.decontaminateBloom _),
    "text_corpus_pipeline" -> (TextAnalysis.corpusPipeline _),
    "text_rarity" -> (TextAnalysis.rarity _),
    "text_contamination_score" -> (TextAnalysis.contaminationScore _),
    "text_lm_score" -> (TextAnalysis.lmScore _),
    "text_bpe_merges" -> (TextAnalysis.bpeMerges _),
    "text_bpe_apply" -> (TextAnalysis.bpeApply _),
    "text_token_budget_bpe" -> (TextAnalysis.tokenBudgetBpe _),
    "text_pack_bpe" -> (TextAnalysis.packBpe _),
    "sim_label_centroids" -> (Similarity.labelCentroids _),
    "stream_enrich" -> (graft.streaming.Streams.streamEnrichTransfer _),
    "stream_jdbc_sink" -> (graft.streaming.Streams.streamJdbcSink _),
    "stream_interval_join" -> (graft.streaming.Streams.streamIntervalJoin _),
    "stream_windowed_agg" -> (graft.streaming.Streams.streamWindowedAgg _),
  )

  /** Headline bench set: everything except the deliberately-quadratic
    * oracle twins (all-pairs BY DESIGN so DuckDB can replicate them
    * exactly; their production scale paths — dedup_lsh_verified,
    * dedup_embedding_lsh, sim_lsh_topk — are what gets benched). */
  def benchQueries: Seq[String] =
    queries.keys.filterNot(Set(
      "dedup_ngram_jaccard", // all-pairs oracle twin of dedup_lsh_verified
      "dedup_embedding",     // all-pairs oracle twin of dedup_embedding_lsh
                             // (VERDICT r1 item 1: was wrongly benched)
      "dedup_prefix_join"    // exact AllPairs twin; prefix filter prunes
                             // poorly on this tiny-vocab corpus (LSH path
                             // is the benched production shape)
    )).toSeq.sorted

  /** Where the correctness-gate query is an AUDIT or a check that also
    * computes the exact/truth side, the bench times the PRODUCTION
    * shape instead — otherwise the headline figure would attribute
    * truth-recomputation cost to the operator (and the sketch ops would
    * bench their exact twins' work). Keys must exist in `queries`. */
  def benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_lsh" -> (Dedup.minhashLsh _),          // candidates, not the audit
    "dedup_simhash" -> (Dedup.simhash _),                 // 4×16 candidates, not the audit
    "q_approx_distinct" -> (Analytics.qApproxDistinct _), // HLL only, not the ±2% check
    "pat_bucketed_join" -> (Patterns.bucketedJoinWarm _), // amortized-setup join (see scaladoc)
    "pat_zorder_skip" -> (Patterns.zorderSkipWarm _),     // amortized-rewrite skip-read (see scaladoc)
    "q_approx_percentile" -> ((s: SparkSession, dir: String) =>
      graft.sources.Tables.lineitem(s, dir)
        .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
        .agg(org.apache.spark.sql.functions
          .expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_med"))))

  // ---------------------------------------------------------------------
  // Generated oracles for the LSH/IVF pipelines: the candidate stages
  // are replicated in SQL (graft.functions.Planes emits the identical
  // hyperplane bits; the IVF oracle unrolls the Lloyd iterations), so
  // these rows are hash-exact end-to-end — no empirical-recall trust.
  // ---------------------------------------------------------------------

  import graft.functions.Planes.{sigsCteSql, cosineSql}

  private def dedupEmbeddingLshSql: String =
    s"""WITH ${sigsCteSql(Dedup.EmbLshTables, Dedup.EmbLshPlanes)},
      |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cosine FROM (
      | SELECT vec_a, vec_b, ${cosineSql("ea.emb", "ea.nsq", "eb.emb", "eb.nsq")} AS cosine
      | FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b) t
      |WHERE cosine >= 0.4""".stripMargin

  /** Stop-bucket-capped embedding LSH oracle: same corpus plant
    * (EmbLshCapPlant copies of vector 0 under ids 100000+i) and the
    * bucket-size filter as a HAVING CTE — the production knob's exact
    * semantics, hash-gated. */
  private def dedupEmbeddingLshCappedSql: String =
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT 100000 + r.i AS vec_id, e0.embedding
      |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) e0,
      |       range(0, ${Dedup.EmbLshCapPlant}) r(i)),
      |${sigsCteSql(Dedup.EmbLshTables, Dedup.EmbLshPlanes, "corpus")},
      |ok AS (SELECT t, sig FROM sigs GROUP BY t, sig
      |  HAVING COUNT(*) <= ${Dedup.EmbLshBucketCap}),
      |pruned AS (SELECT s.* FROM sigs s JOIN ok USING (t, sig)),
      |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM pruned a JOIN pruned b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cosine FROM (
      | SELECT vec_a, vec_b, ${cosineSql("ea.emb", "ea.nsq", "eb.emb", "eb.nsq")} AS cosine
      | FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b) t
      |WHERE cosine >= 0.4""".stripMargin

  /** Connected-components oracle: all-pairs exact Jaccard ≥ 0.7 edge
    * list, transitive closure via a recursive CTE, label = component
    * minimum. Shared by the from-scratch and the incremental-merge
    * gates (the merge is exact, so both contracts are this labeling). */
  /** Leakage-free split oracle: components labeling → representative →
    * affine-hash split. Shared by the recompute and staged-lineage
    * gates. */
  private def textSplitLeakageSql: String =
    """WITH RECURSIVE s AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |        || ' ' || string_split(text, ' ')[i+2])) AS sh
      | FROM documents),
      |p AS (
      | SELECT doc_a, doc_b FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id) t
      | WHERE jaccard >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      |r(a, b) AS (
      | SELECT a, b FROM e
      | UNION
      | SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
      |c AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a)
      |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep,
      | CASE WHEN (COALESCE(c.comp, d.doc_id) * 2654435761 + 104729) % 9973 % 100 < 95
      |  THEN 'train' ELSE 'val' END AS split
      |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin

  /** Survivor-policy oracle: the components labeling (as in
    * [[dedupComponentsSql]]) reduced to corpus counts. Shared by the
    * recompute and staged-lineage gates. */
  private def dedupSurvivorsSql: String =
    """WITH RECURSIVE s AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |        || ' ' || string_split(text, ' ')[i+2])) AS sh
      | FROM documents),
      |p AS (
      | SELECT doc_a, doc_b FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id) t
      | WHERE jaccard >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      |r(a, b) AS (
      | SELECT a, b FROM e
      | UNION
      | SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a),
      |removed AS (SELECT doc_id FROM comp WHERE doc_id <> comp)
      |SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |       (SELECT COUNT(*) FROM removed) AS n_removed,
      |       (SELECT COUNT(*) FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM removed)) AS n_survivors""".stripMargin

  /** Survivor-list oracle: the components closure labeling left-joined
    * to the full corpus — kept = component minimum or unpaired doc. */
  private def dedupSurvivorsListSql: String =
    """WITH RECURSIVE s AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |        || ' ' || string_split(text, ' ')[i+2])) AS sh
      | FROM documents),
      |p AS (
      | SELECT doc_a, doc_b FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id) t
      | WHERE jaccard >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      |r(a, b) AS (
      | SELECT a, b FROM e
      | UNION
      | SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
      |c AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a)
      |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep,
      | (COALESCE(c.comp, d.doc_id) = d.doc_id) AS kept
      |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin

  private def dedupComponentsSql: String =
    """WITH RECURSIVE s AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |        || ' ' || string_split(text, ' ')[i+2])) AS sh
      | FROM documents),
      |p AS (
      | SELECT doc_a, doc_b FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id) t
      | WHERE jaccard >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      |r(a, b) AS (
      | SELECT a, b FROM e
      | UNION
      | SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
      |SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a""".stripMargin

  /** Decontamination oracle: word n-grams via list slicing, eval/train
    * split by the same id mod, semi-join on the gram string. */
  private def textDecontaminateSql: String = {
    val n = TextAnalysis.DecontamN
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${n - 2}),
      |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS gram
      |  FROM d WHERE len(w) >= $n),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
      |SELECT doc_id, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_hit_ngrams
      |FROM tr JOIN ev USING (gram) GROUP BY doc_id""".stripMargin
  }

  /** Containment-score oracle: raw gram strings (collision tripwire for
    * the Spark side's md5 fps); one LEFT join + one grouped pass, the
    * terminal `/` on two BIGINTs is DuckDB's float division — the same
    * double-over-exact-integers op as the Spark cast. */
  private def textContaminationScoreSql: String = {
    val n = TextAnalysis.DecontamN
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${n - 2}),
      |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS gram
      |  FROM d WHERE len(w) >= $n),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
      |SELECT doc_id,
      | CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_grams,
      | CAST(COUNT(DISTINCT CASE WHEN ev.gram IS NOT NULL THEN tr.gram END) AS BIGINT)
      |   AS n_leaked,
      | COUNT(DISTINCT CASE WHEN ev.gram IS NOT NULL THEN tr.gram END)
      |   / COUNT(DISTINCT tr.gram) AS containment
      |FROM tr LEFT JOIN ev ON tr.gram = ev.gram GROUP BY doc_id""".stripMargin
  }

  /** kNN-graph oracle: the all-corpus directed variant of
    * simLshTopkSql — same plane-bit replication, q.vec_id <> c.vec_id
    * instead of a query/corpus split. */
  private def simKnnGraphSql: String = {
    import graft.functions.Planes.{sigsCteSql, cosineSql}
    s"""WITH ${sigsCteSql(Similarity.KnnTables, Similarity.KnnPlanes)},
      |cand AS (SELECT DISTINCT q.vec_id AS vec_id, c.vec_id AS nbr_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |   AND q.vec_id <> c.vec_id),
      |scored AS (SELECT cand.vec_id, cand.nbr_id,
      |  ${cosineSql("ea.emb", "ea.nsq", "eb.emb", "eb.nsq")} AS cosine
      | FROM cand JOIN e ea ON ea.vec_id = cand.vec_id
      |  JOIN e eb ON eb.vec_id = cand.nbr_id)
      |SELECT vec_id, nbr_id, cosine,
      | CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= ${Similarity.KnnK}""".stripMargin
  }

  /** Centroid-drift oracle: identical integer-scaled coordinate sums
    * per (label, half, dim), the same left-assoc double expression for
    * the per-dim mean difference, and the squared terms folded in pos
    * order via list_sum — the proven-exact pairing of Spark's
    * aggregate() HOF (Planes.cosineSql contract). */
  private def simCentroidDriftSql: String = {
    val sc = Similarity.DriftScale
    s"""WITH ex AS (SELECT label, vec_id % 2 AS half,
      |  unnest(range(0, len(embedding))) AS pos,
      |  unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
      |hs AS (SELECT label, half, pos, COUNT(*) AS n,
      |  CAST(SUM(CAST(floor(v * $sc + 0.5) AS BIGINT)) AS BIGINT) AS sv
      | FROM ex GROUP BY label, half, pos),
      |paired AS (SELECT label, pos,
      |  CAST(SUM(CASE WHEN half = 0 THEN sv END) AS DOUBLE) / $sc
      |    / SUM(CASE WHEN half = 0 THEN n END)
      |  - CAST(SUM(CASE WHEN half = 1 THEN sv END) AS DOUBLE) / $sc
      |    / SUM(CASE WHEN half = 1 THEN n END) AS d
      | FROM hs GROUP BY label, pos
      | HAVING SUM(CASE WHEN half = 0 THEN n END) > 0
      |    AND SUM(CASE WHEN half = 1 THEN n END) > 0),
      |ag AS (SELECT label, CAST(MAX(pos) + 1 AS BIGINT) AS n_dims,
      |  list(d ORDER BY pos) AS ds FROM paired GROUP BY label)
      |SELECT label, n_dims,
      | list_sum(list_transform(ds, x -> x * x)) AS drift_sq FROM ag""".stripMargin
  }

  /** LPA oracle: the kNN-edge chain made undirected, then
    * [[graft.operators.Similarity.LpaIters]] unrolled synchronous
    * rounds of most-frequent-neighbor-label with the identical
    * (count desc, label asc) total-order tie-break — integer-only, so
    * the election is engine-independent and the gate hash-exact. */
  private def simLabelPropSql: String = {
    import graft.functions.Planes.{sigsCteSql, cosineSql}
    val rounds = (1 to Similarity.LpaIters).map { i =>
      s"""c$i AS (SELECT ue.dst, l.lbl, COUNT(*) AS c
        | FROM ue JOIN l${i - 1} l ON l.vec_id = ue.src GROUP BY ue.dst, l.lbl),
        |p$i AS (SELECT dst, lbl FROM (SELECT dst, lbl,
        |  row_number() OVER (PARTITION BY dst ORDER BY c DESC, lbl ASC) AS rn
        | FROM c$i) t WHERE rn = 1),
        |l$i AS (SELECT prev.vec_id, COALESCE(p$i.lbl, prev.lbl) AS lbl
        | FROM l${i - 1} prev LEFT JOIN p$i ON p$i.dst = prev.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sigsCteSql(Similarity.KnnTables, Similarity.KnnPlanes)},
      |cand AS (SELECT DISTINCT q.vec_id AS vec_id, c.vec_id AS nbr_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |   AND q.vec_id <> c.vec_id),
      |scored AS (SELECT cand.vec_id, cand.nbr_id,
      |  ${cosineSql("ea.emb", "ea.nsq", "eb.emb", "eb.nsq")} AS cosine
      | FROM cand JOIN e ea ON ea.vec_id = cand.vec_id
      |  JOIN e eb ON eb.vec_id = cand.nbr_id),
      |ed AS (SELECT vec_id AS src, nbr_id AS dst FROM (
      |  SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, nbr_id) AS rk FROM scored) t
      | WHERE rk <= ${Similarity.KnnK}),
      |ue AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
      |l0 AS (SELECT vec_id, vec_id AS lbl FROM e),
      |$rounds,
      |sz AS (SELECT lbl, COUNT(*) AS community_size
      | FROM l${Similarity.LpaIters} GROUP BY lbl)
      |SELECT l.vec_id, l.lbl AS community, sz.community_size
      |FROM l${Similarity.LpaIters} l JOIN sz ON sz.lbl = l.lbl""".stripMargin
  }

  /** kNN-cluster oracle: the kNN-edge CTE chain made undirected, then
    * a recursive-CTE transitive closure labeling every node with its
    * reachable minimum (the dedupComponentsSql recipe over the graph's
    * edges); isolated vectors label to themselves. */
  private def simKnnComponentsSql: String = {
    import graft.functions.Planes.{sigsCteSql, cosineSql}
    s"""WITH RECURSIVE ${sigsCteSql(Similarity.KnnTables, Similarity.KnnPlanes)},
      |cand AS (SELECT DISTINCT q.vec_id AS vec_id, c.vec_id AS nbr_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |   AND q.vec_id <> c.vec_id),
      |scored AS (SELECT cand.vec_id, cand.nbr_id,
      |  ${cosineSql("ea.emb", "ea.nsq", "eb.emb", "eb.nsq")} AS cosine
      | FROM cand JOIN e ea ON ea.vec_id = cand.vec_id
      |  JOIN e eb ON eb.vec_id = cand.nbr_id),
      |ed AS (SELECT vec_id AS src, nbr_id AS dst FROM (
      |  SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, nbr_id) AS rk FROM scored) t
      | WHERE rk <= ${Similarity.KnnK}),
      |ue AS (SELECT src AS a, dst AS b FROM ed UNION SELECT dst, src FROM ed),
      |r(a, b) AS (
      | SELECT a, b FROM ue
      | UNION
      | SELECT r.a, ue.b FROM r JOIN ue ON r.b = ue.a),
      |c AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a)
      |SELECT n.vec_id, COALESCE(c.comp, n.vec_id) AS comp
      |FROM (SELECT vec_id FROM e) n LEFT JOIN c ON c.vec_id = n.vec_id""".stripMargin
  }

  /** Integer PageRank oracle: the kNN-edge CTE chain, then
    * [[graft.operators.Similarity.PrIters]] unrolled damped rounds in
    * the IDENTICAL fixed-point arithmetic (floor division via `//`,
    * ×85//100 damping, 15% base) — integer ops make the iteration
    * order- and engine-independent, so the gate is hash-exact. The
    * scale replicates [[graft.operators.Similarity.prScaleFor]]: the
    * `sc` CTE derives 10^max(16 − digits(n), 0) capped at PrScaleCap
    * from the node count (digit count via VARCHAR length — exact, no
    * log10 edge cases; power(10, k ≤ 12) is double-exact). */
  private def simPagerankSql: String = {
    import graft.functions.Planes.{sigsCteSql, cosineSql}
    val sc = "(SELECT scale FROM sc)"
    val rounds = (1 to Similarity.PrIters).map { i =>
      s"""i$i AS (SELECT ed.dst, CAST(SUM(r.rank_scaled // d.deg) AS BIGINT) AS in_sum
        | FROM edges ed JOIN deg d USING (src)
        | JOIN r${i - 1} r ON r.vec_id = ed.src GROUP BY ed.dst),
        |r$i AS (SELECT n.vec_id,
        |  CAST($sc * 15 // 100 + (COALESCE(i$i.in_sum, 0) * 85) // 100 AS BIGINT) AS rank_scaled
        | FROM n LEFT JOIN i$i ON i$i.dst = n.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sigsCteSql(Similarity.KnnTables, Similarity.KnnPlanes)},
      |cand AS (SELECT DISTINCT q.vec_id AS vec_id, c.vec_id AS nbr_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |   AND q.vec_id <> c.vec_id),
      |scored AS (SELECT cand.vec_id, cand.nbr_id,
      |  ${cosineSql("ea.emb", "ea.nsq", "eb.emb", "eb.nsq")} AS cosine
      | FROM cand JOIN e ea ON ea.vec_id = cand.vec_id
      |  JOIN e eb ON eb.vec_id = cand.nbr_id),
      |edges AS (SELECT vec_id AS src, nbr_id AS dst FROM (
      |  SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, nbr_id) AS rk FROM scored) t
      | WHERE rk <= ${Similarity.KnnK}),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |n AS (SELECT vec_id FROM e),
      |sc AS (SELECT LEAST(CAST(${Similarity.PrScaleCap} AS BIGINT),
      |  CAST(power(10, GREATEST(16 - len(CAST(COUNT(*) AS VARCHAR)), 0)) AS BIGINT)) AS scale
      | FROM n),
      |r0 AS (SELECT vec_id, CAST($sc AS BIGINT) AS rank_scaled FROM n),
      |$rounds
      |SELECT vec_id, rank_scaled FROM r${Similarity.PrIters}""".stripMargin
  }

  /** Composite corpus-pipeline oracle: the quality-filter, exact-dedup
    * and decontamination CTEs of the individual gates chained, final
    * accounting per source. The oracle dedups on RAW text and joins raw
    * grams, so an md5 collision anywhere in the Spark pipeline would
    * fail this row loudly. */
  private def textCorpusPipelineSql: String = {
    val n = TextAnalysis.DecontamN
    s"""WITH q AS (SELECT doc_id, source, text,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  len(list_filter(string_split(text, ' '),
      |    x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS n_stop,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS ds
      | FROM documents),
      |kept AS (SELECT * FROM q
      | WHERE n_tokens >= 10 AND n_tokens <= 5000 AND n_stop > 0 AND ds >= 0.2),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text),
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${n - 2}),
      |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS gram
      |  FROM d WHERE len(w) >= $n),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
      |  WHERE g.doc_id % 97 <> 0)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |FROM kept
      |WHERE doc_id IN (SELECT doc_id FROM surv)
      |  AND doc_id % 97 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM hit)
      |GROUP BY source""".stripMargin
  }

  /** Paragraph-dedup oracle: fixed word spans, first occurrence by
    * (doc_id, span_idx) elected with a row_number window (the Spark
    * side's min(struct) election is the partial-agg equivalent). */
  private def dedupParagraphSql: String = {
    val sw = Dedup.SpanWords
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |i AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(w)/$sw.0) AS BIGINT))) AS j, w FROM d),
      |sp AS (SELECT doc_id, CAST(j AS BIGINT) AS span_idx,
      |  array_to_string(w[(j*$sw+1):(j*$sw+$sw)], ' ') AS span FROM i),
      |r AS (SELECT doc_id, span_idx,
      |  row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn FROM sp)
      |SELECT doc_id, COUNT(*) AS n_spans,
      | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      |FROM r GROUP BY doc_id""".stripMargin
  }

  /** Sliding-window substring-dedup oracle: same stride-1 windows over
    * the space-split words, duplicated = span text occurring more than
    * once anywhere (raw-span grouping — the fp-collision tripwire for
    * the Spark side's md5 shuffle), coverage = distinct token
    * positions under any duplicated window. */
  private def dedupSubstringSql: String = {
    val w = Dedup.SubstrWindow
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |win AS (SELECT doc_id, CAST(unnest(range(0, len(w) - ${w - 1})) AS BIGINT) AS pos, w
      | FROM d WHERE len(w) >= $w),
      |sp AS (SELECT doc_id, pos, array_to_string(w[(pos+1):(pos+$w)], ' ') AS span FROM win),
      |dup AS (SELECT span, TRUE AS is_dup FROM sp GROUP BY span HAVING COUNT(*) > 1),
      |fl AS (SELECT sp.doc_id, sp.pos, COALESCE(dup.is_dup, FALSE) AS is_dup
      | FROM sp LEFT JOIN dup ON sp.span = dup.span),
      |cov AS (SELECT doc_id, COUNT(DISTINCT tok) AS n_dup_positions FROM (
      |  SELECT doc_id, pos + unnest(range(0, $w)) AS tok FROM fl WHERE is_dup)
      | GROUP BY doc_id),
      |agg AS (SELECT doc_id, COUNT(*) AS n_windows,
      |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
      | FROM fl GROUP BY doc_id)
      |SELECT a.doc_id, a.n_windows, a.n_dup_windows,
      | CAST(COALESCE(c.n_dup_positions, 0) AS BIGINT) AS n_dup_positions
      |FROM agg a LEFT JOIN cov c USING (doc_id)""".stripMargin
  }

  /** Two-stage rerank oracle: absmax int8 codes (sim_quantize
    * arithmetic), integer coarse dot × candidate scale, top-RerankCoarse
    * per query, exact cosine re-rank to top-K. */
  private def simRerankTopkSql: String = {
    val intDot =
      "CAST(list_sum(list_transform(list_zip(q.codes, c.codes), x -> x[1]*x[2])) AS DOUBLE)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) AS nsq
      | FROM embeddings),
      |coded0 AS (SELECT vec_id, emb,
      |  list_max(list_transform(emb, x -> abs(x))) AS amax FROM e),
      |coded AS (SELECT vec_id, amax,
      |  list_transform(emb, x -> CAST(floor(x / amax * 127 + 0.5) AS BIGINT)) AS codes
      | FROM coded0 WHERE amax > 0),
      |coarse AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |  $intDot * c.amax AS coarse
      | FROM coded q, coded c WHERE q.vec_id < 10 AND c.vec_id >= 10),
      |topc AS (SELECT query_id, cand_id FROM (
      |  SELECT query_id, cand_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY coarse DESC, cand_id) AS crn
      |  FROM coarse) t WHERE crn <= ${Similarity.RerankCoarse}),
      |scored AS (SELECT query_id, cand_id,
      |  ${cosineSql("eq.emb", "eq.nsq", "ec.emb", "ec.nsq")} AS cosine
      | FROM topc JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine,
      | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= ${Similarity.K}""".stripMargin
  }

  /** Matryoshka oracle: prefix-dim coarse cosine (DuckDB list slice ==
    * Spark slice(); both cosines fold sequentially), top-RerankCoarse,
    * exact full-width re-rank — simRerankTopkSql with truncation as
    * the compression axis. */
  private def simMatryoshkaTopkSql: String = {
    val p = Similarity.MatPrefixDims
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) AS nsq
      | FROM embeddings),
      |pre AS (SELECT vec_id, emb[1:$p] AS pemb,
      |  list_sum(list_transform(emb[1:$p], x -> x*x)) AS pnsq FROM e),
      |coarse AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |  ${cosineSql("q.pemb", "q.pnsq", "c.pemb", "c.pnsq")} AS coarse
      | FROM pre q, pre c WHERE q.vec_id < 10 AND c.vec_id >= 10),
      |topc AS (SELECT query_id, cand_id FROM (
      |  SELECT query_id, cand_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY coarse DESC, cand_id) AS crn
      |  FROM coarse) t WHERE crn <= ${Similarity.RerankCoarse}),
      |scored AS (SELECT query_id, cand_id,
      |  ${cosineSql("eq.emb", "eq.nsq", "ec.emb", "ec.nsq")} AS cosine
      | FROM topc JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine,
      | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= ${Similarity.K}""".stripMargin
  }

  /** Multiprobe LSH oracle: the probe expansion (own bucket + every
    * 1-bit flip) over the sigs CTE, query side only. */
  private def simMultiprobeTopkSql: String =
    s"""WITH ${sigsCteSql(Similarity.MpTables, Similarity.LshPlanesPerTable)},
      |qp AS (SELECT vec_id, t,
      |  CASE WHEN j.j = ${Similarity.LshPlanesPerTable} THEN sig
      |       ELSE xor(sig, 1 << j.j) END AS sig
      |  FROM sigs, range(0, ${Similarity.LshPlanesPerTable + 1}) j(j)
      |  WHERE vec_id < 10),
      |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
      |  FROM qp q JOIN sigs c ON q.t = c.t AND q.sig = c.sig AND c.vec_id >= 10),
      |scored AS (SELECT query_id, cand_id,
      |  ${cosineSql("eq.emb", "eq.nsq", "ec.emb", "ec.nsq")} AS cosine
      | FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine,
      | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= ${Similarity.K}""".stripMargin

  /** Robust-anomaly oracle, shared by the batch row (q_anomaly) and
    * its streaming face (stream_anomaly): partial counts summed across
    * micro-batches against the same offline stats are additive, so
    * both compute this exact result. */
  private def anomalySql: String =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |mad AS (SELECT e.event_type,
      |  quantile_cont(abs(e.value - m.med), 0.5) AS mad
      | FROM events e JOIN med m ON e.event_type = m.event_type
      | GROUP BY e.event_type)
      |SELECT e.event_type, COUNT(*) AS n_events,
      | MAX(m.med) AS med, MAX(d.mad) AS mad,
      | COUNT(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad THEN 1 END) AS n_outliers
      |FROM events e JOIN med m ON e.event_type = m.event_type
      | JOIN mad d ON e.event_type = d.event_type
      |GROUP BY e.event_type""".stripMargin

  /** Range-search oracle: the lshTopk candidate CTE with an exact
    * cosine radius filter instead of the per-query top-k. */
  private def simRangeSearchSql: String =
    s"""WITH ${sigsCteSql(Similarity.LshTables, Similarity.LshPlanesPerTable)},
      |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
      |scored AS (SELECT query_id, cand_id,
      |  ${cosineSql("eq.emb", "eq.nsq", "ec.emb", "ec.nsq")} AS cosine
      | FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM scored
      |WHERE cosine >= ${Similarity.RangeTau}""".stripMargin

  private def simLshTopkSql: String =
    s"""WITH ${sigsCteSql(Similarity.LshTables, Similarity.LshPlanesPerTable)},
      |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
      |scored AS (SELECT query_id, cand_id,
      |  ${cosineSql("eq.emb", "eq.nsq", "ec.emb", "ec.nsq")} AS cosine
      | FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine,
      | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= ${Similarity.K}""".stripMargin

  /** Recall audit oracle: the lsh top-k CTE chain and the brute-force
    * top-k chain side by side, truth LEFT JOIN approx, integer hit
    * counts — both top-k sets are already bit-exact individually, so
    * their intersection size is too. */
  private def simRecallReportSql: String = {
    import graft.functions.Planes.{sigsCteSql, cosineSql}
    s"""WITH ${sigsCteSql(Similarity.LshTables, Similarity.LshPlanesPerTable)},
      |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
      |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
      |lscored AS (SELECT query_id, cand_id,
      |  ${cosineSql("eq.emb", "eq.nsq", "ec.emb", "ec.nsq")} AS cosine
      | FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id),
      |lsh AS (SELECT query_id, cand_id FROM (
      |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, cand_id) AS rank FROM lscored) t
      |  WHERE rank <= ${Similarity.K}),
      |bscored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |  ${cosineSql("q.emb", "q.nsq", "c.emb", "c.nsq")} AS cosine
      | FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10),
      |brute AS (SELECT query_id, cand_id FROM (
      |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, cand_id) AS rank FROM bscored) t
      |  WHERE rank <= ${Similarity.K})
      |SELECT b.query_id, CAST(COUNT(l.cand_id) AS BIGINT) AS n_hits,
      | CAST(COUNT(l.cand_id) AS DOUBLE) / ${Similarity.K} AS recall_at_k
      |FROM brute b LEFT JOIN lsh l
      |  ON b.query_id = l.query_id AND b.cand_id = l.cand_id
      |GROUP BY b.query_id""".stripMargin
  }

  /** Unrolled-Lloyd IVF oracle: seeds = deterministic stride sample
    * sized by the √n-capped nlist policy (Similarity.ivfStrideSql is
    * the same IEEE sqrt/ceil + floor division both engines compute) →
    * IvfLloydIters × [argmax-cosine assignment; exact per-dim mean
    * float→double→decimal sum→double÷count→float] → probe
    * top-IvfProbes centroids → exact cosine top-k over the probed
    * lists. Every arithmetic step mirrors operators.Similarity
    * bit-for-bit. */
  /** Shared unrolled-Lloyd CTE prefix (seeds → IvfLloydIters ×
    * [assign; exact mean]) + the cosine term against a centroid and the
    * final centroid CTE name. Used by the IVF and semantic-dedup
    * oracles — both must cluster bit-identically to Similarity's
    * driver-resident k-means. */
  private def lloydCtes(trainPred: Option[String => String] = None)
      : (scala.collection.mutable.ArrayBuffer[String], String, String) = {
    val cc = cosineSql("v.demb", "v.nsq", "CAST(c.cent AS DOUBLE[])",
      "list_sum(list_transform(CAST(c.cent AS DOUBLE[]), x -> x*x))")
    // optional TRAINING-SET restriction (the incremental-index oracle's
    // frozen-quantizer contract): stride policy, seeds and every Lloyd
    // assignment sweep see only the training rows; the final
    // probe/assign CTEs the callers add stay over the full corpus
    val pw = trainPred.map(p => s" WHERE ${p("")}").getOrElse("")
    val sw = trainPred.map(p => s"${p("")} AND ").getOrElse("")
    val aw = trainPred.map(p => s" WHERE ${p("v.")}").getOrElse("")
    val parts = scala.collection.mutable.ArrayBuffer(
      """e AS (SELECT vec_id, embedding AS emb, CAST(embedding AS DOUBLE[]) AS demb,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) AS nsq
        | FROM embeddings)""".stripMargin,
      s"params AS (SELECT ${Similarity.ivfStrideSql} AS stride FROM embeddings$pw)",
      s"cents0 AS (SELECT vec_id AS cent_id, emb AS cent FROM e WHERE ${sw}vec_id % (SELECT stride FROM params) = 0)")
    for (it <- 0 until Similarity.IvfLloydIters) {
      parts += s"""assign$it AS (
        |  SELECT vec_id, emb, cent_id FROM (
        |    SELECT v.vec_id, v.emb, c.cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY $cc DESC, c.cent_id) AS rn
        |    FROM e v, cents$it c$aw) t WHERE rn = 1)""".stripMargin
      parts += s"""cents${it + 1} AS (
        |  SELECT cent_id, list(mean ORDER BY i) AS cent FROM (
        |    SELECT cent_id, i,
        |      CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)/COUNT(*) AS REAL) AS mean
        |    FROM (SELECT cent_id, unnest(emb) AS x, unnest(range(1, len(emb)+1)) AS i
        |          FROM assign$it) u
        |    GROUP BY cent_id, i) m GROUP BY cent_id)""".stripMargin
    }
    (parts, cc, s"cents${Similarity.IvfLloydIters}")
  }

  /** Semantic-dedup APPLY oracle: the SemDeDup kept set joined to the
    * raw documents text (vec_id ≡ doc_id). */
  private def dedupSemanticApplySql: String = {
    val (parts, cc, fc) = lloydCtes()
    parts += s"""assignF AS (
      |  SELECT vec_id, demb, nsq, cent_id FROM (
      |    SELECT v.vec_id, v.demb, v.nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c) t WHERE rn = 1)""".stripMargin
    val pc = cosineSql("u.demb", "u.nsq", "v.demb", "v.nsq")
    s"""WITH ${parts.mkString(",\n")},
      |kept AS (SELECT v.vec_id FROM assignF v
      |  WHERE NOT EXISTS (SELECT 1 FROM assignF u
      |    WHERE u.cent_id = v.cent_id AND u.vec_id < v.vec_id
      |      AND $pc >= ${Similarity.SemanticTau}))
      |SELECT d.doc_id, d.text FROM documents d
      |JOIN kept k ON k.vec_id = d.doc_id""".stripMargin
  }

  /** SemDeDup oracle: same unrolled-Lloyd clustering, final nearest-
    * centroid assignment over ALL vectors, then a vector is kept iff no
    * earlier (lower vec_id) cluster-mate sits at cosine ≥ τ — the
    * in-cluster pair semantics of Similarity.semanticDedup verbatim. */
  private def dedupSemanticSql: String = {
    val (parts, cc, fc) = lloydCtes()
    parts += s"""assignF AS (
      |  SELECT vec_id, demb, nsq, cent_id FROM (
      |    SELECT v.vec_id, v.demb, v.nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c) t WHERE rn = 1)""".stripMargin
    val pc = cosineSql("u.demb", "u.nsq", "v.demb", "v.nsq")
    s"""WITH ${parts.mkString(",\n")}
      |SELECT v.vec_id, v.cent_id,
      |  NOT EXISTS (SELECT 1 FROM assignF u
      |    WHERE u.cent_id = v.cent_id AND u.vec_id < v.vec_id
      |      AND $pc >= ${Similarity.SemanticTau}) AS kept
      |FROM assignF v""".stripMargin
  }

  /** Incremental-SemDeDup oracle: the one-shot SemDeDup under the SAME
    * frozen-training + arrival-order contract — unrolled Lloyd trained
    * WITHOUT the batch, assignment over everything, and a vector's
    * earlier mates are (is_batch, vec_id)-lexicographically smaller
    * cluster-mates (snapshot members precede every batch member). */
  private def dedupSemanticIncSql: String = {
    val batch = Similarity.IvfIncBatchPred
    val (parts, cc, fc) = lloydCtes(Some(a =>
      s"NOT (${batch.replace("vec_id", a + "vec_id")})"))
    parts += s"""assignF AS (
      |  SELECT vec_id, demb, nsq, cent_id,
      |    (${batch}) AS is_batch FROM (
      |    SELECT v.vec_id, v.demb, v.nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c) t WHERE rn = 1)""".stripMargin
    val pc = cosineSql("u.demb", "u.nsq", "v.demb", "v.nsq")
    s"""WITH ${parts.mkString(",\n")}
      |SELECT v.vec_id, v.cent_id,
      |  NOT EXISTS (SELECT 1 FROM assignF u
      |    WHERE u.cent_id = v.cent_id
      |      AND (u.is_batch < v.is_batch
      |        OR (u.is_batch = v.is_batch AND u.vec_id < v.vec_id))
      |      AND $pc >= ${Similarity.SemanticTau}) AS kept
      |FROM assignF v""".stripMargin
  }

  /** BM25 oracle: identical rational-saturation + probabilistic-idf
    * arithmetic (no ln — libm can't be hash-gated), identical 1e-7
    * fixed-point quantization, identical corpus-derived query. */
  private def textBm25Sql: String = textBm25SqlFrom(None)

  /** The incremental lexical-index oracle IS the BM25 oracle under the
    * FROZEN-STATS contract: collection statistics (df, n_docs,
    * total_len) and the query-term policy computed over the SNAPSHOT
    * docs only, term frequencies over the full corpus — snapshot
    * postings + appended batch under frozen stats serve bit-identically
    * to this rebuild. */
  private def textBm25IncSql: String =
    textBm25SqlFrom(Some(s"NOT (${TextAnalysis.Bm25IncBatchPred})"))

  /** `corpusPred` restricts the POSTINGS side (docs arrived so far —
    * the two-night promotion points); `statsPred` restricts the
    * statistics contract (frozen vs restatted); `nightTag` wraps the
    * query as one UNION-able night row set. */
  private def textBm25SqlFrom(statsPred: Option[String],
      corpusPred: Option[String] = None,
      nightTag: Option[Int] = None): String = {
    val k = TextAnalysis.Bm25K
    val nq = TextAnalysis.Bm25QueryTerms
    val sw = statsPred.map(p => s" WHERE $p").getOrElse("")
    val cw = corpusPred.map(p => s" WHERE $p").getOrElse("")
    val nightCol = nightTag.map(n => s"CAST($n AS BIGINT) AS night, ")
      .getOrElse("")
    val (open, close) = nightTag.map(_ => ("SELECT * FROM (", ")"))
      .getOrElse(("", ""))
    s"""${open}WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents$cw),
      |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM d),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens$sw),
      |post AS (SELECT doc_id, unnest(w) AS term FROM d),
      |tfs AS (SELECT doc_id, term, COUNT(*) AS tf FROM post GROUP BY 1, 2),
      |dfs AS (SELECT term, COUNT(*) AS df FROM tfs$sw GROUP BY 1),
      |q AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT $nq),
      |scored AS (SELECT t.doc_id, CAST(floor(
      |    (44 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE))
      |    / (20 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE)
      |       + 6 * CAST(s.total_len AS DOUBLE)
      |       + 18 * CAST(l.len AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
      |    * ((2 * CAST(s.n_docs AS DOUBLE) - 2 * CAST(q.df AS DOUBLE) + 1)
      |       / (2 * CAST(q.df AS DOUBLE) + 1)) * 10000000 + 0.5) AS BIGINT) AS qv
      |  FROM tfs t JOIN q USING (term) JOIN lens l ON l.doc_id = t.doc_id, stats s),
      |agg AS (SELECT doc_id, COUNT(*) AS n_terms_hit, SUM(qv) AS score_q
      |  FROM scored GROUP BY doc_id)
      |SELECT ${nightCol}doc_id, n_terms_hit, score, rank FROM (
      |  SELECT doc_id, n_terms_hit, CAST(score_q AS DOUBLE) / 10000000 AS score,
      |    CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank
      |  FROM agg) t WHERE rank <= $k$close""".stripMargin
  }

  /** Two-night lexical oracle: night 1 = frozen snapshot statistics
    * over snapshot ∪ night-1 postings; night 2 = restatted statistics
    * over the whole gate slice (the preds partition it) — each night
    * exactly the one-shot build under its statistics contract. */
  private def textBm25TwoNightSql: String =
    textBm25SqlFrom(Some(TextAnalysis.Bm25NightSnapPred),
      Some(s"(${TextAnalysis.Bm25NightSnapPred}) OR " +
        s"(${TextAnalysis.Bm25Night1Pred})"), Some(1)) +
      "\nUNION ALL\n" +
      textBm25SqlFrom(None, Some(TextAnalysis.Bm25NightCorpusPred), Some(2))

  /** Hybrid RRF oracle: both arms replicated exactly — the BM25 arm
    * reuses the [[textBm25Sql]] rational/fixed-point arithmetic with
    * the query terms drawn from the query doc, the dense arm is the
    * brute-cosine oracle quantized to 1e-7 fixed point, and the fusion
    * is pure integer floor division (DuckDB `//` ≡ Spark `div`). */
  private def simHybridRrfSql: String = {
    val k = Similarity.HybridK; val depth = Similarity.HybridDepth
    val rrfK = Similarity.HybridRrfK; val qd = Similarity.HybridQueryDoc
    val nq = Similarity.HybridQueryTerms
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM d),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
      |tfs AS (SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY 1, 2),
      |qterms AS (SELECT term FROM tfs WHERE doc_id = $qd
      |  ORDER BY tf DESC, term LIMIT $nq),
      |dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1),
      |q AS (SELECT dfs.term, df FROM dfs JOIN qterms USING (term)),
      |lex_top AS (SELECT doc_id, SUM(qv) AS side_q FROM (
      |  SELECT t.doc_id, CAST(floor(
      |    (44 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE))
      |    / (20 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE)
      |       + 6 * CAST(s.total_len AS DOUBLE)
      |       + 18 * CAST(l.len AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
      |    * ((2 * CAST(s.n_docs AS DOUBLE) - 2 * CAST(q.df AS DOUBLE) + 1)
      |       / (2 * CAST(q.df AS DOUBLE) + 1)) * 10000000 + 0.5) AS BIGINT) AS qv
      |  FROM tfs t JOIN q USING (term) JOIN lens l ON l.doc_id = t.doc_id, stats s
      |  WHERE t.doc_id <> $qd)
      |  GROUP BY doc_id ORDER BY side_q DESC, doc_id LIMIT $depth),
      |lex AS (SELECT doc_id, CAST(row_number() OVER
      |  (ORDER BY side_q DESC, doc_id) AS BIGINT) AS lex_rank FROM lex_top),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nsq
      | FROM embeddings),
      |den_top AS (SELECT c.vec_id AS doc_id, CAST(floor(
      |    list_sum(list_transform(list_zip(q.emb, c.emb), x -> x[1] * x[2]))
      |    / sqrt(q.nsq * c.nsq) * 10000000 + 0.5) AS BIGINT) AS side_q
      |  FROM e q, e c WHERE q.vec_id = $qd AND c.vec_id <> $qd
      |  ORDER BY side_q DESC, doc_id LIMIT $depth),
      |den AS (SELECT doc_id, CAST(row_number() OVER
      |  (ORDER BY side_q DESC, doc_id) AS BIGINT) AS vec_rank FROM den_top),
      |fused AS (SELECT COALESCE(l.doc_id, dn.doc_id) AS doc_id,
      |    lex_rank, vec_rank,
      |    COALESCE(1000000000 // ($rrfK + lex_rank), 0)
      |      + COALESCE(1000000000 // ($rrfK + vec_rank), 0) AS rrf_q
      |  FROM lex l FULL JOIN den dn ON l.doc_id = dn.doc_id)
      |SELECT doc_id, COALESCE(lex_rank, CAST(0 AS BIGINT)) AS lex_rank,
      |  COALESCE(vec_rank, CAST(0 AS BIGINT)) AS vec_rank,
      |  CAST(rrf_q AS DOUBLE) / 1000000000 AS rrf_score,
      |  CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rank
      |FROM fused ORDER BY rrf_q DESC, doc_id LIMIT $k""".stripMargin
  }

  /** BPE-application oracle: the [[TextAnalysis.bpeMerges]] SQL ranks
    * the merge table, then ONE DuckDB list_reduce fold per rule in
    * rank order over the vocabulary's token arrays — the identical
    * separator-string encoding of the Spark fold (merge = append the
    * right char to an accumulator whose last token equals the left
    * char; exact because rule sides are single codepoints) — then
    * dense token ids by token text and the per-doc integer aggregates.
    * The doc↔vocab join uses RAW words where the Spark side joins md5
    * fingerprints — the standing collision tripwire. */
  private def textBpeApplySql: String = {
    val parts = bpeApplyCtes()
    s"""WITH ${parts.mkString(",\n")}
      |SELECT doc_id, COUNT(*) AS n_words,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(id_sum) AS BIGINT) AS token_id_sum
      |FROM docs JOIN wstat USING (word) GROUP BY doc_id""".stripMargin
  }

  /** BPE-denominated token-budget oracle (VERDICT r11 #4): the BPE
    * encode chain's per-word stats roll up to per-doc REAL token
    * counts, documents with no words budget as 0 via the LEFT JOIN,
    * and the selection is the standard budget cumsum (floor-divided
    * half-corpus budget, prio desc / doc_id order) over those counts
    * — the two existing oracles' CTEs chained, nothing new trusted. */
  private def textTokenBudgetBpeSql: String = {
    val parts = bpeApplyCtes()
    parts += """perdoc AS (SELECT doc_id,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      | FROM docs JOIN wstat USING (word) GROUP BY doc_id)""".stripMargin
    parts += """bd AS (SELECT dd.doc_id, dd.source,
      |  COALESCE(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
      |  (CAST(substr(dd.source, 4) AS INT) % 4) + 1 AS prio
      | FROM documents dd LEFT JOIN perdoc p ON p.doc_id = dd.doc_id)""".stripMargin
    parts += "bb AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS budget FROM bd)"
    parts += """bc AS (SELECT doc_id, source, n_tokens,
      |  CAST(SUM(n_tokens) OVER (ORDER BY prio DESC, doc_id) AS BIGINT) AS cum_tokens
      | FROM bd)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT doc_id, source, n_tokens, cum_tokens FROM bc
      |WHERE cum_tokens <= (SELECT budget FROM bb)""".stripMargin
  }

  /** BPE-denominated packing oracle (VERDICT r12 #6): the BPE chain's
    * per-doc counts (0 via LEFT JOIN for wordless docs) feed the
    * text_pack cumsum verbatim — shard hash, per-shard preceding-rows
    * window, 4096-token bins. */
  private def textPackBpeSql: String = {
    val parts = bpeApplyCtes()
    parts += """perdoc AS (SELECT doc_id,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      | FROM docs JOIN wstat USING (word) GROUP BY doc_id)""".stripMargin
    parts += s"""pd AS (SELECT dd.doc_id,
      |  CAST((dd.doc_id * 2654435761 + 104729) % 9973 % ${TextAnalysis.PackShards} AS BIGINT) AS shard,
      |  COALESCE(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
      | FROM documents dd LEFT JOIN perdoc p ON p.doc_id = dd.doc_id)""".stripMargin
    parts += """pc AS (SELECT doc_id, shard, n_tokens,
      |  COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
      | FROM pd)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT shard, CAST(tb // 4096 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
      | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      | MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM pc GROUP BY 1, 2""".stripMargin
  }

  /** The shared BPE encode chain (merge ranking, the per-rule
    * list_reduce folds, dense token ids, per-word stats, the doc↔word
    * join base) — consumed by [[textBpeApplySql]] and
    * [[textTokenBudgetBpeSql]]. */
  private def bpeApplyCtes(): scala.collection.mutable.ArrayBuffer[String] = {
    val sep = "chr(31)"
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""m AS (SELECT pair,
        |  CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rn
        | FROM (SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(range(1, LENGTH(word)),
        |      i -> word[i] || word[i+1])) AS pair
        |    FROM (SELECT word, COUNT(*) AS wc FROM (
        |      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |     GROUP BY word) v WHERE LENGTH(word) >= 2) p GROUP BY pair
        |   ORDER BY n DESC, pair LIMIT ${TextAnalysis.BpeTopMerges}) t)""".stripMargin,
      """v AS (SELECT DISTINCT word FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        | WHERE LENGTH(word) >= 1)""".stripMargin,
      """enc0 AS (SELECT word, list_transform(range(1, len(word)+1),
        |  i -> substr(word, CAST(i AS INT), 1)) AS toks FROM v)""".stripMargin)
    for (i <- 1 to TextAnalysis.BpeTopMerges) {
      parts += s"""enc$i AS (SELECT word, CASE WHEN r.pair IS NULL THEN toks
        | ELSE string_split(list_reduce(toks, (acc, t) -> CASE
        |   WHEN t = substr(r.pair, 2, 1)
        |     AND substr(acc, length(acc), 1) = substr(r.pair, 1, 1)
        |     AND (length(acc) = 1 OR substr(acc, length(acc)-1, 1) = $sep)
        |   THEN acc || t ELSE acc || $sep || t END), $sep) END AS toks
        | FROM enc${i - 1} LEFT JOIN (SELECT pair FROM m WHERE rn = $i) r ON TRUE)""".stripMargin
    }
    val fin = s"enc${TextAnalysis.BpeTopMerges}"
    parts += s"""tokid AS (SELECT token,
      |  CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tok_id
      | FROM (SELECT DISTINCT unnest(toks) AS token FROM $fin))""".stripMargin
    parts += s"ws AS (SELECT word, unnest(toks) AS token FROM $fin)"
    parts += """wstat AS (SELECT word, COUNT(*) AS n_toks,
      |  CAST(SUM(tok_id) AS BIGINT) AS id_sum
      | FROM ws JOIN tokid USING (token) GROUP BY word)""".stripMargin
    parts += """docs AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      | FROM documents)""".stripMargin
    parts
  }

  /** Frozen-stats drift oracle: per frozen query term (top-df over the
    * snapshot docs, ties lexicographic), the snapshot df against the
    * current full-corpus df and the integer cross-multiplied 1.5x
    * retrain bar — all integers, hash-exact. */
  private def textBm25DriftSql: String = {
    val nq = TextAnalysis.Bm25QueryTerms
    val pred = TextAnalysis.Bm25IncBatchPred
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |post AS (SELECT doc_id, unnest(w) AS term FROM d),
      |tfs AS (SELECT doc_id, term, COUNT(*) AS tf FROM post GROUP BY 1, 2),
      |dfs_f AS (SELECT term, COUNT(*) AS df FROM tfs
      |  WHERE NOT ($pred) GROUP BY 1),
      |q AS (SELECT term, df AS df_frozen FROM dfs_f
      |  ORDER BY df DESC, term LIMIT $nq),
      |dfs_c AS (SELECT term, COUNT(*) AS df_now FROM tfs GROUP BY 1)
      |SELECT term, df_frozen, df_now,
      |  df_now * ${TextAnalysis.Bm25DriftDen} >
      |    df_frozen * ${TextAnalysis.Bm25DriftNum} AS retrain
      |FROM q JOIN dfs_c USING (term)""".stripMargin
  }

  /** Hybrid-over-PERSISTED-arms oracle (VERDICT r9 #2): the lexical arm
    * is the BM25 arithmetic over full-corpus statistics (what the
    * one-shot postings index stores), the dense arm replicates the IVF
    * candidate stage EXACTLY (unrolled-Lloyd centroids, top-IvfProbes
    * probe for the query doc, nearest-list assignment over the corpus)
    * with the cosine quantized to 1e-7 fixed point — probing changes
    * recall vs the brute fusion, so the oracle must see the same
    * candidates, exactly as sim_ivf_topk's does — and the fusion is
    * the same exact integer floor-division RRF. */
  private def simHybridIndexSql: String = simHybridIndexSqlFrom(None, None)

  /** Hybrid oracle over the MAINTAINED arms (VERDICT r10 #4): the two
    * arms' own incremental contracts composed — the dense Lloyd chain
    * trains without tonight's vector batch (frozen quantizer) and the
    * lexical stats/dfs compute over the snapshot docs only (frozen
    * collection statistics); candidates stay full-corpus on both arms
    * (the maintained artifacts contain every posting). Fusion
    * arithmetic unchanged. */
  private def simHybridLifecycleSql: String =
    simHybridIndexSqlFrom(
      Some(a => s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})"),
      Some(s"NOT (${TextAnalysis.Bm25IncBatchPred})"))

  /** Hybrid oracle across the arms' HEAVY maintenance branches
    * (VERDICT r11 #1): the dense arm retrained (fresh quantizer over
    * the combined drifted corpus — trainPred None over the drifted
    * relation, exactly [[simIvfRetrainSql]]'s contract) and the
    * lexical arm re-stat'd (stats/dfs rebuilt over ALL postings —
    * statsPred None, exactly the `text_bm25_index_restat` contract,
    * which is hash-equal to the one-shot full-corpus build). The
    * documents table is untouched by the embedding drift, so the
    * FROM/JOIN retarget only moves the dense chain. */
  private def simHybridRetrainSql: String =
    overDriftedEmbeddings(simHybridIndexSqlFrom(None, None))

  private def simHybridIndexSqlFrom(trainPred: Option[String => String],
      statsPred: Option[String]): String = {
    val k = Similarity.HybridK; val depth = Similarity.HybridDepth
    val rrfK = Similarity.HybridRrfK; val qd = Similarity.HybridQueryDoc
    val nq = Similarity.HybridQueryTerms
    val sw = statsPred.map(p => s" WHERE $p").getOrElse("")
    val (parts, cc, fc) = lloydCtes(trainPred)
    parts += s"""probes AS (
      |  SELECT query_id, q_demb, q_nsq, cent_id FROM (
      |    SELECT v.vec_id AS query_id, v.demb AS q_demb, v.nsq AS q_nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id = $qd) t WHERE rn <= ${Similarity.IvfProbes})""".stripMargin
    parts += s"""assigned AS (
      |  SELECT cand_id, c_demb, c_nsq, cent_id FROM (
      |    SELECT v.vec_id AS cand_id, v.demb AS c_demb, v.nsq AS c_nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id >= 10) t WHERE rn = 1)""".stripMargin
    val sc = cosineSql("p.q_demb", "p.q_nsq", "a.c_demb", "a.c_nsq")
    parts += s"""den_top AS (SELECT doc_id, side_q FROM (
      |  SELECT a.cand_id AS doc_id,
      |    CAST(floor($sc * 10000000 + 0.5) AS BIGINT) AS side_q
      |  FROM probes p JOIN assigned a USING (cent_id))
      |  ORDER BY side_q DESC, doc_id LIMIT $depth)""".stripMargin
    parts += """den AS (SELECT doc_id, CAST(row_number() OVER
      |  (ORDER BY side_q DESC, doc_id) AS BIGINT) AS vec_rank FROM den_top)""".stripMargin
    parts += "d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
    parts += "lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM d)"
    parts += s"stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens$sw)"
    parts += """tfs AS (SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY 1, 2)""".stripMargin
    parts += s"""qterms AS (SELECT term FROM tfs WHERE doc_id = $qd
      |  ORDER BY tf DESC, term LIMIT $nq)""".stripMargin
    parts += s"dfs AS (SELECT term, COUNT(*) AS df FROM tfs$sw GROUP BY 1)"
    parts += "q AS (SELECT dfs.term, df FROM dfs JOIN qterms USING (term))"
    parts += s"""lex_top AS (SELECT doc_id, SUM(qv) AS side_q FROM (
      |  SELECT t.doc_id, CAST(floor(
      |    (44 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE))
      |    / (20 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE)
      |       + 6 * CAST(s.total_len AS DOUBLE)
      |       + 18 * CAST(l.len AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
      |    * ((2 * CAST(s.n_docs AS DOUBLE) - 2 * CAST(q.df AS DOUBLE) + 1)
      |       / (2 * CAST(q.df AS DOUBLE) + 1)) * 10000000 + 0.5) AS BIGINT) AS qv
      |  FROM tfs t JOIN q USING (term) JOIN lens l ON l.doc_id = t.doc_id, stats s
      |  WHERE t.doc_id <> $qd)
      |  GROUP BY doc_id ORDER BY side_q DESC, doc_id LIMIT $depth)""".stripMargin
    parts += """lex AS (SELECT doc_id, CAST(row_number() OVER
      |  (ORDER BY side_q DESC, doc_id) AS BIGINT) AS lex_rank FROM lex_top)""".stripMargin
    parts += s"""fused AS (SELECT COALESCE(l.doc_id, dn.doc_id) AS doc_id,
      |    lex_rank, vec_rank,
      |    COALESCE(1000000000 // ($rrfK + lex_rank), 0)
      |      + COALESCE(1000000000 // ($rrfK + vec_rank), 0) AS rrf_q
      |  FROM lex l FULL JOIN den dn ON l.doc_id = dn.doc_id)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT doc_id, COALESCE(lex_rank, CAST(0 AS BIGINT)) AS lex_rank,
      |  COALESCE(vec_rank, CAST(0 AS BIGINT)) AS vec_rank,
      |  CAST(rrf_q AS DOUBLE) / 1000000000 AS rrf_score,
      |  CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rank
      |FROM fused ORDER BY rrf_q DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Batched hybrid oracle: [[simHybridIndexSql]] generalized to the
    * HybridBatchDocs query set — every per-query stage becomes a
    * PARTITION BY query_doc row_number with the same (score desc, id)
    * total order the bounded-buffer top-k uses, so the fusion is
    * hash-exact per query. */
  private def simHybridBatchSql: String =
    simHybridBatchSqlFor(s"< ${Similarity.HybridBatchDocs}")

  /** The batched oracle for an arbitrary bounded query-id set —
    * `qpred` is the SQL tail of the query-membership predicate (e.g.
    * `"< 5"`, `"IN (0, 1, 2)"`); the streaming serving gate shares
    * this with its staged micro-batch ids. */
  private def simHybridBatchSqlFor(qpred: String): String = {
    val k = Similarity.HybridK; val depth = Similarity.HybridDepth
    val rrfK = Similarity.HybridRrfK
    val nq = Similarity.HybridQueryTerms
    val (parts, cc, fc) = lloydCtes()
    parts += s"""probes AS (
      |  SELECT query_id, q_demb, q_nsq, cent_id FROM (
      |    SELECT v.vec_id AS query_id, v.demb AS q_demb, v.nsq AS q_nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id $qpred) t WHERE rn <= ${Similarity.IvfProbes})""".stripMargin
    parts += s"""assigned AS (
      |  SELECT cand_id, c_demb, c_nsq, cent_id FROM (
      |    SELECT v.vec_id AS cand_id, v.demb AS c_demb, v.nsq AS c_nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id >= 10) t WHERE rn = 1)""".stripMargin
    val sc = cosineSql("p.q_demb", "p.q_nsq", "a.c_demb", "a.c_nsq")
    parts += s"""den AS (SELECT query_doc, doc_id,
      |    CAST(rn AS BIGINT) AS vec_rank FROM (
      |  SELECT query_doc, doc_id,
      |    row_number() OVER (PARTITION BY query_doc
      |      ORDER BY side_q DESC, doc_id) AS rn
      |  FROM (SELECT p.query_id AS query_doc, a.cand_id AS doc_id,
      |      CAST(floor($sc * 10000000 + 0.5) AS BIGINT) AS side_q
      |    FROM probes p JOIN assigned a USING (cent_id)) s0) t
      |  WHERE rn <= $depth)""".stripMargin
    parts += "d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
    parts += "lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM d)"
    parts += "stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens)"
    parts += """tfs AS (SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY 1, 2)""".stripMargin
    parts += s"""qterms AS (SELECT query_doc, term FROM (
      |  SELECT doc_id AS query_doc, term,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS qrn
      |  FROM tfs WHERE doc_id $qpred) t WHERE qrn <= $nq)""".stripMargin
    parts += "dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1)"
    parts += "q AS (SELECT qt.query_doc, qt.term, dfs.df FROM qterms qt JOIN dfs USING (term))"
    parts += s"""lex AS (SELECT query_doc, doc_id,
      |    CAST(rnl AS BIGINT) AS lex_rank FROM (
      |  SELECT query_doc, doc_id,
      |    row_number() OVER (PARTITION BY query_doc
      |      ORDER BY side_q DESC, doc_id) AS rnl
      |  FROM (SELECT q.query_doc, t.doc_id, SUM(CAST(floor(
      |      (44 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE))
      |      / (20 * CAST(t.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE)
      |         + 6 * CAST(s.total_len AS DOUBLE)
      |         + 18 * CAST(l.len AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
      |      * ((2 * CAST(s.n_docs AS DOUBLE) - 2 * CAST(q.df AS DOUBLE) + 1)
      |         / (2 * CAST(q.df AS DOUBLE) + 1)) * 10000000 + 0.5) AS BIGINT)) AS side_q
      |    FROM tfs t JOIN q ON q.term = t.term
      |    JOIN lens l ON l.doc_id = t.doc_id, stats s
      |    WHERE t.doc_id <> q.query_doc
      |    GROUP BY q.query_doc, t.doc_id) s1) t WHERE rnl <= $depth)""".stripMargin
    parts += s"""fused AS (SELECT COALESCE(l.query_doc, dn.query_doc) AS query_doc,
      |    COALESCE(l.doc_id, dn.doc_id) AS doc_id, lex_rank, vec_rank,
      |    COALESCE(1000000000 // ($rrfK + lex_rank), 0)
      |      + COALESCE(1000000000 // ($rrfK + vec_rank), 0) AS rrf_q
      |  FROM lex l FULL JOIN den dn
      |    ON l.query_doc = dn.query_doc AND l.doc_id = dn.doc_id)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT query_doc, doc_id,
      |  COALESCE(lex_rank, CAST(0 AS BIGINT)) AS lex_rank,
      |  COALESCE(vec_rank, CAST(0 AS BIGINT)) AS vec_rank,
      |  CAST(rrf_q AS DOUBLE) / 1000000000 AS rrf_score,
      |  CAST(row_number() OVER (PARTITION BY query_doc
      |    ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rank
      |FROM fused
      |QUALIFY rank <= $k""".stripMargin
  }

  private def simIvfTopkSql: String = simIvfTopkSqlFrom(None)

  /** The incremental-index oracle IS the IVF oracle with the quantizer
    * trained on everything but tonight's batch — the frozen-quantizer
    * contract of FAISS `add`: snapshot postings + appended batch under
    * frozen centroids serve bit-identically to a one-shot build that
    * trains without the batch and assigns the full corpus. */
  private def simIvfIncTopkSql: String =
    simIvfTopkSqlFrom(Some(a =>
      s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})"))

  /** Oracle for the retrain-vs-append drift report: the SAME frozen
    * quantizer (unrolled Lloyd without the batch), per-vector best
    * cosine via MAX over the centroid set, 1e-7 fixed-point means
    * (floor-quantized BIGINT sums are exact and order-independent in
    * both engines), and the bar comparison itself. */
  private def simIvfIncDriftSql: String =
    simIvfIncDriftSqlFrom(Some(a =>
      s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})"))

  /** The drift-report oracle against an arbitrary QUANTIZER contract:
    * `trainPred` Some(frozen) replicates the incremental artifact
    * (train without the batch), None the retrained one (train on the
    * full relation) — the executor's post-retrain re-consults need the
    * latter. */
  private def simIvfIncDriftSqlFrom(
      trainPred: Option[String => String]): String = {
    val (parts, cc, fc) = lloydCtes(trainPred)
    parts += s"""best AS (
      |  SELECT v.vec_id, MAX($cc) AS bc
      |  FROM e v, $fc c WHERE v.vec_id >= 10 GROUP BY v.vec_id)""".stripMargin
    def meanQ(where: String) =
      s"""(SELECT CAST(SUM(CAST(floor(bc * 10000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |  / 10000000 / COUNT(*) FROM best WHERE $where)""".stripMargin
    s"""WITH ${parts.mkString(",\n")},
      |m AS (SELECT ${meanQ("NOT (vec_id % 10 = 3)")} AS snap_mean,
      |  ${meanQ("vec_id % 10 = 3")} AS batch_mean)
      |SELECT snap_mean, batch_mean, snap_mean - batch_mean AS drift,
      |  (snap_mean - batch_mean) > ${Similarity.IvfIncDriftBar} AS retrain
      |FROM m""".stripMargin
  }

  /** Rewrites a WITH-chain oracle to run over the DRIFTED corpus: every
    * reference to the `embeddings` TABLE retargets to a prepended
    * `drifted_embeddings` CTE in which tonight's batch rows carry the
    * spike embedding (same FLOAT bits as Similarity.spikeEmb: DuckDB
    * CAST(… AS REAL) ≡ Spark CAST(… AS FLOAT)). The retrain-branch gate
    * must then equal the UNMODIFIED from-scratch oracle over this
    * relation — training, encode, assignment, refine and serving all
    * see the combined (snapshot + drifted batch) corpus. */
  private def retargetEmbeddings(sql: String, rel: String): String = {
    require(sql.startsWith("WITH "), "oracle must be a WITH chain")
    // retarget ONLY relation positions — the token directly after a
    // FROM or JOIN keyword (ADVICE r11 #1: a blind whole-token rewrite
    // would silently corrupt a future oracle using `embeddings` as a
    // CTE name, alias, or string literal). The coverage require below
    // proves no standalone reference survives OUTSIDE those positions,
    // so a future oracle shape that this rewrite cannot see fails
    // loudly here instead of hash-failing downstream.
    // case-insensitive like the rewrite itself (ADVICE r12 #2): an
    // uppercase EMBEDDINGS outside relation position must COUNT as a
    // survivor, not silently escape both the rewrite and the require
    val token = "(?i)(?<![A-Za-z0-9_])embeddings(?![A-Za-z0-9_])".r
    val total = token.findAllIn(sql).size
    val rewritten = sql.replaceAll(
      "(?i)\\b(FROM|JOIN)(\\s+)embeddings(?![A-Za-z0-9_])",
      s"$$1$$2$rel")
    val left = token.findAllIn(rewritten).size
    require(left == 0,
      s"retargetEmbeddings: $left of $total `embeddings` references " +
        "are not in FROM/JOIN relation position — parameterize the " +
        "base oracle builder instead of relying on this rewrite")
    rewritten.stripPrefix("WITH ")
  }

  private def driftedEmbeddingsCte: String =
    s"""drifted_embeddings AS (SELECT vec_id,
       |  CASE WHEN ${Similarity.IvfIncBatchPred}
       |   THEN list_transform(range(1, len(embedding)+1),
       |     i -> CAST(CASE WHEN i = 1 THEN 100.0 ELSE 0.0 END AS REAL))
       |   ELSE embedding END AS embedding FROM embeddings)""".stripMargin

  private def overDriftedEmbeddings(sql: String): String =
    s"""WITH $driftedEmbeddingsCte,
       |${retargetEmbeddings(sql, "drifted_embeddings")}""".stripMargin

  /** The dedup-routed relation (the executor's escalation): tonight's
    * batch exact-deduped to its lowest-vec_id representative per
    * distinct embedding (list equality is exact — the spike rows are
    * bit-identical REAL lists in both engines), snapshot rows
    * untouched. Mirrors Similarity.dedupedDriftedEmbeddings. */
  private def overDedupedEmbeddings(sql: String): String = {
    val pred = Similarity.IvfIncBatchPred
    val pred2 = pred.replace("vec_id", "d2.vec_id")
    s"""WITH $driftedEmbeddingsCte,
       |dedup_embeddings AS (SELECT vec_id, embedding
       |  FROM drifted_embeddings d
       |  WHERE NOT ($pred) OR NOT EXISTS (
       |    SELECT 1 FROM drifted_embeddings d2
       |    WHERE ($pred2) AND d2.embedding = d.embedding
       |      AND d2.vec_id < d.vec_id)),
       |${retargetEmbeddings(sql, "dedup_embeddings")}""".stripMargin
  }

  /** Retrain-branch oracle (VERDICT r10 #2): the from-scratch composed
    * IVFPQ oracle — fresh unrolled-Lloyd quantizer, fresh stride
    * codebook, full encode, probed + refined serving — over the
    * drifted relation. What snapshot → drift → RETRAIN → serve must
    * reproduce hash-exactly. */
  private def simIvfPqRetrainSql: String =
    overDriftedEmbeddings(simIvfPqTopkSql)

  /** The uncompressed-family twin: the from-scratch IVF oracle over
    * the drifted relation — what the imbalance-triggered retrain's
    * serving must equal. */
  private def simIvfRetrainSql: String =
    overDriftedEmbeddings(simIvfTopkSql)

  /** Imbalance-report oracle: the frozen-quantizer assignment (the
    * incremental-index contract — the artifact the nightly job
    * inspects) counted per inverted list; all integers, integer
    * cross-multiplied 2×-mean bar. DuckDB SUM(BIGINT) is HUGEINT —
    * cast the projected columns back to BIGINT (the comparison itself
    * is exact in either width). */
  private def simIvfImbalanceSql: String =
    simIvfImbalanceSqlFrom(Some(a =>
      s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})"))

  /** As [[simIvfIncDriftSqlFrom]]: the imbalance count under an
    * arbitrary quantizer contract (frozen vs retrained). */
  private def simIvfImbalanceSqlFrom(
      trainPred: Option[String => String]): String = {
    val (parts, cc, fc) = lloydCtes(trainPred)
    parts += s"""assigned AS (
      |  SELECT cand_id, cent_id FROM (
      |    SELECT v.vec_id AS cand_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id >= 10) t WHERE rn = 1)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT CAST(MAX(c) AS BIGINT) AS max_list,
      |  CAST(SUM(c) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_lists,
      |  MAX(c) * COUNT(*) > ${Similarity.IvfImbalanceBar} * SUM(c) AS retrain
      |FROM (SELECT cent_id, COUNT(*) AS c FROM assigned GROUP BY 1) t""".stripMargin
  }

  /** Maintenance-planner oracle (VERDICT r11 #7): the nightly decision
    * table replicated consult by consult — each `fired` scalar embeds
    * the consult's OWN oracle chain verbatim as a derived-table
    * subquery (CTE scopes are per-subquery, so the Lloyd chains cannot
    * collide), the skewed artifact's consults run over the drifted
    * relation via the standard rewrite, and the escalation rule (any
    * fired consult → the family's heavy verb, else append) is one
    * BOOL_OR per artifact. The ivfpq rows reuse the uncompressed
    * chains where the recomputation is the identical expression (same
    * frozen quantizer, same corpus — the `sim_ivf_pq_index_imbalance`
    * precedent). */
  private def one(sql: String) = s"(SELECT retrain FROM (\n$sql\n) z)"

  /** The small-files consults' oracle side: the FS file count itself
    * cannot be recomputed from the tables, but the layout CONTRACT can
    * — a full write leaves exactly one file per list (Similarity.writeIndex /
    * buildBm25Index repartition on the list key) and each append only
    * adds files, so for a maintained main `fired ⟺ tonight's batch is
    * non-empty`, and for a freshly compacted or fully rewritten
    * artifact `fired = FALSE`. A writer-layout regression breaks that
    * equivalence and hash-fails the planner gate loudly. */
  private def embBatchNonEmpty: String =
    s"(SELECT COUNT(*) > 0 FROM embeddings WHERE ${Similarity.IvfIncBatchPred})"
  private def docBatchNonEmpty: String =
    s"(SELECT COUNT(*) > 0 FROM documents WHERE ${TextAnalysis.Bm25IncBatchPred})"

  /** One (artifact, consult) row set of the planner/executor oracles:
    * every consult chain at PLAN time. `heavy` is the family's heavy
    * verb; small_files escalates to compact; the strongest fired
    * consult picks the verb. */
  private case class PlanRowSql(artifact: String, heavy: String,
      consult: String, fired: String, firedApplied: String,
      firedFinal: String)

  /** The 15 consult rows shared by [[simMaintenancePlanSql]] (which
    * uses only `fired`) and [[simMaintenanceApplySql]] (all three
    * stages). Chains at a glance:
    *  - frozen-quantizer drift/imbalance for the maintained mains
    *    (the compact verb moves rows between files, never changes
    *    them, so applied/final chains are identical and small_files
    *    drops to constant FALSE);
    *  - drifted rewrites for the skewed artifact at plan time; the
    *    retrained (fresh-quantizer, trainPred = None) chains over the
    *    drifted relation after the planned retrain — where imbalance
    *    provably STILL fires; and the same fresh-quantizer chains over
    *    the DEDUPED relation after the escalation, where everything
    *    clears. */
  private def maintenanceRowSqls: Seq[PlanRowSql] = {
    val bm25Fired =
      s"(SELECT COUNT(*) FILTER (WHERE retrain) > 0 FROM (\n$textBm25DriftSql\n) z)"
    val ivfDrift = one(simIvfIncDriftSql)
    val ivfImb = one(simIvfImbalanceSql)
    val skewDrift = one(overDriftedEmbeddings(simIvfIncDriftSql))
    val skewImb = one(overDriftedEmbeddings(simIvfImbalanceSql))
    val retrDrift = one(overDriftedEmbeddings(simIvfIncDriftSqlFrom(None)))
    val retrImb = one(overDriftedEmbeddings(simIvfImbalanceSqlFrom(None)))
    val ddrtDrift = one(overDedupedEmbeddings(simIvfIncDriftSqlFrom(None)))
    val ddrtImb = one(overDedupedEmbeddings(simIvfImbalanceSqlFrom(None)))
    val pqBook = one(simIvfPqIncDriftSql)
    val F = "FALSE"
    Seq(
      // CORPUS-PINNED (ADVICE r13 #2): the applied/final chains reuse
      // the PLAN chain (bm25Fired) — valid only because df_staleness
      // does NOT fire on the gate corpus, so bm25_main's applied verb
      // is compact (small_files), which moves rows between files and
      // preserves the dfs the consult reads. If df_staleness ever
      // fired here, restat would clear it on the Spark side while this
      // oracle still claimed fired and routed verb_final into the
      // dedup_retrain ladder (a verb the executor throws on for bm25);
      // the hash gate would fail LOUDLY, which is the desired failure
      // mode — but the fix is then to model the post-restat chain
      // (df_frozen := df_now) explicitly, not to widen the ladder.
      PlanRowSql("bm25_main", "restat", "df_staleness",
        bm25Fired, bm25Fired, bm25Fired),
      PlanRowSql("bm25_main", "restat", "small_files",
        docBatchNonEmpty, F, F),
      PlanRowSql("ivf_compacted", "retrain", "coarse_drift",
        ivfDrift, ivfDrift, ivfDrift),
      PlanRowSql("ivf_compacted", "retrain", "list_imbalance",
        ivfImb, ivfImb, ivfImb),
      PlanRowSql("ivf_compacted", "retrain", "small_files", F, F, F),
      PlanRowSql("ivf_main", "retrain", "coarse_drift",
        ivfDrift, ivfDrift, ivfDrift),
      PlanRowSql("ivf_main", "retrain", "list_imbalance",
        ivfImb, ivfImb, ivfImb),
      PlanRowSql("ivf_main", "retrain", "small_files",
        embBatchNonEmpty, F, F),
      PlanRowSql("ivf_skewed", "retrain", "coarse_drift",
        skewDrift, retrDrift, ddrtDrift),
      PlanRowSql("ivf_skewed", "retrain", "list_imbalance",
        skewImb, retrImb, ddrtImb),
      PlanRowSql("ivf_skewed", "retrain", "small_files",
        embBatchNonEmpty, F, F),
      PlanRowSql("ivfpq_main", "retrain", "coarse_drift",
        ivfDrift, ivfDrift, ivfDrift),
      PlanRowSql("ivfpq_main", "retrain", "codebook_drift",
        pqBook, pqBook, pqBook),
      PlanRowSql("ivfpq_main", "retrain", "list_imbalance",
        ivfImb, ivfImb, ivfImb),
      PlanRowSql("ivfpq_main", "retrain", "small_files",
        embBatchNonEmpty, F, F))
  }

  /** Maintenance-planner oracle (VERDICT r11 #7, + r12 #4's
    * small-files consult and the compacted artifact's healthy row):
    * the nightly decision table replicated consult by consult — each
    * `fired` scalar embeds the consult's OWN oracle chain verbatim as
    * a derived-table subquery (CTE scopes are per-subquery, so the
    * Lloyd chains cannot collide), the skewed artifact's consults run
    * over the drifted relation via the standard rewrite, and the
    * escalation rule (strongest fired consult: heavy > compact >
    * append) is grouped BOOL_ORs per artifact. The ivfpq rows reuse
    * the uncompressed chains where the recomputation is the identical
    * expression (same frozen quantizer, same corpus). */
  private def simMaintenancePlanSql: String = {
    val rows = maintenanceRowSqls.map(r =>
      s"SELECT '${r.artifact}' AS artifact, '${r.heavy}' AS heavy, " +
        s"'${r.consult}' AS consult, ${r.fired} AS fired")
    s"""WITH c AS (
      |${rows.mkString("\nUNION ALL ")}),
      |esc AS (SELECT artifact,
      |  BOOL_OR(fired AND consult <> 'small_files') AS heavyf,
      |  BOOL_OR(fired AND consult = 'small_files') AS smallf
      | FROM c GROUP BY artifact)
      |SELECT c.artifact, c.consult, c.fired,
      |  CASE WHEN e.heavyf THEN c.heavy
      |       WHEN e.smallf THEN 'compact' ELSE 'append' END AS verb
      |FROM c JOIN esc e ON e.artifact = c.artifact""".stripMargin
  }

  /** Nightly-EXECUTOR oracle (VERDICT r12 #3): all three consult
    * stages of every row recomputed from the tables — plan verdicts,
    * verdicts after the planned verb, and verdicts after the
    * escalation where the planned verb provably cannot clear its own
    * trigger (the retrain → dedup-route ladder). Verb columns are the
    * same grouped escalation rule applied at plan time and after:
    * any consult still fired after the planned verb escalates it
    * (retrain → dedup_retrain is the only ladder — anything else
    * still fired makes the Spark side throw before a row exists). */
  private def simMaintenanceApplySql: String = {
    val rows = maintenanceRowSqls.map(r =>
      s"SELECT '${r.artifact}' AS artifact, '${r.heavy}' AS heavy, " +
        s"'${r.consult}' AS consult, ${r.fired} AS fired, " +
        s"${r.firedApplied} AS fired_applied, ${r.firedFinal} AS fired_final")
    s"""WITH c AS (
      |${rows.mkString("\nUNION ALL ")}),
      |esc AS (SELECT artifact,
      |  BOOL_OR(fired AND consult <> 'small_files') AS heavyf,
      |  BOOL_OR(fired AND consult = 'small_files') AS smallf,
      |  BOOL_OR(fired_applied) AS stillf
      | FROM c GROUP BY artifact)
      |SELECT c.artifact, c.consult, c.fired,
      |  CASE WHEN e.heavyf THEN c.heavy
      |       WHEN e.smallf THEN 'compact' ELSE 'append' END AS verb,
      |  c.fired_applied,
      |  CASE WHEN e.stillf THEN 'dedup_retrain'
      |       WHEN e.heavyf THEN c.heavy
      |       WHEN e.smallf THEN 'compact' ELSE 'append' END AS verb_final,
      |  c.fired_final
      |FROM c JOIN esc e ON e.artifact = c.artifact""".stripMargin
  }

  private def simIvfTopkSqlFrom(trainPred: Option[String => String]): String = {
    val (parts, cc, fc) = lloydCtes(trainPred)
    parts += s"""probes AS (
      |  SELECT query_id, q_demb, q_nsq, cent_id FROM (
      |    SELECT v.vec_id AS query_id, v.demb AS q_demb, v.nsq AS q_nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id < 10) t WHERE rn <= ${Similarity.IvfProbes})""".stripMargin
    parts += s"""assigned AS (
      |  SELECT cand_id, c_demb, c_nsq, cent_id FROM (
      |    SELECT v.vec_id AS cand_id, v.demb AS c_demb, v.nsq AS c_nsq, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id >= 10) t WHERE rn = 1)""".stripMargin
    val sc = cosineSql("p.q_demb", "p.q_nsq", "a.c_demb", "a.c_nsq")
    s"""WITH ${parts.mkString(",\n")}
      |SELECT query_id, cand_id, cosine, rank FROM (
      |  SELECT p.query_id, a.cand_id, $sc AS cosine,
      |    CAST(row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY $sc DESC, a.cand_id) AS BIGINT) AS rank
      |  FROM probes p JOIN assigned a USING (cent_id)) t
      |WHERE rank <= ${Similarity.K}""".stripMargin
  }

  /** PQ oracle: replicate the stride-sampled codebook, the per-subspace
    * argmin encode (row_number over the same sequential-fold L2, ties
    * to the lowest code id) and the codeword reconstruction, then rank
    * by the shared cosine formulation. Mirrors Similarity.pqTopK
    * decision for decision. */
  private def simPqTopkSql: String = {
    val m = Similarity.PqSubspaces
    val k = Similarity.PqCodewords
    val l2 = (vec: String) =>
      s"""list_sum(list_transform(list_zip($vec, s.csub),
         |       x -> (x[1]-x[2])*(x[1]-x[2])))""".stripMargin
    s"""WITH p AS (SELECT GREATEST(1, COUNT(*) // $k) AS stride,
      |  (SELECT len(embedding) // $m FROM embeddings LIMIT 1) AS sub FROM embeddings),
      | book AS (SELECT vec_id // stride AS code_id, embedding AS cw
      |  FROM embeddings, p WHERE vec_id % stride = 0 AND vec_id // stride < $k),
      | subs AS (SELECT code_id, m.m AS m,
      |   CAST(list_slice(cw, m.m*sub+1, (m.m+1)*sub) AS DOUBLE[]) AS csub
      |  FROM book, p, range(0,$m) m(m)),
      | enc AS (SELECT cand_id, m, csub FROM (
      |   SELECT c.vec_id AS cand_id, s.m, s.csub,
      |     row_number() OVER (PARTITION BY c.vec_id, s.m ORDER BY
      |       ${l2(s"CAST(list_slice(c.embedding, s.m*p.sub+1, (s.m+1)*p.sub) AS DOUBLE[])")} ASC,
      |       s.code_id ASC) AS rn
      |   FROM embeddings c, subs s, p WHERE c.vec_id >= 10) t WHERE rn = 1),
      | recon AS (SELECT cand_id, remb, list_sum(list_transform(remb, x -> x*x)) AS rnsq
      |  FROM (SELECT cand_id, flatten(list(csub ORDER BY m)) AS remb FROM enc GROUP BY cand_id) f),
      | q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb,
      |   list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) AS qnsq
      |  FROM embeddings WHERE vec_id < 10)
      |SELECT query_id, cand_id, cosine, rank FROM (
      |  SELECT q.query_id, r.cand_id,
      |    ${cosineSql("q.qemb", "q.qnsq", "r.remb", "r.rnsq")} AS cosine,
      |    CAST(row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY ${cosineSql("q.qemb", "q.qnsq", "r.remb", "r.rnsq")} DESC, r.cand_id)
      |      AS BIGINT) AS rank
      |  FROM q, recon r) t WHERE rank <= ${Similarity.K}""".stripMargin
  }

  /** Composed IVF+PQ+refine oracle: the unrolled-Lloyd centroid CTEs
    * (shared with the IVF oracle) restrict candidates to the probed
    * lists, the PQ oracle's codebook/encode/reconstruct CTEs supply the
    * coarse score, top-RerankCoarse per query by reconstructed cosine,
    * then the exact-embedding re-rank to top-K. Every arithmetic step
    * is lifted verbatim from the two standalone oracles, so the
    * composition stays hash-exact. */
  private def simIvfPqTopkSql: String = simIvfPqTopkSqlFrom(None)

  /** The incremental-IVFPQ oracle: the composed IVFPQ oracle with BOTH
    * training stages (Lloyd centroids and the stride codebook)
    * restricted to everything but tonight's batch — the frozen
    * quantizer-and-codebook contract of the compressed index's `add`. */
  private def simIvfPqIncTopkSql: String =
    simIvfPqTopkSqlFrom(Some(a =>
      s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})"))

  /** The PQ codebook/encode/reconstruct CTE chain (pqp, book, subs,
    * enc, recon) — every candidate (vec_id ≥ 10) encoded against the
    * stride codebook trained on `trainPred` rows, reconstructed with
    * its norm. Shared by the IVFPQ retrieval oracles and the codebook
    * drift oracle so the arithmetic can never diverge. */
  private def pqReconCtes(trainPred: Option[String => String]): Seq[String] = {
    val m = Similarity.PqSubspaces
    val k = Similarity.PqCodewords
    val l2 = (vec: String) =>
      s"""list_sum(list_transform(list_zip($vec, s.csub),
         |       x -> (x[1]-x[2])*(x[1]-x[2])))""".stripMargin
    val pw = trainPred.map(p => s" WHERE ${p("")}").getOrElse("")
    val bw = trainPred.map(p => s"${p("")} AND ").getOrElse("")
    Seq(
      s"""pqp AS (SELECT GREATEST(1, COUNT(*) // $k) AS stride,
      |  (SELECT len(embedding) // $m FROM embeddings LIMIT 1) AS sub FROM embeddings$pw)""".stripMargin,
      s"""book AS (SELECT vec_id // stride AS code_id, embedding AS cw
      |  FROM embeddings, pqp WHERE ${bw}vec_id % stride = 0 AND vec_id // stride < $k)""".stripMargin,
      s"""subs AS (SELECT code_id, m.m AS m,
      |   CAST(list_slice(cw, m.m*sub+1, (m.m+1)*sub) AS DOUBLE[]) AS csub
      |  FROM book, pqp, range(0,$m) m(m))""".stripMargin,
      s"""enc AS (SELECT cand_id, m, csub FROM (
      |   SELECT c.vec_id AS cand_id, s.m, s.csub,
      |     row_number() OVER (PARTITION BY c.vec_id, s.m ORDER BY
      |       ${l2(s"CAST(list_slice(c.embedding, s.m*pqp.sub+1, (s.m+1)*pqp.sub) AS DOUBLE[])")} ASC,
      |       s.code_id ASC) AS rn
      |   FROM embeddings c, subs s, pqp WHERE c.vec_id >= 10) t WHERE rn = 1)""".stripMargin,
      """recon AS (SELECT cand_id, remb, list_sum(list_transform(remb, x -> x*x)) AS rnsq
      |  FROM (SELECT cand_id, flatten(list(csub ORDER BY m)) AS remb FROM enc GROUP BY cand_id) f)""".stripMargin)
  }

  /** Oracle for the PQ-codebook drift report: the FROZEN codebook CTEs
    * (trained without the batch), every candidate's reconstruction
    * cosine against its own embedding quantized to 1e-7 fixed point,
    * per-side means via exact BIGINT sums, and the bar comparison. */
  private def simIvfPqIncDriftSql: String = {
    import graft.functions.Planes.cosineSql
    val batch = Similarity.IvfIncBatchPred
    val parts = scala.collection.mutable.ArrayBuffer(
      """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS demb,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) AS nsq
        | FROM embeddings)""".stripMargin)
    parts ++= pqReconCtes(Some(a =>
      s"NOT (${batch.replace("vec_id", a + "vec_id")})"))
    val sc = cosineSql("v.demb", "v.nsq", "r.remb", "r.rnsq")
    parts += s"""best AS (SELECT r.cand_id,
      |  CAST(floor($sc * 10000000 + 0.5) AS BIGINT) AS q
      |  FROM recon r JOIN e v ON v.vec_id = r.cand_id)""".stripMargin
    def meanQ(w: String) =
      s"(SELECT CAST(SUM(q) AS DOUBLE) / 10000000 / COUNT(*) FROM best WHERE $w)"
    s"""WITH ${parts.mkString(",\n")},
      |m AS (SELECT ${meanQ("NOT (cand_id % 10 = 3)")} AS snap_mean,
      |  ${meanQ("cand_id % 10 = 3")} AS batch_mean)
      |SELECT snap_mean, batch_mean, snap_mean - batch_mean AS drift,
      |  (snap_mean - batch_mean) > ${Similarity.PqIncDriftBar} AS retrain
      |FROM m""".stripMargin
  }

  /** `candPred` restricts the CANDIDATE side (vectors arrived so far —
    * the two-night promotion points); `nightTag` wraps the query as
    * one UNION-able night row set (the simIvfTwoNightSql shape). */
  private def simIvfPqTopkSqlFrom(trainPred: Option[String => String],
      candPred: Option[String] = None,
      nightTag: Option[Int] = None): String = {
    import graft.functions.Planes.cosineSql
    val (parts, cc, fc) = lloydCtes(trainPred)
    val cp = candPred.map(p => s" AND ($p)").getOrElse("")
    parts += s"""probes AS (
      |  SELECT query_id, cent_id FROM (
      |    SELECT v.vec_id AS query_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id < 10) t WHERE rn <= ${Similarity.IvfProbes})""".stripMargin
    parts += s"""assigned AS (
      |  SELECT cand_id, cent_id FROM (
      |    SELECT v.vec_id AS cand_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY $cc DESC, c.cent_id) AS rn
      |    FROM e v, $fc c WHERE v.vec_id >= 10$cp) t WHERE rn = 1)""".stripMargin
    parts ++= pqReconCtes(trainPred)
    val pqCos = cosineSql("eq.demb", "eq.nsq", "r.remb", "r.rnsq")
    parts += s"""coarse AS (SELECT p.query_id, a.cand_id, $pqCos AS pq_cos
      |  FROM probes p JOIN assigned a USING (cent_id)
      |  JOIN recon r ON r.cand_id = a.cand_id
      |  JOIN e eq ON eq.vec_id = p.query_id)""".stripMargin
    parts += s"""topc AS (SELECT query_id, cand_id FROM (
      |  SELECT query_id, cand_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY pq_cos DESC, cand_id) AS crn
      |  FROM coarse) t WHERE crn <= ${Similarity.RerankCoarse})""".stripMargin
    val sc = cosineSql("eq.demb", "eq.nsq", "ec.demb", "ec.nsq")
    val nightCol = nightTag.map(n => s"CAST($n AS BIGINT) AS night, ")
      .getOrElse("")
    val (open, close) = nightTag.map(_ => ("SELECT * FROM (", ")"))
      .getOrElse(("", ""))
    s"""${open}WITH ${parts.mkString(",\n")}
      |SELECT ${nightCol}query_id, cand_id, cosine, rank FROM (
      |  SELECT query_id, cand_id, $sc AS cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY $sc DESC, cand_id) AS BIGINT) AS rank
      |  FROM topc JOIN e eq ON eq.vec_id = query_id
      |  JOIN e ec ON ec.vec_id = cand_id) t
      |WHERE rank <= ${Similarity.K}$close""".stripMargin
  }

  /** Two-night compressed oracle: the incremental-IVFPQ oracle (frozen
    * quantizer AND codebook — trained without the full batch) with the
    * candidate side restricted to the vectors arrived by each night,
    * UNION'd under night tags — each night exactly the one-shot
    * frozen-codebook build over that night's corpus. */
  private def simPqTwoNightSql: String = {
    val frozen: Option[String => String] = Some(a =>
      s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})")
    simIvfPqTopkSqlFrom(frozen,
      Some("NOT (v.vec_id % 10 = 3 AND (v.vec_id // 10) % 2 = 1)"),
      Some(1)) +
      "\nUNION ALL\n" + simIvfPqTopkSqlFrom(frozen, None, Some(2))
  }

  /** Perceptual-hash near-dup oracle (both forms): 64 proportional
    * byte samples thresholded against the sample mean (byte·64 ≥ Σ —
    * no division) into 4×16-bit bands; banded candidates; exact
    * hamming verify. `capped` replicates phashDedupCapped's
    * stop-bucket HAVING at the candidate stage. */
  /** `variant`: "plain" (variant-tail payloads), "capped" (planted
    * degenerate clique + stop-bucket HAVING), or "unicode" (multi-byte
    * tails + empty payloads — DuckDB's len/substr/ascii are codepoint-
    * based exactly like the fused kernel's codepoint scan, so the row
    * stays hash-exact). */
  private def mmPhashSql(variant: String): String = {
    // both the planted-ASCII gate and the unicode gate are CAPPED
    // (VERDICT r15 #2): over-cap band buckets drop at the candidate
    // stage, HAVING-replicated here so the row stays hash-exact
    val maxBucket = variant match {
      case "capped" => Some(Multimodal.PhashMaxBucket)
      case "unicode" => Some(Multimodal.PhashUnicodeMaxBucket)
      case _ => None
    }
    val candSrc = if (maxBucket.isDefined) "keptb" else "bands"
    val cappedCtes = maxBucket.map(cap =>
      s"""okb AS (SELECT band, band_val FROM bands GROUP BY 1, 2
        |  HAVING COUNT(*) <= $cap),
        |keptb AS (SELECT b.doc_id, b.band, b.band_val
        |  FROM bands b JOIN okb USING (band, band_val)),
        |""".stripMargin).getOrElse("")
    // the capped gate runs over the PLANTED corpus: doc_id % 13 = 0
    // docs all carry doc 0's text verbatim (one degenerate clique)
    val mCte = variant match {
      case "capped" =>
        """m AS (SELECT d.doc_id,
          |  CASE WHEN d.doc_id % 13 = 0 THEN s.text
          |       ELSE s.text || '#' || CAST(d.doc_id % 7 AS VARCHAR) END AS p
          |      FROM documents d JOIN src s ON s.src_id =
          |        CASE WHEN d.doc_id % 13 = 0 THEN 0 ELSE d.doc_id - d.doc_id % 7 END),""".stripMargin
      case "unicode" =>
        // empty-payload clique bounded at a fixed absolute size
        // (VERDICT r14 #4 — Multimodal.PhashUnicodeEmptyBound); the
        // remaining doc_id % 7 = 3 docs carry doc 0's text DOUBLED
        // plus the fixed tail — the planted over-cap clique the
        // stop-bucket cap provably drops (VERDICT r15 #2)
        s"""m AS (SELECT d.doc_id,
          |  CASE WHEN d.doc_id % 17 = 0
          |        AND d.doc_id < ${Multimodal.PhashUnicodeEmptyBound} THEN ''
          |       WHEN d.doc_id % 7 = 3 THEN s.text || s.text || '§λ漢'
          |       ELSE s.text || '§λ漢' || CAST(d.doc_id % 7 AS VARCHAR) END AS p
          |      FROM documents d JOIN src s ON s.src_id =
          |        CASE WHEN d.doc_id % 7 = 3 AND NOT (d.doc_id % 17 = 0
          |          AND d.doc_id < ${Multimodal.PhashUnicodeEmptyBound}) THEN 0
          |        ELSE d.doc_id - d.doc_id % 7 END),""".stripMargin
      case _ =>
        """m AS (SELECT d.doc_id, s.text || '#' || CAST(d.doc_id % 7 AS VARCHAR) AS p
          |      FROM documents d JOIN src s ON s.src_id = d.doc_id - d.doc_id % 7),""".stripMargin
    }
    s"""WITH src AS (SELECT doc_id AS src_id, text FROM documents),
      |$mCte
      |samp AS (SELECT doc_id,
      |  list_transform(range(0, 64), j -> ascii(substr(p, CAST((j * len(p)) // 64 AS INT) + 1, 1))) AS b
      | FROM m),
      |h AS (SELECT doc_id, b, list_sum(b) AS s FROM samp),
      |bands AS (SELECT doc_id, bd.bd AS band,
      |   CAST(list_sum(list_transform(range(0, ${Multimodal.PhashBandBits}),
      |     i -> CASE WHEN b[CAST(bd.bd*${Multimodal.PhashBandBits} + i + 1 AS INT)] * 64 >= s
      |          THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS band_val
      |  FROM h, range(0, ${Multimodal.PhashBands}) bd(bd)),
      |${cappedCtes}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM $candSrc a JOIN $candSrc b2 ON a.band = b2.band AND a.band_val = b2.band_val
      |   AND a.doc_id < b2.doc_id),
      |pb AS (SELECT doc_id, list(band_val ORDER BY band) AS bv FROM bands GROUP BY doc_id)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(list_sum(list_transform(list_zip(pa.bv, pbb.bv),
      |      x -> bit_count(xor(x[1], x[2])))) AS BIGINT) AS hamming
      |  FROM cand c JOIN pb pa ON pa.doc_id = c.doc_a
      |  JOIN pb pbb ON pbb.doc_id = c.doc_b) t
      |WHERE hamming <= ${Multimodal.PhashMaxHamming}""".stripMargin
  }

  /** Full recompute of [[graft.operators.Multimodal.phashDedupIncremental]]:
    * the same per-doc aHash band vectors as mmPhashSql's plain corpus,
    * split into snapshot (source <> 'src0') and batch (source =
    * 'src0') sides, the snapshot-side stop-bucket cap replicated as a
    * HAVING CTE, candidates = batch×snapshot band-bucket matches, then
    * the exact hamming verify. The Spark side probes a persisted index
    * instead of recomputing — identical rows, which is the gate. */
  private def mmPhashIncSql: String =
    s"""WITH src AS (SELECT doc_id AS src_id, text FROM documents),
      |m AS (SELECT d.doc_id, d.source,
      |    s.text || '#' || CAST(d.doc_id % 7 AS VARCHAR) AS p
      |  FROM documents d JOIN src s ON s.src_id = d.doc_id - d.doc_id % 7),
      |samp AS (SELECT doc_id, source,
      |  list_transform(range(0, 64), j -> ascii(substr(p, CAST((j * len(p)) // 64 AS INT) + 1, 1))) AS b
      | FROM m),
      |h AS (SELECT doc_id, source, b, list_sum(b) AS s FROM samp),
      |bands AS (SELECT doc_id, source, bd.bd AS band,
      |   CAST(list_sum(list_transform(range(0, ${Multimodal.PhashBandBits}),
      |     i -> CASE WHEN b[CAST(bd.bd*${Multimodal.PhashBandBits} + i + 1 AS INT)] * 64 >= s
      |          THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS band_val
      |  FROM h, range(0, ${Multimodal.PhashBands}) bd(bd)),
      |snapb AS (SELECT doc_id, band, band_val FROM bands WHERE source <> 'src0'),
      |okb AS (SELECT band, band_val FROM snapb GROUP BY 1, 2
      |  HAVING COUNT(*) <= ${Multimodal.PhashMaxBucket}),
      |keptb AS (SELECT s2.doc_id, s2.band, s2.band_val
      |  FROM snapb s2 JOIN okb USING (band, band_val)),
      |batchb AS (SELECT doc_id, band, band_val FROM bands WHERE source = 'src0'),
      |cand AS (SELECT DISTINCT b2.doc_id AS doc_new, k.doc_id AS doc_old
      |  FROM batchb b2 JOIN keptb k ON b2.band = k.band AND b2.band_val = k.band_val),
      |pb AS (SELECT doc_id, list(band_val ORDER BY band) AS bv FROM bands GROUP BY doc_id)
      |SELECT doc_new, doc_old, hamming FROM (
      |  SELECT c.doc_new, c.doc_old,
      |    CAST(list_sum(list_transform(list_zip(pa.bv, pbb.bv),
      |      x -> bit_count(xor(x[1], x[2])))) AS BIGINT) AS hamming
      |  FROM cand c JOIN pb pa ON pa.doc_id = c.doc_new
      |  JOIN pb pbb ON pbb.doc_id = c.doc_old) t
      |WHERE hamming <= ${Multimodal.PhashMaxHamming}""".stripMargin

  /** Shared by the exact and Bloom-pruned incremental-dedup gates
    * (both produce bit-identical output — the Bloom path exact-verifies
    * its survivors). Raw-text grouping keeps the fp-collision
    * tripwire. */
  private def dedupIncrementalSql: String =
    """WITH batch AS (
      | SELECT doc_id, text FROM documents WHERE source = 'src0'
      | UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  WHERE source <> 'src0' AND doc_id % 7 = 0
      | UNION ALL SELECT doc_id + 3000000, text FROM documents
      |  WHERE source = 'src0' AND doc_id % 11 = 0),
      |snap AS (SELECT DISTINCT text FROM documents WHERE source <> 'src0')
      |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM batch WHERE text NOT IN (SELECT text FROM snap)
      |GROUP BY text""".stripMargin

  private val decSum = (c: String) => s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
  private val revenue =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  /** The cascade oracle chain over an arbitrary corpus CTE body
    * (shared by `dedup_cascade` and `dedup_cascade_incremental` — the
    * incremental gate's contract IS "hash-exact to the from-scratch
    * cascade on snapshot ∪ batch", so both keys run the identical
    * election → all-pairs-over-reps truth → recursive-CTE components →
    * verdict chain, differing only in the corpus construction). */
  private def dedupCascadeSqlOver(corpusSql: String): String =
    s"""WITH RECURSIVE corpus AS (
      |$corpusSql),
      |rp AS (SELECT text, MIN(doc_id) AS rep FROM corpus GROUP BY text),
      |dr AS (SELECT c.doc_id, rp.rep FROM corpus c JOIN rp ON c.text = rp.text),
      |s AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |        || ' ' || string_split(text, ' ')[i+2])) AS sh
      | FROM corpus WHERE doc_id IN (SELECT rep FROM rp)),
      |p AS (SELECT doc_a, doc_b FROM (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      | FROM s a, s b WHERE a.doc_id < b.doc_id) t
      | WHERE jaccard >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      |r(a, b) AS (
      | SELECT a, b FROM e
      | UNION
      | SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a),
      |k AS (SELECT rp.rep, COALESCE(c2.comp, rp.rep) AS keeper
      | FROM rp LEFT JOIN comp c2 ON c2.doc_id = rp.rep)
      |SELECT dr.doc_id, dr.rep, k.keeper,
      | CASE WHEN dr.doc_id = k.keeper THEN 'kept'
      |      WHEN dr.doc_id <> dr.rep THEN 'exact_dup'
      |      ELSE 'near_dup' END AS verdict
      |FROM dr JOIN k ON k.rep = dr.rep""".stripMargin

  /** dedup_cascade's corpus: the re-crawl (every 7th doc re-fetched
    * byte-identical under a fresh id). */
  private def recrawlCorpusSql: String =
    """ SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
      | FROM documents WHERE doc_id % 7 = 2""".stripMargin

  /** dedup_cascade_incremental's corpus: snapshot (non-src0 docs) ∪
    * tonight's batch — src0 docs under fresh ids past the snapshot id
    * space, every 7th snapshot doc re-delivered byte-identical, every
    * 11th batch doc double-delivered (Dedup.cascadeSnapshotAndBatch's
    * construction, recomputed from the tables). */
  private def cascadeUnionCorpusSql: String =
    """ SELECT doc_id, text FROM documents WHERE source <> 'src0'
      | UNION ALL
      | SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
      | FROM documents WHERE source = 'src0'
      | UNION ALL
      | SELECT doc_id + 2 * (SELECT MAX(doc_id) + 1 FROM documents), text
      | FROM documents WHERE source <> 'src0' AND doc_id % 7 = 2
      | UNION ALL
      | SELECT doc_id + 3 * (SELECT MAX(doc_id) + 1 FROM documents), text
      | FROM documents WHERE source = 'src0' AND doc_id % 11 = 0""".stripMargin

  /** Two-night executor oracle (VERDICT r13 #5): each promotion
    * point's serving recomputed as the one-shot frozen-quantizer build
    * over exactly the vectors arrived by that night — the incremental
    * IVF oracle with the postings side restricted to the night's
    * corpus (night 2 = everything, so its rows equal
    * `sim_ivf_index_incremental`'s with the night column prepended).
    * CTE scopes are per-subquery, so the two unrolled Lloyd chains
    * cannot collide. */
  private def simIvfTwoNightSql: String = {
    def night(n: Int, corpusPred: String): String = {
      val (parts, cc, fc) = lloydCtes(Some(a =>
        s"NOT (${Similarity.IvfIncBatchPred.replace("vec_id", a + "vec_id")})"))
      parts += s"""probes AS (
        |  SELECT query_id, q_demb, q_nsq, cent_id FROM (
        |    SELECT v.vec_id AS query_id, v.demb AS q_demb, v.nsq AS q_nsq, c.cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY $cc DESC, c.cent_id) AS rn
        |    FROM e v, $fc c WHERE v.vec_id < 10) t WHERE rn <= ${Similarity.IvfProbes})""".stripMargin
      parts += s"""assigned AS (
        |  SELECT cand_id, c_demb, c_nsq, cent_id FROM (
        |    SELECT v.vec_id AS cand_id, v.demb AS c_demb, v.nsq AS c_nsq, c.cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY $cc DESC, c.cent_id) AS rn
        |    FROM e v, $fc c WHERE v.vec_id >= 10 AND ($corpusPred)) t WHERE rn = 1)""".stripMargin
      val sc = cosineSql("p.q_demb", "p.q_nsq", "a.c_demb", "a.c_nsq")
      s"""SELECT * FROM (WITH ${parts.mkString(",\n")}
        |SELECT CAST($n AS BIGINT) AS night, query_id, cand_id, cosine, rank FROM (
        |  SELECT p.query_id, a.cand_id, $sc AS cosine,
        |    CAST(row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY $sc DESC, a.cand_id) AS BIGINT) AS rank
        |  FROM probes p JOIN assigned a USING (cent_id)) t
        |WHERE rank <= ${Similarity.K})""".stripMargin
    }
    night(1, "NOT (v.vec_id % 10 = 3 AND (v.vec_id // 10) % 2 = 1)") +
      "\nUNION ALL\n" + night(2, "TRUE")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "etl_transform" ->
      """SELECT event_id, user_id, UPPER(event_type) AS event_type_uc,
        | CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
        | CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS prop_k
        |FROM events""".stripMargin,
    "etl_filter" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'click' AND value > 5.0",
    "etl_enrich" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment, n_name AS nation_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderkey <= 2000""".stripMargin,
    "etl_route_mod" ->
      s"""SELECT CAST(user_id % 8 AS INTEGER) AS shard, COUNT(*) AS n_records,
        | ${decSum("value")} AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "etl_route_date" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, COUNT(*) AS n_records
        |FROM events GROUP BY 1, 2""".stripMargin,
    "etl_var_extract" ->
      """SELECT CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INTEGER) AS src_num,
        | COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "etl_meta" ->
      """SELECT event_type, COUNT(*) AS record_total,
        | COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS record_processed,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS record_skipped
        |FROM events GROUP BY event_type""".stripMargin,
    "etl_schema_map" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS order_id, CAST(l_linenumber AS BIGINT) AS line_no,
        | CAST(l_quantity AS INTEGER) AS qty,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
        | l_returnflag AS flag
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin,
    "etl_partition_pruning" ->
      s"""SELECT event_type, COUNT(*) AS n_records, ${decSum("value")} AS sum_value
        |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-03'
        |GROUP BY event_type""".stripMargin,
    // the sweep drops whole partition directories below the cutoff;
    // what must survive is exactly the retained window
    "etl_retention_sweep" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(*) AS n_records,
        | ${decSum("value")} AS sum_value
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '${operators.Etl.RetentionCutoff}'
        |GROUP BY 1""".stripMargin,
    "etl_upsert_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0
        |   THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DOUBLE)
        |   ELSE o_totalprice END AS o_totalprice
        | FROM orders) t
        |GROUP BY o_orderstatus""".stripMargin,
    // CDC apply: latest-wins per key over a versioned I/U/D feed;
    // DELETE tombstones drop rows. max_by is deterministic here —
    // versions are unique per key by construction.
    "etl_cdc_apply" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM (
        | SELECT o_orderkey, max_by(op, version) AS op,
        |  max_by(o_orderstatus, version) AS o_orderstatus,
        |  max_by(o_totalprice, version) AS o_totalprice
        | FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'I' AS op, 0 AS version
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U',
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DOUBLE), 'U', 1
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |   'N', o_totalprice, 'I', 1
        |  FROM orders WHERE o_orderkey % 11 = 0
        | ) feed GROUP BY o_orderkey
        |) snap WHERE op <> 'D'
        |GROUP BY o_orderstatus""".stripMargin,
    // incremental snapshot⊎delta maintenance must equal the one-pass
    // full-scan aggregate — the merge-equals-recompute contract
    "etl_incremental_agg" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin,
    // binaryFile whole-file ingest fidelity: the staged bytes are each
    // document's utf8 text plus the text sink's '\n' terminator, so
    // the oracle renders the identical byte stream independently
    "etl_binary_ingest" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
        | md5(text || chr(10)) AS content_md5 FROM documents
        |WHERE doc_id < 100""".stripMargin,
    // dynamic overwrite re-states ONLY the last day (clicks survive
    // there); every earlier day keeps all rows — static mode would
    // have wiped them, so the values distinguish the two semantics
    "etl_partition_overwrite" ->
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS dt,
        |  event_type, value FROM events),
        |mx AS (SELECT MAX(dt) AS m FROM d)
        |SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM d, mx
        |WHERE dt < m OR (dt = m AND event_type = 'click')
        |GROUP BY event_type""".stripMargin,
    // per-rule exact violation counts; n_rows repeated per row (the
    // suite report shape). Surplus-row uniqueness counting matches the
    // oracle's sum(c - 1) over duplicate keys.
    "etl_quality_constraints" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
        |k AS (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey),
        |r AS (
        | SELECT 'customer_fk' AS rule, (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey IS NOT NULL AND o.o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)) AS n_violations
        | UNION ALL SELECT 'key_not_null',
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
        | UNION ALL SELECT 'key_unique', (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
        |   FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) t WHERE c > 1)
        | UNION ALL SELECT 'one_order_per_customer',
        |  (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM k WHERE c > 1)
        | UNION ALL SELECT 'price_cap', (SELECT COUNT(*) FROM orders
        |   WHERE NOT (o_totalprice >= 0 AND o_totalprice <= 100000))
        | UNION ALL SELECT 'priority_format', (SELECT COUNT(*) FROM orders
        |   WHERE NOT (o_orderpriority LIKE '%-%'))
        | UNION ALL SELECT 'status_known', (SELECT COUNT(*) FROM orders
        |   WHERE o_orderstatus NOT IN ('O', 'F')))
        |SELECT r.rule, r.n_violations, n.n_rows FROM r, n""".stripMargin,
    // bytes must survive BOTH hops (text files -> binaryFile -> parquet
    // container); the 1-file collapse of the 100-inode zone is the
    // compaction contract itself, data-independent
    "etl_blob_compact" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
        | md5(text || chr(10)) AS content_md5,
        | CAST(1 AS BIGINT) AS n_container_files
        |FROM documents WHERE doc_id < 100""".stripMargin,
    // data-independent audit (DuckDB has no Datasketches): the sharded
    // union and the single-pass sketch must each estimate within the
    // 5% envelope (deterministic for the fixed gate data); the exact
    // count is recomputed
    "q_sketch_merge" ->
      """SELECT TRUE AS union_within_5pct, TRUE AS direct_within_5pct,
        | COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders""".stripMargin,
    // the SAME recursive SQL both engines execute (Spark 4 WITH
    // RECURSIVE ≡ DuckDB's) — integer month keys keep it hash-exact
    // the same log-depth interval-splitting recursion the Spark side
    // runs (Analytics3.qRecursiveCte): grouped (m, last_m) pairs carry
    // order multiplicity, each level halves open intervals, leaves
    // (lo = hi) are the per-month rows
    "q_recursive_cte" ->
      """WITH RECURSIVE mx AS (
        |  SELECT l_orderkey, MAX(l_shipdate) AS r
        |  FROM lineitem WHERE l_orderkey % 11 = 0
        |  GROUP BY l_orderkey),
        |raw AS (
        |  SELECT
        |    CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(year(mx.r) * 12 + month(mx.r) - 1 AS BIGINT) AS last_m
        |  FROM orders o JOIN mx ON mx.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey % 11 = 0),
        |base AS (
        |  SELECT m, GREATEST(last_m, m) AS last_m, COUNT(*) AS c
        |  FROM raw GROUP BY 1, 2),
        |split(lo, hi, c) AS (
        |  SELECT m, last_m, c FROM base
        |  UNION ALL
        |  SELECT
        |    CASE WHEN h.side = 0 THEN s.lo ELSE (s.lo + s.hi) // 2 + 1 END,
        |    CASE WHEN h.side = 0 THEN (s.lo + s.hi) // 2 ELSE s.hi END,
        |    s.c
        |  FROM split s JOIN (VALUES (0), (1)) AS h(side) ON s.lo < s.hi)
        |SELECT lo AS month_key, CAST(SUM(c) AS BIGINT) AS n_open
        |FROM split WHERE lo = hi GROUP BY lo""".stripMargin,
    // every REAL hour window closes via the sentinel-driven watermark
    // and emits its final top-3 (count desc, type asc); the sentinel's
    // own window never emits — mirror of the open current hour
    "stream_trending" ->
      """SELECT win_start_s, event_type, n_events,
        | CAST(row_number() OVER (PARTITION BY win_start_s
        |   ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rank
        |FROM (
        | SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start_s,
        |  event_type, COUNT(*) AS n_events
        | FROM events WHERE event_id < 2000
        | GROUP BY win_start_s, event_type)
        |QUALIFY rank <= 3""".stripMargin,
    // three change waves, highest version wins per key
    "stream_upsert" ->
      """WITH u AS (
        | SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
        | UNION ALL
        | SELECT o_orderkey, 'X', CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DOUBLE), 1
        | FROM orders WHERE o_orderkey % 10 = 0
        | UNION ALL
        | SELECT o_orderkey, 'Y', CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 2 AS DOUBLE), 2
        | FROM orders WHERE o_orderkey % 20 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |  ORDER BY version DESC) AS rn FROM u)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM r WHERE rn = 1 GROUP BY o_orderstatus""".stripMargin,
    "etl_scd2_history" ->
      """WITH c AS (
        | SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |  lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev
        | FROM orders),
        |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey AS custkey, o_orderpriority AS priority,
        | o_orderdate AS valid_from,
        | COALESCE(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey), TIMESTAMP '9999-12-31') AS valid_to,
        | (lead(o_orderdate) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
        |FROM ch""".stripMargin,
    "etl_sql_text_source" ->
      s"""SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders,
        | ${decSum("o_totalprice")} AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate >= '1998-01-01'
        |GROUP BY c_mktsegment, o_orderstatus""".stripMargin,
    "etl_ndjson_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_rows, ${decSum("l_quantity")} AS sum_qty
        |FROM lineitem WHERE l_orderkey <= 1000 GROUP BY l_returnflag""".stripMargin,
    "etl_csv_roundtrip" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers, ${decSum("c_acctbal")} AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "etl_orc_roundtrip" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders, ${decSum("o_totalprice")} AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "etl_route_file" ->
      """SELECT 'events_' || CAST(user_id % 4 AS VARCHAR) || '.parquet' AS src_file,
        | COUNT(*) AS n_records,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000
        |GROUP BY 1""".stripMargin,
    "etl_datatype_match" ->
      """SELECT 'event' AS kind, COUNT(*) AS n_records,
        | CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
        | CAST(NULL AS BIGINT) AS sum_chars
        |FROM events WHERE event_id < 1500
        |UNION ALL
        |SELECT 'doc' AS kind, COUNT(*) AS n_records,
        | CAST(NULL AS BIGINT) AS sum_event_id,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 300""".stripMargin,
    "etl_var_extract_path" ->
      """SELECT event_type AS src_type, COUNT(*) AS n_records,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000
        |GROUP BY event_type""".stripMargin,
    "etl_compact_files" ->
      """SELECT CAST(16 AS BIGINT) AS files_before, CAST(2 AS BIGINT) AS files_after,
        | COUNT(*) AS n_rows
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,
    "text_quality_filter" ->
      """WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS n_stop,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS distinct_share
        | FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |  list_filter([
        |    CASE WHEN n_tokens < 10 THEN 'too_short' END,
        |    CASE WHEN n_tokens > 5000 THEN 'too_long' END,
        |    CASE WHEN n_stop = 0 THEN 'no_stopwords' END,
        |    CASE WHEN distinct_share < 0.2 THEN 'repetitive' END],
        |    x -> x IS NOT NULL) AS failed
        | FROM q)
        |SELECT doc_id, n_tokens,
        | COALESCE(array_to_string(failed, ','), '') AS failed_rules,
        | len(failed) = 0 AS keep
        |FROM r""".stripMargin,
    "text_source_mix" ->
      """WITH m AS (SELECT doc_id, source, n_chars,
        |  CASE WHEN source IN ('src0', 'src1') THEN 100
        |       WHEN source = 'src2' THEN 50
        |       WHEN source = 'src3' THEN 25 ELSE 10 END AS pct,
        |  (doc_id * 2654435761 + 104729) % 9973 % 100 AS bucket
        | FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN bucket < pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN bucket < pct THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM m GROUP BY source""".stripMargin,
    // the sketch's exact-verify pass makes the output the TRUE
    // frequent set, so the oracle is a plain GROUP BY ... HAVING
    "text_heavy_hitters" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |t AS (SELECT unnest(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i+1])) AS bg FROM d),
        |n AS (SELECT COUNT(*) AS n FROM t)
        |SELECT bg, COUNT(*) AS n_occurrences FROM t GROUP BY bg
        |HAVING COUNT(*) > (SELECT n // ${TextAnalysis.HhDivisor} FROM n)""".stripMargin,
    "text_mix_rebalance" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        |  CASE WHEN source = 'src0' THEN 250 WHEN source = 'src1' THEN 100
        |       WHEN source = 'src2' THEN 50 WHEN source = 'src3' THEN 125
        |       ELSE 10 END AS pct,
        |  (doc_id * 2654435761 + 104729) % 9973 % 100 AS bucket
        | FROM documents),
        |c AS (SELECT source, n_tokens,
        |  pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS n_copies
        | FROM d)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN n_copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        | CAST(SUM(n_copies) AS BIGINT) AS n_rows_out,
        | CAST(SUM(n_copies * n_tokens) AS BIGINT) AS n_tokens_out
        |FROM c GROUP BY source""".stripMargin,
    "text_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
        |  (CAST(substr(source, 4) AS INT) % 4) + 1 AS weight,
        |  list_max(list_slice([
        |    (doc_id * 2654435761 + 104729) % 2147483647,
        |    (doc_id * 2246822519 + 209458) % 2147483647,
        |    (doc_id * 3266489917 + 314187) % 2147483647,
        |    (doc_id * 668265263 + 418916) % 2147483647
        |  ], 1, (CAST(substr(source, 4) AS INT) % 4) + 1)) AS race
        | FROM documents)
        |SELECT doc_id, source, CAST(weight AS BIGINT) AS weight FROM d
        |ORDER BY race DESC, doc_id
        |LIMIT ${graft.operators.TextAnalysis.WeightedSampleK}""".stripMargin,
    "text_length_hist" ->
      """SELECT CAST(len(bin(CAST(len(string_split(text, ' ')) AS BIGINT))) - 1 AS BIGINT) AS bucket,
        | COUNT(*) AS n_docs,
        | CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
        | CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY 1""".stripMargin,
    "mm_dedup" ->
      """WITH m AS (SELECT d.doc_id, md5(s.text || s.text) AS fp
        |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id - d.doc_id % 7)
        |SELECT fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM m GROUP BY fp""".stripMargin,
    "etl_error_tolerance" ->
      """SELECT CASE WHEN event_id % 7 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
        | COUNT(*) AS n
        |FROM events WHERE event_id < 1000 GROUP BY 1""".stripMargin,
    "etl_dynamic_partition_write" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, CAST(user_id % 4 AS INTEGER) AS shard,
        | COUNT(*) AS n_records
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
        | ${decSum("l_quantity")} AS sum_qty,
        | ${decSum("l_extendedprice")} AS sum_base_price,
        | $revenue AS sum_disc_price,
        | ${decSum("l_quantity")} / COUNT(*) AS avg_qty,
        | ${decSum("l_discount")} / COUNT(*) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      s"""SELECT l_orderkey, $revenue AS revenue,
        | CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        | AND l_orderkey = o_orderkey AND o_orderdate < '1997-03-15'
        | AND l_shipdate > '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      s"""SELECT n_name, $revenue AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA' AND o_orderdate >= '1996-01-01'
        | AND o_orderdate < '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_filter_pushdown" ->
      "SELECT p_partkey, p_brand, p_size FROM part WHERE p_size = 15 AND p_type LIKE '%DARD'",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q_window" ->
      """SELECT * FROM (
        | SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend,
        |  LAG(o_orderkey, 1) OVER w AS prev_orderkey
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) t WHERE order_seq <= 3""".stripMargin,
    "q_having" ->
      s"""SELECT l_suppkey, ${decSum("l_quantity")} AS total_qty, COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey
        |HAVING ${decSum("l_quantity")} > 3000.0""".stripMargin,
    "q_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
        | COUNT(DISTINCT l_suppkey) AS distinct_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, ${decSum("o_totalprice")} AS total_price,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "q_union" ->
      """SELECT DISTINCT o_custkey AS custkey FROM (
        | SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        | UNION ALL
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t""".stripMargin,
    "q_case_expr" ->
      """SELECT o_orderstatus,
        | COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_large,
        | COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
        | COUNT(*) AS n_total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_upper, CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        | SUBSTRING(p_type, 1, 5) AS type_prefix,
        | CONCAT_WS('|', p_brand, p_type) AS brand_type
        |FROM part WHERE p_partkey <= 200""".stripMargin,
    "q_date_funcs" ->
      s"""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
        | CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
        | COUNT(*) AS n_orders, ${decSum("o_totalprice")} AS total_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_scalar_subquery" ->
      s"""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT ${decSum("o_totalprice")} / COUNT(*) FROM orders) * 1.5""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // melt of the pivot's wide counts back to long form; the lateral
    // 3-row mapping replicates Spark's Expand emission order-agnostically
    "q_unpivot" ->
      """WITH p AS (SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        | FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM p
        |UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM p
        |UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM p""".stripMargin,
    "q_range_join" ->
      """SELECT bucket, event_type, COUNT(*) AS n_events FROM (
        | SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) + d.off AS bucket, event_type
        | FROM events, (SELECT 0 AS off UNION ALL SELECT -1) d) t
        |WHERE bucket % 7 = 0 GROUP BY bucket, event_type""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, user_id, prior_click_id, prior_click_us,
        | epoch_us(ts) - prior_click_us AS gap_us
        |FROM (
        | SELECT *,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER w AS prior_click_id,
        |  last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS) OVER w AS prior_click_us
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |) t WHERE event_type = 'error'""".stripMargin,
    "stream_tumbling" ->
      s"""SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start_s, event_type,
        | COUNT(*) AS n_events, ${decSum("value")} AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_sliding" ->
      """SELECT win_start_s, COUNT(*) AS n_events FROM (
        | SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) - d.off AS win_start_s
        | FROM events, (SELECT 0 AS off UNION ALL SELECT 3600) d) t
        |GROUP BY win_start_s""".stripMargin,
    "stream_session" ->
      s"""WITH g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        | SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        | epoch_us(MIN(ts)) AS session_start_us, epoch_us(MAX(ts)) AS session_end_us,
        | ${decSum("value")} AS sum_value
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    "q6_selective" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        | AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returns" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, $revenue AS revenue
        |FROM lineitem, orders, customer
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_share" ->
      """SELECT
        | CAST(SUM(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_share,
        | COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,
    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM orders JOIN (
        | SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        | FROM lineitem GROUP BY l_orderkey
        | HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 200) t
        |ON o_orderkey = l_orderkey""".stripMargin,
    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        | COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        | (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10) OR
        | (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30 AND l_quantity < 10))""".stripMargin,
    "q21_late_suppliers" ->
      """SELECT l_suppkey, COUNT(*) AS n_items,
        | COUNT(CASE WHEN l_shipdate > '2000-01-01' THEN 1 END) AS n_late
        |FROM lineitem GROUP BY l_suppkey
        |HAVING COUNT(CASE WHEN l_shipdate > '2000-01-01' THEN 1 END) * 4 > COUNT(*)""".stripMargin,
    "q22_dormant" ->
      """WITH ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        | FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, ab
        |WHERE c_acctbal > avg_bal
        | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |   AND o_orderdate >= '1999-01-01')
        |GROUP BY c_mktsegment""".stripMargin,
    "q2_min_cost" ->
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(l_extendedprice) AS ps_supplycost FROM lineitem GROUP BY 1, 2),
        | regional AS (SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
        |  FROM ps, supplier, nation, region
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |   AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT p_partkey, p_name, s_name, s_acctbal, n_name AS nation,
        | CAST(ps_supplycost AS DOUBLE) AS supplycost
        |FROM regional, part
        |WHERE ps_partkey = p_partkey AND p_size BETWEEN 10 AND 15
        | AND ps_supplycost = (SELECT MIN(r2.ps_supplycost) FROM regional r2
        |   WHERE r2.ps_partkey = regional.ps_partkey)""".stripMargin,
    "q11_important_stock" ->
      """WITH pp AS (SELECT l_partkey AS partkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
        | FROM lineitem
        | WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 13)
        | GROUP BY 1)
        |SELECT partkey, CAST(value_dec AS DOUBLE) AS value FROM pp
        |WHERE CAST(value_dec AS DOUBLE) > (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM pp) * 0.0001""".stripMargin,
    "q_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN v ON v.user_id = e.user_id AND e.ts > v.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN c ON c.user_id = e.user_id AND e.ts > c.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
        |UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day FROM events),
        |ch AS (SELECT user_id, CAST(floor(MIN(day) / 7) AS BIGINT) AS cohort_week
        |  FROM e GROUP BY user_id)
        |SELECT cohort_week,
        | CAST(floor(day / 7) AS BIGINT) - cohort_week AS week_offset,
        | CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN ch ON e.user_id = ch.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q_attribution" ->
      """WITH w AS (SELECT event_type, value, user_id,
        |  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'direct') AS channel, COUNT(*) AS n_purchases,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q_journeys" ->
      """WITH j AS (SELECT user_id,
        |  array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>') AS journey
        | FROM events GROUP BY user_id)
        |SELECT journey, COUNT(*) AS n_users FROM j GROUP BY 1""".stripMargin,
    // hourly LOCF grid: generate_series replicates sequence(h0, h1);
    // the IGNORE-NULLS running last over the DECIMAL hourly sum is the
    // q_asof_join LOCF recipe on a generated grid
    "q_gap_fill" ->
      """WITH e AS (SELECT user_id,
        |  epoch_us(ts) // 1000000 // 3600 AS hour, value FROM events),
        |hourly AS (SELECT user_id, hour, COUNT(*) AS n_events,
        |  SUM(CAST(value AS DECIMAL(18,2))) AS hv FROM e GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
        |  FROM hourly GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour FROM spans)
        |SELECT g.user_id, g.hour, COALESCE(h.n_events, 0) AS n_events,
        | CAST(last_value(h.hv IGNORE NULLS) OVER (PARTITION BY g.user_id
        |   ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS DOUBLE) AS filled_value
        |FROM grid g LEFT JOIN hourly h
        |  ON g.user_id = h.user_id AND g.hour = h.hour""".stripMargin,
    // quantile_cont == Spark's exact `percentile` (linear
    // interpolation — the q_percentile parity recipe), so med/MAD and
    // the 3×MAD cut are the same doubles on both engines
    "q_anomaly" -> anomalySql,
    // the streaming scorer sums per-micro-batch partial counts against
    // the SAME offline-trained stats — additive counting makes it
    // hash-equal to the batch row, so it shares the oracle verbatim
    "stream_anomaly" -> anomalySql,
    // exact integer least squares: x centered to the global min hour,
    // y in cents; sums stay BIGINT on both engines (DuckDB SUM →
    // HUGEINT, hence the CASTs), slope is one terminal double divide
    "q_trend" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS hour,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
        |h AS (SELECT event_type, hour, CAST(SUM(cents) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |m AS (SELECT MIN(hour) AS h0 FROM e),
        |c AS (SELECT event_type, hour - h0 AS x, y FROM h, m),
        |a AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |  CAST(SUM(x * x) AS BIGINT) AS sxx FROM c GROUP BY 1)
        |SELECT event_type, n AS n_hours, sy AS sum_cents,
        | CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |FROM a""".stripMargin,
    // exactly-once across a checkpoint restart: the whole slice counted
    // ONCE — any reprocessing doubles a count and fails the hash
    "stream_resume" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000 GROUP BY 1""".stripMargin,
    // watermark semantics in SQL: the late slice (first three hours,
    // arriving as the third micro-batch) is dropped, and only windows
    // the final watermark (max on-time ts − 30 min) passed are emitted.
    // FLOOR before the cast: CAST(double AS BIGINT) rounds half-up in
    // DuckDB while the Spark side floors via `ts_us div 1000000`
    "stream_late_data" ->
      """WITH sl AS (SELECT event_type, value,
        |   CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        |  FROM events WHERE event_id < 2000),
        |p AS (SELECT MIN(es) // 3600 * 3600 + 3 * 3600 AS cut FROM sl),
        |a AS (SELECT sl.* FROM sl, p WHERE es >= cut),
        |wm AS (SELECT MAX(es) - 1800 AS w FROM a)
        |SELECT win_start_s, event_type, n_events, sum_value FROM (
        |  SELECT es // 3600 * 3600 AS win_start_s, event_type,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM a GROUP BY 1, 2) t, wm
        |WHERE win_start_s + 3600 <= w""".stripMargin,
    // the streaming twin carries the touch as custom state instead of a
    // window; same contract over the staged slice
    "stream_attribution" ->
      """WITH w AS (SELECT event_type, value, user_id,
        |  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events WHERE event_id < 2000)
        |SELECT COALESCE(touch, 'direct') AS channel, COUNT(*) AS n_purchases,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q7_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(YEAR(l_shipdate) AS INTEGER) AS ship_year,
        | $revenue AS volume, COUNT(*) AS n_items
        |FROM lineitem, supplier, orders, customer, nation n1, nation n2
        |WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
        | AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey
        | AND c_nationkey = n2.n_nationkey
        | AND s_nationkey < 5 AND c_nationkey < 5 AND s_nationkey <> c_nationkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
        | CAST(SUM(CASE WHEN s_nationkey = 1
        |   THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share,
        | COUNT(*) AS n_items
        |FROM lineitem, part, supplier, orders, customer, nation
        |WHERE l_partkey = p_partkey AND p_type = 'PROMO'
        | AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
        | AND o_custkey = c_custkey AND c_nationkey = n_nationkey AND n_regionkey = 0
        |GROUP BY 1""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |   - CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS profit,
        | COUNT(*) AS n_items
        |FROM lineitem, part, supplier, orders, nation
        |WHERE l_partkey = p_partkey AND p_name LIKE '%red%'
        | AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
        | AND s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q12_priority_mix" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        | AND l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
        |GROUP BY l_linestatus""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        | SELECT c_custkey, COUNT(o_orderkey) AS c_count
        | FROM customer LEFT OUTER JOIN orders
        |   ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        | GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH r AS (SELECT l_suppkey, $revenue AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM r)""".stripMargin,
    "q17_small_qty" ->
      """WITH pa AS (SELECT l_partkey AS pk,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        | FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        | COUNT(*) AS n_items
        |FROM lineitem, part, pa
        |WHERE l_partkey = p_partkey AND p_brand = 'Brand#3'
        | AND l_partkey = pk AND l_quantity < 0.5 * avg_qty""".stripMargin,
    "q20_part_suppliers" ->
      """SELECT s_suppkey, s_name, n_name AS nation
        |FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND s_suppkey IN (
        | SELECT l_suppkey FROM lineitem
        | WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
        |  AND EXISTS (SELECT 1 FROM part
        |    WHERE p_partkey = l_partkey AND p_size < 10)
        | GROUP BY l_suppkey
        | HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 50)""".stripMargin,
    "q_window3" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        | COUNT(*) OVER w AS n_within_50k,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_within_50k
        |FROM orders WHERE o_orderkey <= 2500
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |  RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        | ${decSum("o_totalprice")} AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_intersect_except" ->
      """WITH large AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
        |urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |tagged AS (
        | SELECT o_custkey, 'both' AS bucket FROM (SELECT * FROM large INTERSECT SELECT * FROM urgent) a
        | UNION ALL
        | SELECT o_custkey, 'large_only' AS bucket FROM (SELECT * FROM large EXCEPT SELECT * FROM urgent) b)
        |SELECT bucket, COUNT(*) AS n_customers FROM tagged GROUP BY bucket""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        | CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        | COUNT(*) AS n_orders, ${decSum("o_totalprice")} AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "etl_schema_evolution" ->
      s"""SELECT COALESCE(CASE WHEN o_orderkey > 1000 THEN 'ch' || (o_orderkey % 3) END,
        |  '(legacy)') AS channel, o_orderstatus,
        | COUNT(*) AS n_orders, ${decSum("o_totalprice")} AS total_price
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY 1, 2""".stripMargin,
    "q_null_semantics" ->
      """SELECT o_orderstatus,
        | COUNT(maybe_priority) AS n_nonnull,
        | COUNT(CASE WHEN maybe_priority IS NULL THEN 1 END) AS n_null,
        | COUNT(CASE WHEN maybe_priority IS NOT DISTINCT FROM '1-URGENT' THEN 1 END) AS n_urgent_nullsafe,
        | COUNT(DISTINCT COALESCE(maybe_priority, '(none)')) AS n_distinct_coalesced
        |FROM (SELECT o_orderstatus, NULLIF(o_orderpriority, '3-MEDIUM') AS maybe_priority
        | FROM orders) t
        |GROUP BY o_orderstatus""".stripMargin,
    "q_window2" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | CAST(dense_rank() OVER w AS BIGINT) AS drank,
        | percent_rank() OVER w AS prank,
        | first_value(o_orderkey) OVER w AS first_key
        |FROM orders WHERE o_orderkey <= 3000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "q_collect" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        | string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS line_nos,
        | CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags
        |FROM lineitem WHERE l_orderkey <= 2000
        |GROUP BY l_orderkey""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS med_qty,
        | quantile_cont(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "pat_skew_agg" ->
      s"""SELECT l_returnflag, ${decSum("l_quantity")} AS sum_qty, COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "pat_skew_join" ->
      s"""SELECT n_name AS bucket_name, COUNT(*) AS n_items, ${decSum("l_quantity")} AS sum_qty
        |FROM lineitem
        |JOIN (SELECT n_nationkey % 3 AS hot_key, n_name FROM nation WHERE n_nationkey < 3) d
        |  ON l_orderkey % 3 = hot_key
        |GROUP BY n_name""".stripMargin,
    "pat_typed_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "pat_untyped_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "pat_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items, ${decSum("l_quantity")} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "pat_codec_roundtrip" ->
      s"""SELECT s_nationkey, COUNT(*) AS n_suppliers, ${decSum("s_acctbal")} AS sum_bal
        |FROM supplier GROUP BY s_nationkey""".stripMargin,
    // layout-independent: the z-order rewrite only re-clusters rows
    "pat_zorder_skip" ->
      s"""SELECT COUNT(*) AS n_items, ${decSum("l_quantity")} AS sum_qty,
        | CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 40 AND l_suppkey BETWEEN 1 AND 4""".stripMargin,
    // exchange reuse changes the PLAN (one scan+shuffle), not the
    // result: plain self-join of the per-order aggregate
    "pat_exchange_reuse" ->
      """WITH a AS (SELECT l_orderkey, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
        | FROM lineitem GROUP BY l_orderkey)
        |SELECT COUNT(*) AS n_pairs,
        | CAST(SUM(x.n + y.n) AS BIGINT) AS sum_lines,
        | CAST(SUM(x.q) + SUM(y.q) AS DOUBLE) AS sum_qty
        |FROM a x JOIN a y ON y.l_orderkey = x.l_orderkey + 1""".stripMargin,
    // the bloom filter only removes rows that cannot match: plain join
    "pat_bloom_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items, ${decSum("l_quantity")} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1995-04-01'
        |GROUP BY o_orderpriority""".stripMargin,
    "mm_meta_extract" ->
      """SELECT doc_id,
        | CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS format,
        | CAST(32 + (doc_id % 8) * 16 AS INTEGER) AS width,
        | CAST(32 + (doc_id % 5) * 16 AS INTEGER) AS height,
        | CAST(2 * LENGTH(text) AS BIGINT) AS n_bytes,
        | CAST((32 + (doc_id % 8) * 16) * (32 + (doc_id % 5) * 16) AS BIGINT) AS n_pixels
        |FROM documents""".stripMargin,
    "mm_frame_sample" ->
      s"""WITH m AS (SELECT doc_id, text || text AS txt2,
        |  CAST(2 * LENGTH(text) AS BIGINT) AS n_bytes FROM documents
        | WHERE 2 * LENGTH(text) >= 64)
        |SELECT doc_id, off // 128 AS frame_id, off,
        | (${(0 until 8).map(j => s"CAST(ascii(substr(txt2, CAST(off AS BIGINT) + 1 + $j, 1)) AS BIGINT) * ${math.pow(131, 7 - j).toLong}").mkString(" + ")})
        |   % 2147483647 AS frame_fp
        |FROM (SELECT doc_id, txt2, unnest(range(0, n_bytes - 63, 128)) AS off FROM m) t""".stripMargin,
    "mm_frame_dedup" ->
      s"""WITH m AS (SELECT doc_id, text || text AS txt2,
        |  CAST(2 * LENGTH(text) AS BIGINT) AS n_bytes FROM documents
        | WHERE 2 * LENGTH(text) >= 64),
        |f AS (SELECT doc_id, off // 128 AS frame_id,
        | (${(0 until 8).map(j => s"CAST(ascii(substr(txt2, CAST(off AS BIGINT) + 1 + $j, 1)) AS BIGINT) * ${math.pow(131, 7 - j).toLong}").mkString(" + ")})
        |   % 2147483647 AS frame_fp
        | FROM (SELECT doc_id, txt2, unnest(range(0, n_bytes - 63, 128)) AS off FROM m) t),
        |r AS (SELECT doc_id, frame_id,
        |  row_number() OVER (PARTITION BY frame_fp ORDER BY doc_id, frame_id) AS rn FROM f)
        |SELECT doc_id, COUNT(*) AS n_frames,
        | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM r GROUP BY doc_id""".stripMargin,
    "mm_overlap_dedup" ->
      s"""WITH m AS (SELECT doc_id, text || text AS txt2,
        |  CAST(2 * LENGTH(text) AS BIGINT) AS n_bytes FROM documents
        | WHERE 2 * LENGTH(text) >= 64),
        |f0 AS (SELECT doc_id,
        | (${(0 until 8).map(j => s"CAST(ascii(substr(txt2, CAST(off AS BIGINT) + 1 + $j, 1)) AS BIGINT) * ${math.pow(131, 7 - j).toLong}").mkString(" + ")})
        |   % 2147483647 AS frame_fp
        | FROM (SELECT doc_id, txt2, unnest(range(0, n_bytes - 63, 128)) AS off FROM m) t),
        |f AS (SELECT DISTINCT doc_id, frame_fp FROM f0),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        | FROM f a JOIN f b ON a.frame_fp = b.frame_fp AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, x.n AS n_a, y.n AS n_b,
        | n_shared / (x.n + y.n - n_shared) AS jaccard
        |FROM sh JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |WHERE n_shared / (x.n + y.n - n_shared) >= ${Multimodal.OverlapTau}""".stripMargin,
    // the stop-frame cap over the planted identical-payload clique:
    // candidates from under-cap fingerprint buckets (HAVING), verify
    // recomputes exact shared counts over the FULL frame sets
    "mm_overlap_dedup_capped" ->
      s"""WITH base AS (SELECT d.doc_id, s.text || s.text AS txt2,
        |  CAST(2 * LENGTH(s.text) AS BIGINT) AS n_bytes
        | FROM documents d JOIN (SELECT doc_id AS src_id, text FROM documents) s
        |  ON s.src_id = CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE d.doc_id END),
        |m AS (SELECT doc_id, txt2, n_bytes FROM base WHERE n_bytes >= 64),
        |f0 AS (SELECT doc_id,
        | (${(0 until 8).map(j => s"CAST(ascii(substr(txt2, CAST(off AS BIGINT) + 1 + $j, 1)) AS BIGINT) * ${math.pow(131, 7 - j).toLong}").mkString(" + ")})
        |   % 2147483647 AS frame_fp
        | FROM (SELECT doc_id, txt2, unnest(range(0, n_bytes - 63, 128)) AS off FROM m) t),
        |f AS (SELECT DISTINCT doc_id, frame_fp FROM f0),
        |ok AS (SELECT frame_fp FROM f GROUP BY 1
        |  HAVING COUNT(*) <= ${Multimodal.OverlapMaxBucket}),
        |kf AS (SELECT f.doc_id, f.frame_fp FROM f JOIN ok USING (frame_fp)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM kf a JOIN kf b ON a.frame_fp = b.frame_fp AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY doc_id),
        |sh AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        | FROM cand c JOIN f a ON a.doc_id = c.doc_a
        | JOIN f b ON b.doc_id = c.doc_b AND b.frame_fp = a.frame_fp
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, x.n AS n_a, y.n AS n_b,
        | n_shared / (x.n + y.n - n_shared) AS jaccard
        |FROM sh JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |WHERE n_shared / (x.n + y.n - n_shared) >= ${Multimodal.OverlapTau}""".stripMargin,
    "mm_phash_dedup" -> mmPhashSql("plain"),
    // integer cross-multiply keep decision (q·n > Σq): no division, so
    // floor-vs-truncate semantics cannot split the engines
    "mm_clip_filter" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nsq
        | FROM embeddings),
        |p AS (SELECT t.vec_id // 2 AS pair_id, CAST(floor(
        |    list_sum(list_transform(list_zip(t.emb, i.emb), x -> x[1] * x[2]))
        |    / sqrt(t.nsq * i.nsq) * 10000000 + 0.5) AS BIGINT) AS q
        |  FROM e t JOIN e i ON i.vec_id = t.vec_id + 1 WHERE t.vec_id % 2 = 0),
        |b AS (SELECT SUM(q) AS sq, COUNT(*) AS n FROM p)
        |SELECT pair_id, CAST(q AS DOUBLE) / 10000000 AS clip_score
        |FROM p, b
        |WHERE CAST(q AS DECIMAL(20,0)) * n > CAST(sq AS DECIMAL(20,0))""".stripMargin,
    // the capped twin replicates the stop-bucket HAVING in SQL
    "mm_phash_dedup_capped" -> mmPhashSql("capped"),
    // multi-byte + empty payloads: codepoint-indexing bit-parity of
    // the fused kernel as a gate row (VERDICT r7 #7)
    "mm_phash_dedup_unicode" -> mmPhashSql("unicode"),
    // full recompute of the incremental probe: snapshot-side band
    // buckets capped via HAVING, batch = source 'src0' uploads
    "mm_phash_dedup_incremental" -> mmPhashIncSql,
    "mm_resize_meta" ->
      """SELECT doc_id,
        | CAST(32 + (doc_id % 8) * 16 AS INTEGER) AS width,
        | CAST(32 + (doc_id % 5) * 16 AS INTEGER) AS height,
        | 64 AS target_w, 64 AS target_h,
        | CAST(64 AS DOUBLE) / (32 + (doc_id % 8) * 16) AS scale_x,
        | CAST(64 AS DOUBLE) / (32 + (doc_id % 5) * 16) AS scale_y,
        | (CAST(2 * LENGTH(text) AS BIGINT) * 64 * 64)
        |   // ((32 + (doc_id % 8) * 16) * (32 + (doc_id % 5) * 16)) AS resized_bytes_est
        |FROM documents""".stripMargin,
    "mm_decode_features" ->
      """SELECT doc_id, CAST(2 * LENGTH(text) AS BIGINT) AS n_bytes,
        | CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
        | CAST(ascii(substr(text, LENGTH(text), 1)) AS INTEGER) AS last_byte,
        | CAST((2 * list_sum(list_transform(string_split(text, ''), c -> ascii(c)))) % 1000003 AS BIGINT) AS byte_sum_mod
        |FROM documents""".stripMargin,
    "etl_pipeline_config" ->
      """SELECT o_orderkey, substring(o_orderpriority, 1, 1) AS priority_class,
        | c_mktsegment AS segment, CAST(o_custkey % 4 AS INTEGER) AS shard,
        | strftime(o_orderdate, '%Y-%m') AS dt
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 100000""".stripMargin,
    "stream_file_transfer" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000 AND event_type <> 'error'
        |GROUP BY event_type""".stripMargin,
    "stream_session_native" ->
      s"""WITH g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        | SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM g)
        |SELECT user_id, COUNT(*) AS n_events,
        | epoch_us(MIN(ts)) AS session_start_us, epoch_us(MAX(ts)) AS session_end_us,
        | ${decSum("value")} AS sum_value
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    "text_top_terms" ->
      """WITH tf AS (
        | SELECT doc_id, term, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
        | GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term)
        |SELECT doc_id, term, tf, df, rank FROM (
        | SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  CAST(row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rank
        | FROM tf JOIN df USING (term)) r
        |WHERE rank <= 3""".stripMargin,
    "text_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  (CAST(substr(source, 4) AS INT) % 4) + 1 AS prio
        | FROM documents),
        |b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS budget FROM d),
        |c AS (SELECT doc_id, source, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY prio DESC, doc_id) AS BIGINT) AS cum_tokens
        | FROM d)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= (SELECT budget FROM b)""".stripMargin,
    "dedup_components" -> dedupComponentsSql,
    // incremental merge is EXACT (rep contraction preserves component
    // minima) — its contract is the same full-recompute labeling
    "dedup_components_incremental" -> dedupComponentsSql,
    "dedup_cluster_stats" ->
      """WITH RECURSIVE s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents),
        |p AS (
        | SELECT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id) t
        | WHERE jaccard >= 0.7),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
        |r(a, b) AS (
        | SELECT a, b FROM e
        | UNION
        | SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp FROM r GROUP BY a),
        |sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
        |SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY cluster_size""".stripMargin,
    "dedup_survivors" -> dedupSurvivorsSql,
    // staged-lineage forms: one verify pass, derivations from the
    // staged pair/label tables — the CONTRACT is unchanged, so the
    // oracle is the recompute twins' SQL verbatim
    "dedup_components_lineage" -> dedupComponentsSql,
    "dedup_survivors_lineage" -> dedupSurvivorsSql,
    "dedup_survivors_list" -> dedupSurvivorsListSql,
    "dedup_lsh_verified" ->
      """WITH s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        | FROM s a, s b WHERE a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.7""".stripMargin,
    // exact→near cascade: text-grouped election over the re-crawl
    // corpus, all-pairs Jaccard truth over REPRESENTATIVES (the
    // lshVerified recall discipline), recursive-CTE components, and
    // the verdict expansion — every stage the Spark side runs,
    // recomputed from the tables
    "dedup_cascade" -> dedupCascadeSqlOver(recrawlCorpusSql),
    // the nightly form's contract IS from-scratch equality on
    // snapshot ∪ batch — the same chain over the union corpus
    "dedup_cascade_incremental" ->
      dedupCascadeSqlOver(cascadeUnionCorpusSql),
    "dedup_prefix_join" ->
      """WITH s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        | FROM s a, s b WHERE a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.7""".stripMargin,
    "dedup_exact" ->
      "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents GROUP BY text",
    "dedup_incremental" -> dedupIncrementalSql,
    // the Bloom-pruned path's exact-verify stage removes every Bloom
    // false positive, so its contract IS the exact oracle — same SQL
    "dedup_incremental_bloom" -> dedupIncrementalSql,
    "dedup_incremental_near" ->
      """WITH sh AS (SELECT doc_id, source, list_distinct(list_transform(
        |   range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents),
        |b AS (SELECT doc_id, sh FROM sh WHERE source = 'src0'),
        |sn AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
        |m AS (SELECT b.doc_id, COUNT(*) AS n_near FROM b, sn
        | WHERE CAST(len(list_intersect(b.sh, sn.sh)) AS DOUBLE)
        |   / (len(b.sh) + len(sn.sh) - len(list_intersect(b.sh, sn.sh))) >= 0.7
        | GROUP BY b.doc_id)
        |SELECT b.doc_id, CAST(COALESCE(m.n_near, 0) AS BIGINT) AS n_near,
        | m.doc_id IS NULL AS kept
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id""".stripMargin,
    "dedup_exact_keyed" ->
      """SELECT user_id, event_type, event_id AS first_event_id, epoch_us(ts) AS first_ts_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts, event_id) AS rn FROM events) t
        |WHERE rn = 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        | FROM s a, s b WHERE a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.3""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nsq
        | FROM embeddings)
        |SELECT vec_a, vec_b, cosine FROM (
        | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2]))
        |    / sqrt(a.nsq * b.nsq) AS cosine
        | FROM e a, e b WHERE a.vec_id < b.vec_id) t
        |WHERE cosine >= 0.4""".stripMargin,
    "etl_jdbc_roundtrip" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers, ${decSum("c_acctbal")} AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "etl_time_window" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders
        |WHERE o_orderkey > 1000 AND o_orderkey <= 2000
        |GROUP BY o_orderstatus""".stripMargin,
    "etl_policy_route" ->
      """SELECT CASE WHEN o_orderkey % 7 <> 0 THEN 'ok' ELSE 'quarantined' END AS status,
        | COUNT(*) AS n
        |FROM orders WHERE o_orderkey <= 2000 GROUP BY 1""".stripMargin,
    "etl_meta_incremental" ->
      """SELECT
        | (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 1000) AS rows_run1,
        | (SELECT COUNT(*) FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000) AS rows_run2,
        | CAST(0 AS BIGINT) AS files_run3,
        | CAST(0 AS BIGINT) AS rows_run3,
        | (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 2000) AS n_total""".stripMargin,
    // the drain loop's pass structure is fully determined by the data:
    // 5 staged band files under a 2-file cap → 2+2+1 files, then the
    // drained pass that stops the Repeat loop
    "etl_max_transfers" ->
      """WITH t AS (SELECT COUNT(*) AS n FROM orders
        |           WHERE o_orderkey > 0 AND o_orderkey <= 2000)
        |SELECT CAST(1 AS BIGINT) AS pass, CAST(2 AS BIGINT) AS n_files,
        | (SELECT COUNT(*) FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 800) AS n_rows,
        | (SELECT n FROM t) AS n_total
        |UNION ALL SELECT 2, 2,
        | (SELECT COUNT(*) FROM orders WHERE o_orderkey > 800 AND o_orderkey <= 1600),
        | (SELECT n FROM t)
        |UNION ALL SELECT 3, 1,
        | (SELECT COUNT(*) FROM orders WHERE o_orderkey > 1600 AND o_orderkey <= 2000),
        | (SELECT n FROM t)
        |UNION ALL SELECT 4, 0, 0, (SELECT n FROM t)""".stripMargin,
    // FLOOR on both sides: Spark CAST(double AS INT) truncates, DuckDB
    // rounds — floor is the truncation both engines share; DuckDB
    // SUM(int)→HUGEINT needs the BIGINT cast
    "etl_config_json" ->
      """SELECT CAST(o_custkey % 4 AS INT) AS shard, COUNT(*) AS n,
        | CAST(SUM(CAST(FLOOR(o_totalprice / 100000) AS INT)) AS BIGINT) AS sum_band
        |FROM orders WHERE o_orderkey <= 2000 GROUP BY 1""".stripMargin,
    // the rolling TimeWindow keeps only the fresh-mtime batch: the
    // back-dated rows (orderkey 1001-2000) never transfer
    "etl_config_timewindow" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY o_orderstatus""".stripMargin,
    // one config key (Frequency) moves the same document to the
    // periodic streaming path — the data contract must not move
    "etl_config_scheduled" ->
      """SELECT CAST(user_id % 4 AS INT) AS shard, COUNT(*) AS n,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000 AND event_type <> 'error'
        |GROUP BY 1""".stripMargin,
    "stream_scheduled" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000 AND event_type <> 'error'
        |GROUP BY event_type""".stripMargin,
    // the replayed prefix collapses to exactly one row per event_id, so
    // the oracle aggregates the UN-duplicated slice
    "stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000
        |GROUP BY event_type""".stripMargin,
    // Append-mode emits only CLOSED sessions: batch gaps-and-islands
    // minus each user's final (still-open) session
    "stream_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_id < 2000),
        |x AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |y AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
        |  THEN 1 ELSE 0 END AS new_s FROM x),
        |z AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS seq FROM y),
        |sess AS (SELECT user_id, seq, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us FROM z GROUP BY user_id, seq),
        |last AS (SELECT user_id, MAX(seq) AS mseq FROM sess GROUP BY user_id)
        |SELECT sess.user_id, n_events, start_us, end_us
        |FROM sess JOIN last USING (user_id) WHERE seq <> mseq""".stripMargin,
    "text_redact" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(raw, '[0-9]{4,}')) AS BIGINT) AS n_digit_runs,
        | CAST(LENGTH(regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |   '[0-9]{4,}', '<NUM>', 'g')) AS BIGINT) AS redacted_len
        |FROM (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com id '
        |    || (doc_id * 1000000 + 123456) AS raw
        | FROM documents) t""".stripMargin,
    "text_repetition" ->
      """WITH bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' '))),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
        | FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |c AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        | COUNT(*) AS n_distinct_bigrams, CAST(MAX(n) AS BIGINT) AS max_repeat,
        | CAST(MAX(n) AS DOUBLE) / SUM(n) AS repetition_ratio
        |FROM c GROUP BY doc_id""".stripMargin,
    "stream_enrich" ->
      """SELECT COALESCE(c_mktsegment, '(none)') AS segment, event_type, COUNT(*) AS n
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |WHERE event_id < 2000
        |GROUP BY 1, 2""".stripMargin,
    "stream_jdbc_sink" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id < 2000 AND event_type <> 'error'
        |GROUP BY event_type""".stripMargin,
    "stream_windowed_agg" ->
      s"""SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start_s, event_type,
        | COUNT(*) AS n_events, ${decSum("value")} AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_interval_join" ->
      """SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id,
        | epoch_us(e.ts) AS error_us, epoch_us(c.ts) AS click_us
        |FROM events e JOIN events c ON c.user_id = e.user_id
        | AND c.ts >= e.ts - INTERVAL 30 MINUTE AND c.ts <= e.ts
        |WHERE e.event_type = 'error' AND c.event_type = 'click'
        | AND e.event_id < 2000 AND c.event_id < 2000""".stripMargin,
    "text_split" ->
      """SELECT CASE WHEN (doc_id * 2654435761 + 104729) % 9973 % 100 < 95
        |  THEN 'train' ELSE 'val' END AS split,
        | COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "text_stratified_split" ->
      s"""WITH r AS (SELECT source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY (doc_id * 2654435761 + 104729) % 9973, doc_id)
        |    AS BIGINT) AS rk,
        |  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_source
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN rk <= (n_source * ${TextAnalysis.StratTrainPct}) // 100
        |    THEN 'train' ELSE 'val' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM r GROUP BY 1, 2""".stripMargin,
    "text_split_leakage_free" -> textSplitLeakageSql,
    "text_split_leakage_lineage" -> textSplitLeakageSql,
    "text_pack" ->
      s"""WITH d AS (SELECT doc_id,
        |  CAST((doc_id * 2654435761 + 104729) % 9973 % ${TextAnalysis.PackShards} AS BIGINT) AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb FROM d)
        |SELECT shard, CAST(tb // 4096 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        | MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2""".stripMargin,
    "q_approx_distinct" ->
      "SELECT l_returnflag, CAST(1 AS BOOLEAN) AS within_2pct FROM lineitem GROUP BY l_returnflag",
    "q_approx_percentile" ->
      "SELECT l_returnflag, CAST(1 AS BOOLEAN) AS within_5pct FROM lineitem GROUP BY l_returnflag",
    "sim_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
        | FROM embeddings),
        |q AS (SELECT vec_id, amax, emb,
        |  list_transform(emb, x -> CAST(floor(x / amax * 127 + 0.5) AS BIGINT)) AS codes
        | FROM e WHERE amax > 0)
        |SELECT vec_id, amax,
        | CAST(len(list_filter(codes, c -> c != 0)) AS BIGINT) AS n_nonzero,
        | list_max(list_transform(list_zip(emb, codes),
        |   p -> abs(p[1] - p[2] * amax / 127))) AS max_abs_err,
        | list_sum(list_transform(list_zip(emb, codes),
        |   p -> (p[1] - p[2] * amax / 127) * (p[1] - p[2] * amax / 127))) / len(codes) AS mse
        |FROM q""".stripMargin,
    "text_chunk" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        | CAST(i * 40 AS BIGINT) AS start_token,
        | CAST(LEAST(50, n - i * 40) AS BIGINT) AS n_chunk_tokens,
        | w[i * 40 + 1] AS head_token
        |FROM (
        | SELECT doc_id, string_split(text, ' ') AS w,
        |  len(string_split(text, ' ')) AS n,
        |  unnest(range(0, (len(string_split(text, ' ')) - 1) // 40 + 1)) AS i
        | FROM documents) t
        |WHERE LEAST(50, n - i * 40) > 0""".stripMargin,
    "dedup_minhash_lsh" ->
      """WITH s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents),
        |t AS (
        | SELECT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id) x
        | WHERE jaccard >= 0.7)
        |SELECT COUNT(*) AS n_truth, COUNT(*) AS n_covered FROM t""".stripMargin,
    "dedup_simhash" ->
      "SELECT CAST(0 AS BIGINT) AS n_missed",
    "dedup_embedding_lsh" -> dedupEmbeddingLshSql,
    "dedup_embedding_lsh_capped" -> dedupEmbeddingLshCappedSql,
    "dedup_paragraph" -> dedupParagraphSql,
    // the cleaned-corpus artifact: same election, rewritten text —
    // raw-span grouping keeps the fp-collision tripwire
    "dedup_paragraph_apply" -> {
      val sw = Dedup.SpanWords
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |i AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(w)/$sw.0) AS BIGINT))) AS j, w FROM d),
        |sp AS (SELECT doc_id, CAST(j AS BIGINT) AS span_idx,
        |  array_to_string(w[(j*$sw+1):(j*$sw+$sw)], ' ') AS span FROM i),
        |r AS (SELECT doc_id, span_idx, span,
        |  row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn FROM sp)
        |SELECT doc_id,
        | COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '') AS clean_text,
        | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM r GROUP BY doc_id""".stripMargin
    },
    "dedup_substring" -> dedupSubstringSql,
    // window-granularity cleaned corpus: first occurrence keeps, later
    // occurrences drop their covered tokens (raw-span tripwire)
    "dedup_substring_apply" -> {
      val w = Dedup.SubstrWindow
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |win AS (SELECT doc_id, CAST(unnest(range(0, len(w) - ${w - 1})) AS BIGINT) AS pos, w
        | FROM d WHERE len(w) >= $w),
        |sp AS (SELECT doc_id, pos, array_to_string(w[(pos+1):(pos+$w)], ' ') AS span FROM win),
        |r AS (SELECT doc_id, pos,
        |  COUNT(*) OVER (PARTITION BY span) AS n_occ,
        |  row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn FROM sp),
        |cov AS (SELECT DISTINCT doc_id, CAST(pos + unnest(range(0, $w)) AS BIGINT) AS tp
        | FROM r WHERE n_occ > 1 AND rn > 1),
        |tok AS (SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS tp, w FROM d),
        |t2 AS (SELECT t.doc_id, t.tp, t.w[CAST(t.tp + 1 AS INT)] AS token,
        |  (c.tp IS NOT NULL) AS dropped
        | FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.tp = t.tp)
        |SELECT doc_id,
        | COALESCE(string_agg(CASE WHEN NOT dropped THEN token END, ' ' ORDER BY tp), '') AS clean_text,
        | CAST(SUM(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_tokens
        |FROM t2 GROUP BY doc_id""".stripMargin
    },
    "sim_lsh_topk" -> simLshTopkSql,
    // serving a query stream against the static index IS the batch
    // retrieval — identical candidate stage and ranking, same oracle
    "stream_ann_serving" -> simLshTopkSql,
    "sim_multiprobe_topk" -> simMultiprobeTopkSql,
    "sim_knn_graph" -> simKnnGraphSql,
    // the staged graph must read back bit-equal to the build — same
    // oracle as the recompute twin
    "sim_knn_graph_lineage" -> simKnnGraphSql,
    // staged-snapshot merge must equal the full rebuild bit-for-bit
    // (top-k dominance argument — see knnGraphIncremental scaladoc)
    "sim_knn_graph_incremental" -> simKnnGraphSql,
    "sim_knn_components" -> simKnnComponentsSql,
    "sim_range_search" -> simRangeSearchSql,
    "sim_recall_report" -> simRecallReportSql,
    "sim_pagerank" -> simPagerankSql,
    "sim_centroid_drift" -> simCentroidDriftSql,
    "sim_label_prop" -> simLabelPropSql,
    "sim_rerank_topk" -> simRerankTopkSql,
    "sim_matryoshka_topk" -> simMatryoshkaTopkSql,
    "text_decontaminate" -> textDecontaminateSql,
    // the artifact: every training doc with its kept/contaminated
    // verdict (raw-gram join keeps the fp-collision tripwire)
    "text_decontaminate_apply" -> {
      val n = TextAnalysis.DecontamN
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${n - 2}),
        |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS gram
        |  FROM d WHERE len(w) >= $n),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |hit AS (SELECT DISTINCT doc_id FROM g
        |  WHERE doc_id % 97 <> 0 AND gram IN (SELECT gram FROM ev))
        |SELECT d.doc_id, (hit.doc_id IS NULL) AS kept
        |FROM d LEFT JOIN hit ON hit.doc_id = d.doc_id
        |WHERE d.doc_id % 97 <> 0""".stripMargin
    },
    // the bloom path's exact-verify stage removes every bloom false
    // positive, so its contract IS the exact oracle — same SQL
    "text_decontaminate_bloom" -> textDecontaminateSql,
    "text_contamination_score" -> textContaminationScoreSql,
    "text_corpus_pipeline" -> textCorpusPipelineSql,
    // bounded reference bigram model (lang='en' slice, top-V by count,
    // ties on text) broadcast-scored over every doc; integer sums, one
    // terminal divide — n_bigrams>0 always holds for surviving rows
    // (empty bigram lists drop in both engines)
    "text_lm_score" ->
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, lang,
        |  unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM w),
        |model AS (SELECT bigram, COUNT(*) AS c FROM b WHERE lang = 'en'
        |  GROUP BY bigram ORDER BY c DESC, bigram LIMIT ${TextAnalysis.LmVocab}),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(model.c) AS n_hits,
        |    CAST(COALESCE(SUM(model.c), 0) AS BIGINT) AS sum_count
        |  FROM b LEFT JOIN model USING (bigram) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_hits, sum_count,
        | CAST(sum_count AS DOUBLE) / n_bigrams AS lm_score
        |FROM agg""".stripMargin,
    // corpus → vocabulary → weighted char-pair counts → top-K merges;
    // all-integer, LIMIT cut made total by the (n desc, pair) order
    "text_bpe_merges" ->
      s"""WITH v AS (SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |p AS (SELECT wc, unnest(list_transform(range(1, LENGTH(word)),
        |    i -> word[i] || word[i+1])) AS pair FROM v)
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT ${TextAnalysis.BpeTopMerges}""".stripMargin,
    "text_bpe_apply" -> textBpeApplySql,
    "text_token_budget_bpe" -> textTokenBudgetBpeSql,
    "text_pack_bpe" -> textPackBpeSql,
    // raw words in the oracle (the Spark side joins md5 fps — collision tripwire)
    "text_rarity" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY word),
        |rare AS (SELECT word FROM df WHERE df <= ${TextAnalysis.RareDf}),
        |nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |nr AS (SELECT doc_id, COUNT(*) AS n_rare FROM t JOIN rare USING (word)
        |  GROUP BY doc_id)
        |SELECT nt.doc_id, n_tokens,
        | CAST(COALESCE(n_rare, 0) AS BIGINT) AS n_rare,
        | CAST(COALESCE(n_rare, 0) AS DOUBLE) / n_tokens AS rare_ratio
        |FROM nt LEFT JOIN nr ON nt.doc_id = nr.doc_id""".stripMargin,
    // 1e-7 fixed-point sums via floor(x*1e7 + 0.5): IEEE-deterministic
    // in both engines (decimal casts diverge at midpoints), exact and
    // order-independent as integers; one terminal double divide
    "sim_label_centroids" ->
      """WITH p AS (SELECT label, unnest(range(0, len(embedding))) AS pos, embedding
        |  FROM embeddings),
        |v AS (SELECT label, CAST(pos AS INT) AS pos,
        |  embedding[CAST(pos AS BIGINT) + 1] AS v FROM p)
        |SELECT label, pos, COUNT(*) AS n_vectors,
        | CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 10000000 / COUNT(*) AS centroid_v
        |FROM v GROUP BY label, pos""".stripMargin,
    "sim_ivf_topk" -> simIvfTopkSql,
    // serving from the persisted index is bit-equal to the in-memory
    // IVF path (floats round-trip parquet exactly) — same oracle
    "sim_ivf_index_topk" -> simIvfTopkSql,
    // stateless per-query retrieval: micro-batch boundaries cannot
    // change results, so the stream shares the batch oracle
    "stream_ivf_serving" -> simIvfTopkSql,
    // snapshot postings + appended batch under the frozen quantizer ≡
    // one-shot build that trains without the batch, assigns everything
    "sim_ivf_index_incremental" -> simIvfIncTopkSql,
    "sim_maintenance_nightly" -> simIvfTwoNightSql,
    // the two-night loop generalized beyond IVF (VERDICT r14 #4): the
    // compressed artifact's nightly cycle (frozen-codebook append →
    // codebook-drift consult → compact → promote) and the lexical
    // artifact's (frozen-stats append → df-staleness consult →
    // re-stat on night 2 → compact → promote)
    "sim_pq_maintenance_nightly" -> simPqTwoNightSql,
    "text_bm25_maintenance_nightly" -> textBm25TwoNightSql,
    "sim_ivf_index_drift" -> simIvfIncDriftSql,
    // compaction moves rows between files, never changes them — the
    // compacted index shares the incremental gate's oracle verbatim
    "sim_ivf_index_compact" -> simIvfIncTopkSql,
    // the full lifecycle (snapshot → streamed append → drift consult →
    // compact → serve) moves rows in and between files, never changes
    // them — same frozen-quantizer rebuild oracle
    "sim_ivf_lifecycle_topk" -> simIvfIncTopkSql,
    "sim_ivf_index_imbalance" -> simIvfImbalanceSql,
    // the code postings assign under the SAME frozen coarse quantizer,
    // so the per-list counts — and the oracle — are identical; the gate
    // is distinct because it consults the COMPRESSED artifact
    "sim_ivf_pq_index_imbalance" -> simIvfImbalanceSql,
    "sim_maintenance_plan" -> simMaintenancePlanSql,
    "sim_maintenance_apply" -> simMaintenanceApplySql,
    // the parsed document resolves to the identical decision table
    "etl_maintenance_config" -> simMaintenancePlanSql,
    "etl_maintenance_config_apply" -> simMaintenanceApplySql,
    "sim_ivf_lifecycle_retrain" -> simIvfRetrainSql,
    "sim_ivf_pq_lifecycle_retrain" -> simIvfPqRetrainSql,
    // stateless per-vector assignment + additive appends: micro-batch
    // boundaries cannot change the final postings set
    "stream_index_append" -> simIvfIncTopkSql,
    // same batch-boundary-invariance argument for the compressed index:
    // stateless frozen-artifact encoding + additive code appends
    "stream_pq_index_append" -> simIvfPqIncTopkSql,
    "text_bm25_topk" -> textBm25Sql,
    // serving from the persisted postings index is bit-equal to the
    // corpus recompute (integers/strings round-trip parquet exactly;
    // same query policy over the persisted dfs) — same oracle
    "text_bm25_index_topk" -> textBm25Sql,
    // snapshot postings + appended batch under FROZEN collection stats
    // ≡ a frozen-stats rebuild (stats/df/query over snapshot docs,
    // term frequencies over everything)
    "text_bm25_index_incremental" -> textBm25IncSql,
    // bucket compaction moves postings rows between files, never
    // changes them — shares the incremental lexical oracle verbatim
    "text_bm25_index_compact" -> textBm25IncSql,
    // tokenize-and-append is stateless and additive: micro-batch
    // boundaries cannot change the final postings set
    "stream_bm25_index_append" -> textBm25IncSql,
    // the full lexical lifecycle (snapshot -> streamed append -> drift
    // consult -> bucket compact -> serve) moves rows in and between
    // files, never changes them
    "text_bm25_lifecycle_topk" -> textBm25IncSql,
    // the re-stat branch recomputes every statistic over the full
    // postings, so serving equals the one-shot full-corpus build
    "text_bm25_index_restat" -> textBm25Sql,
    "text_bm25_index_drift" -> textBm25DriftSql,
    "sim_hybrid_rrf_topk" -> simHybridRrfSql,
    // fusion served from the PERSISTED arms — its own oracle: the IVF
    // arm changes recall vs brute, so the oracle replicates the probed
    // candidate stage exactly (as sim_ivf_topk's does)
    "sim_hybrid_index_topk" -> simHybridIndexSql,
    "sim_hybrid_lifecycle_topk" -> simHybridLifecycleSql,
    "sim_hybrid_retrain_topk" -> simHybridRetrainSql,
    // the batched fusion: one pass of each persisted arm for the whole
    // query batch; per-query stages are partitioned row_numbers
    "sim_hybrid_index_batch_topk" -> simHybridBatchSql,
    // stateless per-query fusion: micro-batch boundaries cannot change
    // results, so the stream shares the batch fusion's oracle
    // the stream now fuses its whole micro-batch in one pass (VERDICT
    // r10 #1) — the oracle is the batched fusion partitioned by
    // query_doc, restricted to the staged micro-batch ids
    "stream_hybrid_serving" ->
      simHybridBatchSqlFor(s"IN (${Similarity.HybridStreamDocs.mkString(", ")})"),
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_semantic_incremental" -> dedupSemanticIncSql,
    "dedup_semantic_apply" -> dedupSemanticApplySql,
    "sim_pq_topk" -> simPqTopkSql,
    "sim_ivf_pq_topk" -> simIvfPqTopkSql,
    // coarse stage served from on-disk codes reconstructs bit-equal
    // codewords (codes are integers, codewords round-trip parquet
    // exactly) — same composed oracle
    "sim_ivf_pq_index_topk" -> simIvfPqTopkSql,
    // snapshot codes + appended batch under frozen quantizer+codebook ≡
    // one-shot build training both stages without the batch
    "sim_ivf_pq_index_incremental" -> simIvfPqIncTopkSql,
    // the composed IVFPQ lifecycle moves code rows in and between
    // files, never changes them — incremental IVFPQ oracle verbatim
    "sim_ivf_pq_lifecycle_topk" -> simIvfPqIncTopkSql,
    "sim_ivf_pq_index_drift" -> simIvfPqIncDriftSql,
    // compaction moves code rows between files, never changes them —
    // serving shares the incremental IVFPQ oracle verbatim
    "sim_ivf_pq_index_compact" -> simIvfPqIncTopkSql,
    "sim_brute_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nsq
        | FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  list_sum(list_transform(list_zip(q.emb, c.emb), x -> x[1] * x[2]))
        |    / sqrt(q.nsq * c.nsq) AS cosine
        | FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |SELECT query_id, cand_id, cosine,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin,
    "sim_native_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nsq
        | FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  list_sum(list_transform(list_zip(q.emb, c.emb), x -> x[1] * x[2]))
        |    / sqrt(q.nsq * c.nsq) AS cosine
        | FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |SELECT query_id, cand_id, cosine,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin,
    "text_lang_topk_native" ->
      """SELECT lang, doc_id, stopword_ratio, rank FROM (
        |  SELECT lang, doc_id, stopword_ratio,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY stopword_ratio DESC, doc_id) AS rank
        |  FROM (SELECT lang, doc_id,
        |      CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS stopword_ratio
        |    FROM documents) s) r
        |WHERE rank <= 3""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
        | CAST(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS BIGINT) AS n_stopwords,
        | CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / LENGTH(text) AS digit_ratio,
        | CAST(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS stopword_ratio,
        | CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_bpeish_tokens
        |FROM documents""".stripMargin,
    // hashing-trick BOW: first md5 hex byte = bucket, portable on
    // both engines (Spark conv(hex,16,10) == DuckDB CAST('0x..'))
    "text_feature_hash" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT doc_id,
        | CAST(CONCAT('0x', substr(md5(tok), 1, 2)) AS BIGINT) AS bucket,
        | COUNT(*) AS n
        |FROM t GROUP BY 1, 2""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id, lang AS lang_true,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','hash','order','table'))) AS BIGINT) AS score_en,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('slow','agg','merge'))) AS BIGINT) AS score_es,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('join','small','row'))) AS BIGINT) AS score_zh,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('scan','data','batch'))) AS BIGINT) AS score_fr,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('customer','window','group'))) AS BIGINT) AS score_de
        |FROM documents)
        |SELECT doc_id, lang_true,
        | CASE WHEN score_en = GREATEST(score_en, score_es, score_zh, score_fr, score_de) THEN 'en'
        |      WHEN score_es = GREATEST(score_en, score_es, score_zh, score_fr, score_de) THEN 'es'
        |      WHEN score_zh = GREATEST(score_en, score_es, score_zh, score_fr, score_de) THEN 'zh'
        |      WHEN score_fr = GREATEST(score_en, score_es, score_zh, score_fr, score_de) THEN 'fr'
        |      ELSE 'de' END AS pred_lang,
        | GREATEST(score_en, score_es, score_zh, score_fr, score_de) AS pred_score
        |FROM t""".stripMargin,
    "text_ngrams" ->
      """SELECT bigram, COUNT(*) AS n FROM (
        | SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
        | FROM documents WHERE len(string_split(text, ' ')) >= 2) t
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
        | list_min(list_transform(range(1, LENGTH(text) - 6), i ->
        |   (${(0 until 8).map(j => s"CAST(ascii(substr(text, CAST(i AS BIGINT) + $j, 1)) AS BIGINT) * ${math.pow(131, 7 - j).toLong}").mkString(" + ")})
        |   % 2147483647)) AS fingerprint,
        | CAST(len(list_distinct(list_transform(range(1, LENGTH(text) - 6), i ->
        |   (${(0 until 8).map(j => s"CAST(ascii(substr(text, CAST(i AS BIGINT) + $j, 1)) AS BIGINT) * ${math.pow(131, 7 - j).toLong}").mkString(" + ")})
        |   % 2147483647))) AS BIGINT) AS n_distinct_grams
        |FROM documents WHERE LENGTH(text) >= 8""".stripMargin,
  )
}
