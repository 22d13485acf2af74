package graft

import graft.tools.PlanFingerprint
import graft.tools.PlanFingerprint.Fp
import scala.jdk.CollectionConverters._

/** Physical-plan fingerprints of EVERY declared query key (round-6
  * VERDICT item 7 widened the top-20 + mid-tier pins to the full
  * surface), pinned so a refactor that adds a shuffle, drops a
  * broadcast, or un-stages a relation fails HERE — in CI — instead of
  * surfacing as a regressed number in a bench round. The stream_* pins
  * fingerprint the post-run batch result frame (their streaming
  * topology is covered by StreamingSpec); they are kept for
  * completeness and change-detection.
  *
  * On mismatch: if the change is intentional (a better plan), re-pin
  * via `tools/run.sh graft.tools.Prof <sf> fingerprint <keys>` (or
  * `fingerprintall` to regenerate the whole list); the failure message
  * shows got-vs-pinned per field. Stability: the full list generated
  * twice (cold and warm /tmp caches) was byte-identical.
  */
class PlanFingerprintSpec extends SparkTestBase {

  // relocatable like SchemasSpec: derive from GRAFT_TEST_SF_ROOT and
  // skip (not error) when the testdata tree is absent
  private val sf =
    sys.env.getOrElse("GRAFT_TEST_SF_ROOT", "/root/testdata") + "/sf0.001"

  // Fp(shuffles, broadcasts, scans, rddScans, windows, sortMergeJoins)
  private val pinned: Seq[(String, Fp)] = Seq(
    "ab_test" -> Fp(1, 0, 1, 0, 0, 0),
    "agg_incremental" -> Fp(3, 0, 2, 0, 0, 0),
    "anomaly_zscore" -> Fp(3, 0, 1, 0, 2, 0),
    "approx_distinct" -> Fp(2, 0, 1, 0, 0, 0),
    "argmax_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "array_hof_ops" -> Fp(1, 0, 1, 0, 0, 0),
    "array_map_ops" -> Fp(1, 0, 1, 0, 0, 0),
    "attribution_last_touch" -> Fp(3, 0, 2, 0, 1, 0),
    "bitmap_distinct" -> Fp(3, 0, 1, 0, 0, 0),
    "bitwise_ops" -> Fp(1, 0, 1, 0, 0, 0),
    "bloom_semi_prune" -> Fp(3, 1, 2, 0, 0, 0),
    "bm25_topk" -> Fp(5, 4, 0, 4, 1, 0),
    "boilerplate_strip" -> Fp(1, 0, 1, 0, 0, 0),
    "bpe_apply" -> Fp(1, 0, 0, 5, 0, 0),
    "bpe_encode" -> Fp(0, 0, 0, 1, 0, 0),
    "bpe_pair_counts" -> Fp(2, 0, 1, 0, 0, 0),
    "cast_numeric" -> Fp(1, 0, 1, 0, 0, 0),
    "cdc_apply" -> Fp(2, 0, 1, 0, 0, 0),
    "chunk_overlap" -> Fp(1, 0, 1, 0, 0, 0),
    "cohort_retention" -> Fp(5, 1, 2, 0, 0, 0),
    "collocation_pmi" -> Fp(2, 4, 0, 5, 0, 0),
    "cond_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "count_distinct" -> Fp(2, 0, 1, 0, 0, 0),
    "cube_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "curate_corpus" -> Fp(2, 0, 1, 0, 1, 0),
    "curate_corpus_neardup" -> Fp(1, 1, 1, 0, 0, 0),
    "curate_source_cap" -> Fp(2, 0, 1, 0, 1, 0),
    "curate_token_budget" -> Fp(2, 0, 1, 0, 1, 0),
    "dataset_hash" -> Fp(1, 0, 1, 0, 0, 0),
    "date_arith" -> Fp(1, 0, 1, 0, 0, 0),
    "decimal_sum" -> Fp(2, 0, 1, 0, 0, 0),
    // r17 hashed shingles: countDistinct's second agg exchange collapsed
    // to a plain count over per-doc-distinct hashes (4 -> 3 shuffles)
    "decontaminate" -> Fp(3, 1, 2, 0, 0, 0),
    "dedup_bucket_overflow" -> Fp(2, 0, 1, 0, 0, 0),
    "dedup_containment" -> Fp(1, 4, 2, 3, 0, 0),
    "dedup_edit" -> Fp(1, 4, 2, 3, 0, 0),
    "dedup_embedding" -> Fp(3, 2, 6, 0, 0, 0),
    "dedup_embedding_clusters" -> Fp(1, 0, 0, 0, 0, 0),
    "dedup_eval" -> Fp(7, 11, 2, 10, 0, 0),
    "dedup_exact" -> Fp(2, 0, 1, 0, 0, 0),
    "dedup_incremental" -> Fp(4, 1, 1, 2, 0, 0),
    "dedup_minhash" -> Fp(3, 0, 1, 0, 0, 0),
    "dedup_ngram" -> Fp(1, 4, 2, 3, 0, 0),
    "dedup_passage" -> Fp(1, 1, 1, 1, 0, 0),
    "dedup_prefix" -> Fp(1, 4, 0, 5, 0, 0),
    "dedup_simhash" -> Fp(3, 0, 1, 0, 0, 0),
    "dedup_simhash_pairs" -> Fp(3, 2, 0, 3, 0, 0),
    "dedup_substring" -> Fp(3, 3, 4, 0, 0, 0),
    "dedup_temporal" -> Fp(2, 0, 1, 0, 2, 0),
    "dedup_url" -> Fp(2, 0, 1, 0, 0, 0),
    "dq_checks" -> Fp(2, 1, 2, 0, 0, 0),
    "dq_id_gaps" -> Fp(1, 0, 1, 0, 1, 0),
    "dq_k_anonymity" -> Fp(2, 0, 1, 0, 0, 0),
    "embedding_quantize" -> Fp(1, 0, 1, 0, 0, 0),
    "events_ohlc" -> Fp(2, 0, 1, 0, 0, 0),
    "events_session_window" -> Fp(2, 0, 1, 0, 0, 0),
    "events_window" -> Fp(2, 0, 1, 0, 0, 0),
    "explode_links" -> Fp(2, 0, 1, 0, 0, 0),
    "explode_outer" -> Fp(1, 0, 1, 0, 0, 0),
    "explode_pos" -> Fp(1, 0, 1, 0, 0, 0),
    "feature_hash" -> Fp(3, 0, 1, 0, 0, 0),
    "feature_scale" -> Fp(2, 1, 2, 0, 0, 0),
    "feature_target_encode" -> Fp(2, 0, 1, 0, 1, 0),
    "filter_rlike" -> Fp(1, 0, 1, 0, 0, 0),
    "from_json_struct" -> Fp(1, 0, 1, 0, 0, 0),
    "from_xml_struct" -> Fp(2, 0, 1, 0, 0, 0),
    "funnel_stages" -> Fp(2, 0, 1, 0, 0, 0),
    "fuzzy_clusters" -> Fp(1, 0, 0, 0, 0, 0),
    "fuzzy_join" -> Fp(1, 1, 2, 0, 0, 0),
    "gapfill_ffill" -> Fp(3, 1, 2, 0, 1, 0),
    "golden_record" -> Fp(2, 1, 1, 0, 0, 0),
    "graph_assortativity" -> Fp(3, 1, 0, 4, 0, 0),
    "graph_bfs" -> Fp(1, 0, 0, 0, 0, 0),
    "graph_cc_incremental" -> Fp(2, 2, 0, 0, 0, 0),
    "graph_degrees" -> Fp(3, 0, 6, 0, 0, 1),
    "graph_hits" -> Fp(1, 0, 0, 1, 0, 0),
    "graph_jaccard" -> Fp(3, 2, 0, 5, 0, 0),
    "graph_kcore" -> Fp(1, 0, 0, 0, 0, 0),
    "graph_lpa" -> Fp(1, 0, 0, 0, 0, 0),
    "graph_modularity" -> Fp(3, 0, 0, 3, 0, 1),
    "graph_project" -> Fp(3, 0, 1, 0, 0, 0),
    "graph_sssp" -> Fp(1, 0, 0, 0, 0, 0),
    "graph_triangles" -> Fp(4, 2, 0, 5, 0, 0),
    "group_collect_list" -> Fp(2, 0, 1, 0, 0, 0),
    "group_sum" -> Fp(2, 0, 1, 0, 0, 0),
    "group_sum_salted" -> Fp(3, 0, 1, 0, 0, 0),
    "grouping_sets_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "heavy_hitters" -> Fp(2, 0, 1, 0, 0, 0),
    "heavy_hitters_mg" -> Fp(2, 0, 1, 0, 0, 0),
    "histogram_equidepth" -> Fp(3, 1, 2, 0, 0, 0),
    "histogram_fixed" -> Fp(2, 0, 1, 0, 0, 0),
    "interval_merge" -> Fp(2, 0, 1, 0, 2, 0),
    // per-document term counts + one repartition on word + a streamed
    // posting build replace the two-level aggregate (3 -> 2 shuffles)
    "inverted_index" -> Fp(2, 0, 1, 0, 0, 0),
    "inverted_index_salted" -> Fp(4, 0, 1, 0, 0, 0),
    "join_anti" -> Fp(1, 1, 2, 0, 0, 0),
    "join_asof" -> Fp(3, 0, 2, 0, 1, 0),
    "join_asof_forward" -> Fp(3, 0, 2, 0, 1, 0),
    "join_asof_merge" -> Fp(4, 0, 2, 0, 0, 0),
    "join_asof_nearest" -> Fp(5, 1, 4, 0, 2, 0),
    "join_asof_tolerance" -> Fp(3, 0, 2, 0, 1, 0),
    "join_full" -> Fp(3, 0, 2, 0, 0, 1),
    "join_incremental" -> Fp(3, 2, 4, 0, 0, 0),
    "join_inner" -> Fp(1, 1, 2, 0, 0, 0),
    "join_interval" -> Fp(2, 1, 2, 0, 0, 0),
    "join_left" -> Fp(2, 1, 2, 0, 0, 0),
    "join_null_safe" -> Fp(2, 1, 2, 0, 0, 0),
    "join_pit" -> Fp(3, 0, 2, 0, 2, 0),
    "join_range" -> Fp(1, 1, 2, 0, 0, 0),
    "join_right" -> Fp(2, 1, 2, 0, 0, 0),
    "join_semi" -> Fp(1, 1, 2, 0, 0, 0),
    "join_skew" -> Fp(2, 1, 2, 0, 0, 0),
    "json_extract" -> Fp(1, 0, 1, 0, 0, 0),
    "knn_join" -> Fp(6, 4, 6, 0, 0, 0),
    "label_index" -> Fp(3, 1, 2, 0, 1, 0),
    "lm_score" -> Fp(5, 2, 0, 3, 0, 0),
    "map_funcs" -> Fp(1, 0, 1, 0, 0, 0),
    "markov_transitions" -> Fp(4, 0, 1, 0, 2, 0),
    "merge_upsert" -> Fp(3, 0, 3, 0, 0, 1),
    "mix_epochs" -> Fp(1, 0, 1, 0, 0, 0),
    "mmr_rerank" -> Fp(1, 0, 0, 1, 0, 0),
    "multi_distinct" -> Fp(3, 0, 1, 0, 0, 0),
    "multimodal_audio" -> Fp(1, 0, 1, 0, 0, 0),
    "multimodal_decode" -> Fp(1, 0, 1, 0, 0, 0),
    "multimodal_features" -> Fp(1, 0, 1, 0, 0, 0),
    "multimodal_frames" -> Fp(1, 0, 1, 0, 0, 0),
    "multimodal_resize" -> Fp(1, 0, 1, 0, 0, 0),
    "multimodal_video" -> Fp(1, 0, 1, 0, 0, 0),
    "neardup_components" -> Fp(1, 0, 0, 0, 0, 0),
    "ngram_lm" -> Fp(3, 1, 2, 0, 0, 0),
    "null_funcs" -> Fp(1, 0, 1, 0, 0, 0),
    "pack_sequences" -> Fp(2, 0, 1, 0, 1, 0),
    "pagerank" -> Fp(1, 0, 0, 0, 0, 0),
    "pagerank_norm" -> Fp(1, 0, 0, 0, 0, 0),
    "pagerank_oracle" -> Fp(1, 0, 0, 0, 0, 0),
    "pagerank_personal" -> Fp(1, 0, 0, 0, 0, 0),
    // r16: wsum groupBy+self-join → window over hash(src); static
    // r17: the final ranks are EAGERLY localCheckpointed inside
    // weightedDataFrame so the static caches can unpersist (VERDICT r16
    // item 4) — the declared plan is now the sort over that materialized
    // RDD; the loop's shape evidence lives in plans/r16+r17 and
    // GraphOpsSpec's equivalence/cache-release pins
    "pagerank_weighted" -> Fp(1, 0, 0, 1, 0, 0),
    "percentile_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "percentile_disc" -> Fp(2, 0, 1, 0, 2, 0),
    "pivot_agg" -> Fp(3, 0, 1, 0, 0, 0),
    "profile_table" -> Fp(2, 0, 1, 0, 0, 0),
    "project_lower_trim" -> Fp(1, 0, 1, 0, 0, 0),
    "quality_cut" -> Fp(2, 1, 2, 0, 0, 0),
    "rank_fusion" -> Fp(7, 5, 1, 4, 3, 0),
    "regex_extract" -> Fp(1, 0, 1, 0, 0, 0),
    "regex_replace" -> Fp(1, 0, 1, 0, 0, 0),
    "regr_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "retrieval_eval" -> Fp(2, 1, 1, 0, 0, 0),
    "robust_outliers" -> Fp(4, 3, 4, 0, 0, 0),
    "rollup_agg" -> Fp(2, 1, 2, 0, 0, 0),
    "sample_balanced" -> Fp(2, 0, 1, 0, 1, 0),
    "sample_hash" -> Fp(1, 0, 1, 0, 0, 0),
    "sample_stratified" -> Fp(1, 0, 1, 0, 0, 0),
    "sample_temperature" -> Fp(4, 1, 2, 0, 4, 0),
    "sample_weighted" -> Fp(0, 0, 1, 0, 0, 0),
    "scalar_arith" -> Fp(1, 0, 1, 0, 0, 0),
    "scan_binaryfile" -> Fp(1, 0, 0, 0, 0, 0),
    "scan_csv" -> Fp(1, 0, 0, 0, 0, 0),
    "scan_json" -> Fp(1, 0, 0, 0, 0, 0),
    "scan_json_corrupt" -> Fp(1, 0, 0, 0, 0, 0),
    "scan_kv_dsv2" -> Fp(1, 0, 0, 0, 0, 0),
    "scan_orc" -> Fp(1, 0, 0, 0, 0, 0),
    "scan_partitioned" -> Fp(2, 0, 1, 0, 0, 0),
    "scan_project" -> Fp(1, 0, 1, 0, 0, 0),
    "scd2_apply" -> Fp(7, 3, 6, 0, 5, 0),
    "scd2_build" -> Fp(2, 0, 1, 0, 2, 0),
    "session_paths" -> Fp(2, 0, 1, 0, 2, 0),
    "sessionize" -> Fp(2, 0, 1, 0, 2, 0),
    "set_except" -> Fp(2, 1, 2, 0, 0, 0),
    "set_except_all" -> Fp(2, 0, 2, 0, 0, 0),
    "set_intersect" -> Fp(2, 1, 2, 0, 0, 0),
    "set_intersect_all" -> Fp(2, 0, 2, 0, 0, 0),
    "shard_manifest" -> Fp(2, 0, 1, 0, 0, 0),
    "similarity_ann" -> Fp(3, 1, 2, 0, 1, 0),
    "similarity_ivf" -> Fp(6, 2, 3, 0, 2, 0),
    "similarity_ivfpq" -> Fp(6, 8, 9, 0, 2, 0),
    "similarity_mrl" -> Fp(2, 1, 2, 0, 1, 0),
    "similarity_pq" -> Fp(2, 0, 1, 0, 0, 0),
    "similarity_pq_topk" -> Fp(4, 4, 5, 0, 0, 0),
    "similarity_topk" -> Fp(2, 1, 2, 0, 1, 0),
    "skyline_pareto" -> Fp(3, 0, 1, 0, 2, 0),
    "snapshot_diff" -> Fp(3, 0, 3, 0, 0, 1),
    "sort_desc" -> Fp(1, 0, 1, 0, 0, 0),
    "spatial_radius_join" -> Fp(1, 1, 2, 0, 0, 0),
    "split_leakage_free" -> Fp(1, 1, 1, 0, 0, 0),
    "sql_correlated" -> Fp(3, 2, 3, 0, 0, 0),
    "sql_exists" -> Fp(1, 2, 3, 0, 0, 0),
    "sql_group_by_all" -> Fp(2, 0, 1, 0, 0, 0),
    "sql_lateral" -> Fp(2, 1, 2, 0, 1, 0),
    "sql_recursive" -> Fp(2, 0, 0, 0, 0, 0),
    "sql_try_cast" -> Fp(1, 0, 1, 0, 0, 0),
    "sql_window" -> Fp(2, 0, 1, 0, 2, 0),
    "star_join" -> Fp(2, 5, 6, 0, 0, 0),
    "stats_agg" -> Fp(2, 0, 1, 0, 0, 0),
    "stream_cdc_apply" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_dedup" -> Fp(3, 0, 0, 0, 0, 0),
    "stream_enrich" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_hourly_counts" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_join" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_kv_counts" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_session_counts" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_sliding_counts" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_txlog_sink" -> Fp(2, 0, 1, 0, 0, 0),
    "string_concat" -> Fp(1, 0, 1, 0, 0, 0),
    "string_funcs2" -> Fp(1, 0, 1, 0, 0, 0),
    "table_log_evolve" -> Fp(2, 0, 1, 0, 0, 0),
    "stream_txlog_pipeline" -> Fp(2, 0, 1, 0, 0, 0),
    "stream_txlog_window" -> Fp(2, 1, 2, 0, 0, 0),
    "stream_mv_refresh" -> Fp(1, 0, 1, 0, 0, 0),
    "stream_txlog_cdf" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_txlog_complete" -> Fp(1, 0, 1, 0, 0, 0),
    "stream_txlog_maintain" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_txlog_evolve" -> Fp(2, 0, 1, 0, 0, 0),
    "stream_txlog_source" -> Fp(1, 0, 0, 0, 0, 0),
    "stream_txlog_upsert" -> Fp(3, 1, 2, 0, 0, 0),
    "table_log_analyze" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_checkpoint" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_bloom" -> Fp(1, 0, 3, 0, 0, 0),
    "table_log_cdf" -> Fp(2, 0, 2, 0, 0, 0),
    "table_log_clone" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_localize" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_dv_coalesce" -> Fp(3, 1, 2, 0, 0, 0),
    "table_log_compact_small" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_constraints" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_cdf_rich" -> Fp(2, 3, 8, 0, 0, 0),
    "table_log_mv_refresh" -> Fp(3, 3, 9, 0, 0, 0),
    "table_log_rename" -> Fp(3, 1, 2, 0, 0, 0),
    "table_log_replace_where" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_add_constraint" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_default" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_generated" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_optimize_where" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_protocol" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_prune_dml" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_occ_retry" -> Fp(2, 0, 1, 0, 0, 0),
    "scan_txlog_dsv2" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_write_sql" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_sql_dml" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_time_travel_sql" -> Fp(4, 0, 0, 0, 0, 0),
    "table_log_procedures_sql" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_partitioned" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_maintenance_sql" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_merge_shapes_sql" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_mor_dml_sql" -> Fp(2, 0, 0, 0, 0, 0),
    "table_log_read_where" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_cdf_cow" -> Fp(2, 0, 5, 0, 0, 0),
    "table_log_dv" -> Fp(3, 1, 2, 0, 0, 0),
    "table_log_history" -> Fp(1, 0, 0, 0, 0, 0),
    "table_log_incremental" -> Fp(1, 0, 1, 0, 0, 0),
    "table_log_merge" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_optimize" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_skipping" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_restore" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_timetravel" -> Fp(4, 0, 4, 0, 0, 0),
    "table_log_update" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_merge_mor" -> Fp(3, 1, 2, 0, 0, 0),
    "table_log_timetravel_ts" -> Fp(2, 0, 1, 0, 0, 0),
    "table_log_update_mor" -> Fp(3, 1, 2, 0, 0, 0),
    "table_log_zorder" -> Fp(2, 0, 1, 0, 0, 0),
    "text_corpus_freq" -> Fp(4, 2, 3, 0, 0, 0),
    "text_entropy" -> Fp(3, 0, 1, 0, 1, 0),
    "text_fingerprint" -> Fp(1, 0, 1, 0, 0, 0),
    "text_langid" -> Fp(1, 0, 1, 0, 0, 0),
    "text_nfc" -> Fp(1, 0, 1, 0, 0, 0),
    "text_pii_redact" -> Fp(1, 0, 1, 0, 0, 0),
    "text_quality" -> Fp(1, 0, 1, 0, 0, 0),
    "text_repetition" -> Fp(1, 0, 1, 0, 0, 0),
    "text_syllables" -> Fp(1, 0, 1, 0, 0, 0),
    "tfidf_topk" -> Fp(4, 2, 1, 2, 1, 0),
    "time_parts" -> Fp(1, 0, 1, 0, 0, 0),
    "token_count" -> Fp(1, 0, 1, 0, 0, 0),
    "tokenize_explode" -> Fp(2, 0, 1, 0, 0, 0),
    "topk_limit" -> Fp(0, 0, 1, 0, 0, 0),
    "topk_per_group" -> Fp(2, 0, 1, 0, 0, 0),
    "tpch_q1" -> Fp(2, 0, 1, 0, 0, 0),
    "tpch_q10" -> Fp(1, 3, 4, 0, 0, 0),
    "tpch_q11" -> Fp(3, 1, 0, 2, 0, 0),
    "tpch_q12" -> Fp(2, 1, 2, 0, 0, 0),
    "tpch_q13" -> Fp(3, 1, 2, 0, 0, 0),
    "tpch_q14" -> Fp(1, 1, 2, 0, 0, 0),
    "tpch_q15" -> Fp(2, 2, 1, 2, 0, 0),
    "tpch_q16" -> Fp(4, 2, 3, 0, 0, 0),
    "tpch_q17" -> Fp(2, 0, 1, 0, 1, 0),
    "tpch_q18" -> Fp(1, 2, 3, 0, 0, 0),
    "tpch_q19" -> Fp(1, 1, 2, 0, 0, 0),
    "tpch_q2" -> Fp(2, 4, 5, 0, 1, 0),
    "tpch_q20" -> Fp(4, 4, 5, 0, 0, 0),
    "tpch_q21" -> Fp(3, 3, 4, 0, 1, 0),
    "tpch_q22" -> Fp(3, 2, 3, 0, 0, 0),
    "tpch_q3" -> Fp(1, 2, 3, 0, 0, 0),
    "tpch_q4" -> Fp(2, 1, 2, 0, 0, 0),
    "tpch_q5" -> Fp(2, 5, 6, 0, 0, 0),
    "tpch_q6" -> Fp(1, 0, 1, 0, 0, 0),
    "tpch_q7" -> Fp(2, 5, 6, 0, 0, 0),
    "tpch_q8" -> Fp(4, 6, 8, 0, 0, 1),
    "tpch_q9" -> Fp(3, 5, 6, 0, 0, 0),
    "union_all" -> Fp(1, 0, 2, 0, 0, 0),
    "unpivot_agg" -> Fp(1, 0, 1, 0, 0, 0),
    "url_parse" -> Fp(1, 0, 1, 0, 0, 0),
    "variant_json" -> Fp(1, 0, 1, 0, 0, 0),
    "wiki_parse" -> Fp(2, 0, 1, 0, 0, 0),
    "wiki_parse_fused" -> Fp(2, 0, 1, 0, 0, 0),
    "window_lag_lead" -> Fp(2, 0, 1, 0, 1, 0),
    "window_ntile" -> Fp(2, 0, 1, 0, 1, 0),
    "window_pct" -> Fp(2, 0, 1, 0, 1, 0),
    "window_range_frame" -> Fp(2, 0, 1, 0, 1, 0),
    "window_rank" -> Fp(2, 0, 1, 0, 2, 0),
    "window_running" -> Fp(2, 0, 1, 0, 1, 0),
    "zorder_index" -> Fp(1, 0, 1, 0, 0, 0))

  test("every declared query key has a pinned fingerprint") {
    assert(pinned.map(_._1).toSet == SparkEntry.queries.keySet,
      "pinned list out of sync with SparkEntry.queries — run " +
        "`Prof <sf> fingerprintall` and refresh")
  }

  // pagerank_weighted's plan above is its final localCheckpoint, which
  // hides the loop; this pins the last iteration's plan as it ran, just
  // before that checkpoint: edges ⋈ ranks, the contribution sum and the
  // left join from the vertex set
  test("pagerank_weighted loop plan fingerprint unchanged") {
    assume(new java.io.File(sf).isDirectory, s"testdata absent at $sf")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(action -> (qe.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case p => p.toString
        }))
      def onFailure(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries("pagerank_weighted")(spark, sf).collect()
      val deadline = System.nanoTime + 10000000000L // the bus is asynchronous
      while (!plans.asScala.exists(_._1 == "collect") && System.nanoTime < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(l)
    val loop = plans.asScala.filter(_._1 == "localCheckpoint").last._2
    // each cached relation's plan counts once (its Final Plan section):
    // four exchanges, two broadcasts, four file scans, one window
    assert(PlanFingerprint.of(loop) == Fp(4, 2, 4, 1, 1, 0), loop)
  }

  for ((key, want) <- pinned)
    test(s"$key plan fingerprint unchanged") {
      assume(new java.io.File(sf).isDirectory, s"testdata absent at $sf")
      val got = PlanFingerprint.of(
        SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString)
      assert(got == want,
        s"$key plan shape drifted: got $got, pinned $want " +
          "(shuffles, broadcasts, scans, rddScans, windows, sortMergeJoins) — " +
          "re-pin via Prof fingerprint if intentional")
    }
}
