"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``iceberg_kafka_playgroud_spark`` (SURVEY.md §2
inventory); this module only aggregates the per-module registries.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from iceberg_kafka_playgroud_spark.operators import (  # noqa: E402
    advanced,
    audit,
    curation,
    dedup,
    multimodal,
    relational,
    scalar_funcs,
    similarity,
    temporal,
    text,
)
from iceberg_kafka_playgroud_spark import catalog, snapshots  # noqa: E402
from iceberg_kafka_playgroud_spark.sources import kafka_avro, python_datasource  # noqa: E402
from iceberg_kafka_playgroud_spark.streaming import ingest  # noqa: E402

_MODULES = [
    relational,
    audit,
    scalar_funcs,
    temporal,
    text,
    dedup,
    curation,
    similarity,
    multimodal,
    advanced,
    ingest,
    kafka_avro,
    python_datasource,
    catalog,
    snapshots,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q5-shaped
    snowflake join + aggregation (SURVEY §7 phase 1)."""
    return relational.q5_region_revenue(spark, "/root/testdata/sf0.001")


# The driver's correctness harness checks the FIRST 50 registry
# entries per round.  The list is REGENERATED each round by
# tools/rotate_priority.py (edit its DIRTY list + ROUND, run it):
# dirty rows first, then everything else by ASCENDING last-driver-
# checked round (computed from the union of CORRECTNESS_r*.json),
# ties broken by the previous order.  The per-round rationale for the
# dirty head and the staleness-tail accounting live in NOTES.md's
# close-ritual section for that round (this comment is deliberately
# round-agnostic: the tool rewrites only the list below, and a
# round-specific prose description here would silently go stale).
# The builder's own full-registry sf0.01+sf0.1 sweeps each round-close
# are the compensating evidence while the rotation drains the tail.
_PRIORITY = [
    "snapshot_mor_read", "snapshot_expire", "snapshot_orphan_audit",
    "snapshot_rollback", "snapshot_delete_rows", "snapshot_upsert_rows",
    "snapshot_time_travel", "snapshot_sorted_rewrite", "snapshot_partition_evolution",
    "snapshot_wap_publish", "snapshot_changelog_diff", "snapshot_incremental_view_maintenance",
    "snapshot_incremental_read", "snapshot_files", "snapshot_metadata_only_count",
    "snapshot_file_size_audit", "snapshot_branch_tag", "stream_snapshot_ingest",
    "ann_pq_adc_topk", "ann_ivfpq_residual_topk", "embedding_kmeans_lloyd",
    "dedup_semantic_semdedup", "stream_ann_cell_assign", "embedding_top_component",
    "embedding_dim_variance", "embedding_norm_outliers", "dedup_incremental_minhash",
    "decontaminate_fuzzy_minhash", "stream_incremental_dedup", "stream_decontaminate_gate",
    "dedup_ngram_jaccard", "dedup_containment_pairs", "text_ngram_novelty",
    "dedup_similarity_histogram", "ann_topk_bruteforce", "ann_topk_blocked",
    "ann_matryoshka_recall", "ann_topk_ivf", "ann_index_persist_probe",
    "ann_ivf_nprobe_curve", "ann_radius_count", "hybrid_rrf_retrieval",
    "ann_mmr_rerank", "embedding_triplet_mining", "embedding_near_dup_pairs",
    "embedding_knn_label_eval", "ann_topk_lsh", "embedding_near_dup_lsh",
    "embedding_dbscan_core", "dedup_cross_lingual_pairs", "dedup_exact",
    "doc_stats_by_source", "events_activity_powerlaw", "grouping_sets_agg",
    "intersect_all_keys", "orders_survival_hazard", "percentile_exact",
    "sample_hash_bucket", "sketch_misra_gries_heavy", "source_xml_roundtrip",
    "sql_parameterized_query", "text_bpe_token_count", "text_collated_terms",
    "text_feature_hashing", "text_fingerprint", "text_lang_id",
    "text_pmi_bigrams", "text_quality_score", "text_zipf_slope",
    "udtf_table_arg_deltas", "union_by_name", "agg_count_distinct",
    "agg_cube", "agg_having", "agg_rollup",
    "basket_diversity_simpson", "cast_functions", "cte_query",
    "distinct_proj", "files_glob_listing", "filter_like",
    "filter_predicates", "mixture_token_waterfill", "orders_abc_analysis",
    "orders_gini_concentration", "orders_rfm_segmentation", "quality_dup_calibration",
    "sample_systematic_pps", "sort_nulls_ordering", "split_largest_remainder",
    "sql_session_variables", "sql_udf_scalar_tvf", "stream_state_store_read",
    "udtf_dynamic_schema", "vocab_coverage_curve", "orders_open_concurrency",
    "curation_global_shuffle", "stream_stream_left_outer", "stream_stream_full_outer",
    "source_python_pushdown", "agg_listagg_ordered", "stream_state_rocksdb",
    "join_anti", "join_cross", "join_full_outer",
    "join_inner_dim", "join_left_outer", "join_right_outer",
    "join_semi", "join_theta_range", "limit0_probe",
    "map_functions", "partition_prune_time", "pivot_linestatus",
    "q10_returned_items", "q14_promo_revenue", "q18_large_orders",
    "q19_disjunctive_pred", "q1_pricing_summary", "q3_shipping_priority",
    "q5_region_revenue", "q6_forecast_revenue", "scan_project",
    "set_except", "set_intersect", "set_union_all",
    "sort_topk", "applyinarrow_group_quantiles", "quality_classifier_gate",
    "sql_scripting_control_flow", "str_functions", "subquery_exists",
    "subquery_in", "subquery_scalar", "top_k_per_group",
    "window_lag_lead", "window_moving_avg", "window_ntile_first_last",
    "window_range_numeric", "window_rank", "window_running_sum",
    "applyinpandas_rank", "catalog_table_columns", "catalog_write_read_roundtrip",
    "confluent_roundtrip", "pandas_udf_grouped_agg", "pandas_udf_scalar",
    "agg_approx_distinct", "agg_stats_moments", "array_hof",
    "bit_functions", "contamination_ngram_overlap", "embedding_centroids",
    "events_zscore_normalize", "explode_outer_tokens", "join_bucketed_colocated",
    "join_salted_skew", "dedup_minhash_band_skew_audit", "null_safe_functions",
    "q11_important_parts", "q13_customer_distribution", "q15_top_supplier",
    "q16_supplier_counts", "q17_small_qty_revenue", "q20_dominant_suppliers",
    "q21_last_shipper", "q22_idle_customers", "q2_min_cost_supplier",
    "q4_order_priority", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "regex_functions", "schema_evolution_roundtrip",
    "str_format_functions", "stratified_sample_per_source", "stream_rate_limited_ingest",
    "vocab_top_terms", "window_cume_dist", "sink_python_stream_writer",
    "agg_approx_percentile", "agg_collect_list_set", "ann_recall_eval",
    "array_set_functions", "asof_last_purchase", "conditional_case",
    "curation_pipeline_end_to_end", "date_functions", "decontaminate_exact",
    "dedup_keep_canonical", "embedding_quantize_int8", "event_sessionize_batch",
    "event_time_tumbling", "events_cohort_retention", "explode_unnest",
    "interval_join_events", "json_functions", "math_functions",
    "nested_types", "pii_scrub_stats", "purchase_event_fabric",
    "q12_ship_priority_class", "quality_filter_funnel", "sequence_pack_contiguous",
    "session_funnel", "split_train_val_test", "stream_anomaly_zscore",
    "stream_dim_enrichment", "stream_dual_sink", "stream_exact_dedup",
    "dedup_minhash_calibration", "stream_sessionize", "stream_sliding_counts",
    "stream_stateful_user_totals", "stream_stream_join", "stream_tumbling_counts",
    "stream_upsert_latest", "stream_windowed_topk", "table_stats",
    "text_char_entropy_proxy", "text_langid_confusion", "text_repetition_filter",
    "text_token_count", "token_length_histogram", "udtf_char_ngrams",
    "user_behavior_features", "vocab_oov_rate", "ann_incremental_assign",
    "bloom_filter_probe", "bpe_encode_corpus", "bpe_train_merges",
    "chunk_exact_dedup", "corpus_report_card", "curation_shard_write",
    "dq_constraint_suite", "dq_star_schema_ri_audit", "events_last_touch_attribution",
    "events_rolling_distinct_users", "join_asof_nearest", "lateral_join_topk",
    "merge_scd1_apply", "order_reconciliation_audit", "orders_rapid_repeat_audit",
    "recursive_cte_hierarchy", "scd2_history_build", "sketch_kmv_distinct",
    "source_python_datasource", "source_vocab_divergence", "stream_quality_gate",
    "stream_session_window_native", "stream_windowed_approx_users", "text_bm25_retrieval",
    "winsorize_event_values", "basket_pair_frequency", "conversion_latency_quantiles",
    "curation_epoch_repeat_plan", "curation_packing_efficiency_audit", "doc_chunking",
    "events_changepoint_cusum", "events_daily_growth", "events_median_abs_deviation",
    "events_moving_average", "events_seasonality_dow", "events_throttle_dedup",
    "events_time_rollup", "events_trend_slope", "fuzzy_join_levenshtein",
    "join_asof_forward", "mixture_resample_balanced", "orders_ltv_cohort_matrix",
    "quality_weighted_sample", "rollup_serving_equivalence", "scd2_dimension_join",
    "sink_python_datasource", "sketch_countmin_terms", "source_csv_roundtrip",
    "source_jsonl_roundtrip", "source_orc_roundtrip", "table_profile_orders",
    "text_bigram_logprob", "text_keyword_extraction", "text_readability_score",
    "text_sentence_stats", "text_unigram_logprob", "time_gapfill_interpolate",
    "time_gapfill_locf", "unpivot_part_measures", "user_activity_streaks",
    "window_range_time", "zorder_layout_audit", "arrow_map_batches",
    "batch_observe_metrics", "batch_session_window_native", "catalog_view_roundtrip",
    "dedup_prefix_template", "dq_benford_audit", "events_autocorr_lag7",
    "events_bot_regularity", "events_dow_adjusted_anomaly", "events_m4_downsample",
    "events_markov_transitions", "events_peak_detection", "json_variant_shred",
    "mixture_temperature_weights", "orders_reorder_intervals", "rollup_grouping_id",
    "session_top_paths", "sketch_hll_rollup_merge", "sketch_kll_quantiles",
    "sketch_theta_set_ops", "source_json_corrupt_records", "source_python_stream_reader",
    "stat_crosstab_contingency", "stream_chained_windows", "stream_dedup_within_watermark",
    "text_gopher_quality_rules", "text_ttr_lexical_diversity", "vocab_fertility_by_lang",
    "write_dynamic_partition_overwrite", "agg_salted_skew", "dedup_connected_components",
    "dedup_cluster_canonical", "dedup_incremental_cc", "dedup_minhash_lsh",
    "dedup_weighted_jaccard", "dedup_simhash", "dedup_simhash_hamming",
    "graph_triangle_count", "graph_label_propagation", "ann_ivf_rebalance",
    "multimodal_phash_near_dup", "text_boilerplate_coverage", "dedup_cluster_stats",
    "dedup_cluster_cohesion", "dedup_loss_by_source", "dedup_lexical_semantic_eval",
    "embedding_cluster_components", "embedding_cluster_canonical", "item_item_cosine",
    "basket_association_rules", "graph_link_prediction", "graph_kcore_peel",
    "graph_pagerank", "graph_bfs_reachability", "ann_ivf_balance_audit",
    "multimodal_payload_dedup", "multimodal_audio_fingerprint", "multimodal_scene_changes",
    "multimodal_silence_trim", "multimodal_aspect_bucket", "multimodal_color_histogram",
    "multimodal_features", "multimodal_frame_sample", "multimodal_resize",
    "multimodal_audio_rms", "cogroup_asof_attribution", "dedup_chunk_stitch_audit",
]


def _ordered(merged: dict) -> dict:
    front = {n: merged[n] for n in _PRIORITY if n in merged}
    back = {n: v for n, v in merged.items() if n not in front}
    return {**front, **back}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _ordered(out)
