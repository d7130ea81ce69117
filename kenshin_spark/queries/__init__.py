"""The driver-contract query registry, one module per operator family.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) is a
named row: a Spark implementation ``(spark, sf_dir) → DataFrame`` paired
with an ANSI-SQL oracle DuckDB runs on the same parquet. Each row
registers into the one ``QUERIES`` dict through the one ``register``
decorator (both in ``_common``) when its family module is imported. The
family is chosen by name prefix:

- ``sql``: ``q*`` relational analytics
- ``ts``: ``ts_``, ``lp_`` time-series engine rows
- ``render``: ``render_`` Graphite render functions
- ``text``: ``text_``, ``bpe_``, ``quality_``, ``graph_``
- ``store``: ``store_``, ``ingest_``, ``serving_``, ``hs_``, ``whisper_``,
  ``schemachange_``, ``config_``, ``maintenance_``, ``ratelimit_``
- ``dedup``: ``dedup_``
- ``similarity``: ``sim_``, ``emb_``
- ``sketch``: ``sketch_``, ``sample_``
- ``mm``: ``mm_`` multimodal
- ``pipeline``: ``pipeline_``

Family modules import only from ``_common``, never from this package
root. Importing any of them — which is what an executor does when it
unpickles a row's kernel — runs this ``__init__`` first, which loads
every family, so ``QUERIES`` is complete wherever it is read.
"""

from __future__ import annotations

from kenshin_spark.queries._common import (  # noqa: F401  re-exported
    QUERIES,
    TS_SCHEMA,
    QuerySpec,
    _points,
    register,
)

# importing a family registers its rows; this order is the registration
# order that driver_order keeps within each of its two groups
from . import (  # noqa: F401, E402
    sql,
    ts,
    render,
    text,
    store,
    dedup,
    similarity,
    sketch,
    mm,
    pipeline,
)

#: Names with a green driver CORRECTNESS row (regenerated from the
#: driver's CORRECTNESS_r*.json artifacts by tools/promote_verified.py).
#: The driver evaluates only the FIRST 50 entries of
#: ``__spark_entry__.queries()``, so these proven queries yield their
#: window slots to everything not yet driver-verified; they stay
#: regression-guarded by tests/test_queries_oracle.py, which runs the same
#: oracle gate over the FULL registry.
DRIVER_VERIFIED = frozenset({
    "bpe_vocab_topk", "config_parse_storage_schemas",
    "config_retention_matrix", "dedup_banding_auto_plan",
    "dedup_bloom_fpr_audit", "dedup_bloom_prefilter", "dedup_cluster_stats",
    "dedup_clusters", "dedup_clusters_incremental",
    "dedup_clusters_star_distributed",
    "dedup_containment", "dedup_cross_neardup",
    "dedup_embedding_incremental", "dedup_embedding_lsh",
    "dedup_embedding_neardup", "dedup_exact", "dedup_minhash_capped",
    "dedup_minhash_incremental", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_prefix_groups", "dedup_rate_by_source", "dedup_semantic",
    "dedup_shingle_df", "dedup_simhash", "dedup_simhash_hamming",
    "dedup_substring_incremental", "dedup_substring_ngram",
    "dedup_substring_scrub", "dedup_substring_spans", "dedup_substring_top",
    "emb_bottomk_per_label", "emb_centroid_outliers",
    "emb_centroid_pair_distance", "emb_centroids", "emb_dim_profile",
    "emb_dim_variance_topk", "emb_distance_histogram", "emb_ivf_cell_stats",
    "emb_knn_label_purity", "emb_label_confusion", "emb_nearest_centroid",
    "emb_norm_by_label", "emb_norm_profile", "emb_sign_agreement_matrix",
    "emb_sign_sketch_buckets", "emb_sparsity", "emb_sq_error_profile",
    "graph_token_degree_profile", "graph_triangle_count",
    "hs_export_import_roundtrip", "hs_header_inspect",
    "hs_import_corrupt_skip", "hs_null_sentinel_roundtrip",
    "ingest_admit_ratelimit", "ingest_age_routing_tiers",
    "ingest_batch_split_merge", "ingest_dead_letter_quality",
    "ingest_replay_idempotent", "ingest_salted_lww", "ingest_self_metrics",
    "lp_corrupt_dead_letter", "lp_parse_tagged_lines",
    "maintenance_keepalive_dormant", "mm_audio_features",
    "mm_bmp_container_dims", "mm_frame_sample", "mm_image_metadata",
    "mm_jpeg_container_dims", "mm_jpeg_subsample_dims", "mm_modality_mix",
    "mm_phash_bands", "mm_phash_neardup", "mm_png_pixel_sum",
    "mm_resize_pixel_sum", "mm_sniff_formats", "mm_wav_square_rms",
    "mm_wav_stereo_meta", "pipeline_corpus_curation",
    "pipeline_decontaminate", "pipeline_dedup_funnel",
    "pipeline_ingest_triage", "pipeline_jaccard_sweep",
    "pipeline_leakage_split", "pipeline_length_cut_impact",
    "pipeline_packing_waste", "pipeline_quality_report",
    "pipeline_quality_vs_length", "pipeline_sequence_packing",
    "pipeline_source_mixture", "pipeline_temperature_mixture",
    "pipeline_token_budget", "q10_returned_items", "q11_important_parts",
    "q12_priority_lines", "q13_order_distribution", "q14_promo_effect",
    "q15_top_supplier", "q16_supplier_cnt", "q17_small_quantity",
    "q18_large_orders", "q19_disjunctive", "q1_pricing_summary",
    "q20_promotion_suppliers", "q21_sole_return_supplier",
    "q22_dormant_customers", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_late_orders", "q5_local_supplier", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_nation_revenue",
    "q_abc_analysis", "q_basket_value_matrix", "q_brand_return_rate",
    "q_conversion_attribution", "q_cube_orders",
    "q_cumulative_new_customers", "q_cumulative_revenue",
    "q_customer_balance_deciles", "q_customer_order_range",
    "q_customer_pareto", "q_customer_recency_bands", "q_customer_rfm",
    "q_customer_top10_balance", "q_discount_distribution",
    "q_discount_tax_grid", "q_event_bounce_rate",
    "q_event_conversion_by_breadth", "q_event_cooccurrence",
    "q_event_dedup_watermark", "q_event_dwell_time", "q_event_error_streaks",
    "q_event_first_touch", "q_event_funnel", "q_event_funnel_daily",
    "q_event_holdout_lift", "q_event_hour_of_week",
    "q_event_interarrival_bands", "q_event_path_top", "q_event_peak_minutes",
    "q_event_session_depth", "q_event_sessions", "q_event_sessions_native",
    "q_event_transitions", "q_event_type_breadth", "q_event_type_entropy",
    "q_event_user_lifespan", "q_event_whale_curve", "q_events_burstiness",
    "q_events_daily", "q_events_error_budget_burn", "q_events_error_rate",
    "q_events_error_rate_by_hour", "q_events_hopping_window",
    "q_events_hourly_heatmap", "q_events_json_props",
    "q_events_late_watermark_audit", "q_events_props_histogram",
    "q_events_stickiness", "q_events_value_percentiles",
    "q_events_value_quartiles_by_type", "q_funnel_conversion_time",
    "q_interval_join", "q_lineitem_unpivot", "q_market_basket",
    "q_median_order_gap", "q_monthly_priority_mix",
    "q_nation_balance_profile", "q_nation_conversion_rate",
    "q_nation_coverage", "q_nation_type_affinity", "q_new_vs_returning",
    "q_order_dow_profile", "q_order_gap_bands", "q_order_linenumber_decay",
    "q_order_lines_histogram", "q_order_value_bands",
    "q_order_value_outliers", "q_order_weekday_value_profile",
    "q_orders_global_revenue", "q_orders_grouping_sets", "q_orders_pivot",
    "q_orders_seasonality", "q_orders_status_timeline",
    "q_orders_yoy_growth", "q_part_brand_size_coverage",
    "q_part_brand_type_matrix", "q_part_name_tokens", "q_part_size_profile",
    "q_part_type_share", "q_price_deciles", "q_price_percentiles",
    "q_quantity_price_corr", "q_region_trade_matrix",
    "q_repeat_customer_rate", "q_retention_cohorts",
    "q_revenue_region_quarter", "q_rolling_weekly_users", "q_rollup_orders",
    "q_segment_balance_profile", "q_session_length_histogram",
    "q_supplier_active_months", "q_supplier_hhi", "q_supplier_nation_share",
    "q_supplier_part_breadth", "q_supplier_regional_coverage",
    "q_table_profile", "q_top3_parts_per_brand", "q_top_parts_by_margin",
    "q_user_value_deciles", "q_window_topk_customers",
    "q_zero_discount_share", "quality_suite_orders",
    "ratelimit_bucket_replay", "render_abs_invert", "render_alias_by_node",
    "render_alias_chain", "render_alias_rewrite", "render_as_percent",
    "render_average_above", "render_average_below",
    "render_average_outside_percentile", "render_chain_over_store",
    "render_chain_pipeline", "render_changed", "render_count_series",
    "render_current_above", "render_current_selections", "render_delay",
    "render_derivative", "render_diff_series", "render_divide_series",
    "render_ewma", "render_grep_exclude", "render_group_by_node",
    "render_highest_lowest_current", "render_highest_max", "render_hitcount",
    "render_holt_forecast", "render_integral_top2", "render_interpolate",
    "render_keep_last_value", "render_limit_alias", "render_logarithm",
    "render_lowest_average", "render_max_datapoints", "render_maximum_below",
    "render_min_max_range", "render_minimum_above", "render_most_deviant",
    "render_moving_average", "render_moving_extrema", "render_moving_median",
    "render_moving_minmax", "render_moving_stdev", "render_moving_sum",
    "render_n_percentile", "render_nonneg_derivative", "render_offset_scale",
    "render_per_second", "render_percentile_of_series",
    "render_pow_roundtrip", "render_range_of_series",
    "render_remove_above_percentile", "render_remove_value_band",
    "render_scale_to_seconds", "render_series_envelope",
    "render_slice_scale", "render_sort_by_maxima", "render_sort_by_total",
    "render_square_root", "render_stddev_series", "render_summarize_avg",
    "render_summarize_max", "render_target_expression", "render_time_shift",
    "render_time_slice", "render_value_clamp", "render_value_gate",
    "sample_bottom_k", "sample_hash_rate_by_source", "sample_stratified",
    "schemachange_meta_verdicts", "schemachange_rebuild_layout",
    "serving_http_fetch", "serving_http_render", "serving_tcp_cache_query",
    "sim_ivf_recall_audit", "sim_knn_graph", "sim_lsh_recall_audit",
    "sim_range_search", "sim_topk_bruteforce", "sim_topk_ivf",
    "sim_topk_ivf_fullprobe", "sim_topk_lsh", "sim_topk_pq",
    "sim_topk_pq_rerank", "sim_topk_quantized", "sketch_bloom_sizing_curve",
    "sketch_cms_error_profile", "sketch_cms_event_counts",
    "sketch_cms_merge_days", "sketch_cms_user_counts",
    "sketch_histogram_quantiles", "sketch_histogram_sliding",
    "sketch_kmv_merge_daily", "sketch_kmv_users", "store_backup_restore",
    "store_bucketed_colocated_join", "store_catalog_routing",
    "store_changed_between_cdc", "store_compact_day_targeted",
    "store_cow_lww_overwrite", "store_cow_upsert_roundtrip",
    "store_delete_metrics", "store_delete_then_compact",
    "store_expire_retention", "store_fetch_after_compact",
    "store_fetch_clamp_window", "store_fetch_glob_catalog",
    "store_fetch_glob_no_catalog", "store_fetch_grid_nulls",
    "store_fetch_keep_last", "store_fetch_tier_selection",
    "store_gc_candidates", "store_glob_group_rollup",
    "store_hot_tier_hourly_units", "store_mor_append_resolve",
    "store_mor_compact_invariance", "store_mor_null_overwrite",
    "store_mor_seq_stamps", "store_overwrite_replaces",
    "store_propagate_cascade", "store_propagate_from_seq_cdc",
    "store_read_at_snapshot", "store_read_range_pruning",
    "store_recover_crash_swap", "store_upsert_bounded_rewrite",
    "text_ari_readability", "text_bigram_lm", "text_brevity_law",
    "text_char_class_profile", "text_chunking", "text_collocations",
    "text_digit_ratio", "text_extreme_docs_by_lang", "text_fingerprint",
    "text_first_token_profile", "text_fp_bucket_profile", "text_hapax_rate",
    "text_heaps_curve", "text_lang_margin", "text_language_id",
    "text_length_histogram", "text_ngram_novelty",
    "text_numeric_density_bands", "text_oov_rate", "text_part_fingerprint",
    "text_pii_scrub", "text_quality", "text_quality_filter",
    "text_quality_model", "text_quality_reason_mix",
    "text_repetition_filter", "text_rolling_fingerprint",
    "text_sentence_stats", "text_source_vocab_jaccard",
    "text_stopword_coverage", "text_tfidf_topk", "text_token_count",
    "text_token_count_bpe", "text_token_diversity", "text_token_drift",
    "text_token_pagerank", "text_token_position_profile",
    "text_top_bigrams_per_lang", "text_vocab_topk",
    "text_whitespace_anomalies", "text_word_length_profile",
    "text_zipf_slope", "ts_agg_divergence", "ts_agg_kernel", "ts_align_lww",
    "ts_anomaly_zscore", "ts_archive_estimate", "ts_asof_forward_tolerance",
    "ts_asof_join", "ts_autocorr_lag1", "ts_availability",
    "ts_cascade_associativity", "ts_corr_seeded",
    "ts_counter_gauge_classify", "ts_counter_rate", "ts_daily_points_median",
    "ts_daily_spread", "ts_debug_discontinuities", "ts_downsample_cascade",
    "ts_downsample_tier1", "ts_fetch_grid", "ts_flap_rate",
    "ts_flatline_detect", "ts_hashring_rebalance", "ts_hot_cold_union",
    "ts_index_rebuild", "ts_ingest_jitter", "ts_largest_gap",
    "ts_level_shift", "ts_line_protocol", "ts_lww_overwrite_pressure",
    "ts_mean_crossings", "ts_merge_series", "ts_metric_correlation",
    "ts_metric_delete", "ts_metric_search", "ts_monotonic_violations",
    "ts_occupancy", "ts_pickle_roundtrip", "ts_propagation_ready",
    "ts_retention_cost_model", "ts_retention_expiry",
    "ts_ring_slot_utilization", "ts_sample_rate_estimate", "ts_schema_match",
    "ts_seasonal_decompose", "ts_seasonal_profile", "ts_shard_routing",
    "ts_staleness", "ts_stream_envelope", "ts_tag_catalog", "ts_tag_filter",
    "ts_tag_roundtrip", "ts_tier_age_distribution", "ts_tier_selection",
    "ts_top_changepoint", "ts_trend_slope", "ts_value_histogram",
    "ts_value_profile", "ts_weekday_profile", "ts_weekend_weekday_profile",
    "ts_xff_sensitivity", "whisper_export_import_roundtrip",
    "whisper_headers_inspect", "whisper_rehash_to_store",
})


def driver_order() -> list[str]:
    """Registry names, never-driver-verified first (registration order
    within each group) so they occupy the driver's evaluation window."""
    names = list(QUERIES)
    front = [n for n in names if n not in DRIVER_VERIFIED]
    back = [n for n in names if n in DRIVER_VERIFIED]
    return front + back
