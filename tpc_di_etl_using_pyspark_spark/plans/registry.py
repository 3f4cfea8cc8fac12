"""Merged op registry — the single source for __spark_entry__.py.

Each plans/ module contributes (QUERIES, ORACLES); keys are SURVEY §2
op IDs. Ops present in QUERIES but absent from ORACLES are rows-only
checks (approx/nondeterministic/not SQL-expressible).
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "core_scans",
    "core_relational",
    "core_agg",
    "core_window",
    "scalars",
    "streaming_ops",
    "udfs",
    "llm",
    "tpcdi_ops",
]

# Certification window rotation: the external driver certifies the
# FIRST ~50 registry entries per round (CORRECTNESS_r0N.json), so the
# order of _PRIORITY decides which ops get a fresh driver row. The op
# surface is frozen at 291, and every op has a green driver row; the
# windows are regression defense, rotated by CERT AGE.
#
# _PRIORITY is the FULL 291-op order: the ops elevated for the upcoming
# round, then every other op oldest driver cert first (ties broken by
# position within that round's correctness file).
# tools/cert_age_check.py recomputes this ledger from the
# CORRECTNESS_r*.json files and fails when the staged window no longer
# matches it. Its default window is max(50, over-age ops + elevations),
# and no op outside it may pass the 6-round cert-age cap. A new driver
# drop moves the upcoming round on by one, so this order has to be
# restaged after every drop.
#
# Standing rule: any op whose CODE changes in a round (its transitive
# source, as hashed by tools/op_change_check.py against the last driver
# drop) is elevated to the window front for a fresh driver row that
# same round, and declared in ROUND_ELEVATIONS
# (tools/round_close_check.py). Nothing is ever dropped from the
# registry.
#
# Round 15 window (58 = 24 elevated + 34 by cert age):
#   - the 21 r14 rewrites that got no r14 driver row, plus
#     dedup_cluster_cc, dedup_eval_simhash_recall and
#     dedup_simhash_hamming, whose transitive source changed with the
#     simhash SQL-text fingerprint and the connected-components label
#     init (join_broadcast and join_range_between are also over-age);
#   - the 32 remaining over-age ops (certs r8) and the 2 oldest r9
#     ops, in ledger order.
_PRIORITY = [
    # --- elevated (24) ---
    "dedup_cluster_cc",
    "dedup_eval_simhash_recall",
    "dedup_minhash_lsh",
    "dedup_semantic_cluster",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "events_funnel",
    "join_broadcast",
    "join_range_between",
    "pipeline_incremental_dedup",
    "pipeline_pretrain_e2e",
    "scan_python_datasource",
    "sim_rp_lsh_cosine",
    "stream_foreachbatch_upsert",
    "stream_session_window",
    "stream_watermark_late",
    "tpcdi_batch_e2e",
    "tpcdi_dim_trade",
    "tpcdi_prospect_match",
    "tpcdi_scd2_incremental",
    "vec_covariance_matrix",
    "vec_kmeans_refine",
    "vec_pca_power_iteration",
    "vec_pca_project",
    # --- cert-age schedule block (34) ---
    "set_except",
    "dedup_exact",
    "sql_api_revenue_ranking",
    "set_symmetric_diff",
    "sql_exists_decorrelated",
    "agg_conditional",
    "agg_pivot",
    "agg_bool",
    "agg_approx_count_distinct",
    "map_ops",
    "sim_ivf_topk",
    "tpcdi_fact_watches",
    "win_row_number",
    "win_rank_dense",
    "win_lead_scd2",
    "win_running_sum",
    "win_moving_avg",
    "win_range_52wk",
    "win_first_last_value",
    "win_ntile_pct",
    "win_cume_dist",
    "win_forward_fill",
    "win_ratio_total",
    "win_nth_value",
    "win_streaks",
    "text_tfidf",
    "sim_cosine_topk",
    "text_label_quality",
    "dedup_exact_hash",
    "udtf_map_in_arrow",
    "text_unigram_logprob",
    "pack_sequences_greedy",
    "str_collate_ci",
    "scan_csv_malformed",
    # --- remainder, oldest driver cert first ---
    "tpcdi_scd2_dimcustomer",
    "tpcdi_fact_cash_balances",
    "tpcdi_fact_market_history",
    "tpcdi_fact_holdings",
    "text_bm25_topk",
    "sketch_count_min",
    "sketch_bloom_filter",
    "events_path_trigrams",
    "text_ngram_topk",
    "dedup_chunk_level",
    "dedup_ngram_jaccard",
    "stream_quality_gate",
    "stream_incremental_dedup",
    "events_attribution_last_touch",
    "pipeline_ccnet_e2e",
    "sample_epoch_shuffle",
    "events_markov_transitions",
    "pipeline_rag_e2e",
    "text_chunk_overlap",
    "text_perplexity_bucket",
    "dedup_substring_windows",
    "text_keyword_topk",
    "multimodal_phash_neardup",
    "text_quality_gopher",
    "join_bloom_runtime_filter",
    "sim_ann_recall_eval",
    "sim_ivf_multiprobe_topk",
    "multimodal_dedup_sha",
    "pipeline_multimodal_e2e",
    "win_time_weighted_avg",
    "tpcdi_cdc_apply",
    "str_levenshtein_link",
    "dedup_url_canonical",
    "xml_roundtrip_builtin",
    "tpcdi_holdings_pnl",
    "str_substr_trim",
    "str_case_match",
    "str_pad_format",
    "str_regexp",
    "str_split_explode",
    "str_regexp_extract_all",
    "date_parse",
    "date_arith",
    "date_extract",
    "date_trunc_bucket",
    "date_boundaries",
    "date_spine_gapfill",
    "math_round_money",
    "math_ratio_guard",
    "math_functions",
    "math_trig",
    "math_try_overflow",
    "cond_case_when",
    "null_coalesce",
    "cast_types",
    "hash_checksum",
    "json_nested_roundtrip",
    "json_variant_explode",
    "array_ops",
    "array_fold_dot",
    "array_posexplode",
    "array_exists_forall",
    "stream_tumbling_count",
    "stream_dedup_state",
    "stream_stateful_totals",
    "stream_transform_with_state",
    "udf_python_scalar",
    "udf_pandas_scalar",
    "udaf_pandas_grouped",
    "udtf_apply_in_pandas",
    "udf_arrow_scalar",
    "win_ema_smooth",
    "text_snapshot_novelty",
    "dedup_ngram_containment",
    "agg_stats",
    "agg_moments_exact",
    "agg_count_distinct_multi",
    "agg_weighted_avg",
    "agg_regression_exact",
    "agg_percentile",
    "agg_median_mode",
    "agg_mad_anomaly",
    "win_median_rolling",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "join_dpp_partitioned",
    "scan_partition_pruned",
    "scan_binaryfile",
    "sink_partitioned",
    "sim_ivf_index_partitioned",
    "agg_string_concat_group",
    "agg_approx_percentile",
    "graph_label_propagation",
    "graph_pagerank",
    "json_extract",
    "json_variant_extract",
    "pipeline_corpus_curation",
    "sample_negative_pairs",
    "sample_split_assign",
    "sample_stratified_exact",
    "sample_temperature_mixture",
    "str_concat_phone",
    "tpcdi_audit_reconciliation",
    "tpcdi_dim_broker",
    "tpcdi_dim_company",
    "tpcdi_dim_security",
    "tpcdi_financial",
    "tpcdi_scd2_dimaccount",
    "udtf_map_in_pandas",
    "sink_compact_small_files",
    "sink_merge_upsert",
    "udf_sql_declarative",
    "udtf_sql_table_fn",
    "udtf_python_lateral",
    "sql_pipe_syntax",
    "sink_python_datasource",
    "multimodal_image_resize",
    "vec_quantize_pq",
    "tpcdi_marketing_nameplate",
    "tpcdi_dim_date",
    "tpcdi_dim_time",
    "tpcdi_dimessages",
    "tpcdi_scd2_hybrid_type1",
    "tpcdi_reference_dims",
    "events_retention",
    "events_active_users_rolling",
    "agg_transpose_matrix",
    "agg_filter_clause",
    "agg_bitmap_distinct",
    "agg_unpivot",
    "agg_pivot_dynamic",
    "agg_histogram_fixed",
    "sketch_hll_partition_merge",
    "sketch_approx_topk",
    "sort_limit_offset",
    "join_asof_latest",
    "join_asof_tolerance",
    "win_lag_change",
    "win_running_distinct",
    "win_sessionize_gap",
    "win_interpolate_linear",
    "stream_stream_join",
    "win_pattern_vshape",
    "win_rolling_corr",
    "win_range_time_interval",
    "stream_sliding_sum",
    "str_encode_b64_hex",
    "bit_ops",
    "scan_xml_flatten",
    "scan_text_fixedwidth",
    "agg_collect_sorted",
    "str_url_parse",
    "scan_csv_delim",
    "scan_csv_header",
    "vec_centroid_per_label",
    "vec_l2_normalize",
    "sql_groupby_all",
    "sql_scalar_subquery_corr",
    "sql_lateral_topk",
    "sql_recursive_hierarchy",
    "scan_csv_multichar_delim",
    "sink_csv_quoted",
    "scan_recursive_glob",
    "scan_schema_evolution",
    "sink_sorted_clustered",
    "join_null_safe",
    "join_interval_overlap",
    "win_slope_rolling",
    "win_percent_of_parent",
    "win_zscore_anomaly",
    "text_bigram_logprob",
    "text_js_divergence_sources",
    "text_tokenize_counts",
    "text_stats",
    "text_lang_id",
    "text_quality_score",
    "text_token_count",
    "text_fingerprint",
    "dedup_keep_best",
    "sim_knn_join",
    "sim_embedding_neardup",
    "multimodal_join",
    "multimodal_binary_features",
    "multimodal_frame_sample",
    "text_pii_redact",
    "text_normalize_unicode",
    "sim_quantized_topk",
    "text_length_histogram",
    "text_contamination_ngram",
    "text_repetition_score",
    "text_quality_linear",
    "graph_triangle_count",
    "text_bpe_pair_count",
    "vec_pca_domain_check",
    "vec_quantize_int8",
    "scan_parquet",
    "scan_jsonl",
    "scan_orc",
    "sink_parquet",
    "sink_bucketed",
    "sink_table_overwrite_append",
    "project_select",
    "project_derive",
    "project_rename_drop",
    "filter_simple",
    "filter_compound",
    "filter_null",
    "filter_like_regexp",
    "join_inner_equi",
    "join_multi_key",
    "join_left_outer",
    "join_right_full",
    "join_semi",
    "join_anti",
    "join_theta_inequality",
    "join_self_versioning",
    "join_cross",
    "join_skew_salted",
    "agg_global",
    "agg_count_distinct",
    "agg_having",
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "sort_multi",
    "limit_n",
    "topk_per_group",
    "agg_first_last",
    "agg_groupby_basic",
    "audit_data_quality",
    "dedup_cross_source_matrix",
    "dedup_latest_by_key",
]


def _collect() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod_name in _MODULES:
        # no fallback: an import error inside a plans module must fail
        # the registry, not silently drop that module's whole op family
        mod = import_module(f"{__package__}.{mod_name}")
        for k, v in mod.QUERIES.items():
            if k in queries:
                raise ValueError(f"duplicate op id {k!r} in {mod_name}")
            queries[k] = v
        oracles.update(mod.ORACLES)
    missing = [k for k in _PRIORITY if k not in queries]
    if missing:
        raise ValueError(f"_PRIORITY names unknown ops: {missing}")
    ordered = {k: queries[k] for k in _PRIORITY}
    ordered.update({k: v for k, v in queries.items() if k not in ordered})
    return ordered, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
