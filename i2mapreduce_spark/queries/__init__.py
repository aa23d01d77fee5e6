"""Query registry: merges every group's QUERIES/ORACLES dicts.

Each group module exposes
  QUERIES: dict[key, callable(spark, sf_dir) -> DataFrame]
  ORACLES: dict[key, str]     # DuckDB-runnable ANSI SQL; omit => rows-only
Keys map 1:1 to SURVEY.md §2B.
"""

from __future__ import annotations

from importlib import import_module

_GROUP_MODULES = [
    "windows_q",    # W  — window functions
    "sorts",        # F  — sort / limit / top-k
    "setops",       # U  — set operations
    "scalar_fns",   # X  — scalar function surface
    "mapred_q",     # I  — MapReduce-core surface
    "udfs",         # V  — UDF / UDAF / UDTF surface
    "llmops",       # L  — LLM-data-pipeline operators
    "pipelines",    # L  — corpus-construction pipeline operators (r3)
    "iterative",    # J  — iterative algorithms
    "streaming_q",  # K  — incremental / streaming
    "scans",        # S  — scans / sources / sinks
    "projection",   # P  — projection / filter / predicates
    "joins",        # C  — join shapes
    "aggregates",   # D  — aggregation
    "quality",      # Q  — data-quality audits (r3)
    "timeseries",   # T  — time-series analytics (r3)
    "tpch_q",       # H  — TPC-H-shaped composite analytics (r4)
    "r6_ops",       # mixed groups — round-6 additions
    "r6b_ops",      # mixed groups — round-6 additions, batch 2 (graded r7)
    "r6c_ops",      # mixed groups — round-6 additions, batch 3 (graded r7)
    "r6d_ops",      # mixed groups — round-6 additions, batch 4 (graded r7)
    "r6e_ops",      # mixed groups — round-6 additions, batch 5 (graded r7)
    "r6f_ops",      # mixed groups — round-6 additions, batch 6 (graded r7)
    "r6g_ops",      # mixed groups — round-6 additions, batch 7 (graded r7)
    "r6h_ops",      # mixed groups — round-6 additions, batch 8 (graded r7)
    "r6i_ops",      # mixed groups — round-6 additions, batch 9 (graded r7)
    "r6j_ops",      # mixed groups — round-6 additions, batch 10 (graded r7)
    "r6k_ops",      # mixed groups — round-6 additions, batch 11 (graded r7)
    "r6l_ops",      # mixed groups — round-6 additions, batch 12 (graded r7)
    "r6m_ops",      # mixed groups — round-6 additions, batch 13 (graded r7)
    "r6n_ops",      # mixed groups — round-6 additions, batch 14 (graded r7)
    "r6o_ops",      # mixed groups — round-6 additions, batch 15 (graded r7)
    "r6p_ops",      # mixed groups — round-6 additions, batch 16 (graded r7)
    "r6q_ops",      # mixed groups — round-6 additions, batch 17 (graded r7)
    "r6r_ops",      # mixed groups — round-6 additions, batch 18 (graded r7)
    "r6s_ops",      # mixed groups — round-6 additions, batch 19 (graded r7)
    "r6t_ops",      # mixed groups — round-6 additions, batch 20 (graded r7)
    "r6u_ops",      # mixed groups — round-6 additions, batch 21 (graded r7)
    "r6v_ops",      # mixed groups — round-6 additions, batch 22 (graded r7)
    "r6w_ops",      # mixed groups — round-6 additions, batch 23 (graded r7)
    "r6x_ops",      # mixed groups — round-6 additions, batch 24 (graded r7)
    "r6y_ops",      # mixed groups — round-6 additions, batch 25 (graded r7)
    "r6z_ops",      # mixed groups — round-6 additions, batch 26 (graded r7)
    "r7a_ops",      # mixed groups — round-6 additions, batch 27 (graded r7)
    "r7b_ops",      # mixed groups — round-6 additions, batch 28 (graded r7)
    "r7c_ops",      # mixed groups — round-6 additions, batch 29 (graded r7)
    "r7d_ops",      # mixed groups — round-6 additions, batch 30 (graded r7)
    "r7e_ops",      # mixed groups — round-6 additions, batch 31 (graded r7)
    "r7f_ops",      # mixed groups — round-6 additions, batch 32 (graded r7)
    "r7g_ops",      # mixed groups — round-6 additions, batch 33 (graded r7)
    "r7h_ops",      # mixed groups — round-6 additions, batch 34 (graded r7)
    "r7i_ops",      # mixed groups — round-6 additions, batch 35 (graded r7)
    "r7j_ops",      # mixed groups — round-6 additions, batch 36 (graded r7)
    "r7k_ops",      # mixed groups — round-6 additions, batch 37 (graded r7)
    "r7l_ops",      # mixed groups — round-6 additions, batch 38 (graded r7)
    "r7m_ops",      # mixed groups — round-6 additions, batch 39 (graded r7)
    "r7n_ops",      # mixed groups — round-6 additions, batch 40 (graded r7)
    "r7o_ops",      # mixed groups — round-6 additions, batch 41 (graded r7)
    "r7p_ops",      # mixed groups — round-6 additions, batch 42 (graded r7)
    "r7q_ops",      # mixed groups — round-6 additions, batch 43 (graded r7)
    "r7r_ops",      # mixed groups — round-6 additions, batch 44 (graded r7)
    "r7s_ops",      # mixed groups — round-6 additions, batch 45 (graded r7)
    "r7t_ops",      # mixed groups — round-6 additions, batch 46 (graded r7)
    "r7u_ops",      # mixed groups — round-6 additions, batch 47 (graded r7)
    "r7v_ops",      # mixed groups — round-6 additions, batch 48 (graded r7)
    "r7w_ops",      # mixed groups — round-6 additions, batch 49 (graded r7)
]

# Grading windows: the external grader scores the FIRST 50 registry keys
# each round, so build_registry() puts the active window (_R13_WINDOW)
# first and the staged next cohort (_R14_WINDOW) right after it; every
# other key follows in module order.  Windows hold hash-oracled keys
# only (a rows-only key would burn a slot on a guaranteed
# `err: no_oracle`).  New hash-oracled keys head the staged window; the
# rest are the oldest-graded keys, recomputed from the committed
# CORRECTNESS_r*.json files, never hard-coded.
# tests/test_registry_window.py enforces window hygiene; per-round
# history lives in ROUNDS.md.
#
# _R13_WINDOW: the third rolling-freshness cohort, staged for the r12
# one-name swap.  Head = dedup_simhash_grouped, the r11-new hash key
# (the grouped O(unique^2) dedup output mode promoted to the graded
# surface — r10 verdict item 7): never-graded keys take window priority
# so no key waits more than one round for a driver row.  The remaining
# 49 are the next-oldest driver rows, recomputed this session from
# CORRECTNESS_r01-r10 (the 12 remaining round-2 keys + the 37
# alphabetically-first round-3 keys — same boundary-round alphabetical
# cut convention as the earlier cohorts).
_R13_WINDOW = [
    "dedup_simhash_grouped",
    "udf_pandas_vectorized",
    "udf_python_scalar",
    "udtf_python_native",
    "udtf_split_props",
    "window_cume_dist",
    "window_first_last_nth",
    "window_gaps_islands",
    "window_lag_lead",
    "window_range_interval",
    "window_rank_dense_ntile",
    "window_running_frame",
    "window_topk_per_group",
    "agg_distinct_multi",
    "dedup_cluster_resolve",
    "dedup_containment",
    "dedup_simhash",
    "fn_trig",
    "inc_apriori_pairs",
    "inc_delta_retract",
    "inc_mapreduce_wordcount",
    "iter_apriori_pairs",
    "iter_apriori_rules",
    "iter_apriori_triples",
    "iter_gimv",
    "iter_sssp",
    "iter_triangle_count",
    "join_skew_salted",
    "multimodal_extract",
    "multimodal_frame_sample",
    "multimodal_join",
    "multimodal_resize",
    "sample_stratified",
    "sim_label_centroid",
    "sim_threshold_pairs",
    "sim_topk_cosine",
    "sink_bucketed_join",
    "sink_parquet_roundtrip",
    "sink_upsert_merge",
    "source_csv_quoted_roundtrip",
    "source_incremental_files",
    "stream_complete_totals",
    "stream_dedup_exact",
    "stream_session_window",
    "stream_sliding_window",
    "stream_stateful_running",
    "stream_static_join",
    "stream_stream_join",
    "stream_tumbling_window",
    "text_bigram_top",
]


# _R14_WINDOW: the fourth rolling-freshness cohort, staged for the r13
# one-name swap.  No new hash-oracled keys landed in r12 (optimization
# round — no new features), so the cohort is pure re-grades: the 50
# next-oldest driver rows outside the active _R13_WINDOW, recomputed
# this session from CORRECTNESS_r01-r11 (the 9 remaining hash-oracled
# round-3 keys + the 41 alphabetically-first round-4 keys — same
# boundary-round alphabetical cut convention as _R13; the older
# r1-r4 keys that look skipped — agg_approx_distinct, mr_partition_custom,
# the ANN/minhash family, agg_approx_percentile, inc_iter_warmstart —
# are rows-only keys with no hash oracle, excluded from windows by
# design).
_R14_WINDOW = [
    "text_fingerprint",
    "text_lang_id",
    "text_lang_stats",
    "text_quality_score",
    "text_scrub_pii",
    "text_tfidf_top_terms",
    "text_token_count",
    "text_token_histogram",
    "text_ttr",
    "agg_decimal_exact",
    "agg_equidepth_histogram",
    "agg_gini",
    "agg_linreg",
    "agg_mode",
    "agg_skew_kurt",
    "agg_weighted_median",
    "dedup_embedding_cosine",
    "dq_benford",
    "dq_constraint_check",
    "dq_drift_psi",
    "dq_uniqueness",
    "embedding_quantize",
    "fn_base64_hex",
    "fn_ip_addr",
    "fn_url_parse",
    "iter_connected_components",
    "iter_pagerank",
    "iter_sssp_weighted",
    "join_asof_nearest",
    "join_asof_tolerance",
    "join_interval_overlap",
    "join_mark_exists",
    "join_point_in_time",
    "join_prefilter_bitmap",
    "multimodal_audio_energy",
    "multimodal_phash",
    "pipeline_dataset_card",
    "pipeline_mixture_weights",
    "pipeline_pack_sequences",
    "sample_reservoir",
    "setop_symmetric_diff",
    "source_schema_evolution",
    "stream_cdc_apply",
    "stream_late_watermark",
    "stream_scd2_compact",
    "text_entropy",
    "text_readability",
    "text_zipf_fit",
    "ts_resample_interpolate",
    "ts_time_weighted_avg",
]


def build_registry() -> tuple[dict, dict]:
    queries: dict = {}
    oracles: dict = {}
    for mod_name in _GROUP_MODULES:
        mod = import_module(f"{__name__}.{mod_name}")
        for k, fn in getattr(mod, "QUERIES", {}).items():
            if k in queries:
                raise ValueError(f"duplicate query key: {k}")
            queries[k] = fn
        for k, sql in getattr(mod, "ORACLES", {}).items():
            if k not in getattr(mod, "QUERIES", {}):
                raise ValueError(f"oracle without query: {k}")
            oracles[k] = sql
    ordered: dict = {}
    # active window first, staged cohort next, the rest in module order
    for k in _R13_WINDOW + _R14_WINDOW:
        ordered[k] = queries.pop(k)  # KeyError = stale window list; fail loud
    ordered.update(queries)          # everything already graded, module order
    return ordered, oracles
