"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the cores this
process may run on) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Counters gate, time informs. Each query is forced through the noop sink
once unmeasured, then twice measured. The unmeasured call pays codegen, JIT
and per-session caches (knn_ivf_cosine trains its centroids once per
``sf_dir``, so its first call runs more jobs). For each measured call the
harness reads from Spark's status store the work of every job submitted
during the call, streaming drains' micro-batch jobs included: the
``GATED`` counters. They do not move with the host's load, so they are
compared exactly with the committed baseline in BENCH_DETAIL.json. A moved
counter is printed to stderr as one bounded line naming the query and the
counter; the full set goes to BENCH_RUN.json (gitignored). The minimum and
the spread of the two measured wall-clock times are recorded for
information; nothing is judged on them.

One baseline per host: BENCH_DETAIL.json is keyed by the host key (cpus,
sf, pyspark version). A run whose key has no baseline compares nothing and
says so; another host's numbers are never normalised onto this one.

- ``python bench.py``: every headline query; writes BENCH_RUN.json and
  prints the contract line.
- ``SPARK_GRAFT_BENCH_ONLY=a,b``: only the named queries; prints a subset
  line (per-query seconds, counters, moved counters) instead.
- ``SPARK_GRAFT_BENCH_REFRESH=1``: also rewrites this host's baseline in
  BENCH_DETAIL.json; with ``SPARK_GRAFT_BENCH_ONLY``, only the named
  entries. Refresh after a deliberate plan change, and name the queries
  that moved, and why, in CHANGES.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from apache_flink_datastream_api_spark.registry import all_queries
from apache_flink_datastream_api_spark.session import get_spark
from perfbench.trace import exec_counters

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
DETAIL_PATH = os.path.join(HERE, "BENCH_DETAIL.json")
RUN_PATH = os.path.join(HERE, "BENCH_RUN.json")

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "q_order_cube",
    "topk_users_by_value",
    "asof_join_purchase_click",
    "range_join_purchase_errors",
    "user_moving_avg",
    "event_type_pivot",
    "sketch_daily_uniques",
    "a1_running_reduce",
    "a4_keyed_window_count",
    "w4_session_window",
    "j1_window_join",
    "x1_interval_alert",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_quality",
    "text_fingerprint",
    "knn_bruteforce_cosine",
    "knn_lsh_cosine",
    "knn_ivf_cosine",
    "ts_similarity_topk",
    "tpch_q18_large_volume",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_promotion_candidates",
    "tpch_q8_market_share",
    "tpch_q21_waiting_supplier",
    "tpch_q19_bracket_revenue",
    "tpch_q7_nation_volume",
    "tpch_q13_order_distribution",
    "tpch_q17_small_qty_revenue",
    "q_balance_quartiles",
    "q_range_moving_sum",
    "q_user_sessions_gap",
    "q_cohort_retention",
    "text_bm25_rank",
    "pipeline_clean_corpus",
    "json_props_rollup",
    "tfidf_top_terms",
    "text_inverted_index",
    # training-run prep
    "pipeline_train_eval_split",
    "pipeline_decontaminate",
    "pipeline_pack_sequences",
    "merge_upsert_roundtrip",
    # streaming engine paths (real readStream -> state store -> sink)
    "w3_sliding_stream",
    "x1_stateful_stream",
    "w6_chained_windows_stream",
    "j2_join_then_window_stream",
    # corpus quality + stats + time-series additions
    "text_repetition",
    "text_pii_redact",
    "q_portable_stats",
    "q_value_histogram",
    "q_ohlc_bars",
    "q_interval_union",
    "pipeline_quota_sample",
    "emb_quantize_int8",
    "q_scd2_user_state",
    # composed prep flow + fuzzy-verify + profiling
    "pipeline_pretrain_e2e",
    "dedup_levenshtein",
    "profile_events",
    "pipeline_reservoir_sample",
    "emb_pool_by_label",
    # rank statistics, time-series fill, clickstream, training pairs
    "q_revenue_gini",
    "ts_forward_fill",
    "q_anomaly_trailing",
    "q_event_transitions",
    "q_session_concurrency",
    "emb_project_int8",
    "pipeline_negative_pairs",
    "q_fk_integrity_audit",
    "q_decile_binning",
    "q_snapshot_diff",
    "text_vocab_growth",
    "q_hour_heatmap",
    "corpus_datacard",
    "q_price_tier_join",
    "q_pareto_lorenz",
    "q_file_lineage",
    "pipeline_class_rebalance",
    "q_event_debounce",
    "q_revenue_bridge",
    "x4_debounce_stream",
    "q_top_journeys",
    "q_interarrival_stats",
    "q_trending_topk",
    "q_copurchase_pairs",
    "q_basket_size_dist",
    "q_winsorized_stats",
    "q_fulfillment_lag",
    "q_ab_readout",
    "q_daily_value_bands",
    "q_weighted_avg_price",
    "q_rfm_segmentation",
    "q_new_vs_returning",
    "q_reachable_event_types",
    "q_lateral_topk",
    "q_rank_functions_pin",
    "q_join_type_matrix",
    "q_cep_followed_by",
    "x5_cep_stream",
    "xml_roundtrip",
    "emb_kmeans_lloyd",
    "knn_pq_cosine",
    "pipeline_dpo_pairs",
    "text_zipf_rank",
    "q_benford_digits",
    "q_dormant_reactivation",
    "q_topk_with_others",
    "w7_dynamic_session",
    "mm_phash_dedup",
    "w8_count_window",
    "pipeline_loo_target_encoding",
    "q_attribution_last_touch",
    "q_cep_not_followed_by",
    "q_temporal_table_join",
    "q_cohort_ltv",
    "pipeline_shard_manifest",
    "pipeline_length_bucketing",
    "pipeline_span_corruption",
    "q_chi2_independence",
    "q_sql_udf_tvf",
    "q_autocorr_daily",
    "text_collocations_lift",
    "q_audience_overlap",
    "q_bounce_rate",
    "pipeline_median_impute",
    "maintenance_compact",
    "q_signup_activation",
    "q_seasonality_index",
    "corrupt_file_scan",
    "q_order_backlog",
    "q_duplicate_payments",
    "q_rank_tests_ab",
    "q_cusum_changepoint",
    "q_weighted_median",
    # classical statistics + churn labels
    "q_spearman_corr",
    "q_mann_kendall_trend",
    "q_tvd_drift",
    "q_max_drawdown",
    "q_simpson_diversity",
    "pipeline_churn_labels",
    "q_forecast_baseline",
    "q_anova_oneway",
    "q_poisson_bootstrap_ci",
    "graph_triangle_count",
    "layout_zorder_readout",
    "text_keyphrase_rake",
    "dq_expectations",
    "q_share_of_parent",
    "emb_sim_histogram",
    "q_seasonal_decompose",
    "pipeline_canonical_docs",
    "q_price_index",
    "q_event_study_lift",
    "q_abc_analysis",
    "q_control_chart",
    "geo_radius_join",
    "pipeline_incremental_rollup",
    "q_rate_limit_flags",
    "q_price_volatility_topk",
    "q_mad_outliers",
    "emb_quantile_normalize",
    "dedup_minhash_accuracy",
    "pipeline_rag_passages",
    "q_out_of_order_audit",
    "q_theil_sen_trend",
    "q_ab_bootstrap_uplift",
    "q_cep_times",
    "q_aa_calibration",
    "text_langid_confusion",
    "q_backtest_horizon_mae",
    "q_diff_in_diff",
    "q_discrete_hazard",
    "dedup_lsh_eval",
    "emb_centroid_outliers",
    "q_seasonality_strength",
    "text_ttr_by_source",
    "q_copurchase_lift",
    "q_repurchase_gap_quantiles",
    "q_mde_estimate",
    "q_abc_migration",
    "pipeline_hard_negatives",
    "emb_power_iteration",
    "q_hhi_by_nation",
    "q_adoption_ramp",
    "q_basket_rules",
    "q_conversion_window_sweep",
    "q_durbin_watson",
    # round 2: boilerplate/featurization, governance, splits, rank stats
    "text_boilerplate_shingles",
    "text_hashing_trick",
    "text_bpe_train",
    "pipeline_stratified_split",
    "pipeline_user_erasure",
    "q_attribution_position",
    "q_kendall_tau",
    "q_dynamic_rules",
    "x6_dynamic_rules_stream",
    "x7_zscore_stream",
    "sketch_bloom_membership",
    "q_ewma_daily",
    "dedup_prefix_filter_join",
    "graph_degree_assortativity",
    "graph_kcore_peel",
    "graph_label_propagation",
    "dq_l_diversity",
    "ts_holt_winters",
    "q_cuped_adjustment",
    "pipeline_curriculum_order",
    "q_basket_triples",
    "q_pandas_udaf_median",
    "dedup_incremental",
    "dq_functional_deps",
    "q_parameterized_sql",
    "q_sql_scripting",
    "j3_threeway_stream_join",
    "q_funnel_any_order",
    "mm_ppm_codec_roundtrip",
    "mm_wav_codec_roundtrip",
    "mm_scene_detect",
    "mm_audio_features",
    "mm_ann_pipeline",
    "q_try_semantics",
    "pipeline_epoch_mixture",
    "dedup_family_overlap",
    "emb_matryoshka_overlap",
    "emb_mmr_rerank",
    "q_bitemporal_asof",
    "q_stickiness_dau_mau",
    "w9_capped_session",
    # round 3: substring dedup ladder completion, BPE encode, ANN recall
    "dedup_substring_spans",
    "dedup_substring_audit",
    "text_bpe_encode",
    "text_ngram_novelty",
    "knn_recall_report",
    "knn_recall_report_approx",
    "mm_image_decode",
    "mm_resize",
    "mm_feature_extract",
    "dedup_substring_clean",
    "knn_int8_cosine",
    "emb_kmeans_pp_init",
    "x8_dedup_stream",
    "text_lm_score",
    "text_bpe_vocab",
    "ml_perceptron_langid",
    "dedup_source_matrix",
    "pipeline_dedup_e2e",
    "dq_k_anonymity",
    "q_pipe_syntax",
    "q_listagg_timeline",
    "ts_journey_topk",
    "dedup_substring_k_sweep",
    "mm_cdc_dedup",
    "ts_holt_forecast",
    "dpp_partitioned_join",
    "q_null_semantics_pin",
    "q_datetime_semantics_pin",
    "x10_holt_stream",
    # round 3 (cont.): attribution, link prediction, survival, kNN classify
    "text_quote_attribution",
    "ml_knn_label_assign",
    "graph_link_prediction",
    "q_survival_km",
    "sketch_accuracy_audit",
    "q_fifo_allocation",
    "dq_t_closeness",
    "ml_naive_bayes_langid",
    "ts_motif_discovery",
    "q_recursive_hierarchy",
    "emb_pca_deflate",
    "geo_grid_hotspots",
    "q_attribution_shapley",
    "q_chain_ladder",
    "mm_audio_fingerprint",
    "mm_palette_extract",
    "x11_cusum_stream",
    "pipeline_weighted_sample",
    "mm_webdataset_scan",
    "q_rolling_beta",
    "q_gdpr_access_export",
    "q_abc_xyz_matrix",
    "ts_sax_symbolization",
    "q_uplift_matching",
    "q_brand_sequence",
    "q_haar_wavelet",
    "maintenance_column_stats",
    "q_entropy_features",
    "q_forecast_croston",
    "graph_modularity",
    "q_growth_accounting",
    "ml_active_learning_batch",
    "x12_rate_limit_stream",
    "text_burstiness",
    "ml_calibration_curve",
    "profile_key_skew",
    "maintenance_equi_depth_hist",
    "q_interevent_burstiness",
    "pipeline_kfold_assignments",
    "graph_rich_club",
    "emb_silhouette_simplified",
    "q_survival_km_arms",
    "q_logrank_test",
    # round 4: streaming LSH ingest filter, persisted ANN index
    "x8_neardup_stream",
    "knn_ivf_persisted",
    "knn_index_delta",
    "knn_ivf_delta_serve",
    "knn_index_health",
    "knn_index_compact",
    "knn_ivf_compacted_serve",
    "x13_index_ingest_stream",
    "sketch_hll_set_algebra",
    "q_variant_props",
    "q_bloom_runtime_filter",
    # round 6: Arrow-native exact scan + grouped-map paths, custom Python
    # sink, DataFrame-API lateral join, transpose
    "knn_bruteforce_arrow",
    "emb_pool_arrow_grouped",
    "k5_python_sink_roundtrip",
    "k6_python_stream_sink_roundtrip",
    "s3_generator_simple_stream",
    "q_lateral_join_api",
    "q_transpose_metrics",
    "x4_debounce_session_stream",
    "w7_dynamic_append_stream",
    "w4_session_append_stream",
    "x4_debounce_append_stream",
    "j3_first_touch_stream",
    "dedup_semdedup_prune",
    "dedup_semdedup_ivf",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# The work counters the gate compares: perfbench.trace.EXEC_KEYS without the
# times, spill and skew, which move with the host's load.
GATED = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")

# Counters that three full runs of unchanged code (six measured calls per
# query) did not reproduce on the 4-core host; they are recorded in
# BENCH_RUN.json but left out of the baseline, so never gated. Shuffle bytes
# are compressed sizes, so they move with the order and grouping of the rows
# a map task writes. In q_ewma_daily and text_keyphrase_rake the plan itself
# varies: a subtree that appears twice is sometimes run once and sometimes
# twice.
_BYTES = ("shuffle_read_bytes", "shuffle_write_bytes")
UNGATED = {
    **dict.fromkeys([
        "dedup_substring_audit", "dedup_substring_clean", "k5_python_sink_roundtrip",
        "maintenance_compact", "pipeline_canonical_docs", "pipeline_churn_labels",
        "pipeline_dedup_e2e", "pipeline_rag_passages", "profile_events", "q_file_lineage",
        "text_bm25_rank", "text_boilerplate_shingles", "text_hashing_trick"], _BYTES),
    "dedup_prefix_filter_join": ("tasks", *_BYTES),
    "q_ewma_daily": GATED,
    "text_keyphrase_rake": GATED,
}


def sf_of(sf_dir: str):
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def host_key(cpus: int, sf, version: str = pyspark.__version__) -> str:
    return f"cpus={cpus} sf={sf} pyspark={version}"


def measured_call(spark, fn, group: str) -> tuple[float, dict[str, int]]:
    """Seconds of one forced call of ``fn`` and the GATED counters of every
    job submitted during it. bench.py runs one query at a time, so these are
    the query's jobs: the caller's, under ``group``, and each streaming
    drain's, under the stream's run id."""
    sc = spark.sparkContext
    store, bus = sc._jsc.sc().statusStore(), sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    jobs = store.jobsList(None)  # newest first
    newest = jobs.apply(0).jobId() if jobs.size() else -1
    sc.setJobGroup(group, group)
    t0 = time.time()
    force(fn(spark, SF_DIR))
    sec = time.time() - t0
    sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    jobs = store.jobsList(None)
    groups = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= newest:
            break
        groups.add(job.jobGroup().get())
    counts = exec_counters(spark, groups)
    return sec, {k: int(counts[k]) for k in GATED}


def compare(committed: dict, key: str,
            counters: dict[str, list[dict]]) -> dict | None:
    """``{query: {counter: [baseline, call 1, call 2]}}`` for every baseline
    counter that a measured call moved, or None when ``committed`` has no
    baseline for host ``key``: a comparison across hosts is refused."""
    if key not in committed:
        return None
    base = committed[key]["counters"]
    moved = {}
    for name, calls in counters.items():
        diff = {k: [v, *(c[k] for c in calls)]
                for k, v in base.get(name, {}).items()
                if any(c[k] != v for c in calls)}
        if diff:
            moved[name] = diff
    return moved


# The driver keeps a bounded tail of the output, and the contract line is
# printed after this report.
MAX_PRINTED_MOVES = 8


def format_moved(moved: dict) -> str:
    """One bounded stderr line, however many counters moved."""
    items = [f"{name}.{k} {v[0]}->{'/'.join(map(str, v[1:]))}"
             for name in sorted(moved) for k, v in sorted(moved[name].items())]
    extra = len(items) - MAX_PRINTED_MOVES
    suffix = f"; +{extra} more in BENCH_RUN.json" if extra > 0 else ""
    return (f"[bench] COUNTERS MOVED vs BENCH_DETAIL.json ({len(moved)} "
            f"queries): {'; '.join(items[:MAX_PRINTED_MOVES])}{suffix}")


# The driver parses the contract line from the LAST 2000 characters of
# combined output (round 1's full 8 KB per-query map pushed the line's own
# start out of that window -> "parsed": null). So the per-query map is
# bounded to a byte budget, most expensive queries first; the full map is
# in BENCH_RUN.json.
CONTRACT_LINE_BUDGET = 1600  # bytes; leaves margin inside the 2000 tail


def contract_line_record(total: float, times: dict[str, float],
                         sf_val) -> dict:
    """The one-line JSON contract record, per-query map included up to
    CONTRACT_LINE_BUDGET serialized bytes (descending cost, name as
    tiebreaker, 3-decimal values, compact separators)."""
    rec = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
    }
    size = len(json.dumps(rec, separators=(",", ":")))
    for name in sorted(times, key=lambda n: (-times[n], n)):
        entry = len(json.dumps({name: round(times[name], 3)},
                               separators=(",", ":")))  # includes {} = , + 1
        if size + entry > CONTRACT_LINE_BUDGET:
            break
        rec["queries"][name] = round(times[name], 3)
        size += entry
    return rec


def main() -> None:
    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    specs = all_queries()
    only = [n for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if n]

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    counters: dict[str, list[dict]] = {}
    for name in only or HEADLINE:
        # progress marker so a crash mid-run is attributable to a query
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        force(specs[name].fn(spark, SF_DIR))  # warm: not measured
        calls = [measured_call(spark, specs[name].fn, f"bench {name} {i}")
                 for i in (1, 2)]
        secs = [s for s, _ in calls]
        times[name] = round(min(secs), 3)
        spread[name] = round(max(secs) - min(secs), 3)
        counters[name] = [c for _, c in calls]

    sf_val = sf_of(SF_DIR)
    key = host_key(CPUS, sf_val)
    committed: dict = {}
    if os.path.exists(DETAIL_PATH):
        with open(DETAIL_PATH) as f:
            committed = json.load(f)
    moved = compare(committed, key, counters)
    if moved is None:
        print(f"[bench] BENCH_DETAIL.json has no baseline for {key!r} (it has "
              f"{sorted(committed)}): counters not compared", file=sys.stderr)
    elif moved:
        print(format_moved(moved), file=sys.stderr)

    if os.environ.get("SPARK_GRAFT_BENCH_REFRESH", "") == "1":
        entry = committed.get(key) if only else None
        entry = entry or {"counters": {}, "sec": {}}
        entry["counters"].update({
            n: {k: v for k, v in c[0].items() if k not in UNGATED.get(n, ())}
            for n, c in counters.items()})
        entry["sec"].update(times)
        committed[key] = entry
        with open(DETAIL_PATH, "w") as f:
            json.dump(committed, f, indent=1, sort_keys=True)

    total = round(sum(times.values()), 3)
    if only:
        print(json.dumps({
            "metric": "headline_queries_subset_runtime",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": sf_val,
            "host": key,
            "counters": {n: c[0] for n, c in counters.items()},
            "moved": moved,
        }))
        return
    with open(RUN_PATH, "w") as f:
        json.dump({"host": key, "value": total, "sec": times, "spread": spread,
                   "counters": counters, "moved": moved}, f, indent=1,
                  sort_keys=True)
    print(json.dumps(contract_line_record(total, times, sf_val),
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
