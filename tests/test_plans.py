"""Physical-plan pinning: pushdown, pruning, broadcast — the properties
that keep these queries viable at 100 TB."""

from __future__ import annotations

import pytest

from apache_flink_datastream_api_spark.operators import dataflow, dedup, relational, temporal
from apache_flink_datastream_api_spark.plans.inspect import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filter,
    assert_read_schema_excludes,
    explain_string,
)

from .conftest import SF_DIR
from .test_tables import _jobs_in


def test_q6_filter_pushdown(spark):
    df = relational.tpch_q6(spark, SF_DIR)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "l_discount")


def test_q6_column_pruning(spark):
    df = relational.tpch_q6(spark, SF_DIR)
    # q6 needs only shipdate/discount/quantity/extendedprice
    assert_read_schema_excludes(df, "lineitem", "l_returnflag")
    assert_read_schema_excludes(df, "lineitem", "l_partkey")


def test_q3_broadcasts_customer(spark):
    df = relational.tpch_q3(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_q5_broadcasts_dims(spark):
    df = relational.tpch_q5(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_q4_semi_join_no_cartesian(spark):
    """Q4's EXISTS has an equi conjunct (orderkey) plus a cross-table
    inequality — Catalyst must key the semi join on the equi part, never
    fall back to a nested loop over the inequality."""
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = relational.tpch_q4(spark, SF_DIR)
    plan = explain_string(df)
    assert "LeftSemi" in plan, f"expected a semi join:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_cartesian(df)


def test_q12_prunes_orders(spark):
    # q12 needs only orderkey+priority from orders: totalprice/date pruned
    df = relational.tpch_q12(spark, SF_DIR)
    assert_read_schema_excludes(df, "orders", "o_totalprice")
    assert_read_schema_excludes(df, "orders", "o_orderdate")
    assert_pushed_filter(df, "l_shipdate")


def test_q14_q19_broadcast_part(spark):
    for fn in (relational.tpch_q14, relational.tpch_q19):
        df = fn(spark, SF_DIR)
        assert_broadcast_join(df)
        assert_no_cartesian(df)


def test_q18_agg_before_join(spark):
    """The HAVING-filtered aggregate must sit BELOW the joins (shrink
    first, join the survivors) — a join-then-aggregate regression would
    carry the full lineitem through both joins."""
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(relational.tpch_q18(spark, SF_DIR), "simple")
    first_join = min(i for i, ln in enumerate(plan.splitlines()) if "Join" in ln)
    agg_lines = [i for i, ln in enumerate(plan.splitlines()) if "HashAggregate" in ln]
    # formatted bottom-up: in simple-mode tree output, deeper = later lines;
    # the aggregate must appear BELOW (after) the joins in the tree.
    assert any(i > first_join for i in agg_lines), plan


def test_filter_pushdown_on_events(spark):
    df = dataflow.x1_interval_alert(spark, SF_DIR)
    assert_pushed_filter(df, "event_type")


def test_minhash_no_cartesian(spark):
    assert_no_cartesian(dedup.dedup_minhash_lsh(spark, SF_DIR))


def test_asof_join_is_single_shuffle(spark):
    """The union+last_value as-of join must stay linear: one Exchange on
    the key and NO join operator (a join-then-rank regression would show
    up as a Join node and a second shuffle)."""
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(temporal.asof_purchase_click(spark, SF_DIR))
    assert "Join" not in plan, f"as-of join regressed to a physical join:\n{plan}"
    assert plan.count("Exchange") <= 2  # key shuffle (+AQE coalesce at most)


def test_range_join_uses_equality_key(spark):
    """The interval join must hash/sort-merge on user_id, never a
    nested-loop over the range predicate."""
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(temporal.range_join_purchase_errors(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_cartesian(temporal.range_join_purchase_errors(spark, SF_DIR))


def test_partitioned_sink_readback_prunes(spark):
    """The read-back filter on the partition column must be a
    PartitionFilter (satisfied from directory names, skipped partitions
    never opened) — not a post-scan row filter."""
    from apache_flink_datastream_api_spark.operators.io_roundtrip import (
        partitioned_sink_roundtrip,
    )
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(partitioned_sink_roundtrip(spark, SF_DIR))
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("o_orderpriority" in l and "IN (1-URGENT,5-LOW)" in l for l in lines), (
        plan
    )


def test_jaccard_prunes_text(spark):
    # The full operator checkpoints the shingle stage (lineage truncated),
    # so pruning is pinned on the staging table it materializes:
    # text is consumed by the shingle projection; n_chars/lang never read.
    df = dedup.ngram_shingle_table(spark, SF_DIR)
    assert_read_schema_excludes(df, "documents", "n_chars")


def test_q7_broadcasts_both_dims(spark):
    """q7's supplier- and customer-nation lookups must broadcast; the only
    shuffle join is lineitem-orders on orderkey."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = analytics.tpch_q7(spark, SF_DIR)
    plan = explain_string(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert_no_cartesian(df)


def test_q10_prunes_and_broadcasts(spark):
    from apache_flink_datastream_api_spark.operators import analytics

    df = analytics.tpch_q10(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_pushed_filter(df, "l_returnflag")
    # only orderkey + returnflag-filtered revenue cols are needed
    assert_read_schema_excludes(df, "lineitem", "l_quantity")
    assert_read_schema_excludes(df, "lineitem", "l_shipdate")


def test_q15_single_fact_shuffle(spark):
    """The argmax join must broadcast the single-row max, never reshuffle
    the aggregated revenue table a second time."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = analytics.tpch_q15(spark, SF_DIR)
    plan = explain_string(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert_no_cartesian(df)


def test_q17_broadcasts_part_filter(spark):
    from apache_flink_datastream_api_spark.operators import analytics

    df = analytics.tpch_q17(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_pushed_filter(df, "p_brand")
    assert_no_cartesian(df)


def test_grouping_sets_single_shuffle(spark):
    """Spark expands grouping sets with an Expand node feeding ONE
    aggregate exchange — not one scan/shuffle per set."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = analytics.q_grouping_sets(spark, SF_DIR)
    plan = explain_string(df)
    assert "Expand" in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial agg -> one exchange (+AQE read)


def test_inverted_index_two_exchanges(spark):
    """Posting-list build needs exactly its two semantic shuffles (per-doc
    distinct, then per-token aggregate) — no extra exchange creep."""
    from apache_flink_datastream_api_spark.operators import textops
    from apache_flink_datastream_api_spark.plans.inspect import exchange_count

    assert exchange_count(textops.text_inverted_index(spark, SF_DIR)) <= 2


def test_funnel_and_cohort_no_cartesian(spark):
    from apache_flink_datastream_api_spark.operators import temporal

    assert_no_cartesian(temporal.q_funnel_view_purchase(spark, SF_DIR))
    assert_no_cartesian(temporal.q_cohort_retention(spark, SF_DIR))


def test_sessionize_single_shuffle(spark):
    """Sessionization is one hash exchange on user_id: the window functions
    and the (user_id, session_id) groupBy all reuse that partitioning."""
    from apache_flink_datastream_api_spark.plans.inspect import exchange_count

    assert exchange_count(temporal.q_user_sessions_gap(spark, SF_DIR)) <= 1


def test_ts_similarity_distributed_topk(spark):
    """Time-series search must cut to top-k via per-partition heaps
    (TakeOrderedAndProject), never a global single-partition sort of all
    users; the query-series joins broadcast."""
    from apache_flink_datastream_api_spark.operators import similarity
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = similarity.ts_similarity_topk(spark, SF_DIR)
    plan = explain_string(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert_no_cartesian(df)
    assert_broadcast_join(df)


def test_ohlc_single_shuffle(spark):
    """Both row_number passes and the final groupBy reuse ONE exchange on
    the bar key — the desc sort and the agg must not re-shuffle."""
    from apache_flink_datastream_api_spark.plans.inspect import exchange_count

    df = temporal.q_ohlc_bars(spark, SF_DIR)
    assert exchange_count(df) == 1


def test_quota_sample_broadcasts_shard_bases(spark):
    """The per-(source, shard) base offsets are driver-scale and must come
    back as a broadcast join, not a shuffle join."""
    from apache_flink_datastream_api_spark.operators import trainprep

    df = trainprep.pipeline_quota_sample(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_portable_stats_single_shuffle(spark):
    """All six moments come from ONE partial-agg pass over lineitem."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import exchange_count

    df = analytics.q_portable_stats(spark, SF_DIR)
    assert exchange_count(df) == 1


def test_histogram_prunes_events(spark):
    """The histogram reads only `value` and aggregates in one pass."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import exchange_count

    df = analytics.q_value_histogram(spark, SF_DIR)
    assert_read_schema_excludes(df, "events", "props")
    assert_read_schema_excludes(df, "events", "user_id")
    assert exchange_count(df) == 1


def test_top3_uses_window_group_limit(spark):
    """Spark 4's WindowGroupLimit must push the rank<=3 filter into the
    sort so no partition materializes the full group."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = analytics.q_top3_orders_per_priority(spark, SF_DIR)
    assert "WindowGroupLimit" in explain_string(df)


def test_rolling_wau_broadcasts_day_spine(spark):
    """The day spine joins broadcast; the events fact is scanned once and
    reduced to distinct (day,user) before any range join."""
    from apache_flink_datastream_api_spark.operators import analytics

    df = analytics.q_rolling_wau(spark, SF_DIR)
    assert_broadcast_join(df)


def test_emb_project_no_shuffle(spark):
    """The int8 linear projection is pure map-side work — any Exchange in
    the plan means the GEMV stopped scaling at scan speed."""
    from apache_flink_datastream_api_spark.operators import similarity
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(similarity.emb_project_int8(spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_forward_fill_single_user_exchange(spark):
    """Both lead() passes of the LOCF fill must ride ONE hashpartitioning
    on user_id; the only other exchange is the small per-day rollup."""
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(temporal.ts_forward_fill(spark, SF_DIR))
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_gini_no_global_window(spark):
    """The distributed rank must never plan a SinglePartition exchange for
    the big side — that is exactly the bottleneck the value shards avoid.
    The only single-partition work allowed is the driver-scale shard-base
    cumsum and the final one-row aggregate."""
    from apache_flink_datastream_api_spark.operators import analytics
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    df = analytics.q_revenue_gini(spark, SF_DIR)
    plan = explain_string(df)
    # orders-side rank path partitions by shard; bases side broadcasts
    assert "hashpartitioning(shard" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_session_concurrency_sharded_prefix(spark):
    """Sweep-line cumsum shards by day (hashpartitioning(day)); day bases
    arrive via broadcast, not a second big-side shuffle."""
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(temporal.q_session_concurrency(spark, SF_DIR))
    assert "hashpartitioning(day" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_negative_pairs_broadcasts_count(spark):
    """|corpus| must enter as a broadcast one-row aggregate; the negative
    fetch is an equi-join, never a nested loop."""
    from apache_flink_datastream_api_spark.operators import trainprep
    from apache_flink_datastream_api_spark.plans.inspect import (
        assert_no_cartesian, explain_string,
    )

    df = trainprep.pipeline_negative_pairs(spark, SF_DIR)
    plan = explain_string(df, "simple")
    assert "BroadcastExchange" in plan, plan
    # exactly ONE nested-loop join is legal: the broadcast of the one-row
    # count. The negative fetch itself must be a keyed equi-join.
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert any(j in plan for j in
               ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")), plan


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_registry_wide_plan_hygiene(spark):
    """Sweep EVERY batch registry query's physical plan: no accidental
    CartesianProduct anywhere, and every BroadcastNestedLoopJoin is on an
    explicit allowlist of shapes where the broadcast side is driver-scale
    BY CONSTRUCTION (one-row count aggregates, a handful of band/anchor
    rows, or a deliberately brute-force baseline). A new query that
    sneaks in an unkeyed join fails here before it costs quadratic time
    at scale.

    Constructing a query also leaves nothing in the shared session: no
    temp view (register one only through ``sources.tables.temp_view``)
    and no cached plan (stage with ``localCheckpoint``). A cached plan
    outlives the query and replaces the same subtree in every later
    query's plan, at the cached relation's partition count."""
    from apache_flink_datastream_api_spark.registry import all_queries
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    # non-batch surfaces (streaming runs, sinks, sources) are exercised
    # by their own tests; explain here would re-run streams. Everything
    # else — multimodal, sketches, spark4 SQL surfaces included — is
    # swept, with tiny-broadcast shapes allowlisted explicitly.
    skip_tags = {"streaming", "io", "sink", "source"}
    # every legal nested-loop: why its broadcast side is tiny
    bnlj_ok = {
        "q22_idle_wealthy_customers",   # scalar avg-balance subquery (1 row)
        "q_monthly_order_series",       # calendar spine vs month bounds (1 row)
        "q_rolling_wau",                # anchor-day spine (|days| rows)
        "q_decile_binning",             # 9 global boundaries (1 row)
        "q_rfm_segmentation",           # anchor day (1 row) + 9 boundaries (1 row)
        "q_chi2_independence",          # |types|x7 grid from marginals (driver-scale)
        "text_collocations_lift",       # N_uni / N_bi scalar totals (1 row each)
        "q_rank_tests_ab",              # (n_a, n_b) totals (1 row)
        "q_cusum_changepoint",          # (n, total) aggregate (1 row)
        "q_price_tier_join",            # 4 tier bands
        "q_pareto_lorenz",              # (n, total) aggregate (1 row)
        "knn_bruteforce_cosine",        # brute-force baseline BY DESIGN
        "ts_similarity_topk",           # broadcast probe series (1 series)
        "knn_lsh_cosine",               # broadcast probe vector
        "text_bm25_rank",               # corpus stats (1 row) + query terms
        "corpus_datacard",              # corpus total (1 row)
        "pipeline_negative_pairs",      # |corpus| count (1 row)
        "pipeline_class_rebalance",     # max class size (1 row)
        "q_trending_topk",              # anchor-day spine (|days| rows)
        "q_basket_size_dist",           # distribution total (1 row)
        "q_mann_kendall_trend",         # daily series pair join (calendar-bounded)
        "q_tvd_drift",                  # (mn, mx) time bounds (1 row)
        "pipeline_churn_labels",        # t_split bound (1 row)
        "q_poisson_bootstrap_ci",       # grand-mean row (1 row)
        "graph_triangle_count",         # three 1-row count aggregates
        "layout_zorder_readout",        # dim bounds (1 row)
        "dq_expectations",              # total-count row (1 row)
        "q_price_index",                # base-month scalar (1 row)
        "q_event_study_lift",           # peak-day row (1 row)
        "pipeline_incremental_rollup",  # cutoff-day bound (1 row)
        "pipeline_rag_passages",        # chunk-corpus stats + dfs (1 row each)
        "q_abc_analysis",               # revenue-total row (1 row)
        "q_control_chart",              # chart-limits row (1 row)
        "q_theil_sen_trend",            # daily pair join (calendar-bounded) + m row
        "q_ab_bootstrap_uplift",        # point-estimate row (1 row)
        "q_diff_in_diff",               # midpoint bound (1 row)
        "q_discrete_hazard",            # observation-end bound (1 row)
        "q_copurchase_lift",            # basket-count row (1 row)
        "q_abc_migration",              # midpoint + per-half totals (1 row each)
        "pipeline_hard_negatives",      # ~n/157 anchors, driver-scale BY MOD
        "emb_power_iteration",          # max|w| rescale row (1 row)
        "q_kendall_tau",                # grid cell-pair join (~1k rows, data-size-independent)
        "dedup_incremental",            # history-cut scalar bound (1 row)
        "pipeline_epoch_mixture",       # sqrt-sum normalizer row (1 row)
        "q_bitemporal_asof",            # knowledge-cutoff scalar (1 row)
        "emb_matryoshka_overlap",       # broadcast query set (N_QUERIES rows), like knn_bruteforce
        "tpch_q11_important_stock",     # (total, n_parts) scalar row (1 row)
        "text_bpe_train",               # per-round argmax pair (1 row each)
        "text_bpe_encode",              # same per-round argmax broadcasts
        "emb_mmr_rerank",               # query vec + per-round pick (1 row each)
        "knn_recall_report",            # composes brute+LSH broadcast probes
        "knn_recall_report_approx",     # composes brute+IVF+PQ broadcast probes
        "mm_ann_pipeline",              # doc_id <> qid vs 5-row broadcast query set
        "sketch_bloom_membership",      # 1-row broadcast bitmap probe
        "knn_int8_cosine",              # brute-force baseline BY DESIGN (5-row probe)
        "text_bpe_vocab",               # per-round argmax broadcasts (BPE chain)
        "ml_perceptron_langid",         # 1-row final-accuracy aggregate broadcast
        "dq_k_anonymity",               # 1-row corpus-totals broadcast
        "dq_l_diversity",               # 1-row corpus-totals broadcast
        "q_cuped_adjustment",           # 1-row global-moments broadcast
        "ts_journey_topk",              # 1-row query-size broadcast (qn)
        "ml_knn_label_assign",          # composes knn_int8's 5-row probe broadcast
        "ml_naive_bayes_langid",        # |langs| class rows + 1-row vocab broadcast
        "sketch_accuracy_audit",        # 1-row approx-percentile broadcast per audit
        "sketch_hll_set_algebra",       # 1-row per-day/union estimate rows crossed
        "dq_t_closeness",               # band spine (|bands| rows) + 1-row totals
        "graph_link_prediction",        # degree-cap scalar + vertex-count (1 row each)
        "q_survival_km",                # observation-end bound (1 row)
        "q_abc_xyz_matrix",             # revenue-total scalar (1 row)
        "q_uplift_matching",            # midpoint + |users| count (1 row each)
        "q_brand_sequence",             # transition-total scalar (1 row)
        "emb_pca_deflate",              # max|w| + deflation coef rows (1 row each)
        "q_attribution_shapley",        # full-coalition v row (1 row)
        "geo_grid_hotspots",            # global cents total (1 row)
        "q_chain_ladder",               # obs-end bound + |ages| factor array (1 row)
        "q_haar_wavelet",               # min-day anchor (1 row)
        "graph_modularity",             # m-edges scalar + global Q row (1 row each)
        "ml_active_learning_batch",     # NB class-row broadcasts (|langs| rows)
        "ml_calibration_curve",         # NB class rows + 1-row |eval| count
        "text_burstiness",              # 1-row corpus-count broadcast
        "profile_key_skew",             # 1-row total-count broadcast
        "maintenance_equi_depth_hist",  # 1-row total-count broadcast
        "q_rolling_beta",               # calendar-bounded daily index broadcast
        "pipeline_kfold_assignments",   # 1-row corpus-total broadcast
        "graph_rich_club",              # degree-quartile cut rows (4) + 1-row count
        "emb_silhouette_simplified",    # 10 centroid-sum rows broadcast
    }
    # InferFiltersFromGenerate hazard (found via x8_neardup, 27x cost):
    # a size(...)>0 filter synthesized from explode() re-evaluates the
    # generator argument FULLY INLINED, without codegen subexpression
    # elimination. A pushed filter whose line carries a huge expression
    # chain over transform()/md5() is that hazard's signature; rewrite
    # the query to stack() or materialize the array first.
    gen_filter_ok = {
        "q_haar_wavelet",  # filter re-derives one level-array over an
                           # already-aggregated per-user relation (0.5 s)
    }
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # other tests' fixtures cache frames into this session
    spark.catalog.clearCache()
    violations = []
    for name, spec in all_queries().items():
        if skip_tags & set(spec.tags):
            continue
        views = _temp_views(spark)
        plan = explain_string(spec.fn(spark, SF_DIR), "simple")
        left = _temp_views(spark) - views
        if left:
            violations.append(f"{name}: leaves temp view(s) {sorted(left)}")
        if not cache_manager.isEmpty():
            violations.append(f"{name}: leaves a cached plan")
            spark.catalog.clearCache()
        if "InMemoryRelation" in plan:
            violations.append(f"{name}: InMemoryRelation in plan")
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            violations.append(f"{name}: unallowlisted BroadcastNestedLoopJoin")
        if name not in gen_filter_ok:
            for line in plan.splitlines():
                ls = line.strip()
                if ("Filter" in ls[:12] and "size(" in ls and len(ls) > 1500
                        and ("transform(" in ls or "md5(" in ls)):
                    violations.append(
                        f"{name}: generate-filter inlines a "
                        f"{len(ls)}-char expression chain")
                    break
    assert not violations, "\n".join(violations)


def test_pipe_syntax_construction_runs_no_job(spark):
    """Building the pipe-syntax query only plans it: the caller's action
    is the one place its aggregate runs."""
    jobs = _jobs_in(spark.sparkContext, "plans-pipe-syntax-construct",
                    lambda: relational.q_pipe_syntax(spark, SF_DIR))
    assert jobs == [], jobs


def test_decile_binning_has_no_percentile_buffer(spark):
    """Regression pin for the exact_quantiles rewrite: the decile plan
    must contain NO percentile aggregate (whose buffer sorts the whole
    column in one aggregation state) — boundaries fold in as literals."""
    from apache_flink_datastream_api_spark.operators.analytics import q_decile_binning
    from apache_flink_datastream_api_spark.plans.inspect import explain_string

    plan = explain_string(q_decile_binning(spark, SF_DIR), "simple")
    assert "percentile" not in plan.lower(), plan


# --- shuffle budgets ---------------------------------------------------------
# Exchange-count ceilings for flagship plans: adding an accidental shuffle
# (a lost broadcast hint, a re-partition snuck into a refactor, a window
# that no longer shares its exchange) is the regression class that turns
# a 100 TB job from hours into days. Budgets are ceilings, not exact
# counts — AQE may insert coalesce reads but not new wide exchanges.

SHUFFLE_BUDGETS = {
    # scan -> ONE wide agg exchange
    "tpch_q1_pricing_summary": 1,
    "dedup_exact": 1,
    # map-side only: projection/codec work, ZERO exchanges
    "emb_project_int8": 0,
    "mm_ppm_codec_roundtrip": 0,
    "mm_wav_codec_roundtrip": 0,
    # map-side hashing, then Spark's multi-distinct profile: Expand +
    # partial/distinct/final stages = 2 wide exchanges for the two
    # countDistincts (the documented price of n_docs + n_terms in one agg)
    "text_hashing_trick": 2,
    # (user, day) rollup + per-user window share one user-keyed exchange
    # lineage: rollup exchange, window re-use, final day rollup
    "q_funnel_any_order": 3,
    # rule carry: ONE event_type exchange, no join
    "q_dynamic_rules": 1,
    # kernel equi-join + anchor rollup on the calendar-bounded daily agg
    # (the kernel-side broadcast no longer counts — wide exchanges only)
    "q_ewma_daily": 3,
}


def count_wide_exchanges(plan: str) -> int:
    """Count only WIDE shuffles (hash/range/single-partition exchanges).

    ``plan.count("Exchange")`` would also match BroadcastExchange, which
    both inflates the ceiling and — worse — makes a regression that
    degrades a BroadcastHashJoin into a shuffle join count-neutral.
    Broadcasts are cheap by design; wide exchanges are what the budget
    must bound."""
    import re

    return len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
        plan))


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_shuffle_budget(spark, name):
    from apache_flink_datastream_api_spark.registry import all_queries

    plan = explain_string(all_queries()[name].fn(spark, SF_DIR), "simple")
    n = count_wide_exchanges(plan)
    assert n <= SHUFFLE_BUDGETS[name], (
        f"{name}: {n} wide Exchange nodes > budget {SHUFFLE_BUDGETS[name]}\n{plan}"
    )


def test_dynamic_partition_pruning_fires(spark):
    """The partitioned-fact x filtered-dim join must carry a runtime
    dynamicpruningexpression in the fact scan's PartitionFilters — the
    property that turns a full 100 TB scan into reading only the
    dim-surviving partitions."""
    from apache_flink_datastream_api_spark.operators.io_roundtrip import (
        dpp_partitioned_join)

    plan = explain_string(dpp_partitioned_join(spark, SF_DIR), "formatted")
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_injection(spark):
    """Under production-shaped thresholds (application side treated as
    scan-heavy, broadcast disabled so the join actually shuffles),
    Catalyst's InjectRuntimeFilter must build a bloom filter from the
    selective orders side (bloom_filter_agg) and apply it to the
    lineitem side's scan (might_contain) — the runtime join-pruning
    path a 100 TB fact join relies on when DPP/bucketing don't apply.
    Cloned session: threshold confs must not leak into other tests."""
    from apache_flink_datastream_api_spark.operators.relational import (
        q_bloom_runtime_filter,
    )

    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    plan = explain_string(q_bloom_runtime_filter(s2, SF_DIR), "formatted").lower()
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan


def test_recursive_hierarchy_restores_row_limit_conf(spark):
    """q_recursive_hierarchy must lift spark.sql.cteRecursionRowLimit only
    for its own execution (ADVICE r5): the session is shared with other
    recursive-CTE queries whose row-count circuit breaker must stay armed.
    Also pins that the returned DataFrame is the checkpointed one — it
    must stay collectable after the limit is re-armed."""
    from apache_flink_datastream_api_spark.operators.relational import (
        q_recursive_hierarchy,
    )

    before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    assert before != "-1"
    df = q_recursive_hierarchy(spark, SF_DIR)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before
    # collect AFTER restoration: a non-checkpointed plan would re-run the
    # recursion under the re-armed limit (and fail at scale)
    assert df.count() > 0
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before
