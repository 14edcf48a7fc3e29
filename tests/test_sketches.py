"""Accuracy pinning for the approximate (sketch) operators. The portable
HLL and histogram-quantile sketches are hash-matched cross-engine (their
arithmetic is integer-exact), so the oracle already pins WHAT they
compute; these tests pin that what they compute is close to the exact
answer. The engine-internal sketches (hll_sketch_agg binaries) keep
their merge-law + accuracy pins here, invisible to SQL."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from apache_flink_datastream_api_spark.operators.sketches import (
    HIST_W,
    HLL_M,
    _PCTS,
    sketch_daily_uniques,
    sketch_value_percentiles,
)
from apache_flink_datastream_api_spark.sources.tables import load_table

from .conftest import SF_DIR


def test_hll_uniques_within_rse(spark):
    """Portable HLL (m=256, RSE ~6.5%): within 3 sigma of exact on every
    (day, event_type) group; small groups ride linear counting and must
    be near-exact."""
    approx = {
        (r.day_ms, r.event_type): r.approx_uniques
        for r in sketch_daily_uniques(spark, SF_DIR).collect()
    }
    exact = {
        (r.day_ms, r.event_type): r.n
        for r in load_table(spark, SF_DIR, "events")
        .groupBy(F.unix_millis(F.date_trunc("day", "ts")).alias("day_ms"), "event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, n in exact.items():
        bound = max(2, 0.2 * n)  # 3 x 6.5% RSE, plus a tiny-count floor
        assert abs(approx[k] - n) <= bound, (k, approx[k], n)
        if n <= HLL_M // 8:  # deep linear-counting regime: near-exact
            assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_histogram_percentiles_within_bucket_width(spark):
    """The histogram sketch returns the midpoint of the bucket holding
    the rank-ceil(p*n) value, so each estimate must sit within W/2 cents
    of the exact discrete percentile at the same integer rank."""
    approx = {
        r.event_type: (r.p50_cents, r.p95_cents, r.p99_cents)
        for r in sketch_value_percentiles(spark, SF_DIR).collect()
    }
    cents = load_table(spark, SF_DIR, "events").selectExpr(
        "event_type", "CAST(round(value * 100) AS BIGINT) AS c")
    w = Window.partitionBy("event_type").orderBy("c")
    ranked = cents.select(
        "event_type", "c",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    for i, (name, num, den) in enumerate(_PCTS):
        exact = {
            r.event_type: r.c
            for r in ranked.where(
                F.expr(f"rk = ({num} * n + {den - 1}) div {den}")).collect()
        }
        for et, est in approx.items():
            assert abs(est[i] - exact[et]) <= HIST_W // 2, (
                name, et, est[i], exact[et])


def test_hll_rollup_merge_consistent_and_accurate(spark):
    """The union of per-day sketches must estimate exactly what a single
    direct sketch over the raw data estimates (HLL union(sketch(A),
    sketch(B)) == sketch(A ∪ B) for a fixed lgConfigK), and land within
    the configured error of the exact distinct."""
    from apache_flink_datastream_api_spark.operators.sketches import (
        HLL_LGK,
        sketch_rollup_uniques,
    )

    rolled = {
        r.event_type: r.approx_uniques
        for r in sketch_rollup_uniques(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
            ).alias("est")
        )
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert rolled.keys() == direct.keys() == exact.keys()
    for et in exact:
        assert rolled[et] == direct[et], (et, rolled[et], direct[et])
        assert abs(rolled[et] - exact[et]) <= max(2, 0.05 * exact[et])


def test_pinned_oracle_build_guard(capsys):
    """Pinned-constant oracles degrade to rows-only (None) on a toolchain
    bump instead of hash-FAILing on phantom drift (VERDICT r6 item 6);
    on the recorded build they pass through unchanged. r8 (ADVICE): a
    numpy PATCH bump keeps the oracle (match on major.minor). A real
    downgrade is noted on stderr only: the guard runs when the registry
    is imported, so it must create or delete no files."""
    import os
    from unittest import mock

    import numpy

    from apache_flink_datastream_api_spark.registry import (
        PIN_BUILD, pinned_oracle,
    )

    import pyspark

    if (pyspark.__version__, numpy.__version__) == (
        PIN_BUILD["pyspark"], PIN_BUILD["numpy"]
    ):
        assert pinned_oracle("SELECT 1") == "SELECT 1"
        # patch-level numpy bump: reduction-order semantics unchanged,
        # oracle kept
        np_patch_bump = PIN_BUILD["numpy"].rsplit(".", 1)[0] + ".999"
        with mock.patch.object(numpy, "__version__", np_patch_bump):
            assert pinned_oracle("SELECT 1") == "SELECT 1"
        assert capsys.readouterr().err == ""
    runs = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scaling_runs")
    before = sorted(os.listdir(runs))
    with mock.patch.object(numpy, "__version__", "999.0.0"):
        assert pinned_oracle("SELECT 1") is None
    err = capsys.readouterr().err
    assert "pinned-constant oracle disabled" in err
    assert "'numpy': '999.0.0'" in err
    assert sorted(os.listdir(runs)) == before
