"""Batch workload ``batch_floor``: the first call of each sampled query in
a session at sf0.01, where per-query fixed cost dominates.

One client runs a closed loop, serially, in one session. A call is the
registered query function (construction) followed by a ``noop`` write
(the action). Results are checked outside the timed region against the
query's DuckDB oracle with ``scripts/check_query.py``'s normalisation:
columns and rows sorted, dtype kinds equal, values exactly equal.
Queries without an oracle get a rows-only check.
"""

from __future__ import annotations

import importlib
import pkgutil
import random
import statistics
import sys
import time
import traceback
from pathlib import Path

from .common import (FLOOR_DATA, PACKAGE, TABLES, Outcome, cpu_ticks,
                     hd_median, log, steal_share, tree_cpu_s, unstolen)

# Registering modules that stratify the batch_floor sample: the operator
# modules, the streaming query corpus and the Python data sources.
EXTRA_STRATA = (f"{PACKAGE}.streaming.queries", f"{PACKAGE}.sources.pydatasource")

# The batch_floor sample was drawn once from the registry with
# ``stratified_sample(strata(), 1, FLOOR_SAMPLE_SEED, FLOOR_OUTLIERS |
# FLOOR_WARMUP)`` and is pinned below, in stratum order, so every run
# measures the same calls and a query added to the registry later does
# not change them. Drawing a fresh sample per run seed put 15-37% of
# spread between the medians of ten seeds (simulated from per-query times
# at sf0.01). Ordering the sample by the run seed moved the median by 25%
# over three seeds: the first calls after the warm-up still run 2-4x
# slower while the JVM compiles, and the seed decided which queries paid
# that.
FLOOR_SAMPLE_SEED = 20240601

# Untimed warm-up before the sample: one cheap query for each cost a
# session pays once, whichever query comes first (JVM code generation,
# streaming start-up, the Python Arrow worker, the Python data source).
# Without it the first sampled query of each kind carried that cost
# (4-9 s instead of 0.5-2 s).
FLOOR_WARMUP = (
    "tpch_q6_forecast_revenue",
    "stream_static_enrich",
    "emb_pool_arrow_grouped",
    "s3_generator_stream",
)

# Queries whose call took over 2 s at sf0.01 on 4 cores when the whole
# registry ran in one session (iterative graph algorithms, index builds,
# multi-stream joins, Python sinks). Their first call in a fresh session
# is slower still (up to 9 s); one of them can take a third of a run's
# time without moving the median, so the sample leaves them out.
FLOOR_OUTLIERS = frozenset({
    "dedup_semdedup_ivf",
    "graph_kcore_peel",
    "graph_label_propagation",
    "graph_link_prediction",
    "graph_triangle_count",
    "j1_stream_stream_join",
    "j2_join_then_window_stream",
    "j3_first_touch_stream",
    "j3_threeway_stream_join",
    "k5_python_sink_roundtrip",
    "k6_python_stream_sink_roundtrip",
    "knn_index_delta",
    "knn_recall_report_approx",
    "pipeline_dedup_e2e",
    "q_pandas_udaf_median",
    "q_recursive_hierarchy",
    "q_sql_scripting",
    "s3_generator_simple_stream",
    "s3_generator_stream",
    "s3_stateful_alert_stream",
    "tpch_q1_pricing_summary",
    "x3_idle_timeout_stream",
})

# Each sampled query with its reference latency (ms): the median of its
# five fastest first calls in nine runs on a 4-core host (``local[4]``).
FLOOR_SAMPLE_MS = {
    "q_copurchase_pairs": 2040,
    "knn_ivf_delta_serve": 9750,
    "q_lateral_join_api": 530,
    "x2_session_durations": 510,
    "dedup_minhash_lsh": 3050,
    "maintenance_column_stats": 900,
    "mm_scene_detect": 430,
    "tpch_q20_promotion_candidates": 1200,
    "pipeline_clean_corpus": 850,
    "profile_key_skew": 650,
    "tpch_q4_late_orders": 540,
    "emb_sim_histogram": 710,
    "sketch_value_percentiles": 490,
    "bucketed_join_roundtrip": 1460,
    "q_durbin_watson": 800,
    "q_funnel_view_purchase": 430,
    "text_ttr_by_source": 520,
    "pipeline_median_impute": 650,
    "s3_generator_source": 1640,
    "dedup_within_watermark_stream": 1320,
}

# --- sampling ----------------------------------------------------------------

def strata() -> dict[str, list[str]]:
    """Query names per registering module, as the registry collects them."""
    ops = importlib.import_module(f"{PACKAGE}.operators")
    mods = [f"{PACKAGE}.operators.{m.name}"
            for m in pkgutil.iter_modules(ops.__path__)] + list(EXTRA_STRATA)
    out: dict[str, list[str]] = {}
    for name in mods:
        specs = getattr(importlib.import_module(name), "SPECS", None)
        if specs:
            out[name] = [s.name for s in specs]
    return out


def stratified_sample(groups: dict[str, list[str]], per_stratum: int,
                      seed: int, exclude=frozenset()) -> list[tuple[str, str]]:
    """``per_stratum`` queries from every stratum, drawn with ``seed``;
    returns (module, query) pairs in stratum order."""
    rng = random.Random(seed)
    out = []
    for mod in sorted(groups):
        names = sorted(n for n in groups[mod] if n not in exclude)
        out += [(mod, n) for n in rng.sample(names, min(per_stratum, len(names)))]
    return out


# --- correctness -------------------------------------------------------------

def norm(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare_frames(got, want) -> str | None:
    """None when ``got`` equals ``want`` under the oracle normalisation,
    else the first difference found."""
    import pandas as pd

    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    gk = [g[c].dtype.kind for c in g.columns]
    wk = [w[c].dtype.kind for c in w.columns]
    if gk != wk:
        return f"dtype kinds {gk} != {wk}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return str(ex)[:300]
    return None


def oracle_connection(data: Path):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = data / f"{t}.parquet"
        src = str(p) if p.is_file() else f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def check(spec, df, con) -> str | None:
    """Oracle comparison; without an oracle, collecting the rows is the
    check."""
    got = df.toPandas()
    if spec.oracle is None:
        return None
    return compare_frames(got, con.sql(spec.oracle).df())


def floor_module(groups: dict[str, list[str]]) -> dict[str, str]:
    """Registering module of each pinned query; fails loudly when one is
    no longer registered."""
    owner = {n: mod for mod, names in groups.items() for n in names}
    missing = [n for n in FLOOR_SAMPLE_MS if n not in owner]
    if missing:
        raise KeyError(f"pinned batch_floor queries not registered: {missing}")
    return {n: owner[n] for n in FLOOR_SAMPLE_MS}


def floor_figures(calls: list[tuple[str, float, float]]) -> tuple[float, float]:
    """(median call latency in ms, calls per second) of the pinned sample,
    each call's latency taken as on an idle host (``common.unstolen``).
    The queries differ up to 20x in cost, so each call is compared with
    its reference latency: the figures are the reference median call
    scaled by the Harrell-Davis median of latency over reference, and the
    reference throughput scaled by summed reference over summed latency.
    Over six sets of ten runs on a 4-core host whose CPU steal reached
    0.64 of a call, this put the quartile spread of the median call at
    0.04-0.10 of its median, against 0.10-0.37 for the plain median of
    the raw calls."""
    ref = FLOOR_SAMPLE_MS
    ms = [unstolen(lat * 1e3, share) for _, lat, share in calls]
    ratio = hd_median([v / ref[n] for (n, _, _), v in zip(calls, ms)])
    pace = sum(ref[n] for n, _, _ in calls) / sum(ms)
    ref_ms = list(ref.values())
    return (statistics.median(ref_ms) * ratio,
            len(ref_ms) / sum(ref_ms) * 1e3 * pace)


# --- one timed call ------------------------------------------------------------

class Calls:
    """Timed calls and their per-layer split."""

    def __init__(self, engine, tracer, data: Path):
        self.engine, self.tracer, self.data = engine, tracer, str(data)
        self.calls: list[tuple[str, float, float]] = []
        self.construct_s = self.action_s = self.plan_s = self.cpu_s = 0.0
        self.groups = {"construct": [], "action": []}
        self.per_module: dict[str, dict[str, float]] = {}
        self.attempted = self.failed = 0
        self.busy = self.stolen = 0

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAIL {name}: {why}", file=sys.stderr)

    def timed(self, name: str, module: str):
        """Construct + noop action, timed; returns the DataFrame or None."""
        spark, spec = self.engine.spark, self.engine.specs[name]
        tr = self.tracer
        self.attempted += 1
        try:
            with tr.span("query", query=name, module=module):
                c0, u0 = cpu_ticks(), tree_cpu_s()
                t0 = time.perf_counter()
                with tr.span("spec.fn") as s1:
                    df = spec.fn(spark, self.data)
                t1 = time.perf_counter()
                with tr.span("noop") as s2:
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                c1, u1 = cpu_ticks(), tree_cpu_s()
        except Exception:
            self.fail(name, traceback.format_exc(limit=3))
            return None
        share = steal_share(c0, c1)
        self.busy += c1[0] - c0[0]
        self.stolen += c1[1] - c0[1]
        self.cpu_s += u1 - u0
        log(f"{name}: construct {t1 - t0:.3f} s, action {t2 - t1:.3f} s, "
            f"stolen {share:.3f}, cpu {u1 - u0:.3f} s")
        self.calls.append((name, t2 - t0, share))
        self.construct_s += t1 - t0
        self.action_s += t2 - t1
        m = self.per_module.setdefault(module.removeprefix(PACKAGE + "."), {
            "calls": 0, "construct_s": 0.0, "action_s": 0.0})
        m["calls"] += 1
        m["construct_s"] += t1 - t0
        m["action_s"] += t2 - t1
        if tr.enabled:
            self.groups["construct"].append(s1.id)
            self.groups["action"].append(s2.id)
            with tr.span("executedPlan"):
                p0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                self.plan_s += time.perf_counter() - p0
        return df

    def verify(self, name: str, df, con) -> None:
        """Oracle check outside the timed region; a mismatch or an
        exception counts as a failed operation."""
        spec = self.engine.specs[name]
        try:
            with self.tracer.span("check", query=name):
                why = check(spec, df, con)
        except Exception:
            why = traceback.format_exc(limit=3)
        if why:
            self.fail(name, why)

    def outcome(self) -> Outcome:
        total = self.construct_s + self.action_s
        ms = [lat * 1e3 for _, lat, _ in self.calls]
        latency_ms, per_s = floor_figures(self.calls) if ms else (0.0, 0.0)
        return Outcome(
            self.attempted, self.failed, latency_ms, per_s, ms or [0.0],
            {"query.calls": float(len(ms)),
             "query.construct_s": self.construct_s,
             "query.action_s": self.action_s,
             "query.plan_s": self.plan_s,
             "query.cpu_s": self.cpu_s,
             "query.construct_share": self.construct_s / total if total else 0.0,
             "latency.raw_p50_ms": hd_median(ms) if ms else 0.0,
             "host.steal_share": steal_share((0, 0), (self.busy, self.stolen))},
            self.groups, self.per_module)


# --- workloads -------------------------------------------------------------------

def batch_floor(engine, tracer, seed: int, seconds: int) -> Outcome:
    """First call of each pinned query in the session: one pass over the
    sample in its fixed order; neither ``seed`` nor ``seconds`` changes
    it."""
    module = floor_module(strata())
    t0 = time.perf_counter()
    with tracer.span("warmup"):
        for name in FLOOR_WARMUP:
            df = engine.specs[name].fn(engine.spark, str(FLOOR_DATA))
            df.write.format("noop").mode("overwrite").save()
    engine.warmed(t0)
    calls = Calls(engine, tracer, FLOOR_DATA)
    con = oracle_connection(FLOOR_DATA)
    try:
        for name in FLOOR_SAMPLE_MS:
            df = calls.timed(name, module[name])
            if df is not None:
                calls.verify(name, df, con)
    finally:
        con.close()
    return calls.outcome()
