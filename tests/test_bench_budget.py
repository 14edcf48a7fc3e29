"""Bench regression guard: exact work counters, not wall-clock.

Runs a few headline queries through ``bench.py``'s subset mode (warm call,
then two measured calls, each charged with every job submitted during it)
and requires each measured call's jobs, stages, tasks and shuffle bytes to
equal this host's committed baseline in ``BENCH_DETAIL.json``. Co-tenant
load and other JVMs move wall-clock but not these counters, so the guard
runs inside the full suite. It skips only when the baseline has no entry
for this host key (cpus, sf, pyspark version); take one with
``SPARK_GRAFT_BENCH_REFRESH=1 python bench.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)
import bench  # noqa: E402

# A batch join, a query whose first call in a session runs more jobs than
# later ones (cached centroids), and streaming drains whose micro-batch jobs
# run under the stream's run id rather than the caller's job group.
GUARDED = [
    "tpch_q3_shipping_priority",
    "knn_ivf_cosine",
    "w4_session_append_stream",
    "j3_first_touch_stream",
    "x4_debounce_session_stream",
]


def test_guarded_headline_counters_match_baseline():
    key = bench.host_key(bench.CPUS, bench.sf_of(bench.SF_DIR))
    with open(bench.DETAIL_PATH) as f:
        committed = json.load(f)
    if key not in committed:
        pytest.skip(f"BENCH_DETAIL.json has no baseline for host {key!r}")
    assert set(GUARDED) <= set(committed[key]["counters"])
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(GUARDED),
               SPARK_GRAFT_CPUS=str(bench.CPUS))
    env.pop("SPARK_GRAFT_BENCH_REFRESH", None)
    proc = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")], env=env,
                          cwd=REPO, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, f"bench subset run failed:\n{proc.stderr[-4000:]}"
    rec = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert rec["host"] == key and sorted(rec["counters"]) == sorted(GUARDED)
    assert rec["moved"] == {}, f"work counters moved (baseline, call 1, call 2): {rec['moved']}"


KEY = bench.host_key(4, 0.1, "4.1.2")
BASE = {"jobs": 4, "stages": 5, "tasks": 17, "shuffle_read_bytes": 186760,
        "shuffle_write_bytes": 186760}
COMMITTED = {KEY: {"counters": {"q_a": BASE}, "sec": {"q_a": 1.2}}}


def test_unchanged_counters_flag_nothing():
    assert bench.compare(COMMITTED, KEY, {"q_a": [dict(BASE), dict(BASE)]}) == {}
    # a query without a baseline entry, or a counter left out of one, is not gated
    ungated = {KEY: {"counters": {"q_a": {"jobs": 4}}}}
    moved_bytes = dict(BASE, shuffle_write_bytes=1)
    assert bench.compare(ungated, KEY, {"q_a": [moved_bytes, moved_bytes],
                                        "q_new": [moved_bytes]}) == {}


def test_moved_counter_is_flagged_with_query_and_counter():
    second = dict(BASE, tasks=21, shuffle_write_bytes=190000)
    moved = bench.compare(COMMITTED, KEY, {"q_a": [dict(BASE), second]})
    assert moved == {"q_a": {"tasks": [17, 17, 21],
                             "shuffle_write_bytes": [186760, 186760, 190000]}}
    line = bench.format_moved(moved)
    assert "q_a.tasks 17->17/21" in line
    assert "q_a.shuffle_write_bytes 186760->186760/190000" in line


def test_other_host_key_refuses_comparison():
    calls = {"q_a": [dict(BASE), dict(BASE)]}
    for other in (bench.host_key(32, 0.1, "4.1.2"), bench.host_key(4, 0.01, "4.1.2"),
                  bench.host_key(4, 0.1, "4.0.1")):
        assert other != KEY
        assert bench.compare(COMMITTED, other, calls) is None


def test_moved_counter_report_is_bounded():
    """The driver keeps a bounded output tail and the contract line comes
    after this report, so it stays one short line however much moved."""
    moved = {f"q_hypothetical_{i:03d}": {k: [1, 2, 2] for k in bench.GATED}
             for i in range(50)}
    line = bench.format_moved(moved)
    assert "\n" not in line and len(line) < 1200
    assert "(50 queries)" in line and "+242 more in BENCH_RUN.json" in line
    small = bench.format_moved({"q_a": {"jobs": [4, 5, 5]}})
    assert "more" not in small and "q_a.jobs 4->5/5" in small


def test_contract_line_fits_driver_tail_with_per_query_map():
    """VERDICT r9 item 2 + the r1 truncation scar: the driver parses the
    contract line from the LAST 2000 chars of output (measured: every
    BENCH_rNN.json tail_len <= 2000; r1's full 8 KB map pushed the line
    start out of the window -> parsed: null). The line must therefore
    carry as much per-query signal as fits — most expensive queries
    first — while staying whole inside the window."""
    import json

    times = {f"q_synthetic_name_number_{i:03d}": 0.001 * i
             for i in range(400)}
    rec = bench.contract_line_record(299.9, times, 0.1)
    line = json.dumps(rec, separators=(",", ":"))
    assert len(line) <= bench.CONTRACT_LINE_BUDGET <= 1700
    assert rec["metric"] == "headline_queries_total_runtime"
    assert rec["value"] == 299.9 and rec["sf"] == 0.1
    # non-empty, descending-cost prefix of the full map
    assert len(rec["queries"]) > 30
    vals = list(rec["queries"].values())
    assert vals == sorted(vals, reverse=True)
    assert max(times.values()) == vals[0]
    # tiny maps are passed through whole
    small = bench.contract_line_record(1.0, {"q_a": 0.5, "q_b": 0.25}, 0.1)
    assert small["queries"] == {"q_a": 0.5, "q_b": 0.25}
