"""Skewed-leg sweep (VERDICT r6 item 2): measure the most shuffle-heavy
queries on the uniform sf0.3 leg vs the Zipf leg (``make_scale.py
--zipf``: hot users own ~16% of events, hot parts ~14% of lineitem, hot
document sources ~18% of docs) and report per-query zipf/uniform
wall-clock ratios. The uniform sweep proves the plans scale with VOLUME;
this proves they survive the hot-KEY distribution a real 100 TB corpus
has (boilerplate-heavy sources, celebrity users) — the leg the
deliberately skew-free replicas never exercise.

Pass criterion (SCALING.md skew table): ratio <= ~2x per query, no
unbounded straggler. AQE's skew-split behavior on the real leg is
pinned separately by tests/test_scale_patterns.py::
test_aqe_skew_split_on_zipf_leg (real hot key, tuned thresholds).

Methodology mirrors the uniform sweep: bench.py subset mode (noop sink,
warm + min-of-2), each query x leg in its OWN JVM, 8g driver heap.

A query that cannot finish a leg (e.g. ``j3_threeway_stream_join`` on the
Zipf leg, whose interval join has multiplicative output under the hot
key — SCALING.md analysis) is recorded as a ``{"sec": null}`` DNF
record rather than aborting the sweep, and rendered as ``DNF`` in the
table.

Usage:
    python scripts/skew_report.py            # full sweep -> skew_sweep.jsonl
    python scripts/skew_report.py --only q1,q2   # re-run just those queries,
                                                 # merge into the existing file
    python scripts/skew_report.py --table    # print the markdown table
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "dedup_family_overlap",
    "graph_pagerank",
    "graph_kcore_peel",
    "graph_link_prediction",
    "graph_rich_club",
    "j2_join_then_window_stream",
    "j3_threeway_stream_join",
    "j3_first_touch_stream",
    "x8_neardup_stream",
    "q_spearman_corr",
    "x4_debounce_append_stream",
    "dedup_substring_spans",
    "pipeline_dedup_e2e",
]

# Per-query subprocess timeout. j3_threeway_stream_join's zipf leg is a
# KNOWN multiplicative-output DNF (SCALING.md); cap it short so the sweep
# records the DNF and moves on instead of burning 30 minutes.
TIMEOUTS = {("j3_threeway_stream_join", "zipf"): 300}

LEGS = [
    ("uniform", "testdata_scaled/sf0.3"),
    ("zipf", "testdata_scaled/sf0.3z"),
]

OUT = os.path.join(REPO, "scaling_runs", "skew_sweep.jsonl")


def _run_one(q: str, label: str, d: str) -> dict:
    """One query x leg in its own JVM; DNF (timeout / nonzero rc) becomes
    a {"sec": None} record instead of aborting the sweep."""
    print(f"[skew] {q} @ {label}", flush=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_ONLY=q,
        SPARK_GRAFT_SF_DIR=os.path.join(REPO, d),
        SPARK_DRIVER_MEMORY="8g",
        PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell",
    )
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env, cwd=REPO, capture_output=True, text=True,
            timeout=TIMEOUTS.get((q, label), 1800),
        )
        if proc.returncode != 0:
            print(f"[skew] {q}@{label} DNF (rc={proc.returncode}):\n"
                  f"{proc.stderr[-2000:]}", flush=True)
            return {"leg": label, "query": q, "sec": None,
                    "dnf": f"rc={proc.returncode}"}
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        rec = json.loads(line)
        return {"leg": label, "query": q, "sec": rec["queries"][q],
                "host": rec["host"]}
    except subprocess.TimeoutExpired:
        print(f"[skew] {q}@{label} DNF (timeout)", flush=True)
        return {"leg": label, "query": q, "sec": None, "dnf": "timeout"}


def _load() -> list[dict]:
    if not os.path.exists(OUT):
        return []
    return [json.loads(l) for l in open(OUT)]


def _save(recs: list[dict]) -> None:
    tmp = OUT + ".tmp"
    with open(tmp, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, OUT)


def run_sweep(only: set[str] | None = None) -> None:
    """Run (query, leg) pairs and merge into OUT atomically. Every
    checkpoint write is a superset-preserving merge (ADVICE r8): a
    committed record is only dropped once its replacement EXISTS in this
    run — so a crash mid-sweep (full or ``--only``) never loses a
    committed (query, leg) record that was not yet re-measured."""
    recs = _load()

    def merge(fresh: list[dict]) -> list[dict]:
        replaced = {(r["query"], r["leg"]) for r in fresh}
        return [r for r in recs
                if (r["query"], r["leg"]) not in replaced] + fresh

    fresh: list[dict] = []
    for label, d in LEGS:
        for q in QUERIES:
            if only is not None and q not in only:
                continue
            fresh.append(_run_one(q, label, d))
            _save(merge(fresh))  # checkpoint after every leg
    _save(merge(fresh))


def table() -> None:
    recs = _load()
    t: dict[str, dict[str, float]] = {}
    for r in recs:
        t.setdefault(r["query"], {})[r["leg"]] = r["sec"]
    print("| query | uniform s | zipf s | ratio |")
    print("|---|---|---|---|")
    worst = 0.0
    for q in QUERIES:
        u = t.get(q, {}).get("uniform")
        z = t.get(q, {}).get("zipf")
        u_s = f"{u:.2f}" if u is not None else "DNF"
        z_s = f"{z:.2f}" if z is not None else "DNF"
        if u and z:
            ratio_s = f"{z / u:.2f}x"
            worst = max(worst, z / u)
        else:
            ratio_s = "—"
        print(f"| `{q}` | {u_s} | {z_s} | {ratio_s} |")
    print(f"\nworst completed ratio: {worst:.2f}x")


if __name__ == "__main__":
    if "--table" in sys.argv:
        table()
    else:
        only = None
        if "--only" in sys.argv:
            only = set(
                sys.argv[sys.argv.index("--only") + 1].split(","))
        run_sweep(only)
        table()
