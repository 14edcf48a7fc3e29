"""Measure streaming state-store footprint per scale leg (VERDICT r5 #4).

The sf0.1x/sf0.3/sf1 sweep measures wall-clock and exchanges; this
measures what the stateful queries HOLD: per state operator, the peak
``numRowsTotal`` / ``memoryUsedBytes`` across the replay's micro-batches
(captured by a ``StreamingQueryListener``, see :func:`recording`), plus
rows evicted and rows dropped late. The invariant under test is the
j2 OOM fix turned into a number: watermark-bounded operators hold state
proportional to the watermark window (for raw-row buffers: window-span
DENSITY — a fixed fraction of the corpus set by watermark/calendar-range,
never the whole corpus; for windowed aggregates: the constant count of
open windows), and evict between micro-batches.

Orchestrator (writes scaling_runs/state_metrics.jsonl, one line per
query x leg, each query in its OWN JVM like the timing legs):

    python scripts/state_metrics.py

Runner (one query, one leg — used by the orchestrator):

    python scripts/state_metrics.py --run <query> <sf_dir> <out.jsonl> <label>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "w3_sliding_stream",
    "w6_chained_windows_stream",
    "j2_join_then_window_stream",
    "j3_threeway_stream_join",
    "x4_debounce_stream",
    "x8_neardup_stream",
    # round 7: the append+watermark production twins — the row of interest
    # is sink_rows_per_batch (emitted ∝ sessions closed per trigger) next
    # to state eviction, vs complete mode's cumulative rewrite.
    "w4_session_append_stream",
    "x4_debounce_append_stream",
]

LEGS = [  # (label, dir, driver heap) — mirrors the timing legs
    ("0.1x", "testdata_scaled/sf0.1x", "8g"),
    ("0.3", "testdata_scaled/sf0.3", "8g"),
    ("1", "testdata_scaled/sf1", "16g"),
]

OUT = "scaling_runs/state_metrics.jsonl"

# Bound on the wait for a stopped query's termination event, which the
# listener bus delivers asynchronously (about 0.2 s after the stop).
TERMINATION_WAIT_S = 120


def summarize(label: str, progress: list[dict]) -> dict:
    """One record of a query run from its per-trigger progress: per state
    operator, peak numRowsTotal/memoryUsedBytes and total rows removed
    and dropped late; plus batch count, input rows and emitted rows per
    trigger."""
    ops: dict[str, dict] = {}
    for p in progress:
        for i, so in enumerate(p.get("stateOperators", [])):
            name = so.get("operatorName", "state")
            cur = ops.setdefault(f"{i}:{name}", {
                "operator": name, "peak_rows": 0, "peak_bytes": 0,
                "rows_removed": 0, "rows_dropped_late": 0,
            })
            cur["peak_rows"] = max(cur["peak_rows"], so.get("numRowsTotal", 0))
            cur["peak_bytes"] = max(cur["peak_bytes"], so.get("memoryUsedBytes", 0))
            cur["rows_removed"] += so.get("numRowsRemoved", 0)
            cur["rows_dropped_late"] += so.get("numRowsDroppedByWatermark", 0)
    return {
        "label": label,
        "n_batches": len(progress),
        "rows_in": sum(p.get("numInputRows", 0) for p in progress),
        # per-trigger emitted rows: append-mode queries must hold this
        # ∝ sessions CLOSED that trigger, while complete mode rewrites
        # the cumulative table every trigger (the contrast SCALING.md's
        # output-growth row pins).
        "sink_rows_per_batch": [
            (p.get("sink") or {}).get("numOutputRows", -1) for p in progress
        ],
        "operators": list(ops.values()),
    }


class StateMetricsListener(StreamingQueryListener):
    """Appends one :func:`summarize` record per streaming query run to the
    JSONL file ``out``, when the run's termination event arrives. Events
    reach the listener asynchronously, after the query has returned; the
    start event alone is delivered while ``start()`` runs, so every
    started run is known by the time :meth:`wait` is called."""

    def __init__(self, out: str, label: str) -> None:
        self.out, self.label = out, label
        self._runs: dict[str, list[dict]] = {}
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._runs.setdefault(str(event.runId), [])

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cond:
            self._runs.setdefault(p["runId"], []).append(p)

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            rec = summarize(self.label, self._runs.pop(str(event.runId), []))
            with open(self.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            self._cond.notify_all()

    def wait(self) -> None:
        """Block until every started run's record is written."""
        with self._cond:
            if not self._cond.wait_for(lambda: not self._runs, TERMINATION_WAIT_S):
                raise TimeoutError(
                    f"no termination event for runs {sorted(self._runs)}")


@contextmanager
def recording(spark, out: str, label: str):
    """Record every streaming query run inside the block to ``out`` under
    ``label``; on exit, wait until all their records are written."""
    listener = StateMetricsListener(out, label)
    spark.streams.addListener(listener)
    try:
        yield listener
        listener.wait()
    finally:
        spark.streams.removeListener(listener)


def run_one(query: str, sf_dir: str, out: str, label: str) -> None:
    from apache_flink_datastream_api_spark.registry import all_queries
    from apache_flink_datastream_api_spark.session import get_spark

    spark = get_spark(app_name=f"state_{query}")
    with recording(spark, out, label):
        # force() semantics: the streaming replay happens inside fn; the
        # returned batch frame only needs materializing.
        all_queries()[query].fn(spark, sf_dir).write.mode(
            "overwrite").format("noop").save()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--run":
        run_one(*sys.argv[2:6])
        return
    if os.path.exists(OUT):
        os.remove(OUT)
    for label, d, mem in LEGS:
        for q in QUERIES:
            print(f"[state] {q} @ sf{label}", flush=True)
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", q, d,
                 os.path.abspath(OUT), f"{q}@{label}"],
                env=dict(os.environ, SPARK_DRIVER_MEMORY=mem),
                check=True, timeout=1800,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
    # summarize to stdout
    for line in open(OUT):
        rec = json.loads(line)
        peak = max((o["peak_rows"] for o in rec["operators"]), default=0)
        print(f"{rec['label']}: batches={rec['n_batches']} "
              f"rows_in={rec['rows_in']} peak_rows={peak}")


if __name__ == "__main__":
    main()
