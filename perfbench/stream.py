"""Stream workload ``stream_audit``: the reference's file-monitor dataflow.

``readStream.text`` over a spool directory feeds
``functions.parse.parse_audit_trail`` and then two queries on the default
trigger, each writing through ``foreachBatch`` (the sink), with their
checkpoints on local disk:

- ``window``: ``examples.windowing.sliding_counts`` (JVM window state);
  each result carries ``max_ts_ms``.
- ``alert``: ``examples.stateful.delete_alerts`` (``interval_alerts`` on
  the Python ``applyInPandasWithState`` path); each result carries
  ``ts_ms``.

Phase 1 (drain): after a small warm-up drain, each query drains the same
pre-written backlog alone, ``MAX_FILES_PER_TRIGGER`` files per batch.
Phase 2 (open loop): both queries run together while ``gen.py``, a
separate process, writes ``RATE`` rows/s on a wall-clock schedule.

Results are checked against a recomputation over the spool files: the
last emitted version of each window equals the batch count, and the
alerts equal the batch interval-alert result.
"""

from __future__ import annotations

import csv
import json
import statistics
import subprocess
import sys
import threading
import time
import traceback
from datetime import datetime
from pathlib import Path

from .common import (BENCH, Outcome, cpu_ticks, geomean, hd_median, log,
                     steal_share, tail, unstolen)
from .gen import AuditSource, write_backlog

WINDOW_MS, SLIDE_MS, ALERT_GAP_MS = 10_000, 5_000, 10_000
# At 2000 rows/s the alert query's backlog grew through one open-loop
# phase in three (p50 4.8 s): too close to its capacity with both queries
# sharing 4 cores. 1000 rows/s keeps the phase bound by per-batch cost.
RATE = 1000.0                 # offered rows/s in the open loop
TICK_S = 0.1                  # one generator file per tick
BACKLOG_FILES, BACKLOG_ROWS = 8, 4000
WARMUP_FILES = 2
MAX_FILES_PER_TRIGGER = 2
LATE_TOLERANCE_MS = 250.0     # generator lateness that voids the phase
QUERIES = ("window", "alert")
TS_COL = {"window": "max_ts_ms", "alert": "ts_ms"}


class Sink:
    """foreachBatch sink: keeps every emitted row with its batch id, and
    each row's latency with the wall-clock time its batch was in hand (the
    commit time)."""

    def __init__(self, ts_col: str):
        self.ts_col = ts_col
        self.rows: list[tuple[int, dict]] = []
        self.latency_ms: list[float] = []
        self.commit_s: list[float] = []
        self._lock = threading.Lock()

    def __call__(self, batch_df, batch_id: int) -> None:
        rows = [r.asDict() for r in batch_df.collect()]
        now = time.time()
        with self._lock:
            for r in rows:
                self.rows.append((batch_id, r))
                self.latency_ms.append(now * 1000.0 - r[self.ts_col])
                self.commit_s.append(now)


def build(spark, spool: Path, max_files: int | None):
    from apache_flink_datastream_api_spark.examples.stateful import delete_alerts
    from apache_flink_datastream_api_spark.examples.windowing import sliding_counts
    from apache_flink_datastream_api_spark.functions.parse import parse_audit_trail

    reader = spark.readStream
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    parsed = parse_audit_trail(reader.text(str(spool)))
    return {"window": sliding_counts(parsed), "alert": delete_alerts(parsed)}


# --- reference results ------------------------------------------------------------

def read_events(spool: Path) -> list[tuple[int, str, str, int]]:
    """(id, user, operation, timestamp_ms) of every record in the spool."""
    out = []
    for p in sorted(spool.glob("*.csv")):
        with open(p, newline="") as f:
            for row in csv.reader(f):
                if row:
                    out.append((int(row[0]), row[1], row[3], int(row[4])))
    return out


def expected_windows(events) -> dict[int, tuple[int, int, int]]:
    """window start -> (count, min ts, max ts) for 10 s windows sliding by 5 s."""
    out: dict[int, list[int]] = {}
    for _, _, _, ts in events:
        last = ts - ts % SLIDE_MS
        for start in range(last, ts - WINDOW_MS, -SLIDE_MS):
            w = out.setdefault(start, [0, ts, ts])
            w[0] += 1
            w[1] = min(w[1], ts)
            w[2] = max(w[2], ts)
    return {k: tuple(v) for k, v in out.items()}


def expected_alerts(events) -> list[tuple[str, int, int]]:
    """(user, ts, diff) for consecutive Deletes of a user < 10 s apart, in
    (timestamp, id) order per user."""
    by_user: dict[str, list[tuple[int, int]]] = {}
    for eid, user, op, ts in events:
        if op == "Delete":
            by_user.setdefault(user, []).append((ts, eid))
    out = []
    for user, evs in by_user.items():
        evs.sort()
        for (a, _), (b, _) in zip(evs, evs[1:]):
            if b - a < ALERT_GAP_MS:
                out.append((user, b, b - a))
    return sorted(out)


def window_mismatch(sink: Sink, events) -> str | None:
    last: dict[int, tuple[int, int, int]] = {}
    for _, r in sorted(sink.rows, key=lambda x: x[0]):
        last[r["window_start_ms"]] = (r["cnt"], r["min_ts_ms"], r["max_ts_ms"])
    want = expected_windows(events)
    if last != want:
        bad = sorted(k for k in set(last) | set(want) if last.get(k) != want.get(k))
        k = bad[0]
        return f"{len(bad)} windows differ, e.g. {k}: {last.get(k)} != {want.get(k)}"
    return None


def alert_mismatch(sink: Sink, events) -> str | None:
    got = sorted((r["user_key"], r["ts_ms"], r["diff_ms"]) for _, r in sink.rows)
    want = expected_alerts(events)
    if got != want:
        return f"{len(got)} alerts != {len(want)} expected"
    return None


MISMATCH = {"window": window_mismatch, "alert": alert_mismatch}


# --- progress -----------------------------------------------------------------------

def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def mean_of(progress, key) -> float:
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return statistics.fmean(vals) if vals else 0.0


def state_of(progress, key, agg=max) -> float:
    vals = [so.get(key, 0) for p in progress for so in p.get("stateOperators", [])]
    return float(agg(vals)) if vals else 0.0


def backlog_series(progress, gen_log, rows_per_file) -> list[tuple[float, int]]:
    """(trigger start, files written but not yet taken) per batch."""
    written = sorted(e["written"] for e in gen_log)
    out, consumed = [], 0
    for p in progress:
        t = _ts(p["timestamp"])
        out.append((t, sum(1 for w in written if w <= t) - consumed))
        consumed += p["numInputRows"] // rows_per_file
    return out


# --- the workload ---------------------------------------------------------------------

class StreamRun:
    def __init__(self, engine, tracer, sampler, seed: int, seconds: int):
        self.engine, self.tracer, self.sampler = engine, tracer, sampler
        self.seed, self.seconds = seed, seconds
        self.dir = engine.scratch / "stream"
        self.attempted = self.failed = 0
        self.construct_s = self.action_s = self.plan_s = 0.0
        self.starts = 0
        self.groups = {"construct": [], "action": [], "stream": []}
        self.layer: dict[str, float] = {}

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAIL {what}: {why}", file=sys.stderr)

    def _dir(self, name: str) -> Path:
        d = self.dir / name
        d.mkdir(parents=True, exist_ok=True)
        return d

    def _start(self, name: str, spool: Path, max_files: int | None,
               ckpt: str, sink: Sink):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("build", query=name) as s1:
            df = build(self.engine.spark, spool, max_files)[name]
        t1 = time.perf_counter()
        with tr.span("writeStream.start", query=name) as s2:
            q = (df.writeStream.outputMode("update").queryName(f"{name}_{ckpt}")
                 .option("checkpointLocation", str(self._dir("ckpt") / ckpt))
                 .foreachBatch(sink).start())
        t2 = time.perf_counter()
        self.starts += 1
        self.construct_s += t1 - t0
        self.action_s += t2 - t1
        if tr.enabled:
            self.groups["construct"].append(s1.id)
            self.groups["action"].append(s2.id)
            self.groups["stream"].append(str(q.runId))
            s2.attrs["run_id"] = str(q.runId)
        return q, s2

    def _finish(self, q, span) -> list[dict]:
        progress = progress_of(q)
        q.stop()
        # A streaming plan is planned per batch; its planning time is the
        # progress event's queryPlanning duration.
        self.plan_s += sum(p["durationMs"].get("queryPlanning", 0) for p in progress) / 1e3
        for p in progress:
            start = _ts(p["timestamp"])
            self.tracer.add("progress", start,
                            start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                            span, batch=p["batchId"], rows=p["numInputRows"])
        return progress

    def drain(self, name: str, spool: Path, tag: str) -> tuple[float, Sink, list]:
        """Drain the backlog; the rate is rows over the trigger time of the
        batches with input, each as on an idle host (``common.unstolen``,
        by the steal share over the batch), so the query's own start-up is
        not in it."""
        sink = Sink(TS_COL[name])
        q, span = self._start(name, spool, MAX_FILES_PER_TRIGGER, tag, sink)
        q.processAllAvailable()
        progress = self._finish(q, span)
        batches = [(p["numInputRows"], p["durationMs"]["triggerExecution"] / 1e3,
                    _ts(p["timestamp"])) for p in progress if p["numInputRows"]]
        shares = [self.sampler.steal_between(t, t + d) for _, d, t in batches]
        log(f"{name} drain batches (rows, s, stolen): "
            f"{[(r, round(d, 2), round(v, 3)) for (r, d, _), v in zip(batches, shares)]}")
        busy = sum(unstolen(d, v) for (_, d, _), v in zip(batches, shares))
        return sum(r for r, _, _ in batches) / busy, sink, progress

    def run(self) -> Outcome:
        source = AuditSource(self.seed)
        stage = self._dir("stage")
        now_ms = int(time.time() * 1000)
        warm, backlog = self._dir("warmup"), self._dir("backlog")
        write_backlog(warm, stage, source, WARMUP_FILES, BACKLOG_ROWS, RATE,
                      now_ms - 60_000)
        write_backlog(backlog, stage, source, BACKLOG_FILES, BACKLOG_ROWS, RATE,
                      now_ms)
        # Warm-up: both queries drain a small backlog together.
        t0 = time.perf_counter()
        warming = [self._start(n, warm, MAX_FILES_PER_TRIGGER, f"warm_{n}",
                               Sink(TS_COL[n])) for n in QUERIES]
        for q, span in warming:
            q.processAllAvailable()
            self._finish(q, span)
        self.engine.warmed(t0)
        ticks = cpu_ticks()

        drain_rate, drain_progress = {}, {}
        events = read_events(backlog)
        for name in QUERIES:
            self.attempted += 1
            try:
                rate, sink, progress = self.drain(name, backlog, f"drain_{name}")
            except Exception:
                self.fail(f"{name} drain", traceback.format_exc(limit=3))
                continue
            drain_rate[name] = rate
            drain_progress[name] = progress
            why = MISMATCH[name](sink, events)
            if why:
                self.fail(f"{name} drain", why)

        try:
            latency, idle_latency, open_progress = self.open_loop(source.next_id)
        except Exception:
            self.attempted += 1
            self.fail("open loop", traceback.format_exc(limit=3))
            latency, idle_latency, open_progress = {}, {}, {}
        self.layer["host.steal_share"] = steal_share(ticks, cpu_ticks())
        return self.metrics(drain_rate, drain_progress, latency, idle_latency,
                            open_progress)

    def open_loop(self, first_id: int):
        live, stage = self._dir("live"), self._dir("stage")
        sinks = {n: Sink(TS_COL[n]) for n in QUERIES}
        started = {}
        for name in QUERIES:
            started[name] = self._start(name, live, None, f"open_{name}", sinks[name])
        log_path = self.dir / "gen.json"
        cmd = [sys.executable, str(BENCH / "gen.py"), "--out", str(live),
               "--stage", str(stage), "--seed", str(self.seed + 1),
               "--rate", str(RATE), "--tick-ms", str(TICK_S * 1000),
               "--seconds", str(self.seconds), "--first-id", str(first_id),
               "--log", str(log_path)]
        gen = subprocess.Popen(cmd)
        self.sampler.exclude.add(gen.pid)
        try:
            gen.wait(timeout=self.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        gen_log = json.loads(log_path.read_text())
        progress = {}
        for name, (q, span) in started.items():
            q.processAllAvailable()
            progress[name] = self._finish(q, span)

        events = read_events(live)
        for name in QUERIES:
            self.attempted += 1
            why = MISMATCH[name](sinks[name], events)
            if why:
                self.fail(f"{name} open loop", why)
        self.attempted += 1
        why = self.validity(progress, gen_log)
        if why:
            self.fail("open loop validity", why)
        return ({n: sinks[n].latency_ms for n in QUERIES},
                self.idle_latency(sinks), progress)

    def idle_latency(self, sinks) -> dict[str, list[float]]:
        """Each query's open-loop latencies as on an idle host
        (``common.unstolen``, by the steal share over each result's own
        interval, from its newest event's creation to its commit)."""
        return {n: [unstolen(ms, self.sampler.steal_between(c - ms / 1e3, c))
                    for ms, c in zip(sinks[n].latency_ms, sinks[n].commit_s)]
                for n in QUERIES}

    def validity(self, progress, gen_log) -> str | None:
        """The open-loop phase counts only if the generator kept to its
        schedule and the backlog did not grow through the phase."""
        late = max(e["written"] - e["due"] for e in gen_log) * 1000.0
        self.layer["gen.late_ms_max"] = late
        rows = gen_log[0]["rows"]
        peak, why = 0, None
        for name, prog in progress.items():
            series = [b for t, b in backlog_series(prog, gen_log, rows)
                      if t <= gen_log[-1]["written"]]
            if series:
                peak = max(peak, max(series))
            half = len(series) // 2
            if half >= 2:
                growth = statistics.fmean(series[half:]) - statistics.fmean(series[:half])
                if growth > 1.0 / TICK_S:
                    why = f"{name} backlog grew by {growth:.1f} files"
        self.layer["source.backlog_files_peak"] = peak
        if late > LATE_TOLERANCE_MS:
            return f"generator ran {late:.0f} ms late"
        return why

    def metrics(self, drain_rate, drain_progress, latency, idle_latency,
                open_progress) -> Outcome:
        lay = self.layer
        for name in QUERIES:
            lat = latency.get(name) or [0.0]
            level, tail_v = tail(lat)
            op, dp = open_progress.get(name, []), drain_progress.get(name, [])
            pre = f"stream.{name}."
            lay.update({
                pre + "batches": float(len(op) + len(dp)),
                pre + "drain_rows_per_s": drain_rate.get(name, 0.0),
                pre + "latency_p50_ms": hd_median(idle_latency.get(name) or [0.0]),
                pre + "latency_tail_ms": tail_v,
                pre + "latency_tail_level": level,
                pre + "latency_samples": float(len(lat)),
                pre + "latestOffset_ms": mean_of(op, "latestOffset"),
                pre + "queryPlanning_ms": mean_of(op, "queryPlanning"),
                pre + "walCommit_ms": mean_of(op, "walCommit"),
                pre + "commitOffsets_ms": mean_of(op, "commitOffsets"),
                pre + "addBatch_ms": mean_of(dp, "addBatch"),
            })
            spre = f"state.{name}."
            every = op + dp
            lay.update({
                spre + "commit_ms": state_of(op, "commitTimeMs", statistics.fmean),
                spre + "updates_ms": state_of(dp, "allUpdatesTimeMs", statistics.fmean),
                spre + "removals_ms": state_of(dp, "allRemovalsTimeMs", statistics.fmean),
                spre + "rows_peak": state_of(every, "numRowsTotal"),
                spre + "bytes_peak": state_of(every, "memoryUsedBytes"),
                spre + "rows_dropped_late": state_of(every, "numRowsDroppedByWatermark", sum),
            })
        p50 = [lay[f"stream.{n}.latency_p50_ms"] for n in QUERIES]
        rates = [lay[f"stream.{n}.drain_rows_per_s"] for n in QUERIES]
        log(f"latency p50 ms {dict(zip(QUERIES, p50))}, "
            f"drain rows/s {dict(zip(QUERIES, rates))}")
        total = self.construct_s + self.action_s
        lay.update({"query.calls": float(self.starts),
                    "query.construct_s": self.construct_s,
                    "query.action_s": self.action_s, "query.plan_s": self.plan_s,
                    "query.construct_share": self.construct_s / total})
        return Outcome(
            self.attempted, self.failed,
            geomean(p50) if all(v > 0 for v in p50) else 0.0,
            geomean(rates) if all(rates) else 0.0,
            [v for n in QUERIES for v in latency.get(n, [])] or [0.0],
            lay, self.groups)
