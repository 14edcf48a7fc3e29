"""Streaming sinks + run helpers (SURVEY.md §2.9 K1-K4, §2.10 E4).

Semantics notes vs the reference:
- K1 file sink: Spark's file sink is exactly-once via the checkpoint +
  _spark_metadata commit log (stronger than Flink's row-format
  StreamingFileSink default).
- K2 Kafka sink: Spark is at-least-once (no 2PC producer like Flink's
  ``Semantic.EXACTLY_ONCE``); end-to-end exactly-once needs an idempotent
  or transactional downstream — documented gap, not hidden.
- ``run_available_now`` is the bounded-replay harness: process everything
  available, then stop — the batch-equivalence bridge used by tests and
  the oracle-checked streaming queries. Every bounded drain starts
  through ``start_stream``, which fixes its state partitions; the
  long-running sinks here keep the session's value (deployment sizing).
"""

from __future__ import annotations

import os
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def to_console(df: DataFrame, mode: str = "append"):
    """K3: print() equivalent."""
    return df.writeStream.outputMode(mode).format("console").start()


def to_csv_files(
    df: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "append",
    available_now: bool = False,
):
    """K1: row-format file sink with checkpointed exactly-once commit."""
    writer = (
        df.writeStream.outputMode(mode)
        .format("csv")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def to_kafka(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint: str,
    available_now: bool = False,
):
    """K2: Kafka sink (at-least-once; see module docstring).

    ``available_now=True`` runs a bounded drain of everything currently
    available and terminates — the replay/backfill mode; the default is
    the continuous processing-time trigger."""
    writer = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ephemeral_checkpoint() -> str:
    """RAM-backed checkpoint dir for BOUNDED replays: the state store +
    commit log of an availableNow run is scratch space that dies with
    the result, so tmpfs (when present) removes disk fsyncs from every
    micro-batch's state commit. Durable production queries pass their
    own real checkpointLocation instead — never this."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="ckpt_", dir=base)


def _record_state_metrics(q) -> None:
    """When SPARK_GRAFT_STATE_METRICS_FILE is set, append one JSONL record
    summarizing the drained query's state-store footprint across its
    micro-batches (per state operator: peak numRowsTotal/memoryUsedBytes,
    total rows removed, batch count). This is how SCALING.md's streaming
    state-growth table is measured — watermark-bounded operators must
    hold PEAK state ∝ watermark window, not corpus size. No-op (and
    fail-soft) outside that measurement harness."""
    path = os.environ.get("SPARK_GRAFT_STATE_METRICS_FILE")
    if not path:
        return
    try:
        import json

        ops: dict[str, dict] = {}
        progress = q.recentProgress or []
        for p in progress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            for i, so in enumerate(d.get("stateOperators", [])):
                key = f"{i}:{so.get('operatorName', 'state')}"
                cur = ops.setdefault(key, {
                    "operator": so.get("operatorName", "state"),
                    "peak_rows": 0, "peak_bytes": 0,
                    "rows_removed": 0, "rows_dropped_late": 0,
                })
                cur["peak_rows"] = max(cur["peak_rows"], so.get("numRowsTotal", 0))
                cur["peak_bytes"] = max(
                    cur["peak_bytes"], so.get("memoryUsedBytes", 0))
                cur["rows_removed"] += so.get("numRowsRemoved", 0)
                cur["rows_dropped_late"] += so.get(
                    "numRowsDroppedByWatermark", 0)
        rec = {
            "label": os.environ.get("SPARK_GRAFT_STATE_METRICS_LABEL", ""),
            "n_batches": len(progress),
            "rows_in": sum(
                (json.loads(p.json) if hasattr(p, "json") else p)
                .get("numInputRows", 0) for p in progress),
            # per-trigger emitted rows: append-mode queries must hold this
            # ∝ sessions CLOSED that trigger, while complete mode rewrites
            # the cumulative table every trigger (the contrast SCALING.md's
            # output-growth row pins).
            "sink_rows_per_batch": [
                ((json.loads(p.json) if hasattr(p, "json") else p)
                 .get("sink", {}) or {}).get("numOutputRows", -1)
                for p in progress
            ],
            "operators": list(ops.values()),
        }
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")
    except Exception:
        pass


_START_LOCK = threading.Lock()


def start_stream(
    writer: DataStreamWriter, spark: SparkSession, cap: int = 8
) -> StreamingQuery:
    """Start a bounded drain with its state partitions fixed at start.

    State stores are partitioned by ``spark.sql.shuffle.partitions`` when
    the query starts (recorded in its offset log; AQE never coalesces
    them), and every micro-batch pays a store open/commit per store per
    partition, so demo-scale state wants fewer partitions than batch
    work. The count is ``SPARK_GRAFT_STREAM_PARTITIONS`` when set (the
    deployment's choice, e.g. the executor-core count for TBs of state),
    else ``min(session value, cap)``. Caps, measured at sf0.1:

    - 8 (default), single store: at 10k keys 8 beat 32 by ~2.5x; the x4
      family is faster at 8 than at 4.
    - 4, multi-store chains (j2, w6, j3_threeway) and x8_neardup, whose
      floor is store commits plus a map-side fold that follows the
      source split (alternating A/B, 4 vs 8: j3_threeway 4.8->4.0 s,
      w6 1.8->1.5 s, x8_neardup 3.1->2.7 s); the generator drains
      (~2.4 s at 4 vs 5+ s of store bookkeeping at 32).
    - 2, the five-store j3_first_touch: 4 halved it vs 8 (5.2 vs
      10.4 s), 2 cut a further 8-14% (5/5 alternating isolated pairs).

    The value is set only around ``writer.start()``: the query clones
    the session there (``StreamExecution``) and keeps ``n`` for life,
    while the session is restored before this returns. The lock
    serialises concurrent starts."""
    key = "spark.sql.shuffle.partitions"
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    with _START_LOCK:
        prev = spark.conf.get(key)
        n = int(env) if env else min(int(prev), cap)
        spark.conf.set(key, str(n))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, prev)


def take_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """Materialize a stopped memory sink's table and drop it from the
    catalog. Without this, every bounded replay leaks its full result set
    into the session catalog for the session's lifetime — in a long
    session (bench: hundreds of streaming runs) the accumulated tables
    GC-pressure the JVM until streaming runs take 5-10x longer.
    localCheckpoint blocks are freed by the ContextCleaner once the
    returned DataFrame is unreferenced."""
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def run_available_now(
    df: DataFrame,
    spark: SparkSession,
    mode: str = "update",
    timeout_s: int = 300,
    cap: int = 8,
) -> DataFrame:
    """Run a streaming DataFrame to completion on available data and return
    the collected result as a batch DataFrame (memory sink). ``cap``
    bounds the state partitions (see :func:`start_stream`)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = start_stream(
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _ephemeral_checkpoint())
        .trigger(availableNow=True),
        spark, cap)
    q.awaitTermination(timeout_s)
    _record_state_metrics(q)
    return take_memory_sink(spark, name)
