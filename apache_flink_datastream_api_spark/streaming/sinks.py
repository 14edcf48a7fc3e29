"""Streaming sinks + run helpers (SURVEY.md §2.9 K1-K4, §2.10 E4).

Semantics notes vs the reference:
- K1 file sink: Spark's file sink is exactly-once via the checkpoint +
  _spark_metadata commit log (stronger than Flink's row-format
  StreamingFileSink default).
- K2 Kafka sink: Spark is at-least-once (no 2PC producer like Flink's
  ``Semantic.EXACTLY_ONCE``); end-to-end exactly-once needs an idempotent
  or transactional downstream — documented gap, not hidden.
- ``drain`` is the one bounded-replay harness (SURVEY.md §5 strategy 2):
  it starts a query on a scratch checkpoint with its state partitions
  fixed, waits until all available input is committed, stops the query
  and deletes the checkpoint, on every exit path. The reference's
  programs run forever on durable state; a replay that ends when its
  function returns takes its checkpoint with it. ``drain_to_memory``
  is ``drain`` into a memory sink whose view it drops on every exit
  path, and ``run_available_now`` its result alone — the
  batch-equivalence bridge used by tests and the oracle-checked
  streaming queries. The long-running sinks here take the caller's
  durable checkpoint and keep the session's partition count
  (deployment sizing).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from contextlib import contextmanager
from typing import Iterator

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


# Where bounded drains keep their scratch checkpoints: tmpfs when present,
# so no micro-batch's state commit waits on a disk.
SCRATCH_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None

_START_LOCK = threading.Lock()


@contextmanager
def drain(
    writer: DataStreamWriter,
    spark: SparkSession,
    cap: int = 8,
    available_now: bool = True,
) -> Iterator[tuple[StreamingQuery, str]]:
    """Run ``writer``'s query as a bounded drain: start it on a scratch
    checkpoint, wait until all available input is committed, stop it, and
    yield the stopped query and its checkpoint. The checkpoint is deleted
    when the ``with`` block exits, however it exits; a result that reads
    the checkpoint must be materialised inside the block.

    ``available_now=False`` runs a ``"0 seconds"`` processing-time trigger
    instead of availableNow: the Python data source's availableNow end
    offset is computed once, which collapses a capped generator into one
    batch. Either way ``processAllAvailable()`` returns only at a trigger
    with nothing left to run (after availableNow's final no-data batch)
    or once the query has terminated, and re-raises the query's error.

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
    while the session gets its value back as soon as ``start()``
    returns. The lock serialises concurrent starts."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=SCRATCH_BASE)
    try:
        writer = writer.option("checkpointLocation", ckpt)
        writer = (writer.trigger(availableNow=True) if available_now
                  else writer.trigger(processingTime="0 seconds"))
        key = "spark.sql.shuffle.partitions"
        env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
        with _START_LOCK:
            prev = spark.conf.get(key)
            n = int(env) if env else min(int(prev), cap)
            spark.conf.set(key, str(n))
            try:
                q = writer.start()
            finally:
                spark.conf.set(key, prev)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        yield q, ckpt
    finally:
        shutil.rmtree(ckpt)


def drain_to_memory(
    df: DataFrame,
    spark: SparkSession,
    mode: str = "update",
    cap: int = 8,
    available_now: bool = True,
) -> tuple[DataFrame, StreamingQuery]:
    """:func:`drain` ``df`` into a memory sink and return the sink's rows
    as a batch DataFrame, with the stopped query. Spark registers the
    sink's temp view when the query starts; it is dropped on every exit
    path. Without that, every bounded replay (and every failed one) leaks
    its full result set into the session catalog for the session's
    lifetime — in a long session (bench: hundreds of streaming runs) the
    accumulated tables GC-pressure the JVM until streaming runs take
    5-10x longer. The rows are materialised with localCheckpoint, whose
    blocks the ContextCleaner frees once the returned DataFrame is
    unreferenced."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.outputMode(mode).format("memory").queryName(name)
    try:
        with drain(writer, spark, cap, available_now) as (q, _):
            return spark.table(name).localCheckpoint(eager=True), q
    finally:
        spark.catalog.dropTempView(name)


def run_available_now(
    df: DataFrame,
    spark: SparkSession,
    mode: str = "update",
    cap: int = 8,
) -> DataFrame:
    """Drain a streaming DataFrame over all available data into a memory
    sink and return the result as a batch DataFrame. ``cap`` bounds the
    state partitions (see :func:`drain`)."""
    return drain_to_memory(df, spark, mode, cap)[0]
