"""Streaming-path correctness queries.

These run the REAL Structured Streaming engine (readStream → transform →
memory sink via Trigger.AvailableNow) and still hash-match a batch DuckDB
oracle: bounded replay makes streaming results deterministic
(SURVEY.md §5 strategy 2).

Emission-granularity note: with a single input file the replay is one
micro-batch, so update-mode emissions equal the final state — which is
what the batch oracle computes. The multi-batch path (file-monitor
round-trip below, plus pytest cases) uses complete-mode aggregation, whose
final table is batching-invariant.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..registry import QuerySpec
from ..sources.tables import (
    load_table, nanos_to_timestamps, read_schema, set_read_conf, table_path,
)
from .sinks import _ephemeral_checkpoint, run_available_now
from .state import interval_alerts, session_durations


def _stream_source_dir(sf_dir: str, table: str) -> str:
    """Expose ``<sf_dir>/<table>.parquet`` to the file-stream source
    through a temp dir of symlinks (the source wants a directory; no
    copy). A multi-file table symlinks each part file individually: the
    file source assigns one input partition per FILE, so multi-file
    ingest keeps map-side work (signature folds, codecs) parallel — a
    single giant file would serialize it regardless of cluster size."""
    # abspath: a relative sf_dir would otherwise create symlinks that
    # resolve relative to the TEMP dir and dangle (file source sees an
    # empty directory and the replay silently yields zero rows).
    src = os.path.abspath(table_path(sf_dir, table))
    stream_dir = tempfile.mkdtemp(prefix=f"{table}_stream_")
    if os.path.isdir(src):
        parts = [p for p in sorted(os.listdir(src)) if p.endswith(".parquet")]
        # Micro-batch ORDER under maxFilesPerTrigger follows the source's
        # MILLISECOND modification times (the source resolves symlinks, so
        # the targets' mtimes are what count). Time-sliced parts replayed
        # out of name order would be silently dropped as late data, so
        # strictly-increasing mtimes in name order are a correctness
        # precondition, not a nicety (ADVICE r5): stamp them when they
        # tie/reorder (our own synthesized dirs are writable), and fail
        # LOUDLY rather than lose rows if the directory is read-only.
        targets = [os.path.join(src, p) for p in parts]
        mtimes_ms = [os.stat(t).st_mtime_ns // 1_000_000 for t in targets]
        if any(b <= a for a, b in zip(mtimes_ms, mtimes_ms[1:])):
            base_ns = max(mtimes_ms) * 1_000_000
            try:
                for i, t in enumerate(targets):
                    ns = base_ns + (i + 1) * 2_000_000  # +2 ms per part
                    os.utime(t, ns=(ns, ns))
            except OSError as ex:
                raise RuntimeError(
                    f"{src}: part-file mtimes tie/reorder at ms resolution "
                    "and the directory is not writable — the streaming "
                    "replay would silently drop out-of-order files as late "
                    "data. Re-stamp strictly increasing mtimes in part-name "
                    "order."
                ) from ex
        for p in parts:
            os.symlink(os.path.join(src, p), os.path.join(stream_dir, p))
    else:
        os.symlink(src, os.path.join(stream_dir, f"{table}.parquet"))
    return stream_dir


def _events_stream(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """``stream_dir``: reuse an existing symlink dir from a prior
    ``_stream_source_dir`` call instead of creating a fresh one. Required
    for checkpoint RESUME — the file source's offset log records absolute
    paths, so a restarted query must read the exact same directory."""
    set_read_conf(spark)
    # Streaming state stores are partitioned by shuffle.partitions at query
    # start and AQE does NOT coalesce them, so every micro-batch pays a
    # state-store open/commit per partition. Size to STATE VOLUME, not
    # cores: at demo scale (10k keys) 8 partitions beat 32 by ~2.5x in
    # wall clock; on a cluster carrying TBs of state, set
    # SPARK_GRAFT_STREAM_PARTITIONS to the total executor-core count.
    target = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > target:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    # Streaming file sources require an explicit schema: the same declared
    # one the batch path reads with, checked against the footer.
    schema, nanos = read_schema(sf_dir, "events")
    # One file per micro-batch: a multi-file (time-sliced) events table
    # then replays as successive batches whose watermark advances file
    # by file, so join/window/dedup state is EVICTED between batches
    # instead of buffering the entire table in one availableNow batch —
    # the watermark-bounded-state contract executed, not just claimed.
    # (At the driver scales events is a single file: one batch, exactly
    # the behavior every oracle was validated against.)
    if stream_dir is None:
        stream_dir = _stream_source_dir(sf_dir, "events")
    max_files = os.environ.get("SPARK_GRAFT_STREAM_MAX_FILES", "1")
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .format("parquet")
        .load(stream_dir)
    )
    return nanos_to_timestamps(raw, nanos)


@contextmanager
def _chain_partitions(spark: SparkSession, default: str = "4"):
    """Size state partitions to a MULTI-STORE operator chain for the
    duration of a bounded drain (the r8 j3_first_touch finding, applied
    r9 to every 2+-store chain): each micro-batch pays a state-store
    open/commit per store per shuffle partition, so chains multiply the
    per-batch floor and want fewer, larger partitions than the
    single-store default of 8 (measured at sf0.1, alternating A/B:
    j3_threeway 4.8->4.0 s, w6 1.8->1.5 s, x8_neardup 3.1->2.7 s at 4
    vs 8; the single-store x4 family is FASTER at 8 and keeps it; 2 was
    re-measured r10 and wins only for the FIVE-store j3_first_touch).
    SPARK_GRAFT_STREAM_PARTITIONS takes precedence as everywhere;
    the session value is restored so later queries are unaffected.
    SERIAL-ONLY (ADVICE r9): this mutates the session-global
    shuffle.partitions — two streaming drains must not run concurrently
    in one session (the bench and driver sim run queries serially;
    dedup_family_overlap's concurrent jobs are batch-only)."""
    target = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", default)
    prev = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.shuffle.partitions", target)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# --- W2/T2: event-time windowed aggregation through the streaming engine ---

def w2_eventtime_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_millis("w.start").alias("window_start_ms"), "cnt")
    )
    return run_available_now(agg, spark, mode="update")


W2_STREAM_ORACLE = """
SELECT CAST(floor(epoch_ms(ts) / 900000) AS BIGINT) * 900000 AS window_start_ms,
       COUNT(*) AS cnt
FROM events GROUP BY 1
"""


# --- W3 streaming: sliding window through the streaming engine -------------

from ..operators.dataflow import A3_ORACLE  # noqa: E402


def w3_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sliding window
    (``chapter3/WindowingOperations.java:92-94``: 10 s size / 5 s slide)
    on the real streaming engine at the events table's hour scale: each
    row lands in size/slide = 2 window panes, state is one aggregate per
    open pane, watermark-evicted."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.unix_millis("ts")).alias("min_ts_ms"),
            F.max(F.unix_millis("ts")).alias("max_ts_ms"),
        )
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "cnt",
            "min_ts_ms",
            "max_ts_ms",
        )
    )
    return run_available_now(agg, spark, mode="update")


# --- W4 streaming: session windows through the streaming engine ------------

from ..operators.dataflow import W4_ORACLE  # noqa: E402


def w4_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's keyed session window
    (``chapter3/WindowingOperations.java:147-150``) on the REAL streaming
    engine: ``session_window`` merges per-key gap sessions in the state
    store, watermark-evicted. Session aggregation only supports
    append/complete output; complete's final table is batching-invariant
    and equals the batch oracle (append would hold back sessions newer
    than the final watermark)."""
    stream = _events_stream(spark, sf_dir).withColumn(
        "ts2", F.timestamp_millis(F.unix_millis("ts"))
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts2", "6 hours").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "cnt",
        )
    )
    return run_available_now(agg, spark, mode="complete")


# --- X1 streaming: applyInPandasWithState interval alert -------------------

from ..operators.dataflow import ALERT_THRESHOLD_MS, X1_ORACLE  # noqa: E402


def x1_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select("user_id", F.unix_millis("ts").alias("ts_ms"), "event_id")
    )
    alerts = interval_alerts(stream, ALERT_THRESHOLD_MS)
    return run_available_now(alerts, spark, mode="update")


# --- X2 streaming: session durations state machine -------------------------

from ..operators.dataflow import X2_ORACLE  # noqa: E402


def x2_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("action"),
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
    )
    out = session_durations(stream, logout_action="purchase")
    # match the batch-analog column order/name: emitted action column
    return run_available_now(out, spark, mode="update")


# --- J1 idiomatic: watermarked stream-stream interval join -----------------

def j1_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's window join (``chapter3/WindowJoins.java:110-144``)
    in its idiomatic Structured Streaming form: two watermarked streams,
    inner equi-join on the key plus an event-time interval condition
    (SURVEY.md §2.6 J1 option (a); the window-bucket option (b) is the
    batch-checked ``j1_window_join``). State on both sides is bounded by
    the watermark — the 100 TB shape for unbounded joins."""
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        F.col("v_user").alias("user_id"),
        F.unix_millis("v_ts").alias("view_ts_ms"),
        F.unix_millis("p_ts").alias("purchase_ts_ms"),
    )
    return run_available_now(joined, spark, mode="append")


J1_STREAM_ORACLE = """
SELECT v.user_id,
       epoch_ms(v.ts) AS view_ts_ms,
       epoch_ms(p.ts) AS purchase_ts_ms
FROM events v JOIN events p
  ON v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES
"""


# --- J1 outer variant: watermarked LEFT OUTER stream-stream join ------------

def j1_outer_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer watermarked interval join — beyond the reference (J1 is
    inner-only, ``chapter3/WindowJoins.java:110-144``) but the shape every
    funnel analysis needs: views with their purchase inside 10 min, or
    NULL if none. Spark can only emit the null-padded row once the
    watermark passes the view's last possible match time (v_ts + 10 min);
    unmatched views younger than the final watermark are held back, which
    the oracle models explicitly with the same cutoff. State on both sides
    stays watermark-bounded — the 100 TB shape for outer stream joins."""
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        F.unix_millis("v_ts").alias("view_ts_ms"),
        F.unix_millis("p_ts").alias("purchase_ts_ms"),
    )
    return run_available_now(joined, spark, mode="append")


J1_OUTER_STREAM_ORACLE = """
WITH wm AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 1 HOUR AS w
)
SELECT v.user_id, epoch_ms(v.ts) AS view_ts_ms, epoch_ms(p.ts) AS purchase_ts_ms
FROM events v JOIN events p
  ON v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES
UNION ALL
SELECT v.user_id, epoch_ms(v.ts) AS view_ts_ms, NULL AS purchase_ts_ms
FROM events v, wm
WHERE v.event_type = 'view'
  AND NOT EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                    AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES)
  AND v.ts + INTERVAL 10 MINUTES < wm.w
"""


# --- J1 semi variant: watermarked LEFT SEMI stream-stream join --------------

def j1_semi_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi watermarked interval join: each view emits AT MOST ONCE,
    when its first purchase-within-10-minutes arrives — the streaming
    EXISTS. Matched rows emit immediately (no watermark gating — only
    null-padded outer rows wait for eviction), carrying left columns only;
    state on both sides stays watermark-bounded."""
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_semi",
    ).select(
        F.col("v_user").alias("user_id"),
        F.unix_millis("v_ts").alias("view_ts_ms"),
    )
    return run_available_now(joined, spark, mode="append")


J1_SEMI_STREAM_ORACLE = """
SELECT v.user_id, epoch_ms(v.ts) AS view_ts_ms
FROM events v
WHERE v.event_type = 'view'
  AND EXISTS (SELECT 1 FROM events p
              WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES)
"""


# --- J1 full-outer variant --------------------------------------------------

def j1_full_outer_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer watermarked interval join. Emission rules differ per
    side: an unmatched view flushes once the watermark passes its last
    possible match time (v_ts + 10 min — no purchase that late can still
    arrive); an unmatched purchase flushes once the watermark passes p_ts
    itself (the latest view it could match carries ts = p_ts). The oracle
    models both cutoffs against the final watermark
    min(max view ts, max purchase ts) - 1 h."""
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce("v_user", "p_user").alias("user_id"),
        F.unix_millis("v_ts").alias("view_ts_ms"),
        F.unix_millis("p_ts").alias("purchase_ts_ms"),
    )
    return run_available_now(joined, spark, mode="append")


J1_FULL_OUTER_STREAM_ORACLE = """
WITH wm AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 1 HOUR AS w
)
SELECT v.user_id, epoch_ms(v.ts) AS view_ts_ms, epoch_ms(p.ts) AS purchase_ts_ms
FROM events v JOIN events p
  ON v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES
UNION ALL
SELECT v.user_id, epoch_ms(v.ts) AS view_ts_ms, NULL AS purchase_ts_ms
FROM events v, wm
WHERE v.event_type = 'view'
  AND NOT EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                    AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES)
  AND v.ts + INTERVAL 10 MINUTES < wm.w
UNION ALL
SELECT p.user_id, NULL AS view_ts_ms, epoch_ms(p.ts) AS purchase_ts_ms
FROM events p, wm
WHERE p.event_type = 'purchase'
  AND NOT EXISTS (SELECT 1 FROM events v
                  WHERE v.event_type = 'view' AND v.user_id = p.user_id
                    AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES)
  AND p.ts < wm.w
"""


# --- streaming exact dedup --------------------------------------------------

def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a live stream: the input is deliberately doubled
    (union of two readers over the same files) and ``dropDuplicates`` on
    the key collapses it back — state is one entry per distinct key in the
    state store. At 100 TB bound the state with
    ``dropDuplicatesWithinWatermark`` (keys expire after the lateness
    horizon) — same operator, bounded memory."""
    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    deduped = doubled.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return run_available_now(deduped, spark, mode="append")


DEDUP_STREAM_ORACLE = """
SELECT event_id, user_id, event_type FROM events
"""


# --- streaming dedup with BOUNDED state (watermark-expiring keys) -----------

def dedup_within_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: the 100 TB form of streaming
    dedup — per-key state expires once the watermark passes the key's
    event time + delay, so state size is O(keys per lateness horizon), not
    O(all keys ever). The doubled input collapses exactly because every
    duplicate pair lands inside the horizon; duplicates farther apart than
    the delay are out-of-contract (documented Spark semantics)."""
    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(deduped, spark, mode="append")


# --- stream-static broadcast enrichment ------------------------------------

def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich a stream with a static dimension: purchases joined to the
    customer table. The static side is broadcast once per micro-batch —
    no shuffle of the stream, the standard dimension-enrichment shape at
    scale (Flink's equivalent is a broadcast-state join; the reference
    never needs one)."""
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_millis("ts").alias("ts_ms"))
    )
    customers = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey"), "c_name", "c_mktsegment"
        )
    )
    enriched = purchases.join(
        customers, purchases.user_id == customers.c_custkey
    ).select("event_id", "user_id", "ts_ms", "c_name", "c_mktsegment")
    return run_available_now(enriched, spark, mode="append")


ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
"""


# --- T3: late-data capture on a live multi-batch stream --------------------

LATE_LIMIT = 3000
LATE_CHUNKS = 3
LATE_DELAY_MS = 3_600_000  # 1 h allowed lateness


def late_data_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (``chapter4/EventTimeOperations.java:129-130,170-171``): late rows
    are routed to a side output instead of silently dropped. Events are
    deliberately re-chunked by ``event_id % 3`` — each chunk spans the full
    time range, so batches 1-2 carry genuine late arrivals against the
    running watermark (max event time seen in prior batches − delay).
    Output: per micro-batch, how many rows were on time vs captured late —
    deterministic because file order fixes batch order."""
    # harness-side fixture write (3k rows), not the operator data path
    rows = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < LATE_LIMIT)
        .selectExpr("event_id", "user_id", "event_type", "unix_millis(ts) AS ts_ms")
        .collect()
    )
    d = tempfile.mkdtemp(prefix="late_chunks_")
    for i in range(LATE_CHUNKS):
        path = os.path.join(d, f"part-{i:03d}.csv")
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % LATE_CHUNKS == i:
                    f.write(f"{r.event_id},{r.user_id},{r.event_type},{r.ts_ms}\n")
        # FileStreamSource orders by modification time; same-ms writes tie
        # and the tie-break is not deterministic — force a strict order so
        # batch k is always chunk k.
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    from .watermarks import LateDataCapture

    counts: dict[int, list[int]] = {}

    def _on_time(df: DataFrame, batch_id: int) -> None:
        counts.setdefault(batch_id, [0, 0])[0] = df.count()

    def _late(df: DataFrame, batch_id: int) -> None:
        counts.setdefault(batch_id, [0, 0])[1] = df.count()

    cap = LateDataCapture(
        delay_ms=LATE_DELAY_MS, ts_col="event_ts", on_time=_on_time, late=_late
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(d)
        .withColumn("event_ts", F.timestamp_millis("ts_ms"))
    )
    q = (
        stream.writeStream.foreachBatch(cap)
        .option("checkpointLocation", _ephemeral_checkpoint())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(b, c[0], c[1]) for b, c in sorted(counts.items())],
        "batch_id long, n_on_time long, n_late long",
    )


LATE_STREAM_ORACLE = f"""
WITH c AS (
  SELECT event_id % {LATE_CHUNKS} AS b, epoch_ms(ts) AS ms
  FROM events WHERE event_id < {LATE_LIMIT}
), m AS (
  SELECT b, MAX(ms) AS mx FROM c GROUP BY b
), wm AS (
  SELECT b, MAX(mx) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - {LATE_DELAY_MS} AS w
  FROM m
)
SELECT c.b AS batch_id,
       COUNT(*) FILTER (WHERE wm.w IS NULL OR c.ms >= wm.w) AS n_on_time,
       COUNT(*) FILTER (WHERE wm.w IS NOT NULL AND c.ms < wm.w) AS n_late
FROM c JOIN wm ON c.b = wm.b
GROUP BY c.b
"""


# --- X3: event-time timers (Flink onTimer parity) ---------------------------

IDLE_GAP_MS = 6 * 3_600_000


def x3_idle_timeout_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's keyed event-time timer (``onTimer``) pattern — the one
    DataStream state primitive the reference never registers — via
    ``applyInPandasWithState`` + EventTimeTimeout: per-user idle-gap bursts
    close inline when a successor arrives, and by TIMER when the watermark
    passes last_ts + gap. Replayed over 3 time-ordered chunks; verified
    empirically: availableNow runs a final timer-flush batch with the
    global watermark, so emissions = every burst whose gap elapsed before
    end-of-stream — batching-invariant, hence the exact SQL oracle."""
    rows = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < LATE_LIMIT)
        .selectExpr("event_id", "user_id", "unix_millis(ts) AS ts_ms")
        .orderBy("ts_ms", "event_id")
        .collect()
    )
    d = tempfile.mkdtemp(prefix="idle_chunks_")
    n = len(rows)
    for i in range(LATE_CHUNKS):
        path = os.path.join(d, f"part-{i:03d}.csv")
        with open(path, "w") as f:
            for r in rows[i * n // LATE_CHUNKS : (i + 1) * n // LATE_CHUNKS]:
                f.write(f"{r.event_id},{r.user_id},{r.ts_ms}\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # strict batch order

    from .state import idle_alerts

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(d)
        .withColumn("event_ts", F.timestamp_millis("ts_ms"))
        .withWatermark("event_ts", "0 seconds")
    )
    return run_available_now(idle_alerts(stream, IDLE_GAP_MS), spark, mode="update")


X3_IDLE_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id
  FROM events WHERE event_id < {LATE_LIMIT}
), flagged AS (
  SELECT *, CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
                OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) >= {IDLE_GAP_MS}
            THEN 1 ELSE 0 END AS new_s
  FROM e
), sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), sessions AS (
  SELECT user_id, sid, MAX(ms) AS last_ts_ms, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sid
), fin AS (
  SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM sessions
), gm AS (SELECT MAX(ms) AS wm_final FROM e)
SELECT user_id, last_ts_ms, n_events
FROM fin, gm
WHERE sid < max_sid                 -- closed inline by a successor event
   OR wm_final > last_ts_ms + {IDLE_GAP_MS}  -- closed by the event-time timer
"""


# --- S1: file-monitor CSV source round-trip (multi-batch) ------------------

S1_LIMIT = 2000


def s1_file_monitor_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a bounded slice of events as CSV files, stream them back with
    the file-monitor source in several micro-batches (maxFilesPerTrigger=1),
    and aggregate in complete mode — final counts are batching-invariant."""
    src = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < S1_LIMIT)
        .selectExpr("event_id", "user_id", "event_type", "unix_millis(ts) AS ts_ms")
    )
    csv_dir = tempfile.mkdtemp(prefix="s1_csv_")
    src.repartition(3).write.mode("overwrite").csv(csv_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(csv_dir)
    )
    agg = stream.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return run_available_now(agg, spark, mode="complete")


S1_ORACLE = f"""
SELECT user_id, COUNT(*) AS cnt FROM events WHERE event_id < {S1_LIMIT} GROUP BY 1
"""


# --- stream-stream join feeding a windowed aggregation ----------------------

def j2_join_then_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stateful combo: a watermarked interval join whose matches
    feed a windowed aggregation in the SAME query — hourly conversion
    counts, end to end through two state stores. Matches emit immediately;
    the downstream append window finalizes at the joint watermark
    (min over both inputs' max ts, minus the delay) — the oracle applies
    that cutoff."""
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    agg = (
        joined.groupBy(F.window("v_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_conversions"))
        .select(
            F.unix_millis("w.start").alias("window_start_ms"), "n_conversions"
        )
    )
    with _chain_partitions(spark):  # join + window stores
        return run_available_now(agg, spark, mode="append")


J2_JOIN_WINDOW_ORACLE = """
WITH wm AS (
  SELECT least((SELECT max(epoch_ms(ts)) FROM events WHERE event_type='view'),
               (SELECT max(epoch_ms(ts)) FROM events WHERE event_type='purchase'))
         - 3600000 AS w
)
SELECT CAST(floor(epoch_ms(v.ts)/3600000) AS BIGINT)*3600000 AS window_start_ms,
       COUNT(*) AS n_conversions
FROM events v JOIN events p
  ON v.event_type='view' AND p.event_type='purchase' AND p.user_id=v.user_id
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 10 MINUTES, wm
GROUP BY 1, wm.w
HAVING window_start_ms + 3600000 <= wm.w
"""


# --- complete-mode running top-k --------------------------------------------

TOPK_N = 10


def r1_running_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running top-k leaderboard: per-user purchase totals ranked and
    truncated INSIDE the streaming query (sort+limit are only legal in
    complete mode, where each micro-batch re-emits the whole result
    table). Totals accumulate in DECIMAL so the running state is
    partition-order independent; the final table after the last batch is
    batching-invariant and equals the batch answer — the oracle."""
    ev = _events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    ranked = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
            F.count("*").alias("n_purchases"),
        )
        .selectExpr(
            "user_id", "CAST(total_dec AS DOUBLE) AS total", "n_purchases"
        )
        .orderBy(F.desc("total"), F.asc("user_id"))
        .limit(TOPK_N)
    )
    return run_available_now(ranked, spark, mode="complete")


R1_TOPK_ORACLE = f"""
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
       COUNT(*) AS n_purchases
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY total DESC, user_id LIMIT {TOPK_N}
"""


# --- chained stateful aggregations (multi-stateful append pipeline) ---------

CHAIN_DELAY_MS = 30 * 60 * 1000  # 30-minute watermark delay


def w6_chained_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful windowed aggregations chained in ONE streaming query
    (Spark ≥ 3.4 multi-stateful append pipelines): per-type 15-minute
    counts roll up into hourly totals, both through the state store. The
    hierarchical rollup halves state vs aggregating raw events at both
    granularities — the standard streaming-cube shape.

    Emission: append mode finalizes a window once the watermark passes its
    end; with AvailableNow the final no-data batch advances the watermark
    to max(ts) - delay, so exactly the windows with
    end <= max(ts) - delay emit (verified empirically; the oracle applies
    the same cutoff)."""
    stream = _events_stream(spark, sf_dir)
    first = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    second = (
        first.groupBy(F.window("w15", "1 hour").alias("w60"), "event_type")
        .agg(F.sum("cnt").alias("total"))
        .select(
            F.unix_millis("w60.start").alias("window_start_ms"),
            "event_type",
            "total",
        )
    )
    with _chain_partitions(spark):  # two chained window stores
        return run_available_now(second, spark, mode="append")


W6_CHAINED_ORACLE = f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {CHAIN_DELAY_MS} AS cutoff FROM events)
SELECT CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000 AS window_start_ms,
       event_type, COUNT(*) AS total
FROM events, wm
GROUP BY 1, 2, wm.cutoff
HAVING window_start_ms + 3600000 <= wm.cutoff
"""


# --- generator source -> keyed state machine, end to end --------------------

S3_X1_N = 4000
S3_X1_BATCH = 1000
S3_X1_THRESH_MS = 15_000


def s3_stateful_alert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full chapter-5 topology with zero input files:
    synthetic generator (custom Python DataSource, S3) → filter Deletes →
    per-user ValueState interval alert (X1), drained over multiple real
    micro-batches — state must survive batch boundaries for pairs that
    straddle them. Oracle: the LCG stream is regenerated in SQL and the
    alert logic replayed as lag(); the whole streaming pipeline, source
    included, is hash-checked."""
    import tempfile as _tf
    import time as _time
    import uuid as _uuid

    from ..sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("audit_trail_gen")
        .option("numRows", S3_X1_N)
        .option("rowsPerBatch", S3_X1_BATCH)
        .load()
    )
    deletes = stream.where(F.col("operation") == "Delete").selectExpr(
        "user AS gen_user", "ts_ms", "id AS event_id"
    )
    alerts = interval_alerts(
        deletes, S3_X1_THRESH_MS, key_col="gen_user", ts_ms_col="ts_ms"
    )
    name = f"s3x1_{_uuid.uuid4().hex[:12]}"
    q = (
        alerts.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _ephemeral_checkpoint())
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.monotonic() + 180
        while _time.monotonic() < deadline:
            seen = sum(p["numInputRows"] for p in q.recentProgress)
            last = q.lastProgress
            if last is not None and last["numInputRows"] == 0 and seen >= S3_X1_N:
                break
            _time.sleep(0.3)
        else:
            raise TimeoutError("generator alert stream did not drain")
    finally:
        q.stop()
    return spark.table(name)


def _s3_x1_oracle() -> str:
    from ..sources.pydatasource import _gen_cte

    return _gen_cte(S3_X1_N) + f"""
, deletes AS (
  SELECT gen_user, ts_ms FROM r WHERE operation = 'Delete'
), diffs AS (
  SELECT gen_user, ts_ms,
         ts_ms - lag(ts_ms) OVER (PARTITION BY gen_user ORDER BY ts_ms) AS diff_ms
  FROM deletes
)
SELECT gen_user, ts_ms, diff_ms FROM diffs
WHERE diff_ms < {S3_X1_THRESH_MS}
"""


# --- state-store introspection (Spark 4 state data source) ------------------

def statestore_read_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a streaming aggregation's STATE back from its checkpoint via
    the ``statestore`` data source (Spark 4) — the ops/debugging surface
    Flink leaves to the (Java-only) State Processor API. The state of a
    drained count/sum aggregation must equal the batch aggregate, so this
    is oracle-checkable: state correctness, not just query output
    correctness. At scale this reads the HDFS/RocksDB store files
    directly, partition-parallel, without touching a live query."""
    import tempfile as _tf
    import uuid as _uuid

    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
    )
    ckpt = _ephemeral_checkpoint()
    name = f"ss_{_uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("cnt"),
        F.col("value.sum").cast("double").alias("total_value"),
    )


STATESTORE_ORACLE = """
SELECT user_id, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


SPECS = [
    QuerySpec("w2_eventtime_stream", w2_eventtime_stream, W2_STREAM_ORACLE,
              "event-time window agg through the streaming engine", ("streaming",)),
    QuerySpec("w3_sliding_stream", w3_sliding_stream, A3_ORACLE,
              "sliding-window agg through the streaming engine (W3)",
              ("streaming", "window")),
    QuerySpec("w4_session_stream", w4_session_stream, W4_ORACLE,
              "session_window agg through the streaming engine (W4)",
              ("streaming", "window")),
    QuerySpec("x1_stateful_stream", x1_stateful_stream, X1_ORACLE,
              "applyInPandasWithState interval alert (streaming X1)", ("streaming", "stateful")),
    QuerySpec("x2_stateful_stream", x2_stateful_stream, X2_ORACLE,
              "applyInPandasWithState session durations (streaming X2)", ("streaming", "stateful")),
    QuerySpec("s1_file_monitor_roundtrip", s1_file_monitor_roundtrip, S1_ORACLE,
              "file-monitor CSV source, multi-batch replay", ("streaming", "source")),
    QuerySpec("j1_stream_stream_join", j1_stream_stream_join, J1_STREAM_ORACLE,
              "watermarked stream-stream interval join (J1 idiomatic)",
              ("streaming", "join")),
    QuerySpec("x3_idle_timeout_stream", x3_idle_timeout_stream, X3_IDLE_ORACLE,
              "event-time timer (onTimer parity) burst sessionizer",
              ("streaming", "stateful", "timer")),
    QuerySpec("late_data_stream", late_data_stream, LATE_STREAM_ORACLE,
              "T3 late-data side capture across micro-batches",
              ("streaming", "watermark")),
    QuerySpec("dedup_stream", dedup_stream, DEDUP_STREAM_ORACLE,
              "streaming exact dedup via dropDuplicates state",
              ("streaming", "dedup")),
    QuerySpec("dedup_within_watermark_stream", dedup_within_watermark_stream,
              DEDUP_STREAM_ORACLE,
              "bounded-state streaming dedup: keys expire past the watermark",
              ("streaming", "dedup")),
    QuerySpec("j1_outer_stream_join", j1_outer_stream_join, J1_OUTER_STREAM_ORACLE,
              "left-outer watermarked interval join, watermark-gated null rows",
              ("streaming", "join")),
    QuerySpec("j1_semi_stream_join", j1_semi_stream_join, J1_SEMI_STREAM_ORACLE,
              "left-semi watermarked interval join (streaming EXISTS)",
              ("streaming", "join")),
    QuerySpec("j1_full_outer_stream_join", j1_full_outer_stream_join,
              J1_FULL_OUTER_STREAM_ORACLE,
              "full-outer watermarked interval join, per-side eviction cutoffs",
              ("streaming", "join")),
    QuerySpec("stream_static_enrich", stream_static_enrich, ENRICH_ORACLE,
              "stream-static broadcast dimension enrichment",
              ("streaming", "join")),
    QuerySpec("w6_chained_windows_stream", w6_chained_windows_stream,
              W6_CHAINED_ORACLE,
              "two chained stateful window aggs in one append pipeline",
              ("streaming", "window", "stateful")),
    QuerySpec("r1_running_topk_stream", r1_running_topk_stream,
              R1_TOPK_ORACLE,
              "complete-mode ranked top-k leaderboard, decimal-exact totals",
              ("streaming", "rank")),
    QuerySpec("j2_join_then_window_stream", j2_join_then_window_stream,
              J2_JOIN_WINDOW_ORACLE,
              "interval join feeding a windowed agg, one multi-stateful query",
              ("streaming", "join", "window")),
    QuerySpec("statestore_read_agg", statestore_read_agg, STATESTORE_ORACLE,
              "streaming agg state read back from the checkpoint via the "
              "state data source (Spark 4), state == batch aggregate",
              ("streaming", "stateful", "spark4")),
    QuerySpec("s3_stateful_alert_stream", s3_stateful_alert_stream,
              _s3_x1_oracle(),
              "generator DataSource feeding the X1 keyed state machine "
              "across micro-batch boundaries, source+state hash-checked",
              ("streaming", "stateful", "source", "spark4")),
]


# --- X4 streaming: keyed debounce across micro-batches ----------------------

from ..operators.temporal import DEBOUNCE_GAP_MS  # noqa: E402
from .state import debounced_events  # noqa: E402


def x4_debounce_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_event_debounce: per-(user, type) ValueState of
    the last raw timestamp, carried across micro-batches; emits only
    events > DEBOUNCE_GAP_MS after their predecessor. The oracle replays
    the identical suppression with one lag() window in SQL."""
    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
    )
    kept = debounced_events(stream, DEBOUNCE_GAP_MS)
    return run_available_now(kept, spark, mode="update")


X4_DEBOUNCE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
), f AS (
  SELECT user_id, event_type, ts_ms,
         CASE WHEN lag(ts_ms) OVER w IS NULL
                OR ts_ms - lag(ts_ms) OVER w > {DEBOUNCE_GAP_MS}
              THEN 1 ELSE 0 END AS keep
  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id)
)
SELECT user_id, event_type, ts_ms FROM f WHERE keep = 1
"""


def x4_debounce_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME debounce, all-JVM: a kept event is by definition the FIRST
    event of a gap-separated burst, i.e. a session-window leader — so
    ``session_window`` with gap = GAP+1 ms (sessions merge when the
    inter-event distance <= GAP, split when STRICTLY > GAP, matching the
    oracle's ``diff > GAP`` boundary exactly, ms-integer timestamps) and
    ``min(ts_ms)`` per session reproduces x4_debounce_stream row-for-row
    through the JVM session state store — zero Python in the stream.

    This is the 100 TB path: x4's ``applyInPandasWithState`` form costs
    ~(batches x active keys) Python group invocations (SCALING.md
    finding 3; 46 s at the sf1 leg), while this plan keeps the whole
    state machine in the JVM where the same leg runs in seconds. Both
    stay registered: x4 pins the Flink-ValueState PATTERN, this one pins
    the production plan — identical oracle."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withColumn("ts2", F.timestamp_millis(F.unix_millis("ts")))
        .groupBy(
            "user_id",
            "event_type",
            F.session_window("ts2", f"{DEBOUNCE_GAP_MS + 1} milliseconds").alias("w"),
        )
        .agg(F.min(F.unix_millis("ts2")).alias("ts_ms"))
        .select("user_id", "event_type", "ts_ms")
    )
    # session-window streaming aggregations allow complete/append only;
    # complete's final table equals the batch answer on a bounded replay
    # (same choice as w4_session_stream). Production uses append + a
    # watermark, which also evicts closed sessions from state.
    return run_available_now(agg, spark, mode="complete")


SPECS += [
    QuerySpec("x4_debounce_stream", x4_debounce_stream, X4_DEBOUNCE_ORACLE,
              "applyInPandasWithState keyed debounce (streaming twin of q_event_debounce)",
              ("streaming", "stateful")),
    QuerySpec("x4_debounce_session_stream", x4_debounce_session_stream,
              X4_DEBOUNCE_ORACLE,
              "the same debounce as an all-JVM session-window aggregation "
              "(burst leaders = session firsts) — the scale path",
              ("streaming", "window", "stateful")),
]


# --- W4/X4 PRODUCTION twins: append + watermark session windows -------------
# The complete-mode forms above are exact on a bounded replay but
# re-materialize the FULL result table every trigger — unbounded output
# work on an unbounded ingest (VERDICT r6 "What's wrong" #2). These twins
# are the production plan: a watermark bounds the session state store
# (closed sessions are EVICTED, not just emitted) and append mode emits
# each session exactly once, when the watermark passes its end. Output
# and state per trigger are then ∝ sessions closed that trigger, never
# the running total.
#
# Bounded-replay semantics, pinned empirically (round 7, both on the data
# and on a synthetic watermark tie): availableNow ends with a no-data
# micro-batch (spark.sql.streaming.noDataMicroBatches.enabled default)
# that advances the watermark to max(event_time) - delay and flushes
# every session whose end <= that watermark — TIES EMIT. Sessions newer
# than the final watermark stay in state and are not emitted, so the
# oracle restricts the batch sessionization to exactly the closed set.

STREAM_WM_DELAY = "1 hour"
STREAM_WM_DELAY_MS = 3_600_000


def w4_session_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w4_session_stream's production twin
    (``chapter3/WindowingOperations.java:147-150``): watermarked session
    windows in APPEND mode. Each 6 h-gap session is emitted exactly once
    when the watermark (max event time - 1 h) passes its end, and its
    state-store rows are evicted — per-trigger output and state are
    bounded by sessions closing, not by history."""
    stream = (
        _events_stream(spark, sf_dir)
        .withColumn("ts2", F.timestamp_millis(F.unix_millis("ts")))
        .withWatermark("ts2", STREAM_WM_DELAY)
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts2", "6 hours").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "cnt",
        )
    )
    return run_available_now(agg, spark, mode="append")


# Closed-session restriction of W4_ORACLE: only sessions whose end the
# final watermark (global max ts - delay) has passed are emitted; the
# boundary is <= (tie-pin test: a session ending exactly at the final
# watermark IS flushed by the closing no-data batch).
W4_APPEND_ORACLE = f"""
SELECT * FROM ({W4_ORACLE})
WHERE session_end_ms <=
      (SELECT MAX(epoch_ms(ts)) - {STREAM_WM_DELAY_MS} FROM events)
"""


def x4_debounce_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4_debounce_session_stream's production twin: the same all-JVM
    burst-leader plan (session firsts at gap GAP+1 ms) with a watermark
    and append output. A leader row is emitted exactly once, when its
    burst's session closes under the watermark; closed-session state is
    evicted. This removes the complete-mode form's full-table rewrite
    per trigger — the last unbounded-work path in the §2.8 family."""
    stream = (
        _events_stream(spark, sf_dir)
        .withColumn("ts2", F.timestamp_millis(F.unix_millis("ts")))
        .withWatermark("ts2", STREAM_WM_DELAY)
    )
    agg = (
        stream.groupBy(
            "user_id",
            "event_type",
            F.session_window("ts2", f"{DEBOUNCE_GAP_MS + 1} milliseconds").alias("w"),
        )
        .agg(F.min(F.unix_millis("ts2")).alias("ts_ms"))
        .select("user_id", "event_type", "ts_ms")
    )
    return run_available_now(agg, spark, mode="append")


# X4's suppression (keep when diff > GAP) restricted to bursts whose
# session end (last event + GAP+1, the session_window span) the final
# watermark has passed. Same <= boundary as W4_APPEND_ORACLE.
X4_APPEND_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
), flagged AS (
  SELECT user_id, event_type, ms,
         CASE WHEN lag(ms) OVER w IS NULL
                OR ms - lag(ms) OVER w > {DEBOUNCE_GAP_MS}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ms)
), sessions AS (
  SELECT user_id, event_type, ms,
         SUM(new_s) OVER (PARTITION BY user_id, event_type ORDER BY ms
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), bursts AS (
  SELECT user_id, event_type, MIN(ms) AS ts_ms,
         MAX(ms) + {DEBOUNCE_GAP_MS + 1} AS end_ms
  FROM sessions GROUP BY user_id, event_type, sid
)
SELECT user_id, event_type, ts_ms FROM bursts
WHERE end_ms <= (SELECT MAX(epoch_ms(ts)) - {STREAM_WM_DELAY_MS} FROM events)
"""


SPECS += [
    QuerySpec("w4_session_append_stream", w4_session_append_stream,
              W4_APPEND_ORACLE,
              "watermarked append-mode session windows — the production "
              "form of w4_session_stream (state + output evicted per "
              "trigger, never re-materialized)",
              ("streaming", "window", "stateful")),
    QuerySpec("x4_debounce_append_stream", x4_debounce_append_stream,
              X4_APPEND_ORACLE,
              "watermarked append-mode session-first debounce — the "
              "production form of x4_debounce_session_stream",
              ("streaming", "window", "stateful")),
]


# --- X5 streaming: CEP followed-by across micro-batches ---------------------

from ..operators.temporal import CEP_WITHIN_MS, Q_CEP_ORACLE  # noqa: E402
from .state import cep_followed_by  # noqa: E402


def x5_cep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_cep_followed_by: the one-long pending-view
    ValueState carries the half-open pattern across micro-batch
    boundaries (a view late in batch N matching a purchase early in
    batch N+1). Same recursive-CTE oracle as the batch form."""
    stream = _events_stream(spark, sf_dir).where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    return run_available_now(cep_followed_by(stream, CEP_WITHIN_MS), spark,
                             mode="update")


SPECS += [
    QuerySpec("x5_cep_stream", x5_cep_stream, Q_CEP_ORACLE,
              "applyInPandasWithState CEP followed-by (streaming twin of q_cep_followed_by)",
              ("streaming", "stateful", "cep")),
]


# --- W7 streaming: dynamic-gap session windows ------------------------------

from ..operators.dataflow import W7_ORACLE  # noqa: E402


def w7_dynamic_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w7_dynamic_session through the streaming engine: per-row gap
    expressions drive the session-merge state store. Complete mode for
    the same batching-invariance reason as w4_session_stream."""
    stream = _events_stream(spark, sf_dir).withColumn(
        "ts2", F.timestamp_millis(F.unix_millis("ts"))
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("12 hours")).otherwise(
        F.lit("6 hours")
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts2", gap).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "cnt",
        )
    )
    return run_available_now(agg, spark, mode="complete")


def w7_dynamic_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w7's production twin (same pattern as w4_session_append_stream):
    watermarked DYNAMIC-gap session windows in append mode — each
    session emits once when the watermark passes its end (end = max of
    member ts + that member's own gap) and its state is evicted."""
    stream = (
        _events_stream(spark, sf_dir)
        .withColumn("ts2", F.timestamp_millis(F.unix_millis("ts")))
        .withWatermark("ts2", STREAM_WM_DELAY)
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("12 hours")).otherwise(
        F.lit("6 hours")
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts2", gap).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "cnt",
        )
    )
    return run_available_now(agg, spark, mode="append")


W7_APPEND_ORACLE = f"""
SELECT * FROM ({W7_ORACLE})
WHERE session_end_ms <=
      (SELECT MAX(epoch_ms(ts)) - {STREAM_WM_DELAY_MS} FROM events)
"""


SPECS += [
    QuerySpec("w7_dynamic_session_stream", w7_dynamic_session_stream, W7_ORACLE,
              "dynamic-gap session windows on the streaming state store",
              ("streaming", "window", "spark4")),
    QuerySpec("w7_dynamic_append_stream", w7_dynamic_append_stream,
              W7_APPEND_ORACLE,
              "watermarked append-mode dynamic-gap session windows — the "
              "production form of w7_dynamic_session_stream",
              ("streaming", "window", "stateful", "spark4")),
]


# --- W8 streaming: count windows across micro-batches -----------------------

from ..operators.dataflow import COUNT_WINDOW_N, W8_ORACLE  # noqa: E402
from .state import count_windows  # noqa: E402


def w8_count_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w8_count_window on the streaming engine: the open window's
    partial aggregate rides ValueState across micro-batches; windows
    fire exactly on their Nth event. Caveat vs batch: events must
    arrive in event-time order for identical window membership — the
    bounded replay preserves file order, which the fixture writes
    time-sorted (the production form adds a watermark-driven sorter
    upstream, the standard Flink countWindow caveat)."""
    stream = _events_stream(spark, sf_dir).selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms",
        "CAST(round(value * 100) AS BIGINT) AS cents", "event_id",
    )
    return run_available_now(count_windows(stream, COUNT_WINDOW_N), spark,
                             mode="update")


SPECS += [
    QuerySpec("w8_count_window_stream", w8_count_window_stream, W8_ORACLE,
              "countWindow(10) ValueState machine (streaming twin of w8_count_window)",
              ("streaming", "stateful", "count")),
]


# --- X6 streaming: dynamic rule thresholds across micro-batches --------------

from ..operators.dataflow import (  # noqa: E402
    Q_DYNAMIC_RULES_ORACLE,
    RULE_DEFAULT_CENTS,
    RULE_MOD,
)
from .state import rule_filtered_events  # noqa: E402


def x6_dynamic_rules_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_dynamic_rules: the per-event_type threshold
    lives in ValueState, so a rule row late in batch N governs data rows
    early in batch N+1 — Flink's broadcast/control-state pattern on
    Spark's keyed state store. Same window-carry oracle as the batch form."""
    stream = _events_stream(spark, sf_dir).selectExpr(
        "event_type", "unix_millis(ts) AS ts_ms", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents",
        f"event_id % {RULE_MOD} = 0 AS is_rule",
    )
    return run_available_now(
        rule_filtered_events(stream, RULE_DEFAULT_CENTS), spark, mode="update"
    )


SPECS += [
    QuerySpec("x6_dynamic_rules_stream", x6_dynamic_rules_stream,
              Q_DYNAMIC_RULES_ORACLE,
              "control-stream rule ValueState across micro-batches (x6 twin)",
              ("streaming", "stateful", "connect")),
]


# --- J3: three-way watermarked stream-stream join ----------------------------

def j3_threeway_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three watermarked streams chained through TWO stream-stream join
    state stores: view -> click within 10 min -> purchase within 10 min
    of the click (the funnel as a join chain rather than an aggregation).
    Each inner interval join bounds both sides' state by the watermark,
    and the intermediate (view, click) stream carries its own event-time
    column so the second join evicts correctly — the engine contract this
    query pins beyond j2 (join-then-window) is that a JOIN OUTPUT can
    feed another join's state store. Inner joins with bounded intervals
    match the batch truth exactly, so the oracle is one 3-way SQL join.
    Hops are 24 h with 25 h watermarks (event density at test scale makes
    10-minute chains vanish; the state bound scales with the interval)."""
    with _chain_partitions(spark):  # 2 join stores: see _chain_partitions
        return run_available_now(
            j3_pipeline(spark, sf_dir), spark, mode="append")


def j3_pipeline(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """The j3 streaming plan pre-sink (two chained join state stores).
    Exposed separately so the kill-and-resume test can run it against a
    DURABLE checkpoint and a stable source dir."""
    views = (
        _events_stream(spark, sf_dir, stream_dir)
        .where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "25 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir, stream_dir)
        .where(F.col("event_type") == "click")
        .selectExpr("user_id AS c_user", "ts AS c_ts")
        .withWatermark("c_ts", "25 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir, stream_dir)
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "25 hours")
    )
    vc = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") < F.col("v_ts") + F.expr("INTERVAL 24 HOURS")),
    ).select(
        # demote v_ts to plain millis: a stream may carry at most ONE event
        # time column into the next stateful operator, and the second join
        # must evict on the CLICK time (the side still accepting matches)
        "c_user", "c_ts", F.unix_millis("v_ts").alias("view_ts_ms"),
    )
    return vc.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 24 HOURS")),
    ).select(
        F.col("c_user").alias("user_id"),
        "view_ts_ms",
        F.unix_millis("c_ts").alias("click_ts_ms"),
        F.unix_millis("p_ts").alias("purchase_ts_ms"),
    )


J3_THREEWAY_ORACLE = """
SELECT v.user_id,
       epoch_ms(v.ts) AS view_ts_ms,
       epoch_ms(c.ts) AS click_ts_ms,
       epoch_ms(p.ts) AS purchase_ts_ms
FROM events v
JOIN events c
  ON v.event_type = 'view' AND c.event_type = 'click'
 AND c.user_id = v.user_id
 AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 24 HOURS
JOIN events p
  ON p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 24 HOURS
"""


SPECS += [
    QuerySpec("j3_threeway_stream_join", j3_threeway_stream_join,
              J3_THREEWAY_ORACLE,
              "three-way watermarked interval join through two state stores",
              ("streaming", "join")),
]


# --- J3 first-touch variant: the funnel under celebrity-key skew ------------
# Round 7's Zipf leg exposed a SEMANTIC hazard in j3's pair-expansion
# funnel: a hot user owning ~16% of events makes the interval join's
# OUTPUT multiplicative (~10^9 rows from one key at sf0.3z — any engine
# must emit them; no plan fixes cubic output). The production answer is
# first-touch ATTRIBUTION: reduce each (user, 24 h window, type) to its
# EARLIEST event BEFORE joining, so both join sides carry at most one
# row per user-window and output is linear in events — a celebrity user
# costs the same as anyone else. Engine-wise this pins Spark 4's
# multiple-stateful-operator chain: THREE windowed min-aggregations
# feeding TWO stream-stream window equi-joins in one append query
# (beyond w6's agg->agg chain).

FT_BUCKET_MS = 86_400_000  # 24 h tumbling attribution window
FT_WM = "25 hours"
FT_WM_MS = 90_000_000


def j3_first_touch_pipeline(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """The unexecuted five-state-store chain (3 windowed min-aggs -> 2
    stream-stream window equi-joins). ``stream_dir``: reuse one stable
    symlink dir across all THREE sources — required for checkpoint
    RESUME, where the offset logs record absolute paths."""

    def firsts(t: str) -> DataFrame:
        return (
            _events_stream(spark, sf_dir, stream_dir)
            .where(F.col("event_type") == t)
            .withColumn("ts2", F.timestamp_millis(F.unix_millis("ts")))
            .withWatermark("ts2", FT_WM)
            .groupBy("user_id", F.window("ts2", "24 hours").alias("w"))
            .agg(F.min(F.unix_millis("ts2")).alias(f"{t}_ms"))
        )

    vc = firsts("view").join(firsts("click"), ["user_id", "w"]).where(
        F.col("click_ms") >= F.col("view_ms"))
    vcp = vc.join(firsts("purchase"), ["user_id", "w"]).where(
        F.col("purchase_ms") >= F.col("click_ms"))
    return vcp.select(
        "user_id",
        F.unix_millis("w.start").alias("bucket_ms"),
        "view_ms", "click_ms", "purchase_ms",
    )


def j3_first_touch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # This chain carries FIVE state stores (3 window aggs + 2 joins), and
    # every micro-batch pays a store open/commit per store per shuffle
    # partition — the per-batch floor is 5x a single-agg query's. At the
    # demo state volume 4 partitions halve wall-clock vs the 8 the other
    # stream queries use (measured r8: 5.2 s vs 10.4 s at sf0.1), and 2
    # shaves the floor further (r10, 5/5 alternating isolated pairs at
    # sf0.1: 5.30/5.73/5.86 -> 4.87/4.92/5.14 min legs, ~-8-14%); a real
    # deployment sizes via SPARK_GRAFT_STREAM_PARTITIONS as usual, which
    # takes precedence here too. Conf is restored after the bounded run
    # so later queries in the session are unaffected.
    target = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "2")
    prev = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.shuffle.partitions", target)
    try:
        return run_available_now(
            j3_first_touch_pipeline(spark, sf_dir), spark, mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Append emission: a window's firsts (and hence its joined row) flush
# when the final watermark (max ts - 25 h) passes the window end — the
# same <= boundary the session append twins pin.
J3_FIRST_TOUCH_ORACLE = f"""
WITH f AS (
  SELECT user_id, event_type,
         CAST(floor(epoch_ms(ts) / {FT_BUCKET_MS}) AS BIGINT)
           * {FT_BUCKET_MS} AS bucket_ms,
         MIN(epoch_ms(ts)) AS ms
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY 1, 2, 3
)
SELECT v.user_id, v.bucket_ms,
       v.ms AS view_ms, c.ms AS click_ms, p.ms AS purchase_ms
FROM f v
JOIN f c ON c.user_id = v.user_id AND c.bucket_ms = v.bucket_ms
        AND c.event_type = 'click' AND c.ms >= v.ms
JOIN f p ON p.user_id = v.user_id AND p.bucket_ms = v.bucket_ms
        AND p.event_type = 'purchase' AND p.ms >= c.ms
WHERE v.event_type = 'view'
  AND v.bucket_ms + {FT_BUCKET_MS} <=
      (SELECT MAX(epoch_ms(ts)) - {FT_WM_MS} FROM events)
"""


SPECS += [
    QuerySpec("j3_first_touch_stream", j3_first_touch_stream,
              J3_FIRST_TOUCH_ORACLE,
              "first-touch attribution funnel: per-window firsts reduced "
              "BEFORE joining (3 windowed aggs -> 2 window equi-joins in "
              "one append query) — linear output under celebrity-key "
              "skew where j3's pair expansion is multiplicative",
              ("streaming", "join", "window", "skew")),
]


# --- X7: running z-score anomaly alerts (Welford keyed state) ----------------

X7_MIN_N = 5     # priors required before the test is armed
X7_Z2 = 9        # z^2 (3-sigma)


def x7_zscore_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running 3-sigma alerts through the real streaming engine:
    ValueState holds (count, sum, sum-of-squares) in integer cents and
    each arriving value is tested against the moments of its PRIOR
    history — the control-chart-as-operator the reference's ValueState
    examples (chapter4/StatefulOperations.java:84-129) gesture at. The
    sigma test runs in exact integer arithmetic (see streaming/state.py),
    so the alert set is reproducible bit-for-bit by a windowed SQL oracle
    with the identical prior-frame moments."""
    from .state import zscore_alerts

    stream = _events_stream(spark, sf_dir).selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    return run_available_now(
        zscore_alerts(stream, X7_MIN_N, X7_Z2), spark, mode="update"
    )


X7_ZSCORE_ORACLE = f"""
WITH base AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), st AS (
  SELECT user_id, ts_ms, cents,
         COUNT(*) OVER w AS n,
         COALESCE(SUM(CAST(cents AS HUGEINT)) OVER w, 0) AS s,
         COALESCE(SUM(CAST(cents AS HUGEINT) * cents) OVER w, 0) AS q
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), alerts AS (
  SELECT user_id, ts_ms, cents, n AS n_prior
  FROM st
  WHERE n >= {X7_MIN_N}
    AND (n * cents - s) * (n * cents - s) > {X7_Z2} * (n * q - s * s)
)
SELECT user_id, ts_ms, cents, CAST(n_prior AS BIGINT) AS n_prior
FROM alerts
"""


SPECS += [
    QuerySpec("x7_zscore_stream", x7_zscore_stream, X7_ZSCORE_ORACLE,
              "running 3-sigma Welford alerts in keyed state, exact-integer test",
              ("streaming", "stateful")),
]


# --- X8: streaming near-dup filter at ingest (dropDuplicatesWithinWatermark) --
# The streaming twin of dedup_incremental: the ingest path drops
# near-duplicates AS THEY ARRIVE, keyed by the same min-shingle-hash
# fingerprint (min portable hash over word 5-gram shingles — collides
# for J-similar docs with probability J, so 0.95+ near-dups dedupe on an
# EQUALITY key; the banded families remain the offline deep sweep).
# Engine path is the real one: file stream -> fingerprint projection ->
# watermark -> dropDuplicatesWithinWatermark state store (keys evicted
# once the watermark passes them — bounded state, unlike dropDuplicates'
# forever-store). Output projects ONLY the fingerprint: which physical
# copy survives a micro-batch race is not part of the contract, the kept
# key set is — and that set is exactly batch DISTINCT, which the oracle
# checks.

def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    target = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > target:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    stream_dir = _stream_source_dir(sf_dir, "documents")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    return spark.readStream.schema(schema).format("parquet").load(stream_dir)


def x8_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as XT
    from ..operators.dedup import _FP_K

    stream = _documents_stream(spark, sf_dir)
    toked = stream.selectExpr(
        "doc_id", "text", f"{XT.tokens_spark('text')} AS toks")
    sh = XT.shingles_spark("toks", _FP_K)
    fb = "cast(conv(substr(md5(lower(text)), 1, 15), 16, 10) as bigint)"
    fp = toked.selectExpr(
        "doc_id",
        "coalesce(array_min(transform(" + sh + ", s ->"
        " cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))), "
        + fb + ") AS f",
    )
    deduped = (
        # synthetic ingest time (1 ms per doc, offset off epoch 0: a row
        # AT the initial watermark is discarded as expired) — watermark
        # semantics are real, and the whole corpus sits far inside the
        # 1 h bound so the kept-key set equals batch DISTINCT at any
        # tested scale
        fp.withColumn(
            "ts", F.timestamp_micros(F.expr("(doc_id + 86400) * 1000")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["f"])
        .select("f")
    )
    return run_available_now(deduped, spark, mode="append")


def _x8_oracle() -> str:
    from ..functions import text as XT
    from ..functions.hashing import portable_hash64_sql
    from ..operators.dedup import _FP_K

    toks_d = XT.tokens_duck("text")
    sh_d = XT.shingles_duck(toks_d, _FP_K)
    return f"""
SELECT DISTINCT
  coalesce(list_min(list_transform({sh_d}, s -> {portable_hash64_sql('s')})),
           {portable_hash64_sql('lower(text)')}) AS f
FROM documents
"""


SPECS += [
    QuerySpec("x8_dedup_stream", x8_dedup_stream, _x8_oracle(),
              "ingest-time near-dup filter: fingerprint dropDuplicatesWithinWatermark",
              ("streaming", "stateful", "dedup")),
]


# --- X8b: streaming NEAR-dup filter via banded MinHash ownership --------------
# x8_dedup_stream catches J~=1 near-dups (one min-shingle fingerprint);
# the production ingest pipeline also wants the LSH-grade filter (any of
# MH_BANDS band signatures collides -> drop). Engine path: file stream ->
# map-side MinHash banding (the signature fold is a per-row array
# expression — array_min over the arithmetic hash family — so no
# streaming groupBy feeds the stateful operator) -> ONE JVM-side
# streaming aggregation keyed by (band, sig) holding ONLY min(doc_id),
# the bucket owner — O(1) state per bucket, map-side partial agg,
# state-store backed, no Python in the loop. (A first cut used an
# applyInPandasWithState min-owner processor: same verdicts, but
# per-group Python overhead across ~4n buckets. A second cut kept
# collect_set(doc_id) membership IN state: correct, but a
# boilerplate-heavy corpus puts millions of doc_ids into one hot
# LSH-bucket's state row — the classic unbounded-state skew.) The
# membership relation (doc_id, band, sig) is NOT state: it is a
# stateless map-side projection of the corpus, persisted at ingest the
# way x13 persists vector-cell assignments. The verdict join runs on
# the drained store against that relation: a doc is kept iff it owns
# every one of its buckets, which equals the batch dedup_minhash_lsh
# canonical selection (never a doc_b in any candidate pair) — the
# oracle checks exactly that.

def neardup_band_rows(docs: DataFrame) -> DataFrame:
    """Map-side banded-MinHash signature rows (doc_id, band, sig) over a
    (doc_id, text) frame — a stateless projection usable on both the
    streaming ingest side (feeding the owner aggregation) and the batch
    side (the persisted index relation the verdict joins against)."""
    from ..functions import text as XT
    from ..functions.hashing import family_member_spark
    from ..operators.dedup import _FAMILY, _R, MH_BANDS, MH_HASHES, MH_K

    toked = docs.selectExpr(
        "doc_id", f"{XT.tokens_spark('text')} AS toks")
    sh = XT.shingles_spark("toks", MH_K)
    hashed = toked.selectExpr(
        "doc_id",
        "transform(array_distinct(" + sh + "), s ->"
        " cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)) AS hs",
    )
    min_cols = [
        f"array_min(transform(hs, h -> {family_member_spark('h', _FAMILY[i])}))"
        f" AS m{i}"
        for i in range(MH_HASHES)
    ]
    mins = hashed.selectExpr("doc_id", "size(hs) AS n_sh", *min_cols)
    # Band rows via stack(), NOT explode(array(structs)):
    # InferFiltersFromGenerate synthesizes a size(...)>0 filter from an
    # explode and pushes it to the scan with the whole signature fold
    # INLINED — the tokenize+shingle+hash chain then re-runs per m-column
    # without codegen's subexpression elimination (measured 63 s vs 4 s
    # for this stack() form at sf0.1). stack is outside that rule, so
    # the fold stays one codegen'd Project evaluated once per document.
    # Docs too short to shingle get private per-band buckets (they
    # cannot near-dup by MinHash).
    stack_args = []
    for b in range(MH_BANDS):
        sig = ("concat_ws(',', "
               + ", ".join(f"m{b * _R + j}" for j in range(_R)) + ")")
        stack_args.append(
            f"{b}, CASE WHEN n_sh = 0"
            f" THEN concat('empty#', {b}, '#', doc_id) ELSE {sig} END")
    return mins.selectExpr(
        "doc_id",
        f"stack({MH_BANDS}, " + ", ".join(stack_args) + ") AS (band, sig)")


def neardup_bucket_state(stream: DataFrame) -> DataFrame:
    """Banded-MinHash bucket-ownership stream over a (doc_id, text)
    document stream: map-side signature fold -> streaming
    (band, sig) -> min(doc_id) owner aggregation. State per bucket is
    ONE bigint regardless of how many docs hash into it."""
    return neardup_band_rows(stream).groupBy("band", "sig").agg(
        F.min("doc_id").alias("owner"))


def neardup_kept_from_drain(out: DataFrame, band_rows: DataFrame) -> DataFrame:
    """Verdicts: final owner per bucket = min over the update-mode
    emissions (min is monotone non-increasing, so the smallest emitted
    value IS the final state). Joined against the stateless membership
    relation ``band_rows`` (doc_id, band, sig): kept = docs that own
    every bucket they appear in."""
    owners = out.groupBy("band", "sig").agg(F.min("owner").alias("owner"))
    return (
        band_rows.join(owners, ["band", "sig"])
        .groupBy("doc_id")
        .agg(F.max(F.expr("CAST(doc_id <> owner AS INT)")).alias("dup"))
        .where("dup = 0")
        .select("doc_id")
    )


def x8_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import spread_small_source

    # not a multi-store chain, but measured faster at 4 (2.7 vs 3.1 s):
    # the per-batch floor here is store commits + the CPU-heavy map-side
    # signature fold, and fewer state partitions cut the former without
    # starving the latter (the fold parallelism follows the SOURCE split,
    # not shuffle.partitions).
    with _chain_partitions(spark):
        out = run_available_now(
            neardup_bucket_state(_documents_stream(spark, sf_dir)), spark,
            mode="update")
    # The verdict-side membership relation: in production this is the
    # band-row table the ingest PERSISTED (stateless append, like x13's
    # vector-cell assignments); recomputed here from the same files.
    # spread: the signature fold is CPU-bound and a compact parquet
    # source would otherwise run it on one task.
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark)
    return neardup_kept_from_drain(out, neardup_band_rows(docs))


def _x8_neardup_oracle() -> str:
    from ..functions import text as XT
    from ..functions.hashing import portable_hash64_sql
    from ..operators.dedup import _bands_d, _mins_d, MH_K, TOKS_D

    return f"""
WITH toks AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({XT.shingles_duck('toks', MH_K)}) AS shingle
  FROM toks
), base AS (
  SELECT doc_id, {portable_hash64_sql('shingle')} AS h FROM sh
), mins AS (
  SELECT doc_id, {_mins_d} FROM base GROUP BY doc_id
), bands AS (
  {_bands_d}
), dups AS (
  SELECT DISTINCT b.doc_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT d.doc_id FROM documents d ANTI JOIN dups USING (doc_id)
"""


SPECS += [
    QuerySpec("x8_neardup_stream", x8_neardup_stream, _x8_neardup_oracle(),
              "ingest-time LSH near-dup filter: banded MinHash bucket "
              "ownership in keyed state; kept set = batch LSH selection",
              ("streaming", "stateful", "dedup")),
]


# --- X13: streaming ANN index ingest ------------------------------------------
# The streaming leg of the persisted-index lifecycle (operators/annindex):
# vectors arriving on a stream are quantized and assigned to the FROZEN
# coarse-quantizer cells map-side (the same Arrow int64 argmax the batch
# build uses — no join, no training, no state), then a running per-cell
# occupancy aggregation tracks index growth. That occupancy is exactly
# the stored full index's cell histogram, which the oracle replays
# arithmetically. At scale this is how the delta partitions of
# knn_index_delta get FED: assignment at ingest, periodic append.

def x13_index_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annindex import (
        _assign_cells_int8, _load_centroids, _Q8_S, build_ivf_index)

    base = build_ivf_index(spark, sf_dir, "full")
    cent = _load_centroids(spark, base)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    target = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > target:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    stream_dir = _stream_source_dir(sf_dir, "embeddings")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    stream = spark.readStream.schema(schema).format("parquet").load(stream_dir)
    assigned = _assign_cells_int8(
        stream.selectExpr("vec_id", f"{_Q8_S} AS q"), cent)
    counts = assigned.groupBy("cluster_id").agg(F.count("*").alias("cnt"))
    out = run_available_now(counts, spark, mode="update")
    # update-mode emissions grow monotonically; the final occupancy per
    # cell is the largest seen (one row per cell in a single-batch replay)
    return out.groupBy("cluster_id").agg(
        F.max("cnt").cast("long").alias("n_vectors"))


def _x13_oracle() -> str:
    from ..operators.annindex import _build_ctes

    return _build_ctes("full") + """
SELECT CAST(cluster_id AS INT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM a1 GROUP BY cluster_id
"""


SPECS += [
    QuerySpec("x13_index_ingest_stream", x13_index_ingest_stream, _x13_oracle(),
              "streaming ANN index ingest: map-side cell assignment under "
              "frozen centroids, running per-cell occupancy",
              ("streaming", "similarity", "index")),
]


# --- X9: Spark 4 transformWithStateInPandas (the arbitrary-state API) ---------
# The engine's X1/X2 ride applyInPandasWithState (the Spark 3 arbitrary
# stateful API); this is the same per-key running aggregation on Spark
# 4's SUCCESSOR API — transformWithStateInPandas with a
# StatefulProcessor and a typed ValueState handle (the API that adds
# composite state, timers and state TTL; a user migrating stateful
# Flink ProcessFunctions today would land here). Per-user spend
# tracker: ValueState carries (n, sum, max) across batches; each batch
# emits the updated totals, so the availableNow replay's final rows
# equal the batch GROUP BY the oracle runs.
#
# ENVIRONMENT-GATED (the Kafka S2/K2 precedent): the API's state-server
# protocol imports google.protobuf, which this container does not ship
# (and installs are off-limits). The query registers only where
# protobuf exists; tests/test_streaming.py carries the gated check so
# the path lights up automatically on a protobuf-equipped deployment.

import pandas as _pd  # noqa: E402
from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor, StatefulProcessorHandle)


class _SpendTracker(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState(
            "agg", "n BIGINT, s BIGINT, mx BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        n, s, mx = 0, 0, None
        for pdf in rows:
            c = pdf["cents"]
            n += len(c)
            s += int(c.sum())
            m = int(c.max())
            mx = m if mx is None else max(mx, m)
        if self._agg.exists():
            pn, ps, pmx = self._agg.get()
            n, s, mx = n + pn, s + ps, max(mx, pmx)
        self._agg.update((n, s, mx))
        yield _pd.DataFrame({
            "user_id": [key[0]], "n_events": [n],
            "cents_sum": [s], "cents_max": [mx],
        })

    def close(self) -> None:
        pass


def x9_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir).selectExpr(
        "user_id", "CAST(round(value * 100) AS BIGINT) AS cents")
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_SpendTracker(),
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, cents_sum BIGINT, "
            "cents_max BIGINT"),
        outputMode="Update",
        timeMode="None",
    )
    return run_available_now(out, spark, mode="update")


X9_TWS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
       CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_max
FROM events GROUP BY user_id
"""


def _protobuf_available() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401
        return True
    except ImportError:
        return False


if _protobuf_available():
    SPECS += [
        QuerySpec("x9_transform_with_state", x9_transform_with_state,
                  X9_TWS_ORACLE,
                  "per-key ValueState aggregation on Spark 4 transformWithStateInPandas",
                  ("streaming", "stateful", "spark4")),
    ]


# --- X10: online Holt smoothing through the real engine -----------------------

def x10_holt_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.statistics import TS_HOLT_ORACLE  # shared oracle
    from .state import holt_smoother

    stream = _events_stream(spark, sf_dir).selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    return run_available_now(holt_smoother(stream), spark, mode="update")


from ..operators.statistics import TS_HOLT_ORACLE as _TS_HOLT_ORACLE  # noqa: E402

SPECS += [
    QuerySpec(
        "x10_holt_stream", x10_holt_stream,
        # identical semantics to the batch operator -> shared oracle
        _TS_HOLT_ORACLE,
        "online Holt level+trend smoothing in keyed streaming state",
        ("streaming", "stateful", "forecast")),
]


# --- X11: online CUSUM drift alarms in keyed streaming state -------------------


def x11_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .state import cusum_detector

    stream = _events_stream(spark, sf_dir).selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    return run_available_now(cusum_detector(stream), spark, mode="update")


def _cusum_oracle() -> str:
    """Replays the per-key recurrence as a depth-bounded recursive CTE
    (the w9_capped_session precedent). A list_reduce fold would be
    terser, but DuckDB 1.0 resolves acc.<field> inconsistently when the
    same expression also defines a sibling struct field — the recursive
    CTE is explicit about evaluation order and engine-agnostic."""
    from .state import CUSUM_H, CUSUM_SLACK, CUSUM_WARMUP

    S, H, W = CUSUM_SLACK, CUSUM_H, CUSUM_WARMUP
    v = "w.vals[CAST(st.i + 1 AS INT)]"
    zed = "CAST(0 AS BIGINT)"
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), warm AS (
  SELECT user_id, list(cents ORDER BY ts_ms, event_id) AS vals,
         CAST(len(list(cents)) AS BIGINT) AS n,
         CAST(list_sum((list(cents ORDER BY ts_ms, event_id))[1:{W}])
              AS BIGINT) // {W} AS mu0
  FROM ev GROUP BY user_id HAVING COUNT(*) >= {W}
), step(user_id, i, s_pos, s_neg, n_alarms, first_alarm) AS (
  SELECT user_id, CAST({W} AS BIGINT), {zed}, {zed}, {zed}, {zed}
  FROM warm
  UNION ALL
  SELECT user_id, i + 1,
         CASE WHEN alarm THEN 0 ELSE p END,
         CASE WHEN alarm THEN 0 ELSE q END,
         n_alarms + CASE WHEN alarm THEN 1 ELSE 0 END,
         CASE WHEN first_alarm > 0 THEN first_alarm
              WHEN alarm THEN i + 1 ELSE 0 END
  FROM (
    SELECT st.user_id, st.i, st.n_alarms, st.first_alarm,
           greatest({zed}, st.s_pos + {v} - w.mu0 - {S}) AS p,
           greatest({zed}, st.s_neg + w.mu0 - {v} - {S}) AS q,
           (greatest({zed}, st.s_pos + {v} - w.mu0 - {S}) > {H}
            OR greatest({zed}, st.s_neg + w.mu0 - {v} - {S}) > {H}) AS alarm
    FROM step st JOIN warm w USING (user_id)
    WHERE st.i < w.n)
)
SELECT s.user_id, w.n AS n_events, w.mu0 AS mu0_cents,
       s.n_alarms, s.first_alarm AS first_alarm_idx, s.s_pos, s.s_neg
FROM step s JOIN warm w USING (user_id) WHERE s.i = w.n
"""


X11_CUSUM_ORACLE = _cusum_oracle()

SPECS += [
    QuerySpec(
        "x11_cusum_stream", x11_cusum_stream, X11_CUSUM_ORACLE,
        "online per-user CUSUM drift alarms with post-alarm restart",
        ("streaming", "stateful", "changepoint")),
]


# --- X12: token-bucket admission control in keyed streaming state ---------------


def x12_rate_limit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .state import token_bucket

    stream = _events_stream(spark, sf_dir).selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id")
    return run_available_now(token_bucket(stream), spark, mode="update")


def _token_bucket_oracle() -> str:
    from .state import TB_CAP_MILLI, TB_REFILL_MS

    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
), s AS (
  SELECT user_id, list(ts_ms ORDER BY ts_ms, event_id) AS ts,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1
), step(user_id, i, tokens, last_ms, n_acc, n_drop) AS (
  SELECT user_id, CAST(1 AS BIGINT),
         CASE WHEN {TB_CAP_MILLI} >= 1000
              THEN CAST({TB_CAP_MILLI - 1000} AS BIGINT)
              ELSE CAST({TB_CAP_MILLI} AS BIGINT) END,
         ts[1],
         CAST(CASE WHEN {TB_CAP_MILLI} >= 1000 THEN 1 ELSE 0 END AS BIGINT),
         CAST(CASE WHEN {TB_CAP_MILLI} >= 1000 THEN 0 ELSE 1 END AS BIGINT)
  FROM s
  UNION ALL
  SELECT user_id, i + 1,
         CASE WHEN refreshed >= 1000 THEN refreshed - 1000 ELSE refreshed END,
         t,
         n_acc + CASE WHEN refreshed >= 1000 THEN 1 ELSE 0 END,
         n_drop + CASE WHEN refreshed >= 1000 THEN 0 ELSE 1 END
  FROM (
    SELECT st.user_id, st.i, st.n_acc, st.n_drop,
           s.ts[CAST(st.i + 1 AS INT)] AS t,
           least(CAST({TB_CAP_MILLI} AS BIGINT),
                 st.tokens + (s.ts[CAST(st.i + 1 AS INT)] - st.last_ms)
                   * 1000 // {TB_REFILL_MS}) AS refreshed
    FROM step st JOIN s USING (user_id)
    WHERE st.i < s.n)
)
SELECT st.user_id, s.n AS n_events, st.n_acc AS n_accepted,
       st.n_drop AS n_dropped, st.tokens AS tokens_milli
FROM step st JOIN s USING (user_id) WHERE st.i = s.n
"""


X12_TOKEN_BUCKET_ORACLE = _token_bucket_oracle()

SPECS += [
    QuerySpec(
        "x12_rate_limit_stream", x12_rate_limit_stream,
        X12_TOKEN_BUCKET_ORACLE,
        "online token-bucket admission control per user",
        ("streaming", "stateful", "ratelimit")),
]
