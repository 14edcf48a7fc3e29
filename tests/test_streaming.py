"""Streaming parity tests (SURVEY.md §5 strategy 2): replay bounded data
through the REAL streaming engine and compare against batch analogs —
multi-batch state persistence, session windows, stream-stream joins,
late-data capture, sinks."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from apache_flink_datastream_api_spark.operators import dataflow
from apache_flink_datastream_api_spark.sources.tables import load_table
from apache_flink_datastream_api_spark.streaming.sinks import run_available_now, to_csv_files
from apache_flink_datastream_api_spark.streaming.state import interval_alerts, session_durations
from apache_flink_datastream_api_spark.streaming.watermarks import (
    LateDataCapture,
    split_late_batch,
)

from .conftest import SF_DIR


def _fresh_dir(tmp_path, name: str) -> str:
    """A new empty directory ``tmp_path/name``."""
    d = tmp_path / name
    d.mkdir()
    return str(d)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.fixture(scope="module")
def chunked_events_dir(spark, tmp_path_factory):
    """Events (subset) written as 3 time-ordered CSV chunks — replaying
    them with maxFilesPerTrigger=1 exercises state across micro-batches
    with no late arrivals."""
    e = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") < 3000)
        .selectExpr("event_id", "user_id", "event_type", "unix_millis(ts) AS ts_ms")
        .orderBy("ts_ms", "event_id")
        .collect()
    )
    d = str(tmp_path_factory.mktemp("chunks"))
    n = len(e)
    for i in range(3):
        chunk = e[i * n // 3 : (i + 1) * n // 3]
        path = os.path.join(d, f"part-{i:03d}.csv")
        with open(path, "w") as f:
            for r in chunk:
                f.write(f"{r.event_id},{r.user_id},{r.event_type},{r.ts_ms}\n")
        # FileStreamSource orders by modification time; same-ms writes tie
        # nondeterministically — force strict chunk order.
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    return d


CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def _chunk_stream(spark, d):
    return (
        spark.readStream.schema(CHUNK_SCHEMA).option("maxFilesPerTrigger", 1).csv(d)
    )


def test_x1_state_survives_micro_batches(spark, chunked_events_dir):
    """Alerts spanning a batch boundary require state persistence: results
    over 3 micro-batches must equal the single-pass batch analog."""
    stream = _chunk_stream(spark, chunked_events_dir).where(
        F.col("event_type") == "error"
    )
    got = run_available_now(
        interval_alerts(stream, dataflow.ALERT_THRESHOLD_MS), spark, mode="update"
    )
    want = (
        dataflow.x1_interval_alert(spark, SF_DIR)
        .join(
            load_table(spark, SF_DIR, "events").where(F.col("event_id") < 3000)
            .select("user_id", F.unix_millis("ts").alias("ts_ms")).distinct(),
            ["user_id", "ts_ms"],
        )
    )
    cols = ["user_id", "ts_ms", "diff_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() > 0, "fixture produced no alerts - threshold too tight"


def test_x2_state_survives_micro_batches(spark, chunked_events_dir):
    stream = _chunk_stream(spark, chunked_events_dir).withColumnRenamed(
        "event_type", "action"
    )
    got = run_available_now(
        session_durations(stream, logout_action="purchase"), spark, mode="update"
    )
    # batch analog restricted to the same subset
    e = load_table(spark, SF_DIR, "events").where(F.col("event_id") < 3000)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        e.select(
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.lag("event_type").over(w).alias("prev_action"),
            F.lag(F.unix_millis("ts")).over(w).alias("prev_ms"),
        )
        .where(F.col("prev_action").isNotNull() & (F.col("prev_action") != "purchase"))
        .select(
            "user_id",
            F.col("prev_action").alias("action"),
            "ts_ms",
            (F.col("ts_ms") - F.col("prev_ms")).alias("duration_ms"),
        )
    )
    cols = ["user_id", "action", "ts_ms", "duration_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_session_window_streaming_parity(spark):
    """W4 through the streaming engine (complete mode) equals the batch
    session_window result."""
    from apache_flink_datastream_api_spark.streaming.queries import _events_stream

    stream = _events_stream(spark, SF_DIR).withColumn(
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
    got = run_available_now(agg, spark, mode="complete")
    want = dataflow.w4_session_window(spark, SF_DIR)
    cols = ["user_id", "session_start_ms", "session_end_ms", "cnt"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_stream_stream_join(spark):
    """J1 as an idiomatic watermarked stream-stream inner join (bucket
    variant is the oracle-checked one; this pins the time-interval form)."""
    from apache_flink_datastream_api_spark.streaming.queries import _events_stream

    s = _events_stream(spark, SF_DIR)
    a = s.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    ).withWatermark("a_ts", "1 hour")
    b = _events_stream(spark, SF_DIR).where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
    ).withWatermark("b_ts", "1 hour")
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") < F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    got = run_available_now(joined, spark, mode="append").count()

    # batch equivalent of the same interval join
    e = load_table(spark, SF_DIR, "events")
    av = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    )
    bv = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
    )
    want = av.join(
        bv,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") < F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert got == want


def test_split_late_batch(spark):
    rows = [
        (1, 1000), (2, 5000), (3, 1500),  # 3 is late if delay < 3500
        (4, 6000), (5, 2000),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts_ms long").withColumn(
        "event_ts", F.timestamp_millis("ts_ms")
    )
    on_time, late = split_late_batch(df, "event_ts", 1000, "event_id")
    assert {r.event_id for r in late.collect()} == {3, 5}
    assert {r.event_id for r in on_time.collect()} == {1, 2, 4}


def test_late_data_capture_streaming(spark, chunked_events_dir, tmp_path):
    """T3 semantics on a live stream: with delay=0 every row older than the
    running max is captured as late; totals must add up."""
    captured = {"late": 0, "on_time": 0}

    cap = LateDataCapture(
        delay_ms=0,
        ts_col="event_ts",
        on_time=lambda df, _id: captured.__setitem__(
            "on_time", captured["on_time"] + df.count()
        ),
        late=lambda df, _id: captured.__setitem__(
            "late", captured["late"] + df.count()
        ),
    )
    stream = _chunk_stream(spark, chunked_events_dir).withColumn(
        "event_ts", F.timestamp_millis("ts_ms")
    )
    q = (
        stream.writeStream.foreachBatch(cap)
        .option("checkpointLocation", _fresh_dir(tmp_path, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    total = load_table(spark, SF_DIR, "events").where(F.col("event_id") < 3000).count()
    assert captured["on_time"] + captured["late"] == total
    # chunks are time-ordered, so nothing should be late across batches
    assert captured["late"] == 0


def test_idempotent_sink_skips_replayed_batches(spark, chunked_events_dir, tmp_path):
    """K2 remedy: re-delivered micro-batches (same batch_id) must not
    double-write. Simulate the at-least-once retry by invoking the sink
    again with the same ids after the run."""
    from apache_flink_datastream_api_spark.streaming.exactly_once import (
        IdempotentBatchSink,
    )

    delivered: list[tuple[int, int]] = []  # (batch_id, row_count)
    sink = IdempotentBatchSink(
        lambda df, bid: delivered.append((bid, df.count())),
        _fresh_dir(tmp_path, "commits"),
    )
    q = (
        _chunk_stream(spark, chunked_events_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _fresh_dir(tmp_path, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    first = list(delivered)
    assert len(first) == 3  # one per chunk file
    total = sum(n for _, n in first)
    assert total == load_table(spark, SF_DIR, "events").where(F.col("event_id") < 3000).count()

    # retry every batch: all must be skipped
    batch = load_table(spark, SF_DIR, "events").limit(5)
    for bid, _ in first:
        sink(batch, bid)
    assert delivered == first
    # a genuinely new epoch still writes
    sink(batch, 999)
    assert delivered[-1] == (999, 5)


def test_drop_duplicates_within_watermark(spark, chunked_events_dir):
    """Streaming dedup with BOUNDED state: duplicates injected within the
    watermark horizon collapse; state for expired keys is dropped."""
    stream = _chunk_stream(spark, chunked_events_dir).withColumn(
        "event_ts", F.timestamp_millis("ts_ms")
    )
    doubled = stream.unionByName(stream)  # every row twice, same micro-batch set
    deduped = (
        doubled.withWatermark("event_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = run_available_now(deduped, spark, mode="append").count()
    want = load_table(spark, SF_DIR, "events").where(F.col("event_id") < 3000).count()
    assert got == want


def test_csv_file_sink_roundtrip(spark, chunked_events_dir, tmp_path):
    """K1: streaming file sink writes exactly the input rows."""
    out = _fresh_dir(tmp_path, "sink")
    stream = _chunk_stream(spark, chunked_events_dir)
    q = to_csv_files(
        stream.selectExpr("event_id", "user_id"),
        out,
        _fresh_dir(tmp_path, "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    back = spark.read.schema("event_id long, user_id long").csv(out)
    expected = (
        load_table(spark, SF_DIR, "events").where(F.col("event_id") < 3000).count()
    )
    assert back.count() == expected


def test_idle_timer_batching_invariant(spark, chunked_events_dir):
    """EventTimeTimeout bursts: replaying the same rows as 3 micro-batches
    or as one batch must emit the identical burst set (timers + inline
    closes compose to the same sessionization; the final watermark flush
    makes the result batching-invariant)."""
    from apache_flink_datastream_api_spark.streaming.state import idle_alerts

    gap = 6 * 3_600_000

    def run(max_files):
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .csv(chunked_events_dir)
            .withColumn("event_ts", F.timestamp_millis("ts_ms"))
            .withWatermark("event_ts", "0 seconds")
        )
        out = run_available_now(idle_alerts(stream, gap), spark, mode="update")
        return _sorted_rows(out, ["user_id", "last_ts_ms", "n_events"])

    chunked, single = run(1), run(3)
    assert chunked == single
    assert len(chunked) > 0


def test_x1_on_rocksdb_state_store(spark, chunked_events_dir):
    """The scale-path state backend: the same stateful query on the
    RocksDB state store provider must produce byte-identical output to
    the default HDFS-backed store. Runs in a cloned session so the
    provider conf doesn't leak into other tests."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = (
        s2.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .csv(chunked_events_dir)
        .where(F.col("event_type") == "error")
    )
    got = run_available_now(
        interval_alerts(stream, dataflow.ALERT_THRESHOLD_MS), s2, mode="update"
    )
    default_stream = _chunk_stream(spark, chunked_events_dir).where(
        F.col("event_type") == "error"
    )
    want = run_available_now(
        interval_alerts(default_stream, dataflow.ALERT_THRESHOLD_MS), spark,
        mode="update",
    )
    cols = ["user_id", "ts_ms", "diff_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() > 0


def test_chained_windows_batching_invariant(spark, chunked_events_dir):
    """The chained two-stage windowed aggregation must emit the same final
    rows whether the input replays as 1 micro-batch or 3 — append-mode
    emission depends only on the final watermark, not batch boundaries."""
    def run(max_files):
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .csv(chunked_events_dir)
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        first = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
            .agg(F.count("*").alias("cnt"))
        )
        second = (
            first.groupBy(F.window("w15", "1 hour").alias("w60"), "event_type")
            .agg(F.sum("cnt").alias("total"))
            .select(
                F.unix_millis("w60.start").alias("ws"), "event_type", "total"
            )
        )
        return _sorted_rows(
            run_available_now(second, spark, mode="append"),
            ["ws", "event_type", "total"],
        )

    one = run(1000)
    three = run(1)
    assert one == three
    assert len(one) > 0


def test_join_then_window_batching_invariant(spark, chunked_events_dir):
    """j2: a watermarked interval join feeding an append windowed agg
    (two state stores in one query) must produce the same finalized
    windows whether the input replays as 1 micro-batch or 3."""
    def run(max_files):
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .csv(chunked_events_dir)
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        views = (
            stream.where(F.col("event_type") == "view")
            .selectExpr("user_id AS v_user", "ts AS v_ts")
            .withWatermark("v_ts", "30 minutes")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .selectExpr("user_id AS p_user", "ts AS p_ts")
            .withWatermark("p_ts", "30 minutes")
        )
        joined = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        agg = (
            joined.groupBy(F.window("v_ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.unix_millis("w.start").alias("ws"), "n")
        )
        return _sorted_rows(
            run_available_now(agg, spark, mode="append"), ["ws", "n"]
        )

    one = run(1000)
    three = run(1)
    assert one == three
    assert len(one) > 0


def test_state_restored_across_query_restart(spark, tmp_path):
    """Stop/restart durability: a second run over the SAME checkpoint must
    (a) not reprocess the first run's files and (b) restore keyed state —
    proven by an alert whose two deletes straddle the restart, which can
    only fire from restored last-delete state."""
    src = _fresh_dir(tmp_path, "restart_src")
    ckpt = _fresh_dir(tmp_path, "restart_ckpt")
    t0 = 1_700_000_000_000
    with open(os.path.join(src, "f0.csv"), "w") as fh:
        fh.write(f"1,7,error,{t0}\n")
        fh.write(f"2,7,error,{t0 + 5000}\n")

    def run_once(name):
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA).csv(src)
            .where(F.col("event_type") == "error")
        )
        got = []

        def sink(df, _):
            got.extend((r.user_id, r.diff_ms) for r in df.collect())

        q = (
            interval_alerts(stream, 10_000)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return set(got)

    first = run_once("restart_run1")
    assert first == {(7, 5000)}

    with open(os.path.join(src, "f1.csv"), "w") as fh:
        fh.write(f"3,7,error,{t0 + 12_000}\n")
        fh.write(f"4,7,error,{t0 + 15_000}\n")

    second = run_once("restart_run2")
    # 7000 spans the restart: requires last_ts from the restored state.
    # f0's alert must NOT reappear (its batch is committed in the log).
    assert second == {(7, 7000), (7, 3000)}


def test_streaming_upsert_snapshot_sink(spark, tmp_path):
    """Incremental view maintenance: a streaming per-user aggregate
    foreachBatch-merged into a parquet snapshot (last-writer-wins on the
    key) must converge to the batch answer — the streaming upsert sink
    every serving layer needs when no table format is available."""
    src = _fresh_dir(tmp_path, "upsert_src")
    snap = os.path.join(_fresh_dir(tmp_path, "upsert_snap"), "totals")
    rows = [(i, f"u{i % 3}", 10 * (i + 1)) for i in range(30)]
    for chunk in range(3):
        with open(os.path.join(src, f"f{chunk}.csv"), "w") as fh:
            for i, u, d in rows[chunk * 10 : (chunk + 1) * 10]:
                fh.write(f"{i},{u},{d}\n")

    def merge_batch(batch_df, _):
        updates = batch_df.groupBy("user").agg(
            F.sum("duration").alias("delta")
        )
        try:
            current = spark.read.parquet(snap).withColumnRenamed("total", "old")
        except Exception:
            current = None
        if current is None:
            merged = updates.selectExpr("user", "delta AS total")
        else:
            merged = (
                current.join(updates, "user", "full_outer")
                .selectExpr(
                    "user",
                    "coalesce(old, 0) + coalesce(delta, 0) AS total",
                )
            )
        out = merged.collect()  # tiny snapshot; rewrite atomically
        spark.createDataFrame(out, "user string, total bigint").coalesce(1) \
            .write.mode("overwrite").parquet(snap)

    stream = (
        spark.readStream.schema("id long, user string, duration long")
        .option("maxFilesPerTrigger", 1)
        .csv(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", _fresh_dir(tmp_path, "upsert_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {(r.user, r.total) for r in spark.read.parquet(snap).collect()}
    want = {
        (u, sum(d for _, uu, d in rows if uu == u))
        for u in {"u0", "u1", "u2"}
    }
    assert got == want


def test_x4_debounce_state_survives_micro_batches(spark, chunked_events_dir):
    """Debounce suppression spanning a batch boundary (an event early in
    chunk N+1 within the gap of one late in chunk N) requires the
    last-raw-ts state to persist; 3-batch replay must equal the batch
    lag() analog on the same subset."""
    from apache_flink_datastream_api_spark.streaming.state import debounced_events

    # gap wide enough that the sparse sf0.001 fixture actually suppresses
    # events, including across the chunk boundaries
    gap_ms = 12 * 3600 * 1000
    stream = _chunk_stream(spark, chunked_events_dir)
    got = run_available_now(debounced_events(stream, gap_ms), spark,
                            mode="update")
    e = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") < 3000)
        .selectExpr("user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_ms", "event_id")
    want = (
        e.withColumn("prev", F.lag("ts_ms").over(w))
        .where(F.col("prev").isNull()
               | (F.col("ts_ms") - F.col("prev") > gap_ms))
        .select("user_id", "event_type", "ts_ms")
    )
    cols = ["user_id", "event_type", "ts_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() < e.count(), "fixture never triggered a suppression"


def test_x5_cep_state_survives_micro_batches(spark, chunked_events_dir):
    """A view late in chunk N matching a purchase early in chunk N+1
    requires the pending-view state to persist; 3-batch replay must equal
    the single-pass batch automaton on the same subset."""
    from apache_flink_datastream_api_spark.streaming.state import (
        _NO_PENDING, cep_followed_by, cep_scan,
    )

    within_ms = 48 * 3600 * 1000  # wide enough for sparse sf0.001 matches
    stream = _chunk_stream(spark, chunked_events_dir).where(
        F.col("event_type").isin("view", "purchase")
    )
    got = run_available_now(cep_followed_by(stream, within_ms), spark,
                            mode="update")

    rows = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") < 3000)
        .where(F.col("event_type").isin("view", "purchase"))
        .selectExpr("user_id", "unix_millis(ts) AS ts_ms", "event_id", "event_type")
        .orderBy("user_id", "ts_ms", "event_id")
        .collect()
    )
    want = []
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, seq in by_user.items():
        pairs, _ = cep_scan(
            [r.ts_ms for r in seq], [r.event_type for r in seq],
            within_ms, _NO_PENDING,
        )
        want += [(uid, v, p, p - v) for v, p in pairs]
    cols = ["user_id", "view_ts_ms", "purchase_ts_ms", "gap_ms"]
    assert _sorted_rows(got, cols) == sorted(want)
    assert got.count() > 0, "fixture produced no CEP matches"


def test_w8_count_window_state_survives_micro_batches(spark, chunked_events_dir):
    """A count window filling ACROSS a chunk boundary requires the open
    window's partial aggregate to persist; 3-batch replay must equal the
    batch row_number() div N analog on the same subset."""
    from apache_flink_datastream_api_spark.operators.dataflow import COUNT_WINDOW_N
    from apache_flink_datastream_api_spark.streaming.state import count_windows

    stream = _chunk_stream(spark, chunked_events_dir).selectExpr(
        "user_id", "ts_ms", "CAST(0 AS BIGINT) AS cents", "event_id"
    )
    got = run_available_now(count_windows(stream, COUNT_WINDOW_N), spark,
                            mode="update")
    e = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") < 3000)
        .selectExpr("user_id", "unix_millis(ts) AS ts_ms", "event_id")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    want = (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("win_idx", F.expr(f"(rn - 1) div {COUNT_WINDOW_N}"))
        .groupBy("user_id", "win_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_ms").alias("start_ts_ms"),
            F.max("ts_ms").alias("end_ts_ms"),
        )
        .where(F.col("n_events") == COUNT_WINDOW_N)
    )
    cols = ["user_id", "win_idx", "n_events", "start_ts_ms", "end_ts_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() > 0, "fixture filled no count windows"


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Incremental recovery: a stopped availableNow query re-started on
    the SAME checkpoint must process only files that arrived since —
    carrying keyed state across the restart (an alert whose two events
    straddle the stop/resume boundary still fires exactly once)."""
    import os as _os

    from apache_flink_datastream_api_spark.streaming.state import interval_alerts

    src = _fresh_dir(tmp_path, "resume_src")
    ckpt = _fresh_dir(tmp_path, "resume_ckpt")
    rows1 = [(1, 100, "error", 1_000_000)]
    rows2 = [(2, 100, "error", 1_004_000),   # within 10s of event 1 -> alert
             (3, 200, "error", 9_000_000)]
    with open(_os.path.join(src, "a.csv"), "w") as f:
        for r in rows1:
            f.write(",".join(map(str, r)) + "\n")

    out_dir = _fresh_dir(tmp_path, "resume_out")

    def run_once():
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA).csv(src)
            .where(F.col("event_type") == "error")
        )

        # memory sink refuses checkpoint recovery; foreachBatch supports it
        def sink(batch, batch_id):
            if batch.count():
                batch.write.mode("append").parquet(out_dir)

        q = (
            interval_alerts(stream, 10_000)
            .writeStream.outputMode("update").foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        try:
            return [tuple(r) for r in spark.read.parquet(out_dir).collect()]
        except Exception:
            return []  # nothing written yet

    first = run_once()
    assert first == [], f"no alert possible from one event, got {first}"

    with open(_os.path.join(src, "b.csv"), "w") as f:
        for r in rows2:
            f.write(",".join(map(str, r)) + "\n")
    second = run_once()
    # the cross-restart pair (events 1+2) fires exactly once, nothing else
    assert second == [(100, 1_004_000, 4_000)], second


def test_t2_stalled_watermark_divergence(spark, tmp_path):
    """Pin the ONE place Spark's watermark semantics observably diverge from
    the reference's punctuated assigner (chapter4/EventTimeOperations.java:
    98-120): the reference emits watermark = WALL CLOCK - 2 s refreshed every
    10 s, so an IDLE source still closes windows; Spark's watermark is
    max(event_ts) - delay, derived from data only, so it STALLS when no new
    max arrives. This asserts the stalled behavior instead of narrating it:

    1. run 1 (events up to t=5 s): window [0,10 s) open, nothing emitted;
    2. run 2 (one LATE row, max unchanged — 'idle'): still nothing emitted
       (the reference's wall-clock assigner would have closed the window by
       now), and the late row is absorbed into the still-open window state;
    3. run 3 (row at t=25 s): watermark jumps to 23 s, window [0,10 s)
       finalizes and emits WITH the late row counted.
    """
    d = _fresh_dir(tmp_path, "t2src")
    ckpt = _fresh_dir(tmp_path, "t2ckpt")
    emitted: list[tuple[int, int]] = []

    def write_chunk(i, rows):
        path = os.path.join(d, f"c{i}.csv")
        with open(path, "w") as f:
            for r in rows:
                f.write(",".join(map(str, r)) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    def run_once():
        agg = (
            _chunk_stream(spark, d)
            .withColumn("event_ts", F.timestamp_millis("ts_ms"))
            .withWatermark("event_ts", "2 seconds")
            .groupBy(F.window("event_ts", "10 seconds"))
            .agg(F.count("*").alias("n"))
            .selectExpr("unix_millis(window.start) AS win_start_ms", "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, _id: emitted.extend(
                    (r.win_start_ms, r.n) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write_chunk(0, [(1, 1, "view", 1000), (2, 1, "view", 2000), (3, 1, "view", 5000)])
    run_once()
    assert emitted == []  # watermark = 3 s; [0,10 s) open and withheld

    write_chunk(1, [(4, 1, "view", 2500)])  # late vs wm, max event time unchanged
    run_once()
    assert emitted == []  # STALLED: Flink's wall-clock assigner would emit here

    write_chunk(2, [(5, 1, "view", 25_000)])
    run_once()
    assert emitted == [(0, 4)]  # closed by data, late row included


KAFKA_BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")


@pytest.mark.skipif(
    not KAFKA_BOOTSTRAP,
    reason="S2/K2 need a broker: set KAFKA_BOOTSTRAP=host:port to run",
)
def test_kafka_roundtrip_s2_k2(spark, chunked_events_dir, tmp_path):
    """S2 + K2 end-to-end where a broker exists (none in this sandbox):
    stream the chunked events INTO a topic via to_kafka, read them back with
    kafka_lines, and compare payload sets."""
    import uuid

    from apache_flink_datastream_api_spark.streaming.sources import kafka_lines
    from apache_flink_datastream_api_spark.streaming.sinks import to_kafka

    topic = f"sparkgraft_{uuid.uuid4().hex[:12]}"
    payload = _chunk_stream(spark, chunked_events_dir).selectExpr(
        "CAST(event_id AS STRING) AS key",
        "concat_ws(',', event_id, user_id, event_type, ts_ms) AS value",
    )
    wq = to_kafka(
        payload, topic, KAFKA_BOOTSTRAP, _fresh_dir(tmp_path, "kckpt"),
        available_now=True,
    )
    assert wq.awaitTermination(300), "kafka writer did not finish in 300s"

    got = (
        kafka_lines(spark, topic, KAFKA_BOOTSTRAP, starting_offsets="earliest")
        .writeStream.format("memory")
        .queryName(f"kafka_rt_{topic}")
        .trigger(availableNow=True)
        .start()
    )
    assert got.awaitTermination(300), "kafka reader did not finish in 300s"
    read_back = {
        r.value for r in spark.sql(f"SELECT value FROM kafka_rt_{topic}").collect()
    }
    spark.catalog.dropTempView(f"kafka_rt_{topic}")
    want = {
        f"{r.event_id},{r.user_id},{r.event_type},{r.ts_ms}"
        for r in spark.read.schema(CHUNK_SCHEMA).csv(chunked_events_dir).collect()
    }
    assert read_back == want


def test_x6_rule_state_survives_micro_batches(spark, chunked_events_dir):
    """Broadcast-state parity: a rule row late in chunk N must govern data
    rows early in chunk N+1, so the per-type threshold ValueState has to
    persist across micro-batches; the 3-batch replay must equal the batch
    IGNORE-NULLS window carry on the same subset."""
    from apache_flink_datastream_api_spark.streaming.state import rule_filtered_events

    default_cents = 5000
    # cents derived from event_id so both sides compute identical payloads
    derive = [
        "event_type", "ts_ms", "event_id",
        "event_id * 37 % 10000 AS cents",
        "event_id % 10 = 0 AS is_rule",
    ]
    stream = _chunk_stream(spark, chunked_events_dir).selectExpr(*derive)
    got = run_available_now(
        rule_filtered_events(stream, default_cents), spark, mode="update"
    )
    e = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") < 3000)
        .selectExpr("event_type", "unix_millis(ts) AS ts_ms", "event_id")
        .selectExpr(*derive)
    )
    from pyspark.sql import Window
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rule_c = F.expr("CASE WHEN is_rule THEN cents END")
    want = (
        e.withColumn(
            "threshold_cents",
            F.coalesce(F.last(rule_c, ignorenulls=True).over(w),
                       F.lit(default_cents).cast("long")),
        )
        .where("NOT is_rule")
        .where(F.col("cents") >= F.col("threshold_cents"))
        .select("event_type", "ts_ms", "event_id", "cents", "threshold_cents")
    )
    cols = ["event_type", "ts_ms", "event_id", "cents", "threshold_cents"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    # the fixture must actually exercise BOTH paths: some alerts, some not
    n_alerts, n_data = got.count(), e.where("NOT is_rule").count()
    assert 0 < n_alerts < n_data


def test_lambda_backfill_plus_stream_tail_equals_batch(spark, chunked_events_dir, tmp_path):
    """The lambda-architecture seam: a batch BACKFILL over history plus a
    streaming TAIL whose window overlaps the backfill boundary (the
    standard at-least-once handoff) must reconcile to exactly the batch
    truth after event_id dedup — no loss at the seam, no double count."""
    import shutil

    files = sorted(
        f for f in os.listdir(chunked_events_dir) if f.endswith(".csv")
    )
    assert len(files) == 3
    tail_dir = _fresh_dir(tmp_path, "lambda_tail")
    for i, f in enumerate(files[1:]):  # chunks 1+2: overlaps history's chunk 1
        dst = os.path.join(tail_dir, f)
        shutil.copy(os.path.join(chunked_events_dir, f), dst)
        os.utime(dst, (2_000_000 + i, 2_000_000 + i))

    history = spark.read.schema(CHUNK_SCHEMA).csv(
        [os.path.join(chunked_events_dir, f) for f in files[:2]]
    )
    streamed_rows = []
    q = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1).csv(tail_dir)
        .writeStream.foreachBatch(
            lambda df, _id: streamed_rows.extend(
                (r.event_id, r.user_id, r.event_type, r.ts_ms)
                for r in df.collect()
            )
        )
        .option("checkpointLocation", _fresh_dir(tmp_path, "lckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    tail_df = spark.createDataFrame(streamed_rows, CHUNK_SCHEMA)
    merged = history.unionAll(tail_df).dropDuplicates(["event_id"])
    full = spark.read.schema(CHUNK_SCHEMA).csv(chunked_events_dir)

    hist_ids = {r.event_id for r in history.select("event_id").collect()}
    tail_ids = {t[0] for t in streamed_rows}
    assert hist_ids & tail_ids, "no overlap at the seam — test is vacuous"
    cols = ["event_id", "user_id", "event_type", "ts_ms"]
    assert _sorted_rows(merged, cols) == _sorted_rows(full, cols)


def test_stream_stream_join_state_is_watermark_bounded(spark, chunked_events_dir, tmp_path):
    """The 100 TB claim behind every watermarked stream-stream join --
     'state on both sides is bounded by the watermark' -- asserted against
    the actual state store instead of narrated: after a 3-batch replay,
    rows older than (previous batch's watermark - join interval) must
    have been EVICTED from the left side, and only the recent tail may
    remain."""
    interval_ms = 10 * 60 * 1000
    wm_ms = 60 * 60 * 1000
    stream = _chunk_stream(spark, chunked_events_dir).withColumn(
        "event_ts", F.timestamp_millis("ts_ms")
    )
    views = (
        stream.where("event_type = 'view'")
        .selectExpr("user_id AS v_user", "event_ts AS v_ts")
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        stream.where("event_type = 'purchase'")
        .selectExpr("user_id AS p_user", "event_ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    ckpt = _fresh_dir(tmp_path, "ssjb")
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    state = (
        spark.read.format("statestore")
        .option("path", ckpt).option("joinSide", "left").load()
        .selectExpr("unix_millis(value.v_ts) AS v_ts_ms")
    )
    retained = [r.v_ts_ms for r in state.collect()]

    ev = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") < 3000)
        .selectExpr("unix_millis(ts) AS ts_ms", "event_type")
        .orderBy("ts_ms")
        .collect()
    )
    n_views = sum(1 for r in ev if r.event_type == "view")
    # eviction in batch N uses batch N-1's watermark: rows can only survive
    # if v_ts + interval >= max_ts(chunks 0-1) - delay
    chunk2_start = ev[2 * len(ev) // 3].ts_ms
    wm_floor = max(t.ts_ms for t in ev[: 2 * len(ev) // 3]) - wm_ms - interval_ms
    assert retained, "empty state — join never buffered anything"
    assert len(retained) < n_views / 2, (len(retained), n_views)
    assert min(retained) >= wm_floor, (min(retained), wm_floor)
    # and the tail the watermark has NOT passed must still be there
    assert any(t >= chunk2_start for t in retained)


def test_x1_value_state_readback_matches_batch(spark, chunked_events_dir, tmp_path):
    """State-Processor-API parity for the CUSTOM stateful operator (the
    statestore_read_agg query covers the built-in aggregation): after
    draining x1 interval alerts, each key's ValueState read back through
    the statestore source must hold exactly the batch max(ts_ms) for that
    key — state content correctness, not just output correctness."""
    from apache_flink_datastream_api_spark.streaming.state import interval_alerts

    stream = _chunk_stream(spark, chunked_events_dir)
    ckpt = _fresh_dir(tmp_path, "x1rb")
    q = (
        interval_alerts(stream, 5000)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.user_id: r.last_ts
        for r in (
            spark.read.format("statestore").option("path", ckpt).load()
            .selectExpr("key.user_id AS user_id",
                        "value.groupState.last_ts AS last_ts")
            .collect()
        )
    }
    want = {
        r.user_id: r.m
        for r in (
            load_table(spark, SF_DIR, "events")
            .where(F.col("event_id") < 3000)
            .groupBy("user_id")
            .agg(F.max(F.unix_millis("ts")).alias("m"))
            .collect()
        )
    }
    assert got == want


def test_transform_with_state_gated(spark):
    """Spark 4 transformWithStateInPandas spend tracker vs the batch
    GROUP BY. ENVIRONMENT-GATED like the Kafka tests: the API's state
    protocol needs google.protobuf, which this container doesn't ship —
    skips cleanly here, runs end-to-end wherever protobuf exists."""
    import pytest

    from apache_flink_datastream_api_spark.streaming.queries import (
        _protobuf_available, x9_transform_with_state)

    if not _protobuf_available():
        pytest.skip("google.protobuf not installed (transformWithState "
                    "state protocol requires it; installs are off-limits)")
    from .conftest import SF_DIR

    from apache_flink_datastream_api_spark.sources.tables import load_table

    got = {r.user_id: (r.n_events, r.cents_sum, r.cents_max)
           for r in x9_transform_with_state(spark, SF_DIR).collect()}
    want = {r.user_id: (r.n_events, r.cents_sum, r.cents_max)
            for r in load_table(spark, SF_DIR, "events").selectExpr(
                "user_id", "CAST(round(value * 100) AS BIGINT) AS cents")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("cents_sum"),
                 F.max("cents").alias("cents_max")).collect()}
    assert got == want


def test_x8_neardup_kept_set_equals_batch_lsh_selection(spark):
    """The streaming near-dup filter's kept set must equal the batch
    canonical selection: every doc that is never the LATER side (doc_b)
    of a dedup_minhash_lsh candidate pair survives, everything else is
    dropped at ingest."""
    from apache_flink_datastream_api_spark.operators.dedup import dedup_minhash_lsh
    from apache_flink_datastream_api_spark.streaming.queries import x8_neardup_stream

    kept = {r.doc_id for r in x8_neardup_stream(spark, SF_DIR).collect()}
    dups = {
        r.doc_b
        for r in dedup_minhash_lsh(spark, SF_DIR).select("doc_b").distinct().collect()
    }
    all_ids = {
        r.doc_id
        for r in load_table(spark, SF_DIR, "documents").select("doc_id").collect()
    }
    assert kept == all_ids - dups


def test_x8_neardup_owner_state_survives_micro_batches(spark, tmp_path):
    """Split the documents across two files and replay one file per
    micro-batch: batch-2 documents must still be deduped against batch-1
    bucket owners (state store), yielding the same kept set as the
    single-batch replay."""
    from apache_flink_datastream_api_spark.streaming.queries import (
        neardup_band_rows,
        neardup_bucket_state,
        neardup_kept_from_drain,
        x8_neardup_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text").toPandas().sort_values("doc_id")
    half = len(docs) // 2
    stream_dir = _fresh_dir(tmp_path, "neardup_chunks")
    docs.iloc[:half].to_parquet(os.path.join(stream_dir, "a.parquet"), index=False)
    docs.iloc[half:].to_parquet(os.path.join(stream_dir, "b.parquet"), index=False)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stream_dir)
    )
    out = run_available_now(neardup_bucket_state(stream), spark, mode="update")
    # Bounded-state contract: the store row per bucket is one bigint
    # owner — no collection-typed column whose size grows with bucket
    # membership (the hot-LSH-bucket skew hazard).
    assert not any(
        isinstance(f.dataType, (T.ArrayType, T.MapType)) for f in out.schema.fields
    )
    batch_docs = spark.read.schema(schema).parquet(stream_dir)
    kept_chunked = {
        r.doc_id
        for r in neardup_kept_from_drain(out, neardup_band_rows(batch_docs)).collect()
    }
    kept_single = {r.doc_id for r in x8_neardup_stream(spark, SF_DIR).collect()}
    assert kept_chunked == kept_single


def test_stream_source_dir_restamps_tied_part_mtimes(tmp_path):
    """Micro-batch replay order under maxFilesPerTrigger follows the part
    files' MILLISECOND mtimes; tied/reordered stamps would silently drop
    time-sliced events files as late data (ADVICE r5). _stream_source_dir
    must re-stamp strictly increasing mtimes in part-name order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_flink_datastream_api_spark.streaming.queries import (
        _stream_source_dir,
    )

    src = tmp_path / "events.parquet"
    src.mkdir()
    t = pa.table({"x": [1]})
    same_ns = 1_700_000_000_000 * 1_000_000
    for i in range(3):
        p = src / f"part-{i:04d}.parquet"
        pq.write_table(t, str(p))
        os.utime(p, ns=(same_ns, same_ns))  # all parts tie at ms resolution

    stream_dir = _stream_source_dir(str(tmp_path), "events")
    links = sorted(os.listdir(stream_dir))
    assert links == [f"part-{i:04d}.parquet" for i in range(3)]
    # symlink targets (what the file source stats) now strictly increase
    ms = [
        os.stat(os.path.join(stream_dir, p)).st_mtime_ns // 1_000_000
        for p in links
    ]
    assert all(b > a for a, b in zip(ms, ms[1:])), ms
    # one dir per source layout: a second call reuses it
    assert _stream_source_dir(str(tmp_path), "events") == stream_dir
    shutil.rmtree(stream_dir)


def test_stream_source_dir_concurrent_callers_share_one_dir(tmp_path):
    """Concurrent first calls for one source layout all get the same
    complete symlink dir, and the losers' build dirs are removed."""
    import glob
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_flink_datastream_api_spark.streaming.queries import (
        _stream_source_dir,
    )

    src = tmp_path / "events.parquet"
    src.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"x": [i]}), str(src / f"part-{i:04d}.parquet"))
    got, errors = [], []
    start = threading.Barrier(16)
    # Build dirs an earlier run left for this same path are not this run's.
    pattern = os.path.join(tempfile.gettempdir(), ".events_stream_*")
    before = set(glob.glob(pattern))

    def call():
        start.wait(timeout=60)
        try:
            got.append(_stream_source_dir(str(tmp_path), "events"))
        except Exception as ex:  # reported by the assertion below
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 16 and len(set(got)) == 1, got
    stream_dir = got[0]
    assert sorted(os.listdir(stream_dir)) == [
        f"part-{i:04d}.parquet" for i in range(3)]
    leftovers = [
        d for d in set(glob.glob(pattern)) - before
        if any(os.readlink(os.path.join(d, p)).startswith(str(src))
               for p in os.listdir(d))
    ]
    shutil.rmtree(stream_dir)
    assert not leftovers, leftovers


def test_watermark_bounded_state_invariant(spark, tmp_path):
    """The j2 sf1 OOM fix as a pinned number (VERDICT r5 item 4): over a
    multi-file (time-sliced) replay, a windowed AGGREGATE holds ~constant
    state (one row per open window) and a watermarked stream-stream JOIN
    buffers only the watermark-window fraction of the corpus, evicting
    between micro-batches — never the whole table."""
    import json

    import pytest

    leg = "testdata_scaled/sf0.1x"
    if not os.path.isdir(leg):
        pytest.skip("scaled multi-file leg not present")
    out = tmp_path / "state.jsonl"

    from apache_flink_datastream_api_spark.streaming.queries import (
        j2_join_then_window_stream,
        w3_sliding_stream,
    )
    from scripts.state_metrics import recording

    with recording(spark, str(out), "w3"):
        w3_sliding_stream(spark, leg).collect()
    with recording(spark, str(out), "j2"):
        j2_join_then_window_stream(spark, leg).collect()

    recs = [json.loads(l) for l in open(out)]
    w3 = next(r for r in recs if r["label"] == "w3")
    assert w3["n_batches"] > 1, "multi-file replay must run multiple batches"
    # one row per open window pane — constant, NOT proportional to corpus
    assert max(o["peak_rows"] for o in w3["operators"]) < 1_000, w3

    j2 = [r for r in recs if r["label"] == "j2"]
    join_ops = [
        o for r in j2 for o in r["operators"]
        if o["operator"] == "symmetricHashJoin"
    ]
    assert join_ops, j2
    rows_in = max(r["rows_in"] for r in j2)
    peak = max(o["peak_rows"] for o in join_ops)
    # watermark-window fraction of the corpus, never the whole table
    assert peak < 0.2 * rows_in, (peak, rows_in)
    # and state is actually EVICTED between micro-batches
    assert sum(o["rows_removed"] for o in join_ops) > 0, join_ops


def test_processing_time_timeout_flush(spark, tmp_path):
    """ProcessingTimeTimeout parity (Flink registerProcessingTimeTimer):
    a keyed buffer must flush exactly one (key, count) row once WALL
    CLOCK passes quiet_ms after the key's last arrival — fired by a
    no-data micro-batch, since no new files arrive after the first.
    Wall-clock outputs are not oracle material (SURVEY.md §4), so this
    pins the semantics instead: exact counts, exactly one flush per key,
    and state removed after the flush."""
    import time

    from apache_flink_datastream_api_spark.streaming.state import buffered_flush

    src = tmp_path / "flush_src"
    src.mkdir()
    (src / "part-000.csv").write_text(
        "".join(f"{uid},{i}\n" for i, uid in enumerate([7] * 5 + [11] * 3))
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).csv(str(src))
    flushed = buffered_flush(stream, quiet_ms=2_000)
    q = (
        flushed.writeStream.outputMode("append")
        .format("memory")
        .queryName("pt_flush")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if spark.table("pt_flush").count() >= 2:
                break
            time.sleep(0.5)
        rows = {r.user_id: r.n_events for r in spark.table("pt_flush").collect()}
        assert rows == {7: 5, 11: 3}, rows
        # exactly one flush per key — the timer removed its state, so no
        # second firing can occur while the query keeps running
        time.sleep(3.0)
        assert spark.table("pt_flush").count() == 2
    finally:
        q.stop()
        spark.catalog.dropTempView("pt_flush")


# --- W4/X4 append+watermark production twins (VERDICT r6 item 1) ------------

def test_append_session_watermark_tie_emitted(spark, tmp_path):
    """Pin the closed-session boundary: a session whose end equals the
    final watermark EXACTLY is flushed by availableNow's closing no-data
    batch (i.e. emission condition is end <= watermark, so the append
    oracles' <= restriction is the right one, not <)."""
    from apache_flink_datastream_api_spark.streaming.sinks import run_available_now

    # user 1 @ 1000 ms, gap 10 s -> session end 11000; user 2 @ 16000 ms;
    # delay 5 s -> final watermark = 16000 - 5000 = 11000 == user 1's end.
    pdir = str(tmp_path / "tie")
    spark.createDataFrame(
        [(1, 1000), (2, 16000)], "user_id INT, ts_ms LONG"
    ).coalesce(1).write.parquet(pdir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(pdir)
        .withColumn("ts", F.timestamp_millis("ts_ms"))
        .withWatermark("ts", "5 seconds")
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "10 seconds").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select("user_id", F.unix_millis("w.end").alias("end_ms"), "cnt")
    )
    out = run_available_now(agg, spark, mode="append").collect()
    # the tie session emitted; user 2's (end 26000 > wm 11000) held back
    assert sorted((r.user_id, r.end_ms) for r in out) == [(1, 11000)]


def test_append_session_multibatch_parity(spark, tmp_path):
    """Production contract of the append twins over a REAL multi-batch
    replay (time-sliced multi-file leg): the drained append-mode result
    equals the batch closed-session set, sessions are emitted
    incrementally (per-trigger sink rows sum to the total — complete
    mode would rewrite the cumulative table each trigger), and closed
    state is evicted."""
    import json

    leg = "testdata_scaled/sf0.1x"
    if not os.path.isdir(leg):
        pytest.skip("scaled multi-file leg not present")

    from apache_flink_datastream_api_spark.streaming.queries import (
        STREAM_WM_DELAY_MS,
        w4_session_append_stream,
    )

    from scripts.state_metrics import recording

    out = tmp_path / "state.jsonl"
    with recording(spark, str(out), "w4_append"):
        got = _sorted_rows(
            w4_session_append_stream(spark, leg),
            ["user_id", "session_start_ms", "session_end_ms", "cnt"],
        )

    # batch analog: same session_window plan on a batch read, restricted
    # to sessions the final watermark (max ts - delay) has closed
    e = load_table(spark, leg, "events").withColumn(
        "ts2", F.timestamp_millis(F.unix_millis("ts"))
    )
    wm = e.agg(
        (F.max(F.unix_millis("ts2")) - F.lit(STREAM_WM_DELAY_MS)).alias("wm")
    ).collect()[0].wm
    # NB: the closed-session filter must run AFTER materializing the
    # aggregate. Catalyst pushes post-agg predicates on session_window
    # output columns below the session MERGE (it treats session_window
    # like an ordinary grouping key), which drops constituent events
    # before merging and silently splits sessions — see
    # test_session_window_filter_pushdown_hazard.
    want_df = (
        e.groupBy("user_id", F.session_window("ts2", "6 hours").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "cnt",
        )
    )
    want = sorted(
        (r.user_id, r.session_start_ms, r.session_end_ms, r.cnt)
        for r in want_df.collect()
        if r.session_end_ms <= wm
    )
    assert got == want

    rec = next(
        json.loads(l) for l in open(out)
        if json.loads(l)["label"] == "w4_append"
    )
    assert rec["n_batches"] > 1, "multi-file replay must run multiple batches"
    sink_rows = [r for r in rec["sink_rows_per_batch"] if r >= 0]
    # append emits each session ONCE: per-trigger outputs sum to the total
    # (complete mode's final trigger alone would emit the full table)
    assert sum(sink_rows) == len(got), (sink_rows, len(got))
    assert max(sink_rows) < len(got), (sink_rows, len(got))
    # and closed-session state is actually evicted between micro-batches
    assert any(o["rows_removed"] > 0 for o in rec["operators"]), rec


def test_session_window_filter_pushdown_hazard(spark):
    """Engine sharp edge discovered in round 7: in BATCH mode, a filter
    on session_window output columns (start/end) written after the
    aggregation is pushed by Catalyst below the session MERGE — the raw
    per-row [ts, ts+gap) windows get filtered before merging, silently
    splitting sessions. (Streaming append mode is unaffected; the
    watermark eviction is inside the stateful operator.) This pin makes
    the hazard loud: the pushed-down form splits a 3-event session, the
    materialize-then-filter form keeps it whole. If a Spark upgrade
    fixes the pushdown, the first assertion flips and this test should
    be updated to say so."""
    rows = [(3, 0), (3, 7_000_000), (3, 12_000_000)]  # gaps < 6 h: ONE session
    df = spark.createDataFrame(rows, "user_id INT, ms LONG").withColumn(
        "ts2", F.timestamp_millis("ms")
    )
    agg = (
        df.groupBy("user_id", F.session_window("ts2", "6 hours").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("s"),
            F.unix_millis("w.end").alias("e"),
            "cnt",
        )
    )
    # cutoff between event 2's and event 3's raw window ends: a pushed-down
    # filter drops event 3 BEFORE merging and yields a 2-event session
    cutoff = 7_000_000 + 6 * 3600 * 1000 + 1
    pushed = agg.where(F.col("e") <= cutoff).collect()
    assert [(r.cnt, r.e) for r in pushed] == [(2, cutoff - 1)], (
        "Catalyst no longer pushes session-window filters below the merge; "
        f"update this pin and the workaround comments: {pushed}"
    )
    # correct form: materialize first, then filter
    whole = [r for r in agg.collect() if r.e <= cutoff]
    assert whole == []  # the true merged session ends later than the cutoff
    assert [(r.cnt, r.e) for r in agg.collect()] == [(3, 12_000_000 + 6 * 3600 * 1000)]


def test_j3_kill_and_resume_mid_replay(spark, tmp_path):
    """Production recovery contract at real state volume (VERDICT r6
    item 3): kill the TWO-state-store j3 funnel join mid-replay at the
    sf1 leg, restart from its checkpoint, and the drained file-sink
    result is identical to the uninterrupted run — no lost matches, no
    duplicates (the parquet sink's _spark_metadata commit log plus the
    join state stores recover exactly-once)."""
    import time

    from apache_flink_datastream_api_spark.streaming.queries import (
        _stream_source_dir,
        j3_pipeline,
    )

    leg = "testdata_scaled/sf1"
    if not os.path.isdir(leg):
        pytest.skip("scaled sf1 leg not present")

    cols = ["user_id", "view_ts_ms", "click_ts_ms", "purchase_ts_ms"]
    want = _sorted_rows(
        run_available_now(j3_pipeline(spark, leg), spark, mode="append"), cols
    )
    assert want, "fixture produced no funnel matches"

    # durable run: STABLE source dir (the offset log records absolute
    # paths) + durable checkpoint + exactly-once parquet sink
    sdir = _stream_source_dir(leg, "events")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        return (
            j3_pipeline(spark, leg, stream_dir=sdir)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    deadline = time.monotonic() + 300
    killed_at = -1
    while time.monotonic() < deadline:
        lp = q1.lastProgress
        if lp and lp["batchId"] >= 3:
            killed_at = lp["batchId"]
            break
        if not q1.isActive:  # replay finished before we could kill it
            break
        time.sleep(0.05)
    q1.stop()
    q1.awaitTermination(120)
    assert killed_at >= 0, "query finished before batch 3 - leg too small"

    t0 = time.monotonic()
    q2 = start()
    q2.awaitTermination(600)
    recovery_s = time.monotonic() - t0
    # the resumed query actually processed the remaining files
    assert q2.lastProgress is not None
    assert q2.lastProgress["batchId"] > killed_at
    print(f"\n[kill-resume] killed after batch {killed_at}, "
          f"recovery drain {recovery_s:.1f}s")

    got_df = spark.read.parquet(out)
    assert sorted(tuple(r) for r in got_df.select(*cols).collect()) == want


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_j3_first_touch_kill_and_resume_mid_replay(spark, tmp_path, provider):
    """Recovery contract for the FIVE-state-store chain (r8, extending
    the two-store j3 proof of r7): kill the first-touch funnel (3
    windowed min-aggs -> 2 stream-stream window joins) mid-replay at the
    sf1 leg, restart from its checkpoint, and the drained file-sink
    result is identical to the uninterrupted run. This is the recovery
    mode Spark 4's multiple-stateful-operator chains must survive in
    production: all five stores plus three source offset logs restore to
    one consistent cut. Parametrized over BOTH state-store providers —
    RocksDB recovery (changelog/snapshot reload from the checkpoint)
    is a different code path than the heap-backed store's delta files,
    and it is the one a 100 TB deployment runs."""
    import time

    from apache_flink_datastream_api_spark.streaming.queries import (
        _stream_source_dir,
        j3_first_touch_pipeline,
    )

    leg = "testdata_scaled/sf1"
    if not os.path.isdir(leg):
        pytest.skip("scaled sf1 leg not present")

    s = spark
    if provider == "rocksdb":
        # cloned session so the provider conf doesn't leak into others
        s = spark.newSession()
        s.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    cols = ["user_id", "bucket_ms", "view_ms", "click_ms", "purchase_ms"]
    want = _sorted_rows(
        run_available_now(
            j3_first_touch_pipeline(s, leg), s, mode="append"),
        cols,
    )
    assert want, "fixture produced no funnel firsts"

    # durable run: ONE stable source dir shared by all three sources
    # (offset logs record absolute paths) + durable checkpoint +
    # exactly-once parquet sink
    sdir = _stream_source_dir(leg, "events")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        return (
            j3_first_touch_pipeline(s, leg, stream_dir=sdir)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    deadline = time.monotonic() + 300
    killed_at = -1
    while time.monotonic() < deadline:
        lp = q1.lastProgress
        if lp and lp["batchId"] >= 3:
            killed_at = lp["batchId"]
            break
        if not q1.isActive:  # replay finished before we could kill it
            break
        time.sleep(0.05)
    q1.stop()
    q1.awaitTermination(120)
    assert killed_at >= 0, "query finished before batch 3 - leg too small"

    t0 = time.monotonic()
    q2 = start()
    q2.awaitTermination(600)
    recovery_s = time.monotonic() - t0
    assert q2.lastProgress is not None
    assert q2.lastProgress["batchId"] > killed_at
    print(f"\n[kill-resume j3_ft/{provider}] killed after batch "
          f"{killed_at}, recovery drain {recovery_s:.1f}s")

    got_df = s.read.parquet(out)
    assert sorted(tuple(r) for r in got_df.select(*cols).collect()) == want


# --- bounded drains fix their state partitions at query start ----------------

# query -> state partitions it must start with under a 16-partition session
DRAIN_PARTITIONS = {
    "w2_eventtime_stream": 8,
    "x8_neardup_stream": 4,
    "j3_first_touch_stream": 2,
    "x13_index_ingest_stream": 8,
    "s3_generator_stream": 4,
    "statestore_read_agg": 8,
}


@pytest.fixture
def started(spark, monkeypatch):
    """Session at 16 shuffle partitions; collects every query started."""
    from pyspark.sql.streaming import DataStreamWriter

    queries = []
    real_start = DataStreamWriter.start

    def _start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", _start)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    yield queries
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_query(spark, name):
    from apache_flink_datastream_api_spark.registry import all_queries

    return all_queries()[name].fn(spark, SF_DIR).collect()


def _state_partitions(queries) -> set[int]:
    return {
        so["numShufflePartitions"]
        for q in queries
        for p in q.recentProgress
        for so in p["stateOperators"]
    }


@pytest.mark.parametrize("name", sorted(DRAIN_PARTITIONS))
def test_drain_state_partitions_fixed_at_start(spark, started, name):
    """Each bounded drain's state stores get min(session, cap) partitions,
    and the session reads its own value afterwards: no query leaves
    shuffle.partitions changed for the batch work that follows."""
    _run_query(spark, name)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    assert started, f"{name} started no streaming query"
    assert _state_partitions(started) == {DRAIN_PARTITIONS[name]}


@pytest.mark.parametrize("name", ["w2_eventtime_stream", "j3_first_touch_stream"])
def test_stream_partitions_env_is_used_exactly(spark, started, monkeypatch, name):
    """SPARK_GRAFT_STREAM_PARTITIONS is the deployment's explicit choice:
    used as is, above a query's cap (j3_first_touch: 2) or below it
    (w2: 8)."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    _run_query(spark, name)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    assert _state_partitions(started) == {3}


@pytest.mark.parametrize("name", [
    "s3_generator_stream", "s3_generator_simple_stream",
    "s3_stateful_alert_stream",
])
def test_generator_drains_drop_their_memory_sink(spark, name):
    """A drain's memory-sink table is materialized and dropped: repeated
    calls in one long session leave nothing in the catalog."""
    before = {t.name for t in spark.catalog.listTables()}
    assert _run_query(spark, name)
    assert {t.name for t in spark.catalog.listTables()} == before


@pytest.mark.parametrize("table, old, new", [
    ("documents", "text", "body"), ("embeddings", "embedding", "vector"),
])
def test_table_stream_names_a_renamed_column(spark, tmp_path, table, old, new):
    """The documents and embeddings streams read through the declared
    schema: a renamed column fails naming it instead of streaming nulls."""
    import pyarrow.parquet as pq

    from apache_flink_datastream_api_spark.sources.tables import table_path
    from apache_flink_datastream_api_spark.streaming.queries import _table_stream

    t = pq.read_table(table_path(SF_DIR, table))
    pq.write_table(
        t.rename_columns([new if c == old else c for c in t.column_names]),
        str(tmp_path / f"{table}.parquet"))
    with pytest.raises(ValueError, match=f"'{old}'.*'{new}'"):
        _table_stream(spark, str(tmp_path), table)


# --- the bounded drain contract ----------------------------------------------

@pytest.fixture
def drain_source(tmp_path, monkeypatch):
    """A two-row CSV stream source; drains keep their checkpoints under
    ``tmp_path/drains``, which is returned with it."""
    from apache_flink_datastream_api_spark.streaming import sinks

    base = tmp_path / "drains"
    base.mkdir()
    monkeypatch.setattr(sinks, "SCRATCH_BASE", str(base))
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-000.csv").write_text("1\n2\n")
    return str(src), base


def test_drain_yields_stopped_query_and_deletes_its_checkpoint(spark, drain_source):
    from apache_flink_datastream_api_spark.streaming.sinks import drain

    src, base = drain_source
    stream = spark.readStream.schema("x long").csv(src)
    seen = []
    writer = stream.writeStream.foreachBatch(
        lambda df, _: seen.extend(r.x for r in df.collect()))
    with drain(writer, spark) as (q, ckpt):
        assert not q.isActive
        assert os.listdir(os.path.join(ckpt, "commits"))
    assert sorted(seen) == [1, 2]
    assert not os.listdir(base)
    assert not spark.streams.active


def test_failed_drain_reraises_and_leaves_no_checkpoint(spark, drain_source):
    from pyspark.errors import StreamingQueryException

    src, base = drain_source
    stream = spark.readStream.schema("x long").csv(src)
    boom = stream.select(
        F.when(F.col("x") > 1, F.raise_error(F.lit("drain failure probe")))
        .otherwise(F.col("x")).alias("x"))
    with pytest.raises(StreamingQueryException, match="drain failure probe"):
        run_available_now(boom, spark, mode="append")
    assert not os.listdir(base)
    assert not spark.streams.active


def test_failed_memory_drain_drops_its_view(spark, drain_source):
    """The memory sink's view is registered when its query starts, so a
    drain that fails must drop it too, or every failed replay leaves a
    table in the session catalog."""
    from pyspark.errors import StreamingQueryException

    src, _ = drain_source
    before = {t.name for t in spark.catalog.listTables()}
    stream = spark.readStream.schema("x long").csv(src)
    boom = stream.select(
        F.when(F.col("x") > 1, F.raise_error(F.lit("view leak probe")))
        .otherwise(F.col("x")).alias("x"))
    with pytest.raises(StreamingQueryException, match="view leak probe"):
        run_available_now(boom, spark, mode="append")
    assert {t.name for t in spark.catalog.listTables()} == before


# --- the keyed-state contract ------------------------------------------------

def _st(**fields) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields.items()])


_L, _S = T.LongType(), T.StringType()

# Each operator's applyInPandasWithState arguments, as its own StructTypes
# declared them before the operators shared ``keyed_state``: (output
# schema for a bigint user_id / string event_type key, state schema,
# output mode, timeout). A state schema is checkpoint format: a change
# makes existing checkpoints unreadable.
STATE_CONTRACT = {
    "interval_alerts": (
        _st(user_id=_L, ts_ms=_L, diff_ms=_L), _st(last_ts=_L),
        "update", "NoTimeout"),
    "idle_alerts": (
        _st(user_id=_L, last_ts_ms=_L, n_events=_L),
        _st(last_ts=_L, n_events=_L), "update", "EventTimeTimeout"),
    "buffered_flush": (
        _st(user_id=_L, n_events=_L), _st(n_events=_L),
        "append", "ProcessingTimeTimeout"),
    "session_durations": (
        _st(user_id=_L, action=_S, ts_ms=_L, duration_ms=_L),
        _st(last_action=_S, last_ts=_L), "update", "NoTimeout"),
    "debounced_events": (
        _st(user_id=_L, event_type=_S, ts_ms=_L),
        _st(types=T.ArrayType(_S), last_ts=T.ArrayType(_L)),
        "update", "NoTimeout"),
    "cep_followed_by": (
        _st(user_id=_L, view_ts_ms=_L, purchase_ts_ms=_L, gap_ms=_L),
        _st(pending_ts=_L), "update", "NoTimeout"),
    "count_windows": (
        _st(user_id=_L, win_idx=_L, n_events=_L, start_ts_ms=_L,
            end_ts_ms=_L, sum_cents=_L),
        _st(win_idx=_L, cnt=_L, sum_cents=_L, min_ts=_L, max_ts=_L),
        "update", "NoTimeout"),
    "rule_filtered_events": (
        _st(event_type=_S, ts_ms=_L, event_id=_L, cents=_L,
            threshold_cents=_L),
        _st(thr=_L), "update", "NoTimeout"),
    "zscore_alerts": (
        _st(user_id=_L, ts_ms=_L, cents=_L, n_prior=_L),
        _st(n=_L, s=_L, q=_L), "update", "NoTimeout"),
    "holt_smoother": (
        _st(user_id=_L, n_days=_L, level_micro=_L, trend_micro=_L,
            forecast_micro=_L),
        _st(last_day=_L, day_cents=_L, lvl=_L, trend=_L, n_days=_L),
        "update", "NoTimeout"),
    "cusum_detector": (
        _st(user_id=_L, n_events=_L, mu0_cents=_L, n_alarms=_L,
            first_alarm_idx=_L, s_pos=_L, s_neg=_L),
        _st(n_seen=_L, warm_sum=_L, mu0=_L, s_pos=_L, s_neg=_L,
            n_alarms=_L, first_alarm=_L),
        "update", "NoTimeout"),
    "token_bucket": (
        _st(user_id=_L, n_events=_L, n_accepted=_L, n_dropped=_L,
            tokens_milli=_L),
        _st(tokens=_L, last_ms=_L, n_events=_L, n_accepted=_L,
            n_dropped=_L),
        "update", "NoTimeout"),
}


def test_keyed_state_operators_keep_their_state_contract(spark, monkeypatch):
    from pyspark.sql.group import GroupedData

    from apache_flink_datastream_api_spark.streaming import state

    def as_struct(schema):
        return T.DataType.fromDDL(schema) if isinstance(schema, str) else schema

    calls = []

    def record(self, func, outputStructType, stateStructType, outputMode,
               timeoutConf):
        calls.append((as_struct(outputStructType), as_struct(stateStructType),
                      outputMode, timeoutConf))

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", record)
    df = spark.createDataFrame(
        [], "user_id bigint, event_type string, action string, ts_ms bigint, "
        "event_ts timestamp, event_id bigint, cents bigint, is_rule boolean")
    args = {
        "interval_alerts": (1_000,), "idle_alerts": (1_000,),
        "buffered_flush": (1_000,), "session_durations": ("purchase",),
        "debounced_events": (1_000,), "cep_followed_by": (1_000,),
        "count_windows": (10,), "rule_filtered_events": (100,),
        "zscore_alerts": (5, 9), "holt_smoother": (), "cusum_detector": (),
        "token_bucket": (),
    }
    got = {}
    for name, extra in args.items():
        getattr(state, name)(df, *extra)
        got[name] = calls.pop()
    assert got == STATE_CONTRACT


class _FoldState:
    """The part of ``GroupState`` the folds below use."""

    hasTimedOut = False

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _concat_sort_run(fold, names):
    """``keyed_state``'s per-key function as it was before ``_per_key``:
    always concat and sort, always build a frame."""

    def run(key, pdfs, st):
        rows = None
        if not st.hasTimedOut:
            rows = pd.concat(list(pdfs))
            rows = rows.sort_values(
                [c for c in ("ts_ms", "event_id") if c in rows.columns])
        yield pd.DataFrame([(key[0], *r) for r in fold(rows, st)], columns=names)

    return run


def _close_pairs(rows, state):
    """An interval alert: a row within 50 ms of the key's previous one."""
    last = state.get[0] if state.exists else None
    for ts in rows["ts_ms"]:
        if last is not None and ts - last < 50:
            yield int(ts), int(ts - last)
        last = int(ts)
    state.update((last,))


def _row_order(rows, state):
    """Every row, in the order the fold saw it, numbered across batches."""
    n = state.get[0] if state.exists else 0
    for r in rows.itertuples(index=False):
        yield (n, *(int(v) for v in r[1:]))
        n += 1
    state.update((n,))


@pytest.mark.parametrize("with_event_id", [True, False])
@pytest.mark.parametrize("fold", [_close_pairs, _row_order])
def test_keyed_state_per_key_run_matches_concat_and_sort(fold, with_event_id):
    """``_per_key`` skips the concat for one chunk, the sort for one row
    and the frame for a key with no output; over random chunked
    micro-batches whose sort keys are distinct, its output rows and state
    equal those of the always-concat-and-sort function."""
    import numpy as np

    from apache_flink_datastream_api_spark.streaming import state

    rng = np.random.default_rng(7)
    cols = ["user_id", "ts_ms", "event_id"] if with_event_id else ["user_id", "ts_ms"]
    sort_by = cols[1:]
    n_out = 2 if fold is _close_pairs else len(cols)
    names = ["user_id", *(f"o{i}" for i in range(n_out))]
    new_run, old_run = state._per_key(fold, names, sort_by), _concat_sort_run(fold, names)
    new_state, old_state = {}, {}
    new_out, old_out = [], []
    next_id = 0
    for _batch in range(6):
        for key in range(12):
            n = int(rng.integers(1, 7))
            # ts_ms ties only when event_id breaks them
            ts = (rng.integers(0, 4, n) if with_event_id
                  else rng.choice(400, n, replace=False)) * 30
            data = {"user_id": [key] * n, "ts_ms": ts.astype("int64")}
            if with_event_id:
                data["event_id"] = rng.permutation(np.arange(next_id, next_id + n))
                next_id += n
            rows = pd.DataFrame(data)[cols]
            cuts = sorted(rng.choice(np.arange(1, n), min(n - 1, int(rng.integers(0, 3))),
                                     replace=False)) if n > 1 else []
            bounds = [0, *cuts, n]
            chunks = [rows.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds, bounds[1:])]
            new_frames = list(new_run((key,), iter(chunks), new_state.setdefault(key, _FoldState())))
            old_frames = list(old_run((key,), iter(chunks), old_state.setdefault(key, _FoldState())))
            assert all(len(f) for f in new_frames)
            new_out += new_frames
            old_out += [f for f in old_frames if len(f)]
    assert {k: s.value for k, s in new_state.items()} == {k: s.value for k, s in old_state.items()}
    assert len(new_out) == len(old_out) > 0
    pd.testing.assert_frame_equal(pd.concat(new_out, ignore_index=True),
                                  pd.concat(old_out, ignore_index=True))


def test_keyed_state_is_the_only_apply_in_pandas_with_state_call():
    """Every per-key state machine runs through ``state.keyed_state``."""
    import ast
    import pathlib

    import apache_flink_datastream_api_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    calls = {}
    for path in sorted(root.rglob("*.py")):
        n = sum(
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "applyInPandasWithState"
            for node in ast.walk(ast.parse(path.read_text())))
        if n:
            calls[path.relative_to(root).as_posix()] = n
    assert calls == {"streaming/state.py": 1}
