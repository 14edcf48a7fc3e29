"""Custom Python DataSource (S3 generator): split-parallel batch reads and
offset-tracked micro-batch streaming produce identical, deterministic rows."""

from __future__ import annotations

import time

from apache_flink_datastream_api_spark.sources.pydatasource import (
    gen_row,
    register,
)
from apache_flink_datastream_api_spark.streaming.sinks import run_available_now


def _batch(spark, n, partitions=4):
    register(spark)
    return (
        spark.read.format("audit_trail_gen")
        .option("numRows", n)
        .option("partitions", partitions)
        .load()
    )


def test_batch_read_is_split_parallel_and_deterministic(spark):
    df = _batch(spark, 1000, partitions=4)
    assert df.rdd.getNumPartitions() == 4
    rows = df.orderBy("id").collect()
    assert len(rows) == 1000
    assert [tuple(r) for r in rows[:3]] == [gen_row(0), gen_row(1), gen_row(2)]
    # domains per SURVEY §1 all actually occur (guards LCG low-bit collapse)
    assert df.select("operation").distinct().count() == 4
    assert df.select("entity").distinct().count() == 2
    assert df.select("user").distinct().count() == 3


def test_stream_equals_batch(spark):
    register(spark)
    stream = (
        spark.readStream.format("audit_trail_gen")
        .option("numRows", 120)
        .option("rowsPerBatch", 120)
        .load()
    )
    got = run_available_now(stream, spark, mode="append").orderBy("id").collect()
    want = _batch(spark, 120).orderBy("id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_stream_drains_over_multiple_microbatches(spark, tmp_path):
    register(spark)
    stream = (
        spark.readStream.format("audit_trail_gen")
        .option("numRows", 100)
        .option("rowsPerBatch", 40)
        .load()
    )
    import uuid

    name = f"gen_test_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline:
            if spark.table(name).count() == 100:
                break
            time.sleep(0.2)
        assert spark.table(name).count() == 100
        # 100 rows at 40/batch -> at least 3 micro-batches ran
        assert q.lastProgress is not None and q.lastProgress["batchId"] >= 2
    finally:
        q.stop()
    got = spark.table(name).orderBy("id").collect()
    assert [tuple(r) for r in got] == [gen_row(i) for i in range(100)]


def test_sink_atomic_publish_and_abort(spark, tmp_path):
    """The custom Python sink's two-phase commit: a successful job
    publishes exactly its part files (no temps left behind); a FAILED job
    publishes NOTHING — its task temps are dot-prefixed (invisible to
    readers) and removed by abort()."""
    import os

    from pyspark.sql import functions as F

    from apache_flink_datastream_api_spark.sources.pydatasource import (
        register,
        register_sink,
    )

    register(spark)
    register_sink(spark)
    src = (
        spark.read.format("audit_trail_gen")
        .option("numRows", 200)
        .option("partitions", 4)
        .load()
    )

    ok_dir = tmp_path / "ok"
    ok_dir.mkdir()
    src.write.format("audit_trail_sink").option("path", str(ok_dir)).mode(
        "append"
    ).save()
    names = sorted(os.listdir(ok_dir))
    assert len(names) == 4 and all(n.startswith("part-") for n in names), names
    assert spark.read.json(str(ok_dir)).count() == 200

    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()

    @F.udf("long")
    def boom(i):
        if i == 137:
            raise ValueError("induced task failure")
        return i

    failing = src.withColumn("id", boom("id"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        failing.write.format("audit_trail_sink").option(
            "path", str(bad_dir)
        ).mode("append").save()
    # nothing published, nothing left over
    assert os.listdir(bad_dir) == [], os.listdir(bad_dir)


import os


def _stream_writer(path):
    from apache_flink_datastream_api_spark.sources.pydatasource import (
        AuditTrailStreamSinkWriter,
    )

    return AuditTrailStreamSinkWriter({"path": str(path)}, ["a", "b"])


def test_stream_sink_batch_ledger_replay_idempotent(tmp_path):
    """k6 exactly-once contract, failure-injected at the protocol level:
    a batch REPLAYED after restart (new writer instance, marker already
    in the ledger) publishes nothing twice and leaves no temp litter."""
    w1 = _stream_writer(tmp_path)
    msgs = [w1.write(iter([(1, "x"), (2, "y")])), w1.write(iter([(3, "z")]))]
    w1.commit(msgs, 0)
    parts = sorted(p for p in os.listdir(tmp_path) if p.startswith("part-"))
    assert len(parts) == 2 and all(p.startswith("part-00000-") for p in parts)
    rows_before = sum(
        1 for p in parts for _ in open(os.path.join(tmp_path, p)))
    assert rows_before == 3

    # restart: the engine re-creates the writer (fresh job_id) and
    # replays batch 0 — same data, new temps
    w2 = _stream_writer(tmp_path)
    msgs2 = [w2.write(iter([(1, "x"), (2, "y")])), w2.write(iter([(3, "z")]))]
    w2.commit(msgs2, 0)

    after = sorted(p for p in os.listdir(tmp_path) if p.startswith("part-"))
    assert after == parts, "replayed batch must not re-publish"
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".stmp-")]


def test_stream_sink_crash_window_repair(tmp_path):
    """A prior attempt that renamed its parts but died BEFORE writing the
    ledger marker must be superseded exactly once: the replaying commit
    removes the stale parts and publishes its own."""
    w1 = _stream_writer(tmp_path)
    msgs = [w1.write(iter([(1, "x"), (2, "y")]))]
    # simulate the crash window: renames happened, marker did not
    for m in msgs:
        d, base = os.path.split(m.tmp_path)
        os.rename(m.tmp_path,
                  os.path.join(d, base.replace(".stmp-", "part-00001-", 1)))
    assert not os.path.exists(tmp_path / "_committed" / "1")

    w2 = _stream_writer(tmp_path)
    msgs2 = [w2.write(iter([(1, "x"), (2, "y")]))]
    w2.commit(msgs2, 1)

    parts = [p for p in os.listdir(tmp_path) if p.startswith("part-00001-")]
    assert len(parts) == 1, parts  # exactly ONE publication survived
    rows = sum(1 for _ in open(tmp_path / parts[0]))
    assert rows == 2
    assert os.path.exists(tmp_path / "_committed" / "1")
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".stmp-")]


def test_stream_sweep_spares_batch_writer_temps(tmp_path):
    """ADVICE r7: the stream sweep deletes every ``.stmp-*`` but must
    never touch a concurrent BATCH writer's ``.tmp-*`` in-flight temps
    when both share one output directory."""
    batch_tmp = tmp_path / ".tmp-batchjob-deadbeef.jsonl"
    batch_tmp.write_text('{"a": 1}\n')

    w = _stream_writer(tmp_path)
    msgs = [w.write(iter([(1, "x")]))]
    w.commit(msgs, 0)  # commit path runs repairs; replay below runs _sweep

    w2 = _stream_writer(tmp_path)
    msgs2 = [w2.write(iter([(1, "x")]))]
    w2.commit(msgs2, 0)  # replayed batch: drops its .stmp- temps

    assert batch_tmp.exists(), "stream sweep must not delete batch temps"
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".stmp-")]


def test_stream_sink_abort_publishes_nothing(tmp_path):
    w = _stream_writer(tmp_path)
    msgs = [w.write(iter([(1, "x")])), None]  # one task never reported
    w.abort(msgs, 0)
    assert [p for p in os.listdir(tmp_path) if not p.startswith("_")] == []


def test_stream_sink_ledger_exactly_once_property(tmp_path):
    """Property: for ANY interleaving of batch attempts — first tries,
    replays after restart (fresh writer instance), crash-window retries
    (renamed parts, no marker), aborts — each committed batchId ends up
    published EXACTLY once and no temp files survive. Drives the ledger
    through randomized schedules rather than the three hand-picked
    scenarios above."""
    import json as _json

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # batchId
            st.sampled_from(["commit", "crash", "abort"]),  # attempt fate
            st.integers(min_value=1, max_value=3),          # rows in batch
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(events)
    def run(schedule):
        import shutil
        import tempfile

        d = tempfile.mkdtemp(dir=tmp_path, prefix="prop_")
        try:
            committed = set()
            payload = {}  # batchId -> rows of the LAST committed attempt
            for batch_id, fate, n_rows in schedule:
                w = _stream_writer(d)  # every attempt: fresh instance
                rows = [(batch_id * 100 + i, f"r{i}") for i in range(n_rows)]
                msgs = [w.write(iter(rows))]
                if fate == "abort":
                    w.abort(msgs, batch_id)
                elif fate == "crash":
                    # commit() died mid-way. Its real order is marker
                    # check -> renames -> marker write, so a crash can
                    # leave renamed parts ONLY when the marker did not
                    # already exist; a crash after the marker check of a
                    # committed batch leaves at most unswept temps.
                    if not os.path.exists(
                        os.path.join(d, "_committed", str(batch_id))
                    ):
                        for m in msgs:
                            dd, base = os.path.split(m.tmp_path)
                            os.rename(m.tmp_path, os.path.join(
                                dd, base.replace(
                                    ".stmp-", f"part-{batch_id:05d}-", 1)))
                else:
                    w.commit(msgs, batch_id)
                    if batch_id not in committed:
                        committed.add(batch_id)
                        payload[batch_id] = rows
            # published state: per committed batch, exactly the FIRST
            # committed attempt's rows, exactly once; crash leftovers of
            # never-committed batches may remain (repaired on their next
            # commit), but temps never survive a commit/abort
            for b in committed:
                parts = [p for p in os.listdir(d)
                         if p.startswith(f"part-{b:05d}-")]
                got = []
                for p in parts:
                    with open(os.path.join(d, p)) as f:
                        got += [tuple(_json.loads(l).values()) for l in f]
                want = [(i, s) for i, s in payload[b]]
                assert sorted(got) == sorted(want), (b, got, want)
                assert os.path.exists(os.path.join(d, "_committed", str(b)))
        finally:
            shutil.rmtree(d, ignore_errors=True)

    run()
