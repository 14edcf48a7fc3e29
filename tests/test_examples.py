"""Chapter-parity example tests: replay deterministic quoted-CSV fixtures
(the reference's on-disk format) through each topology; batch and
streaming paths share the same transforms."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from apache_flink_datastream_api_spark.examples import (
    basic_streaming,
    course_use_case,
    event_time,
    keyed_streams,
    split_combine,
    stateful,
    window_joins,
    windowing,
)
from apache_flink_datastream_api_spark.functions.parse import (
    parse_audit_trail,
    parse_browser_events,
)
from apache_flink_datastream_api_spark.sources.fixtures import (
    audit_rows,
    browser_rows,
    write_audit_fixture,
    write_browser_fixture,
)
from apache_flink_datastream_api_spark.streaming.sinks import run_available_now


@pytest.fixture(scope="module")
def audit_dir(tmp_path_factory):
    return write_audit_fixture(str(tmp_path_factory.mktemp("audit_fx")))


@pytest.fixture(scope="module")
def browser_dir(tmp_path_factory):
    return write_browser_fixture(str(tmp_path_factory.mktemp("browser_fx")))


@pytest.fixture(scope="module")
def audit_parsed(spark, audit_dir):
    return parse_audit_trail(spark.read.text(audit_dir)).cache()


@pytest.fixture(scope="module")
def browser_parsed(spark, browser_dir):
    return parse_browser_events(spark.read.text(browser_dir)).cache()


N_AUDIT = len(audit_rows())
N_BROWSER = len(browser_rows())


def test_parse_audit_roundtrip(audit_parsed):
    rows = audit_parsed.orderBy("id").collect()
    assert len(rows) == N_AUDIT
    src = audit_rows()
    assert (rows[0].id, rows[0].user, rows[0].entity) == (src[0][0], src[0][1], src[0][2])
    assert rows[0].timestamp_ms == src[0][4]
    assert rows[0].event_ts is not None


def test_basic_streaming_counts(audit_parsed):
    counts = basic_streaming.five_second_counts(audit_parsed)
    total = counts.agg(F.sum("cnt")).collect()[0][0]
    assert total == N_AUDIT  # tumbling windows partition the stream


def test_keyed_running_totals(audit_parsed):
    got = {
        r.user: (r.total_duration, r.n_records)
        for r in keyed_streams.running_duration_totals(audit_parsed).collect()
    }
    want = {
        r.user: (r.s, r.c)
        for r in audit_parsed.groupBy("user")
        .agg(F.sum("duration").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    assert got == want


def test_split_and_combine(audit_parsed):
    customers, salesreps = split_combine.split(audit_parsed)
    assert customers.count() + salesreps.count() == N_AUDIT
    merged = split_combine.combine(customers, salesreps)
    by_tag = {r.tag: r.c for r in merged.groupBy("tag").agg(F.count("*").alias("c")).collect()}
    assert by_tag["Stream-1"] == customers.count()
    assert by_tag["Stream-2"] == salesreps.count()


def test_sliding_and_session_windows(audit_parsed):
    sliding = windowing.sliding_counts(audit_parsed)
    assert sliding.agg(F.sum("cnt")).collect()[0][0] == 2 * N_AUDIT  # each row in 2 windows
    sessions = windowing.session_counts(audit_parsed)
    per_user = {r.user: r.s for r in sessions.groupBy("user").agg(F.sum("cnt").alias("s")).collect()}
    want = {r.user: r.c for r in audit_parsed.groupBy("user").agg(F.count("*").alias("c")).collect()}
    assert per_user == want  # session windows partition each user's events


def test_window_join_pairs(audit_parsed):
    joined = window_joins.window_join(audit_parsed, audit_parsed)
    # self-join within (user, window): sum over groups of n^2 pairs
    bucket = F.unix_millis(F.window("event_ts", "5 seconds").getField("start"))
    grp = audit_parsed.select("user", bucket.alias("w")).groupBy("user", "w").count()
    want = grp.select(F.sum(F.col("count") * F.col("count"))).collect()[0][0]
    assert joined.count() == want


def test_event_time_counts_and_format(audit_parsed):
    # batch path: watermark is a no-op on bounded data
    c = (
        audit_parsed.groupBy(F.window("event_ts", "1 second").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_millis("w.start").alias("window_start_ms"), "cnt")
    )
    assert c.agg(F.sum("cnt")).collect()[0][0] == N_AUDIT
    formatted = event_time.format_kafka_value(c).collect()
    assert all(" = " in r.value for r in formatted)


def test_stateful_delete_alerts_streaming(spark, audit_dir, audit_parsed):
    """X1 with the reference's real parameters (Delete, 10 s) through the
    streaming engine, cross-checked against the lag() batch analog."""
    lines = spark.readStream.text(audit_dir)
    alerts = stateful.delete_alerts(parse_audit_trail(lines))
    got = run_available_now(alerts, spark, mode="update")
    got_rows = sorted(
        (r.user_key, r.ts_ms, r.diff_ms) for r in got.collect()
    )

    w = Window.partitionBy("user").orderBy("timestamp_ms", "id")
    want = (
        audit_parsed.where(F.col("operation") == "Delete")
        .select(
            "user", "timestamp_ms",
            (F.col("timestamp_ms") - F.lag("timestamp_ms").over(w)).alias("diff"),
        )
        .where(F.col("diff").isNotNull() & (F.col("diff") < stateful.ALERT_WINDOW_MS))
    )
    want_rows = sorted((r.user, r.timestamp_ms, r.diff) for r in want.collect())
    assert got_rows == want_rows
    assert len(got_rows) > 0, "fixture must produce at least one alert"
    assert all(d < 10_000 for _, _, d in got_rows)


def test_course_use_case(spark, browser_dir, browser_parsed):
    # (A) windowed counts partition the stream
    counts = course_use_case.action_counts_10s(browser_parsed)
    assert counts.agg(F.sum("cnt")).collect()[0][0] == N_BROWSER

    # (B) session durations through the streaming engine vs lag analog
    lines = spark.readStream.text(browser_dir)
    durations = course_use_case.user_session_durations(parse_browser_events(lines))
    got = sorted(
        (r.user_key, r.action, r.ts_ms, r.duration_ms)
        for r in run_available_now(durations, spark, mode="update").collect()
    )
    w = Window.partitionBy("user").orderBy("timestamp_ms", "id")
    want_df = (
        browser_parsed.select(
            "user",
            F.col("timestamp_ms").alias("ts_ms"),
            F.lag("action").over(w).alias("prev_action"),
            F.lag("timestamp_ms").over(w).alias("prev_ms"),
        )
        .where(F.col("prev_action").isNotNull() & (F.col("prev_action") != "Logout"))
        .select("user", "prev_action", "ts_ms", (F.col("ts_ms") - F.col("prev_ms")).alias("d"))
    )
    want = sorted((r.user, r.prev_action, r.ts_ms, r.d) for r in want_df.collect())
    assert got == want
    # Login rows emit no duration; sessions after Logout restart cleanly
    assert all(a != "Logout" for _, a, _, _ in got)
