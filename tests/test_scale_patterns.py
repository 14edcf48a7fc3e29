"""Scale-pattern tests: bucketed shuffle-free joins, salted aggregation,
multi-sink fan-out, rate-source generators."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_flink_datastream_api_spark.operators.skew import salted_agg
from apache_flink_datastream_api_spark.plans.inspect import explain_string
from apache_flink_datastream_api_spark.sources.bucketing import bucketed_join, write_bucketed
from apache_flink_datastream_api_spark.sources.tables import load_table
from apache_flink_datastream_api_spark.streaming.fanout import fanout_sinks
from apache_flink_datastream_api_spark.streaming.sources import (
    rate_audit_stream,
    rate_browser_stream,
)

from .conftest import SF_DIR


def test_bucketed_join_elides_exchange(spark):
    """Two tables bucketed on the join key: the join plan must contain no
    shuffle (Exchange) on either side."""
    o = load_table(spark, SF_DIR, "orders")
    l = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(o, "orders_b", "o_orderkey", 8)
    write_bucketed(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 8
    )
    joined = bucketed_join(
        spark, "orders_b", "lineitem_b", "o_orderkey", force_sort_merge=True
    )
    plan = explain_string(joined, "simple")
    assert "Exchange hashpartitioning" not in plan, (
        f"bucketed join still shuffles:\n{plan}"
    )
    assert "SortMergeJoin" in plan
    # same answer as the plain join
    plain = o.join(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
    ).count()
    assert joined.count() == plain


def test_bucketed_roundtrip_query_single_exchange(spark):
    """The registry query (bucketed join + groupBy agg): the ONLY exchange
    in the whole plan is the final aggregation's — the join itself reads
    aligned buckets shuffle-free."""
    from apache_flink_datastream_api_spark.operators.skew import bucketed_join_roundtrip
    from apache_flink_datastream_api_spark.plans.inspect import exchange_count

    df = bucketed_join_roundtrip(spark, SF_DIR)
    assert exchange_count(df) == 1, explain_string(df, "formatted")


def test_salted_agg_matches_plain(spark):
    e = load_table(spark, SF_DIR, "events")
    salted = salted_agg(
        e, ["event_type"], {"cnt": (F.count("*"), F.sum("cnt"))}, n_salts=4
    )
    plain = e.groupBy("event_type").agg(F.count("*").alias("cnt"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_fanout_single_pass_multi_sink(spark, tmp_path):
    """One streaming query delivers each batch to two sinks."""
    import os

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for i in range(2):
        with open(os.path.join(src_dir, f"f{i}.csv"), "w") as fh:
            for j in range(50):
                fh.write(f"{i * 50 + j},u{j % 3}\n")
    stream = (
        spark.readStream.schema("id long, user string")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src_dir))
    )
    seen = {"a": 0, "b": 0, "batches": 0}

    def sink_a(df, _):
        seen["a"] += df.count()
        seen["batches"] += 1

    def sink_b(df, _):
        seen["b"] += df.count()

    q = fanout_sinks(
        stream, [sink_a, sink_b], str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    assert seen["a"] == 100 and seen["b"] == 100
    assert seen["batches"] == 2  # maxFilesPerTrigger=1 -> one batch per file


def test_rate_generators_schema_and_domains(spark, tmp_path):
    """S3 generators: run one short micro-batch, check schema + domains."""
    from apache_flink_datastream_api_spark.streaming.sources import (
        ACTIONS,
        OPERATIONS,
        USERS,
    )

    audit = rate_audit_stream(spark, rows_per_second=500)
    assert set(audit.schema.fieldNames()) == {
        "id", "user", "entity", "operation", "timestamp_ms", "duration",
        "change_count", "event_ts",
    }
    browser = rate_browser_stream(spark, rows_per_second=500)
    assert "action" in browser.schema.fieldNames()

    rows = {"n": 0, "bad": 0}

    def check(df, _):
        pdf = df.toPandas()
        rows["n"] += len(pdf)
        rows["bad"] += int(
            (~pdf["user"].isin(USERS)).sum() + (~pdf["operation"].isin(OPERATIONS)).sum()
        )

    q = (
        audit.writeStream.foreachBatch(check)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time

    deadline = time.time() + 20
    while rows["n"] == 0 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert rows["n"] > 0, "rate source produced no rows in 20s"
    assert rows["bad"] == 0


def test_global_sort_uses_range_partitioning(spark):
    """Total ordering must distribute via sampled range partitioning —
    never a single-partition sort (the 100 TB deal-breaker)."""
    df = load_table(spark, SF_DIR, "orders").sort("o_totalprice")
    plan = explain_string(df)
    assert "rangepartitioning(o_totalprice" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_spread_small_source_is_noop_when_parallel(spark):
    """spread_small_source must not add a shuffle once the scan already
    has enough splits (the production case)."""
    from apache_flink_datastream_api_spark.sources.tables import spread_small_source

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    wide = docs.repartition(64)
    assert spread_small_source(wide, spark) is wide
    # and on a 1-split scan it must spread to cluster parallelism
    spread = spread_small_source(docs, spark)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


# --- single-pass audit metrics (Observation API) ----------------------------

def test_observation_audit_counts_no_extra_scan(spark):
    """Audit counts ride the SAME action as the pipeline output: metrics
    from df.observe equal separately computed aggregates."""
    from pyspark.sql import functions as F

    from apache_flink_datastream_api_spark.functions.observe import audited
    from apache_flink_datastream_api_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    flagged = docs.withColumn(
        "ok", F.size(F.split("text", r"\s+")).between(20, 1000)
    )
    out, obs = audited(
        flagged,
        "quality_audit",
        n_in=F.count(F.lit(1)),
        n_pass=F.count_if(F.col("ok")),
    )
    kept = out.where("ok").drop("ok")
    n_kept = kept.count()  # the one action; metrics piggyback on it
    want = flagged.agg(
        F.count(F.lit(1)).alias("n_in"), F.count_if(F.col("ok")).alias("n_pass")
    ).collect()[0]
    assert obs.get == {"n_in": want.n_in, "n_pass": want.n_pass}
    assert n_kept == want.n_pass


def test_observation_metrics_in_streaming_progress(spark, tmp_path):
    """Streaming observe: per-micro-batch metrics in observedMetrics."""
    import uuid

    from pyspark.sql import functions as F

    from apache_flink_datastream_api_spark.functions.observe import observe_stream
    from apache_flink_datastream_api_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("audit_trail_gen")
        .option("numRows", 200)
        .option("rowsPerBatch", 200)
        .load()
    )
    observed = observe_stream(
        stream,
        "gen_audit",
        n=F.count(F.lit(1)),
        n_delete=F.count_if(F.col("operation") == "Delete"),
    )
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = (
        observed.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p["observedMetrics"]["gen_audit"]
        for p in [q.recentProgress[i] for i in range(len(q.recentProgress))]
        if "gen_audit" in p.get("observedMetrics", {})
    ]
    total = sum(m["n"] for m in metrics)
    total_del = sum(m["n_delete"] for m in metrics)
    want = spark.table(name)
    assert total == want.count() == 200
    assert total_del == want.where("operation = 'Delete'").count()


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: a fact table where ONE key holds half the rows,
    joined to a well-distributed build side, must show skew handling in
    the final adaptive plan (the hot partition is split into parallel
    sub-partitions instead of one straggler task). Pinned by executing
    the join with thresholds tuned so the hot key exceeds the skew
    factor, then reading the final (post-execution) plan."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        # partition coalescing would merge away the small demo partitions
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # force a sort-merge join so skew-split (not broadcast) is the fix
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the downstream global agg adds a shuffle requirement that would
        # otherwise veto the skew split (extra-shuffle heuristic)
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.expr("repeat('x', 64)").alias("pad"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.lit(1).alias("v"))
        joined = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        [row] = joined.collect()
        assert row.n == 125_000  # 100k rows of k=7 (odd ids<50k: 25k) + evens
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_map_in_arrow_matches_sql_expression(spark):
    """mapInArrow (zero-copy Arrow batches, no pandas conversion) computes
    the int8-quantized embedding checksum identically to the declarative
    SQL expression — pinning the Arrow-native fast path as a drop-in for
    per-batch numeric kernels. Both paths floor(v * 127) in float64, so
    the results are bit-identical, not approximately equal."""
    import pyarrow as pa

    from apache_flink_datastream_api_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")

    def quantize(batches):
        for batch in batches:
            tbl = pa.table(batch)
            vecs = tbl.column("embedding").to_pylist()
            qsum = [
                sum(int(__import__("math").floor(float(v) * 127.0)) for v in vec)
                for vec in vecs
            ]
            yield pa.record_batch(
                [tbl.column("vec_id").combine_chunks(),
                 pa.array(qsum, type=pa.int64())],
                names=["vec_id", "q_sum"],
            )

    arrow_out = dict(
        (r.vec_id, r.q_sum)
        for r in emb.mapInArrow(quantize, "vec_id long, q_sum long").collect()
    )
    sql_out = dict(
        (r.vec_id, r.q_sum)
        for r in emb.selectExpr(
            "vec_id",
            "aggregate(transform(embedding,"
            " v -> CAST(floor(CAST(v AS DOUBLE) * 127.0) AS BIGINT)),"
            " 0L, (a, b) -> a + b) AS q_sum",
        ).collect()
    )
    assert arrow_out == sql_out and len(arrow_out) > 0


def test_aqe_skew_split_on_zipf_leg(spark):
    """The synthetic AQE skew-split pin, executed on the REAL skewed leg
    (VERDICT r6 item 2): the Zipf lineitem's hot l_partkey (~14% of all
    rows on one key) joined to the part dimension must show skew
    handling in the final adaptive plan. Thresholds are tuned the same
    way as the synthetic pin — the default 256 MB production threshold
    is deliberately far above a test-scale leg."""
    import os

    import pytest

    leg = "testdata_scaled/sf0.3z"
    if not os.path.isdir(leg):
        pytest.skip("zipf leg not present")

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.shuffle.partitions",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        # 32 shuffle partitions so the hot key's partition stands clear of
        # the median (the suite fixture's 4-partition default hides it)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")

        li = load_table(spark, leg, "lineitem").select("l_partkey", "l_quantity")
        p = load_table(spark, leg, "part").select("p_partkey")
        joined = (
            li.join(p, li.l_partkey == p.p_partkey)
            .groupBy()
            .agg(F.count("*").alias("n"))
        )
        [row] = joined.collect()
        assert row.n == li.count()  # FK integrity held by the generator
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
