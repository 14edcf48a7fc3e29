"""Contract tests for the declared-schema table loader (sources/tables).

``load_table`` reads every testdata table through ``schemas.TABLE_SCHEMAS``
instead of letting Spark infer the schema: it must start no Spark job,
return exactly what the inferring read returned (plus its old NTZ -> LTZ
cast), keep the TIMESTAMP(NANOS) events generation readable, and refuse a
footer that does not match the declared schema instead of reading a
renamed column back as nulls."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from apache_flink_datastream_api_spark.schemas import ALL_TABLES, TABLE_SCHEMAS
from apache_flink_datastream_api_spark.sources.tables import (
    load_table, read_schema, table_path,
)

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MULTI_FILE_LEG = os.path.join(REPO, "testdata_scaled", "sf0.3")


def _jobs_in(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_load_table_runs_no_spark_job(spark):
    sc = spark.sparkContext
    # The probe sees the job an inferring read starts, so a zero below
    # is a real zero.
    inferred = _jobs_in(sc, "tables-infer",
                        lambda: spark.read.parquet(table_path(SF_DIR, "lineitem")))
    assert len(inferred) >= 1
    for name in ALL_TABLES:
        jobs = _jobs_in(sc, f"tables-load-{name}",
                        lambda: load_table(spark, SF_DIR, name))
        assert jobs == [], (name, jobs)


def _inferred_read(spark, sf_dir: str, name: str):
    """The loader before declared schemas: inferred read, then every
    TIMESTAMP_NTZ column cast to TIMESTAMP under the UTC session."""
    df = spark.read.parquet(table_path(sf_dir, name))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _row_hash(df):
    """Order-insensitive content hash: row count plus the exact sum of a
    64-bit hash of every row."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return r.n, r.h


@pytest.mark.parametrize("leg", [SF_DIR, MULTI_FILE_LEG],
                         ids=["sf_dir", "multi_file"])
@pytest.mark.parametrize("name", ALL_TABLES)
def test_load_table_matches_inferred_read(spark, leg, name):
    got = load_table(spark, leg, name)
    want = _inferred_read(spark, leg, name)
    assert got.dtypes == want.dtypes
    assert _row_hash(got) == _row_hash(want)


def test_nanos_events_load_same_ts(spark, tmp_path):
    src = pq.read_table(table_path(SF_DIR, "events"))
    i = src.schema.get_field_index("ts")
    nanos = src.set_column(i, "ts", src.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type \
        == pa.timestamp("ns")

    assert read_schema(str(tmp_path), "events")[1] == ("ts",)
    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, SF_DIR, "events")
    assert got.dtypes == want.dtypes
    assert _row_hash(got) == _row_hash(want)


def _write_nation(tmp_path, edit) -> None:
    t = edit(pq.read_table(table_path(SF_DIR, "nation")))
    pq.write_table(t, str(tmp_path / "nation.parquet"))


@pytest.mark.parametrize("edit, columns", [
    (lambda t: t.rename_columns(["n_nationkey", "n_nation", "n_regionkey"]),
     ("n_name", "n_nation")),
    (lambda t: t.drop(["n_regionkey"]), ("n_regionkey",)),
    (lambda t: t.append_column("n_comment", pa.array([""] * t.num_rows)),
     ("n_comment",)),
    (lambda t: t.set_column(0, "n_nationkey",
                            t.column("n_nationkey").cast(pa.int64())),
     ("n_nationkey",)),
], ids=["renamed", "missing", "extra", "retyped"])
def test_footer_mismatch_names_table_and_column(spark, tmp_path, edit, columns):
    _write_nation(tmp_path, edit)
    with pytest.raises(ValueError) as err:
        load_table(spark, str(tmp_path), "nation")
    msg = str(err.value)
    assert "'nation'" in msg
    for c in columns:
        assert f"'{c}'" in msg, msg


def _testdata_legs() -> list[str]:
    """Every scale-factor directory the engine is run on: the driver's
    scales next to SF_DIR, the synthesized legs of scripts/make_scale.py,
    and the benchmark's vendored copy."""
    legs = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))
    legs += sorted(glob.glob(os.path.join(REPO, "testdata_scaled", "*")))
    legs += sorted(glob.glob(os.path.join(REPO, "perfbench", "data", "sf*")))
    return [d for d in legs if os.path.isdir(d)]


@pytest.mark.parametrize("leg", _testdata_legs(),
                         ids=lambda d: "/".join(d.split(os.sep)[-2:]))
def test_every_testdata_footer_matches_declared_schemas(leg):
    """JVM-free: catches a testdata generation (or a make_scale.py leg)
    whose column names or types drift from schemas.TABLE_SCHEMAS. Every
    part file of a multi-file table must carry the first part's schema,
    since the loader checks only the first."""
    for name in ALL_TABLES:
        schema, nanos = read_schema(leg, name)
        assert (schema, nanos) == (TABLE_SCHEMAS[name], ()), (leg, name)
        path = table_path(leg, name)
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            first = pq.read_schema(parts[0])
            for p in parts[1:]:
                assert pq.read_schema(p).equals(first, check_metadata=False), p
