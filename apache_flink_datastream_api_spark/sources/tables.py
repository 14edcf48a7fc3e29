"""Parquet table loaders for the driver testdata (TESTDATA.md).

Batch entry point for the correctness corpus: every query loads its inputs
through here. Each table is read through its declared schema
(``schemas.TABLE_SCHEMAS``), so a load starts no Spark job: without one,
``spark.read.parquet`` runs a footer-reading job per load just to learn
types the engine already knows. The declared schema is checked against
the first file's footer first (pyarrow, no Spark job), because a renamed
column would otherwise read back as silent nulls. Scans stay plain
parquet scans (column pruning and predicate pushdown reach the reader —
verify with ``plans.assert_pushed_filters``).
"""

from __future__ import annotations

from contextlib import contextmanager
from uuid import uuid4

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import ALL_TABLES, TABLE_SCHEMAS


def table_path(sf_dir: str, name: str) -> str:
    """``<sf_dir>/<name>.parquet``: one file, or a directory of part files
    (scripts/make_scale.py writes one part per replica)."""
    return os.path.join(sf_dir, f"{name}.parquet")


def _footer_file(path: str) -> str:
    """The file whose footer stands for the table at ``path``: the file
    itself, or the first part file of a table directory."""
    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
        if not parts:
            raise ValueError(f"{path}: no parquet part files")
        return os.path.join(path, parts[0])
    return path


def _spark_type(t: pa.DataType) -> T.DataType | None:
    """The Spark type a parquet column of arrow type ``t`` reads as, or
    None for a type no declared schema uses."""
    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_string(t):
        return T.StringType()
    if pa.types.is_timestamp(t) and t.unit in ("ms", "us"):
        return T.TimestampType()
    if pa.types.is_list(t):
        elem = _spark_type(t.value_type)
        return T.ArrayType(elem) if elem is not None else None
    return None


def read_schema(sf_dir: str, name: str) -> tuple[T.StructType, tuple[str, ...]]:
    """The schema to read table ``name`` at ``sf_dir`` with, and the
    timestamp columns its files store as TIMESTAMP(NANOS).

    The declared schema is checked against the first file's footer; any
    missing, extra or retyped column raises a ValueError naming the table
    and the column. A declared timestamp column stored as NANOS (one
    generation of the driver's ``events.parquet``) is read as epoch-nanos
    long (``spark.sql.legacy.parquet.nanosAsLong``) and converted by
    :func:`nanos_to_timestamps`.
    """
    declared = TABLE_SCHEMAS[name]
    src = _footer_file(table_path(sf_dir, name))
    footer = {f.name: f.type for f in pq.read_schema(src)}
    missing = [n for n in declared.names if n not in footer]
    extra = [n for n in footer if n not in declared.names]
    if missing or extra:
        raise ValueError(
            f"table {name!r} ({src}): footer does not match the declared "
            f"schema: missing column(s) {missing}, undeclared column(s) {extra}")
    fields, nanos = [], []
    for f in declared.fields:
        got = footer[f.name]
        if (isinstance(f.dataType, T.TimestampType)
                and pa.types.is_timestamp(got) and got.unit == "ns"):
            fields.append(T.StructField(f.name, T.LongType()))
            nanos.append(f.name)
        elif _spark_type(got) == f.dataType:
            fields.append(f)
        else:
            raise ValueError(
                f"table {name!r} ({src}): column {f.name!r} is {got} in the "
                f"footer, declared {f.dataType.simpleString()}")
    return T.StructType(fields), tuple(nanos)


def nanos_to_timestamps(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """Truncate epoch-nanos long columns to microsecond timestamps."""
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def set_read_conf(spark: SparkSession) -> None:
    """Session settings every testdata read relies on, set at runtime so
    they also hold under a driver-provided session: NANOS timestamps read
    as longs (Spark rejects them by default), and UTC, under which the
    files' timezone-less timestamps read as the instants DuckDB sees."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a batch DataFrame through its declared
    schema (see :func:`read_schema`); starts no Spark job.

    No blanket re-spread here: a scan-level repartition was measured to
    COST more than it saves for reduce-heavy plans (TPC-H joins/aggs pay
    a full raw-row shuffle before their map-side combine) and to pay off
    only where per-row CPU dominates (text derivation, shingle hashing) —
    those call sites opt in via spread_small_source.
    """
    set_read_conf(spark)
    schema, nanos = read_schema(sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    return nanos_to_timestamps(df, nanos)


def spread_small_source(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Re-spread a low-split scan across the cluster before CPU-heavy
    per-row derivation (shingling, hashing, signature math).

    Parquet parallelism is bounded by row-group count; a compact source
    (one file / one row group) would otherwise run the whole derivation
    stage on ONE task while the rest of the cluster idles. The shuffle
    moves only the raw input (small by premise).

    Self-tuning at scale: when the scan already has at least half a task
    per core (any real 100 TB table: thousands of splits), this is a
    no-op — no shuffle is added. Disable outright with
    ``SPARK_GRAFT_SPREAD=off`` (plan-purity tests).
    """
    if os.environ.get("SPARK_GRAFT_SPREAD", "auto") == "off":
        return df
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, target // 2):
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, names=ALL_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_tables(spark: SparkSession, sf_dir: str, names=ALL_TABLES) -> None:
    """Register testdata tables as temp views so queries can use spark.sql."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


@contextmanager
def temp_view(df: DataFrame, prefix: str):
    """Register ``df`` under a unique temp-view name, yield the name, drop
    it on exit. Session-global temp views are shared state: a fixed name
    collides with user views or concurrent invocations on the same
    SparkSession. Safe to drop immediately after ``spark.sql(...)`` over
    the view returns — Spark ANALYZES eagerly, so the resolved plan no
    longer references the catalog entry."""
    name = f"{prefix}_{uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)
