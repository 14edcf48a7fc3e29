"""Explicit record schemas (SURVEY.md §1).

The reference hand-codes its schemas positionally in POJO constructors
(``chapter2/AuditTrail.java:18-29``); streaming file sources in Spark require
explicit schemas anyway, so every record shape gets a StructType here.
Timestamps are epoch-millis longs in the reference; we carry both the raw
``*_ms`` long and a proper ``TimestampType`` column where useful.
"""

from __future__ import annotations

from pyspark.sql import types as T

# audit_trail: CSV (id, user, entity, operation, timestamp_ms, duration,
# change_count) — FIXTURES.md §1, chapter2/AuditTrail.java:6-12.
AUDIT_TRAIL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("user", T.StringType()),
        T.StructField("entity", T.StringType()),
        T.StructField("operation", T.StringType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("duration", T.IntegerType()),
        T.StructField("change_count", T.IntegerType()),
    ]
)

# browser_events: CSV (id, user, action, timestamp_ms) — FIXTURES.md §2.
BROWSER_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("user", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("timestamp_ms", T.LongType()),
    ]
)

# Driver testdata tables (TESTDATA.md / FIXTURES.md §4), one StructType
# per table in file column order. ``sources.tables.load_table`` reads every
# table through these (no schema-inference job per load) after checking
# them against the file footer, and ``streaming.queries`` replays
# ``events`` through the same one. Timestamp columns are ``TimestampType``:
# the files store TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads as
# the same instant under the engine's UTC session time zone.
_LONG, _INT, _DOUBLE, _STRING, _TS = (
    T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType(),
    T.TimestampType(),
)


def _table(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in cols])


TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _table(("r_regionkey", _INT), ("r_name", _STRING)),
    "nation": _table(
        ("n_nationkey", _INT), ("n_name", _STRING), ("n_regionkey", _INT)),
    "customer": _table(
        ("c_custkey", _LONG), ("c_name", _STRING), ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE), ("c_mktsegment", _STRING)),
    "supplier": _table(
        ("s_suppkey", _LONG), ("s_name", _STRING), ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE)),
    "part": _table(
        ("p_partkey", _LONG), ("p_name", _STRING), ("p_brand", _STRING),
        ("p_type", _STRING), ("p_size", _INT), ("p_retailprice", _DOUBLE)),
    "orders": _table(
        ("o_orderkey", _LONG), ("o_custkey", _LONG),
        ("o_orderstatus", _STRING), ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS), ("o_orderpriority", _STRING)),
    "lineitem": _table(
        ("l_orderkey", _LONG), ("l_partkey", _LONG), ("l_suppkey", _LONG),
        ("l_linenumber", _INT), ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE), ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE), ("l_returnflag", _STRING),
        ("l_linestatus", _STRING), ("l_shipdate", _TS)),
    "events": _table(
        ("event_id", _LONG), ("ts", _TS), ("user_id", _LONG),
        ("event_type", _STRING), ("value", _DOUBLE), ("props", _STRING)),
    "documents": _table(
        ("doc_id", _LONG), ("text", _STRING), ("lang", _STRING),
        ("source", _STRING), ("n_chars", _LONG)),
    "embeddings": _table(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())),
        ("label", _INT)),
}

ALL_TABLES = tuple(TABLE_SCHEMAS)
