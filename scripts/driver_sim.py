"""Simulate the driver's t1 smoke + t2 correctness gate end-to-end.

Usage: python scripts/driver_sim.py [sf_dir] [--only q1,q2,...]

``--only`` restricts the t2 gate to the named queries (fast re-check of
just-touched operators); the full run remains the round-close gate.

Creates a VANILLA SparkSession (no engine confs — like the driver would),
imports __spark_entry__, runs entry() as smoke, then every queries() entry
against its oracle_sql() in DuckDB at the given sf, comparing row count,
column names, and values (order-insensitive, columns sorted by name).
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as e  # noqa: E402

_args = sys.argv[1:]
ONLY: set[str] | None = None
if "--only" in _args:
    i = _args.index("--only")
    ONLY = set(_args[i + 1].split(","))
    _args = _args[:i] + _args[i + 2:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def dtype_kinds(df: pd.DataFrame) -> list[str]:
    """Pandas dtype *kind* per column ('i' int, 'f' float, 'O' object, 'b' bool, ...).

    The driver's value-hash is dtype-sensitive (1175 != 1175.0), so int-vs-float
    between the Spark result and the DuckDB oracle is a real failure even when
    values match exactly. Round 1 masked 47 such cases with check_dtype=False.
    """
    return [df[c].dtype.kind for c in df.columns]


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    smoke = e.entry(spark)
    rows = smoke.collect()
    print(f"[t1 smoke] entry() -> {len(rows)} rows, schema: {smoke.schema.simpleString()[:120]} ({time.time()-t0:.1f}s)")
    assert len(rows) >= 0

    con = duckdb.connect()
    # DuckDB shares this process with the Spark driver and by default
    # takes up to 80% of RAM; some oracles (j3_first_touch_stream) want
    # over 3 GB at sf0.1, so cap it to keep one process within the host.
    con.sql("SET memory_limit='3GB'; SET threads=2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    queries, oracles = e.queries(), e.oracle_sql()
    if ONLY is not None:
        unknown = ONLY - queries.keys()
        assert not unknown, f"--only names not in queries(): {sorted(unknown)}"
        queries = {k: v for k, v in queries.items() if k in ONLY}
    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(queries.items()):
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
            if name not in oracles:
                n_rows_only += 1
                print(f"  [rows-only] {name}: {len(got)} rows ({time.time()-t0:.1f}s)")
                continue
            want = con.sql(oracles[name]).df()
            g, w = norm(got), norm(want)
            assert list(g.columns) == list(w.columns), f"cols {list(g.columns)} != {list(w.columns)}"
            assert len(g) == len(w), f"rows {len(g)} != {len(w)}"
            gk, wk = dtype_kinds(g), dtype_kinds(w)
            assert gk == wk, f"DTYPE kinds spark={gk} != oracle={wk} for cols {list(g.columns)}"
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            n_pass += 1
            print(f"  [match] {name}: {len(g)} rows ({time.time()-t0:.1f}s)")
        except Exception as ex:
            n_fail += 1
            print(f"  [FAIL ] {name}: {str(ex)[:300]}")
    print(f"\n{n_pass} match, {n_rows_only} rows-only, {n_fail} FAIL of {len(queries)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
