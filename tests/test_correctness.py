"""Registry-wide oracle check: every query with an oracle must match DuckDB
bit-for-bit (the driver's t2 gate, run locally at a smaller sf)."""

from __future__ import annotations

import os

import pytest

from apache_flink_datastream_api_spark.registry import all_queries
from apache_flink_datastream_api_spark.streaming import sinks

from .conftest import SF_DIR, assert_matches_oracle

SPECS = list(all_queries().values())


@pytest.fixture
def drain_base(tmp_path, monkeypatch):
    """Bounded drains keep their scratch checkpoints in a dir of this test's
    own, so no other process's drains show up in it."""
    monkeypatch.setattr(sinks, "SCRATCH_BASE", str(tmp_path))
    return tmp_path


def assert_drains_left_nothing(spark, base) -> None:
    """A query that returned has stopped every stream it started and
    deleted every checkpoint."""
    assert not spark.streams.active, [q.name for q in spark.streams.active]
    assert not os.listdir(base)


@pytest.mark.parametrize("spec", [s for s in SPECS if s.oracle], ids=lambda s: s.name)
def test_oracle_match(spark, oracle_con, spec, drain_base):
    assert_matches_oracle(spec.fn(spark, SF_DIR), oracle_con, spec.oracle)
    assert_drains_left_nothing(spark, drain_base)


@pytest.mark.parametrize("spec", [s for s in SPECS if s.oracle is None], ids=lambda s: s.name)
def test_rows_only(spark, spec, drain_base):
    df = spec.fn(spark, SF_DIR)
    assert df.schema is not None
    assert df.count() >= 0
    assert_drains_left_nothing(spark, drain_base)


def test_bench_headline_queries_registered():
    """Every bench headline entry must resolve in the registry — a rename
    or removal would otherwise only surface when the driver runs bench."""
    import bench

    specs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headline"


def test_oracle_result_types_canonical(oracle_con):
    """Round-1 regression: every oracle's DuckDB result types must be plain
    (BIGINT/DOUBLE/VARCHAR/BOOLEAN/...), never HUGEINT or DECIMAL. DuckDB
    returns HUGEINT sums as pandas float64 and DECIMAL as Decimal objects,
    which break the driver's dtype-sensitive value hash against Spark's
    int64/float64 even when values are identical (47 queries lost in r1)."""
    bad: dict[str, list[str]] = {}
    for spec in SPECS:
        if not spec.oracle:
            continue
        rel = oracle_con.sql(spec.oracle)
        offending = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, rel.types)
            if str(typ).upper().startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
        ]
        if offending:
            bad[spec.name] = offending
    assert not bad, f"non-canonical oracle result types: {bad}"


def test_prefix_filter_join_has_no_false_negatives(oracle_con):
    """The PPJoin guarantee the driver hash can't see (the oracle replays
    the same filter): prefix-filter candidates must recover EVERY pair
    with Jaccard >= 1/2, compared against the unfiltered O(n^2) join."""
    from apache_flink_datastream_api_spark.operators.dedup import (
        DEDUP_PREFIX_FILTER_ORACLE,
        NJ_K,
        PF_DEN,
        PF_NUM,
    )
    from apache_flink_datastream_api_spark.functions import text as X
    from apache_flink_datastream_api_spark.functions.hashing import (
        portable_hash64_sql,
    )

    toks_d = X.tokens_duck("text")
    brute = f"""
    WITH toks AS (SELECT doc_id, {toks_d} AS toks FROM documents),
    shs AS (SELECT DISTINCT doc_id,
                   unnest({X.shingles_duck('toks', NJ_K)}) AS shingle
            FROM toks),
    sh AS (SELECT doc_id, {portable_hash64_sql('shingle')} AS sh_h FROM shs),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b FROM inter
    JOIN counts na ON na.doc_id = doc_a JOIN counts nb ON nb.doc_id = doc_b
    WHERE {PF_DEN + PF_NUM} * c >= {PF_NUM} * (na.n + nb.n)
    """
    want = {
        tuple(r) for r in oracle_con.sql(brute).fetchall()
    }
    got = {
        (r[0], r[1])
        for r in oracle_con.sql(DEDUP_PREFIX_FILTER_ORACLE).fetchall()
    }
    assert got == want
    assert want, "fixture has no qualifying near-dup pairs — test is vacuous"
