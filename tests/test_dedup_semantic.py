"""SemDeDup-style semantic prune invariants (operators/dedup.py r8).

The oracle gate checks the per-bucket accounting hash-matches DuckDB;
these tests pin the SEMANTICS of the keep rule itself on the real
embeddings table:

1. the kept set contains NO within-bucket pair at cos >= SEM_TAU
   (if one existed, the higher id would have a lower-id witness and be
   dropped — the rule's defining invariant);
2. every dropped vector has a lower-id within-bucket witness at
   cos >= SEM_TAU (nothing is dropped without cause);
3. the per-bucket accounting is consistent (n_vecs = n_kept + dropped,
   kept_id_sum equals the sum of the surviving ids).

The last test pins dedup_family_overlap's error propagation from its
concurrent family threads.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_DIR


def _numpy_state(spark):
    """Materialize (vec_id, bucket, embedding) plus the kept/dropped
    split, recomputing similarity in float64 exactly like the engine
    (left-to-right fold)."""
    import numpy as np

    from apache_flink_datastream_api_spark.operators.dedup import (
        SEM_B, SEM_TAU,
    )
    from apache_flink_datastream_api_spark.sources.tables import load_table

    rows = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}

    def bucket(v):
        return sum((1 << (j - 1)) for j in range(1, SEM_B + 1) if v[j - 1] > 0)

    def fold_dot(a, b):
        # strict left-to-right float64 fold — matches Spark's
        # aggregate(zip_with(...)) exactly; np.dot's pairwise/SIMD
        # summation could flip a borderline pair across engines
        s = 0.0
        for x, y in zip(a.tolist(), b.tolist()):
            s += x * y
        return s

    def cos(a, b):
        return fold_dot(a, b) / (math.sqrt(fold_dot(a, a))
                                 * math.sqrt(fold_dot(b, b)))

    by_bucket: dict[int, list[int]] = {}
    for vid, v in vecs.items():
        by_bucket.setdefault(bucket(v), []).append(vid)

    dropped = set()
    for _, ids in by_bucket.items():
        ids.sort()
        for i, hi in enumerate(ids):
            for lo in ids[:i]:
                if cos(vecs[lo], vecs[hi]) >= SEM_TAU:
                    dropped.add(hi)
                    break
    return vecs, by_bucket, dropped, cos


def test_semdedup_keep_rule_invariants(spark):
    from apache_flink_datastream_api_spark.operators.dedup import SEM_TAU

    vecs, by_bucket, dropped, cos = _numpy_state(spark)
    kept = set(vecs) - dropped
    assert dropped, "test data should produce at least one drop"

    # (1) no surviving within-bucket pair at >= tau
    for _, ids in by_bucket.items():
        alive = sorted(i for i in ids if i in kept)
        for i, a in enumerate(alive):
            for b in alive[i + 1:]:
                assert cos(vecs[a], vecs[b]) < SEM_TAU, (a, b)

    # (2) every dropped vector has a lower-id witness in its bucket
    for _, ids in by_bucket.items():
        ids = sorted(ids)
        for i, hi in enumerate(ids):
            if hi in dropped:
                assert any(cos(vecs[lo], vecs[hi]) >= SEM_TAU
                           for lo in ids[:i]), hi


def test_semdedup_accounting_matches_engine(spark):
    from apache_flink_datastream_api_spark.operators.dedup import (
        dedup_semdedup_prune,
    )

    vecs, by_bucket, dropped, _ = _numpy_state(spark)
    got = {r.bucket: r for r in dedup_semdedup_prune(spark, SF_DIR).collect()}
    assert set(got) == set(by_bucket)
    for b, ids in by_bucket.items():
        kept_ids = [i for i in ids if i not in dropped]
        assert got[b].n_vecs == len(ids)
        assert got[b].n_kept == len(kept_ids)
        assert got[b].kept_id_sum == sum(kept_ids)


def _ivf_numpy_state(spark):
    """Replay the IVF-cell variant's integer keep rule in exact int64
    arithmetic over the persisted index's own assignment table (the same
    artifact the engine query reads), returning cells + the dropped set."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from apache_flink_datastream_api_spark.operators.annindex import (
        build_ivf_index,
    )
    from apache_flink_datastream_api_spark.operators.dedup import (
        _SEM_TAU_DEN2, _SEM_TAU_NUM2,
    )

    base = build_ivf_index(spark, SF_DIR, "full")
    rows = spark.read.parquet(os.path.join(base, "assign")) \
        .withColumn("cluster_id", F.col("cluster_id").cast("int")).collect()
    q = {r.vec_id: np.asarray(r.q, dtype=np.int64) for r in rows}
    qq = {r.vec_id: int(r.qq) for r in rows}
    cells: dict[int, list[int]] = {}
    for r in rows:
        cells.setdefault(int(r.cluster_id), []).append(r.vec_id)

    def similar(lo, hi):
        dot = int(q[lo] @ q[hi])
        return dot > 0 and _SEM_TAU_DEN2 * dot * dot >= \
            _SEM_TAU_NUM2 * qq[lo] * qq[hi]

    dropped = set()
    for _, ids in cells.items():
        ids.sort()
        for i, hi in enumerate(ids):
            if any(similar(lo, hi) for lo in ids[:i]):
                dropped.add(hi)
    return cells, dropped, similar


def test_semdedup_ivf_keep_rule_invariants(spark):
    cells, dropped, similar = _ivf_numpy_state(spark)

    # (1) no surviving within-cell pair is similar; (2) every dropped
    # vector has a lower-id witness in its cell
    for _, ids in cells.items():
        ids = sorted(ids)
        alive = [i for i in ids if i not in dropped]
        for i, a in enumerate(alive):
            for b in alive[i + 1:]:
                assert not similar(a, b), (a, b)
        for i, hi in enumerate(ids):
            if hi in dropped:
                assert any(similar(lo, hi) for lo in ids[:i]), hi


def test_semdedup_ivf_accounting_matches_engine(spark):
    from apache_flink_datastream_api_spark.operators.dedup import (
        dedup_semdedup_ivf,
    )

    cells, dropped, _ = _ivf_numpy_state(spark)
    got = {r.cluster_id: r
           for r in dedup_semdedup_ivf(spark, SF_DIR).collect()}
    assert set(got) == set(cells)
    for c, ids in cells.items():
        kept_ids = [i for i in ids if i not in dropped]
        assert got[c].n_vecs == len(ids)
        assert got[c].n_kept == len(kept_ids)
        assert got[c].kept_id_sum == sum(kept_ids)


def test_family_overlap_reports_every_failed_family(spark, monkeypatch):
    """Two of the three concurrently run families fail: both errors reach
    the caller, none is dropped."""
    import pytest

    from apache_flink_datastream_api_spark.operators import dedup

    def _fails(msg):
        def fam(spark, sf_dir, shingled):
            raise ValueError(msg)
        return fam

    def _ok(spark, sf_dir, shingled):
        return spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")

    monkeypatch.setattr(dedup, "dedup_minhash_lsh", _fails("minhash down"))
    monkeypatch.setattr(dedup, "dedup_ngram_jaccard", _fails("blocked down"))
    monkeypatch.setattr(dedup, "dedup_prefix_filter_join", _ok)
    with pytest.raises(ExceptionGroup) as ei:
        dedup.dedup_family_overlap(spark, SF_DIR)
    assert sorted(str(e) for e in ei.value.exceptions) == [
        "blocked down", "minhash down"]

    # a single failure is raised as itself
    monkeypatch.setattr(dedup, "dedup_ngram_jaccard", _ok)
    with pytest.raises(ValueError, match="minhash down"):
        dedup.dedup_family_overlap(spark, SF_DIR)
