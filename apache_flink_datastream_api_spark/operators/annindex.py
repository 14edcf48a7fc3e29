"""Persisted, incrementally-maintained ANN index (driver-mandated
similarity-search extension; no reference file:line — the reference has
no vector surface).

The production contract the per-query ANN ladder (operators/similarity)
does not exercise: build the index ONCE, persist it, serve every query
against the STORED artifact, and append new vectors without touching
history — the same shape ``dedup_incremental`` proves for dedup.

Design: an integer-exact IVF over int8-quantized vectors, chosen so the
whole lifecycle is portable arithmetic that DuckDB replays bit-for-bit
(the float-trained IVF/PQ quantizers in similarity.py are rows-only
because numpy reduction order is not SQL-replayable; this one is
hash-matched end to end):

- quantize: q = floor(x * 127) per component (emb_quantize_int8's rule).
- seeds: the PIVF_K vectors whose md5(vec_id) sorts first (seedless,
  engine-independent), cluster_id = 1..K in that order.
- one exact Lloyd step: assign by integer squared-L2 argmin (ties to the
  smallest cluster_id), refine each centroid component to
  floor(sum / cnt) — the double division of two exact integers is
  correctly rounded, so the floor is identical on every engine; empty
  cells keep their seed.
- final assignment under the refined centroids IS the index:
  (vec_id, q, qq) parquet partitioned by cluster_id, plus a K-row
  centroid table.

Scale shape: the build is one narrow scan + a map-side Arrow argmax +
one K*dim-integer aggregation; the SERVE path never touches the raw
embeddings table — probe cells come from the K-row centroid file, the
candidate scan is partition-pruned to nprobe of K directories, and the
only shuffle is the per-query top-k window. Delta maintenance assigns
only the new rows under the FROZEN centroids and appends them as new
files; history partitions are never rewritten.
"""

from __future__ import annotations

import json
import math
import os
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import QuerySpec
from ..functions.localdf import local_literal_df
from ..sources.tables import load_table

PIVF_K = 16        # coarse-quantizer cells
PIVF_NPROBE = 6    # cells probed per query
EMB_DIM = 64
N_QUERIES = 5      # query set: vec_id < 5 (matches operators/similarity)
TOP_K = 10
DELTA_PCT = 80     # knn_index_delta: first 80% of vec_ids = history

# Schemas the index artifacts are written with; read-backs declare them,
# so a serve call runs no schema-inference job over the stored files.
# cluster_id is the partition column of the assign* directories.
_CENTROIDS = "cluster_id int, c array<bigint>, cc bigint"
_ASSIGN = "vec_id bigint, q array<bigint>, qq bigint, cluster_id int"
_COMPACTED = _ASSIGN + ", is_delta int"

_Q8_S = "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0) AS BIGINT))"
_Q8_D = ("list_transform(embedding, v -> "
         "CAST(floor(CAST(v AS DOUBLE) * 127.0) AS BIGINT))")
_IDOT_S = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (s, v) -> s + v)"
_IDOT_D = ("CAST(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
           " AS BIGINT)")


def _quantized(spark: SparkSession, sf_dir: str, scope: str) -> DataFrame:
    """(vec_id, q int8-grid array, qq self-dot), optionally history-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    if scope == "hist":
        mx = emb.agg(F.max("vec_id").alias("m"))
        cut = F.broadcast(mx.selectExpr(
            f"CAST(floor(m * {DELTA_PCT} / 100.0) AS BIGINT) AS cut"))
        emb = emb.crossJoin(cut).where("vec_id <= cut").drop("cut")
    return emb.selectExpr(
        "vec_id", f"{_Q8_S} AS q"
    ).selectExpr("vec_id", "q", f"{_IDOT_S.format(a='q', b='q')} AS qq")


def _assign_cells_int8(df: DataFrame, cents: "np.ndarray") -> DataFrame:
    """Map-only integer-exact cell assignment: argmin of squared L2 to the
    driver-held centroids, ties to the smallest cluster_id. The per-row
    qq term is constant across cells, so argmin needs only -2*q.C + cc —
    one int64 Arrow matmul per batch, no join, no shuffle."""
    C = np.asarray(cents, dtype="int64")
    CT = C.T
    cc = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def cell(q: pd.Series) -> pd.Series:
        Q = np.stack(q.values).astype("int64")
        d = -2 * (Q @ CT) + cc
        return pd.Series((np.argmin(d, axis=1) + 1).astype("int32"))

    return df.withColumn("cluster_id", cell("q"))


def _train_centroids(qv: DataFrame, k: int = PIVF_K) -> "np.ndarray":
    """Seeds in md5(vec_id) order, one exact Lloyd step. Driver state is
    K centroid vectors (bounded); the refinement sums are a distributed
    K x dim integer aggregation."""
    seed_rows = (
        qv.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k).select("q").collect()
    )
    S = np.array([r.q for r in seed_rows], dtype="int64")
    sums = (
        _assign_cells_int8(qv, S)
        .groupBy("cluster_id")
        .agg(*[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(EMB_DIM)],
             F.count("*").alias("cnt"))
        .collect()
    )
    cent = S.copy()  # empty cells keep their seed
    for r in sums:
        cent[r.cluster_id - 1] = [
            math.floor(r[f"s{i}"] / r.cnt) for i in range(EMB_DIM)
        ]
    return cent


# Build-once memo: sf_dir x scope -> index directory. The testdata dirs
# are immutable, so this is the session-lifetime "the index exists"
# contract; every serve/delta call below reads the stored artifact.
_INDEX_CACHE: dict[tuple[str, str], str] = {}


def build_ivf_index(spark: SparkSession, sf_dir: str, scope: str = "full",
                    k: int = PIVF_K) -> str:
    """Build (once) and persist the IVF index for sf_dir; returns its
    directory: ``centroids/`` (K rows: cluster_id, c, cc) and ``assign/``
    (vec_id, q, qq) partitioned by cluster_id. ``k`` is the cell count —
    the registered queries use the default; the K-proportional-to-n
    scale sweep (scripts/semdedup_sweep.py) passes larger values."""
    key = (sf_dir, scope, k)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    qv = _quantized(spark, sf_dir, scope)
    cent = _train_centroids(qv, k)
    base = tempfile.mkdtemp(prefix=f"ivf_index_{scope}_")
    cent_rows = [
        (i + 1, [int(x) for x in cent[i]], int((cent[i] * cent[i]).sum()))
        for i in range(k)
    ]
    spark.createDataFrame(
        cent_rows, _CENTROIDS
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    (
        _assign_cells_int8(qv, cent)
        .select("vec_id", "q", "qq", "cluster_id")
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(os.path.join(base, "assign"))
    )
    _INDEX_CACHE[key] = base
    return base


def _read_assign(spark: SparkSession, base: str, part: str) -> DataFrame:
    """One stored cell-assignment directory (``assign``/``assign_delta``)."""
    return spark.read.schema(_ASSIGN).parquet(os.path.join(base, part))


def _load_centroids(spark: SparkSession, base: str) -> "np.ndarray":
    rows = spark.read.schema(_CENTROIDS) \
        .parquet(os.path.join(base, "centroids")) \
        .orderBy("cluster_id").collect()
    return np.array([r.c for r in rows], dtype="int64")


def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served entirely from the STORED index: probe cells from the
    K-row centroid file (driver argsort over integer distances, ties to
    the smallest cluster_id), partition-pruned candidate scan of the
    probed cells, integer-exact cosine re-rank. The raw embeddings table
    is not in the plan, and no training exchange runs at serve time —
    pinned by tests/test_annindex.py."""
    base = build_ivf_index(spark, sf_dir, "full")
    cent = _load_centroids(spark, base)
    assign = _read_assign(spark, base, "assign")

    q_rows = assign.where(F.col("vec_id") < N_QUERIES) \
        .select("vec_id", "q", "qq").collect()
    cc = (cent * cent).sum(axis=1)
    probe_pairs = []
    for r in sorted(q_rows, key=lambda r: r.vec_id):
        qarr = np.array(r.q, dtype="int64")
        d = -2 * (cent @ qarr) + cc
        for c in np.argsort(d, kind="stable")[:PIVF_NPROBE]:
            probe_pairs.append((int(r.vec_id), int(c) + 1))
    probes = F.broadcast(local_literal_df(
        spark, probe_pairs, "qid long, cluster_id int"))
    cells = sorted({c for _, c in probe_pairs})
    qdf = F.broadcast(local_literal_df(
        spark, [(int(r.vec_id), list(r.q), int(r.qq)) for r in q_rows],
        "qid long, q_vec array<bigint>, q_nrm bigint"))

    cand = (
        assign.where(F.col("cluster_id").isin(cells))
        .join(probes, "cluster_id")
        .where(F.col("vec_id") != F.col("qid"))
    )
    scored = cand.join(qdf, "qid").selectExpr(
        "qid", "vec_id",
        f"CAST({_IDOT_S.format(a='q', b='q_vec')} AS DOUBLE)"
        " / sqrt(CAST(qq AS DOUBLE) * q_nrm) AS cos_sim",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def knn_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance: history index is built once from the
    first DELTA_PCT% of vec_ids; the delta is assigned under the FROZEN
    history centroids (map-only — no retraining, no history rescan) and
    appended as new files next to the stored partitions. Output: merged
    per-cell occupancy proving the append (history never rewritten is
    pinned by tests/test_annindex.py)."""
    base = build_ivf_index(spark, sf_dir, "hist")
    cent = _load_centroids(spark, base)
    delta_dir = os.path.join(base, "assign_delta")
    if not os.path.isdir(delta_dir):
        hist_max = _read_assign(spark, base, "assign") \
            .agg(F.max("vec_id")).collect()[0][0]
        delta = _quantized(spark, sf_dir, "full") \
            .where(F.col("vec_id") > int(hist_max))
        (
            _assign_cells_int8(delta, cent)
            .select("vec_id", "q", "qq", "cluster_id")
            .write.mode("overwrite").partitionBy("cluster_id")
            .parquet(delta_dir)
        )
    hist = _read_assign(spark, base, "assign")
    delta = _read_assign(spark, base, "assign_delta")
    merged = hist.selectExpr("vec_id", "cluster_id", "0 AS is_delta") \
        .unionByName(delta.selectExpr("vec_id", "cluster_id", "1 AS is_delta"))
    return merged.groupBy("cluster_id").agg(
        F.sum(F.expr("1 - is_delta")).cast("long").alias("n_history"),
        F.sum("is_delta").cast("long").alias("n_delta"),
        F.sum("vec_id").cast("long").alias("id_checksum"),
    ).withColumn("cluster_id", F.col("cluster_id").cast("int"))


# --- oracles: DuckDB replays the identical integer lifecycle -----------------

def _build_ctes(scope: str) -> str:
    """qv -> seeds -> a0 -> cent -> a1: the index build as SQL."""
    src = ("SELECT * FROM embeddings WHERE vec_id <= "
           f"(SELECT CAST(floor(MAX(vec_id) * {DELTA_PCT} / 100.0) AS BIGINT)"
           " FROM embeddings)") if scope == "hist" else "SELECT * FROM embeddings"
    dist = (f"-2 * {_IDOT_D.format(a='p.q', b='s.sq')} + "
            f"{_IDOT_D.format(a='s.sq', b='s.sq')}")
    dist_c = (f"-2 * {_IDOT_D.format(a='p.q', b='c.c')} + "
              f"{_IDOT_D.format(a='c.c', b='c.c')}")
    return f"""
WITH qv AS MATERIALIZED (
  SELECT vec_id, {_Q8_D} AS q,
         {_IDOT_D.format(a=_Q8_D, b=_Q8_D)} AS qq
  FROM ({src})
), seeds AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS cluster_id,
         q AS sq
  FROM (SELECT vec_id, q FROM qv
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PIVF_K})
), a0 AS MATERIALIZED (
  SELECT vec_id, q, qq, cluster_id FROM (
    SELECT p.vec_id, p.q, p.qq, s.cluster_id,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist}, s.cluster_id) AS rk
    FROM qv p CROSS JOIN seeds s
  ) WHERE rk = 1
), occ AS (
  SELECT cluster_id, COUNT(*) AS cnt FROM a0 GROUP BY 1
), comp AS (
  SELECT cluster_id, dim, SUM(v) AS s FROM (
    SELECT cluster_id, generate_subscripts(q, 1) AS dim, unnest(q) AS v
    FROM a0
  ) GROUP BY 1, 2
), cent0 AS (
  SELECT comp.cluster_id,
         list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY dim) AS c
  FROM comp JOIN occ ON comp.cluster_id = occ.cluster_id
  GROUP BY comp.cluster_id
), cent AS MATERIALIZED (
  SELECT s.cluster_id, COALESCE(c0.c, s.sq) AS c
  FROM seeds s LEFT JOIN cent0 c0 ON s.cluster_id = c0.cluster_id
), a1 AS MATERIALIZED (
  SELECT vec_id, q, qq, cluster_id FROM (
    SELECT p.vec_id, p.q, p.qq, c.cluster_id,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist_c}, c.cluster_id) AS rk
    FROM qv p CROSS JOIN cent c
  ) WHERE rk = 1
)"""


_SERVE_DIST = (f"-2 * {_IDOT_D.format(a='qs.qv', b='c.c')} + "
               f"{_IDOT_D.format(a='c.c', b='c.c')}")

KNN_IVF_PERSISTED_ORACLE = _build_ctes("full") + f"""
, qs AS (
  SELECT vec_id AS qid, q AS qv, qq AS q_nrm FROM a1 WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT qid, cluster_id FROM (
    SELECT qs.qid, c.cluster_id,
           row_number() OVER (PARTITION BY qs.qid
                              ORDER BY {_SERVE_DIST}, c.cluster_id) AS rk
    FROM qs CROSS JOIN cent c
  ) WHERE rk <= {PIVF_NPROBE}
), cand AS (
  SELECT p.qid, a.vec_id, a.q, a.qq
  FROM a1 a JOIN probes p ON a.cluster_id = p.cluster_id
  WHERE a.vec_id <> p.qid
), scored AS (
  SELECT c.qid, c.vec_id,
         CAST({_IDOT_D.format(a='c.q', b='qs.qv')} AS DOUBLE)
           / sqrt(CAST(c.qq AS DOUBLE) * qs.q_nrm) AS cos_sim
  FROM cand c JOIN qs ON c.qid = qs.qid
)
SELECT qid, vec_id AS neighbor_id, rank, cos_sim FROM (
  SELECT qid, vec_id, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""

_DELTA_DIST = (f"-2 * {_IDOT_D.format(a='p.q', b='c.c')} + "
               f"{_IDOT_D.format(a='c.c', b='c.c')}")

KNN_INDEX_DELTA_ORACLE = _build_ctes("hist") + f"""
, delta_src AS (
  SELECT vec_id, {_Q8_D} AS q FROM embeddings
  WHERE vec_id > (SELECT CAST(floor(MAX(vec_id) * {DELTA_PCT} / 100.0) AS BIGINT)
                  FROM embeddings)
), delta AS (
  SELECT vec_id, cluster_id FROM (
    SELECT p.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {_DELTA_DIST}, c.cluster_id) AS rk
    FROM delta_src p CROSS JOIN cent c
  ) WHERE rk = 1
), merged AS (
  SELECT vec_id, cluster_id, 0 AS is_delta FROM a1
  UNION ALL
  SELECT vec_id, cluster_id, 1 AS is_delta FROM delta
)
SELECT CAST(cluster_id AS INT) AS cluster_id,
       CAST(SUM(1 - is_delta) AS BIGINT) AS n_history,
       CAST(SUM(is_delta) AS BIGINT) AS n_delta,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM merged GROUP BY cluster_id
"""


def knn_ivf_delta_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index lifecycle end-to-end: serve top-k against the
    MERGED history + delta index (history centroids stay frozen, both
    partition sets are pruned to the probed cells). Proves the appended
    vectors are immediately searchable without any rebuild."""
    knn_index_delta(spark, sf_dir)  # ensure history index + delta exist
    base = _INDEX_CACHE[(sf_dir, "hist", PIVF_K)]
    cent = _load_centroids(spark, base)
    hist = _read_assign(spark, base, "assign")
    delta = _read_assign(spark, base, "assign_delta")

    q_rows = hist.where(F.col("vec_id") < N_QUERIES) \
        .select("vec_id", "q", "qq").collect()
    cc = (cent * cent).sum(axis=1)
    probe_pairs = []
    for r in sorted(q_rows, key=lambda r: r.vec_id):
        qarr = np.array(r.q, dtype="int64")
        d = -2 * (cent @ qarr) + cc
        for c in np.argsort(d, kind="stable")[:PIVF_NPROBE]:
            probe_pairs.append((int(r.vec_id), int(c) + 1))
    probes = F.broadcast(local_literal_df(
        spark, probe_pairs, "qid long, cluster_id int"))
    cells = sorted({c for _, c in probe_pairs})
    qdf = F.broadcast(local_literal_df(
        spark, [(int(r.vec_id), list(r.q), int(r.qq)) for r in q_rows],
        "qid long, q_vec array<bigint>, q_nrm bigint"))

    index = hist.select("vec_id", "q", "qq", "cluster_id").unionByName(
        delta.select("vec_id", "q", "qq", "cluster_id"))
    cand = (
        index.where(F.col("cluster_id").isin(cells))
        .join(probes, "cluster_id")
        .where(F.col("vec_id") != F.col("qid"))
    )
    scored = cand.join(qdf, "qid").selectExpr(
        "qid", "vec_id",
        f"CAST({_IDOT_S.format(a='q', b='q_vec')} AS DOUBLE)"
        " / sqrt(CAST(qq AS DOUBLE) * q_nrm) AS cos_sim",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim")
    )


# Compaction threshold: a cell is rewritten when its delta rows exceed
# this percent of the cell's total. The delta is the last 100-DELTA_PCT %
# of vec_ids, i.e. ~20% of each cell on average — the threshold sits AT
# that average (strict >), so cells above-average in delta share compact
# and the rest don't: every scale exercises BOTH paths (8/16, 7/16,
# 10/16 cells at sf0.001/0.01/0.1).
COMPACT_PCT = 20


def _compacted_layout(spark: SparkSession, sf_dir: str):
    """Run cell-level compaction once per (session, sf_dir): cells whose
    delta share exceeds COMPACT_PCT% are rewritten as fresh merged
    partitions under ``assign_compacted/`` (is_delta retained so the
    accounting stays auditable); all other cells keep serving from their
    original history + delta files, which compaction NEVER rewrites —
    the superseded files of compacted cells just become GC-eligible
    (deletion out of scope here: immutability keeps the proof
    re-runnable). Returns (hist_df, delta_df, compacted_df|None,
    compacted_cell_ids)."""
    knn_index_delta(spark, sf_dir)  # ensure history index + delta exist
    base = _INDEX_CACHE[(sf_dir, "hist", PIVF_K)]
    comp_dir = os.path.join(base, "assign_compacted")
    hist = _read_assign(spark, base, "assign")
    delta = _read_assign(spark, base, "assign_delta")
    merged = (
        hist.select("vec_id", "q", "qq", "cluster_id")
        .withColumn("is_delta", F.lit(0))
        .unionByName(
            delta.select("vec_id", "q", "qq", "cluster_id")
            .withColumn("is_delta", F.lit(1)))
    )
    manifest = os.path.join(base, "compact_manifest.json")
    if not os.path.exists(manifest):
        counts = merged.groupBy("cluster_id").agg(
            F.count("*").alias("n"), F.sum("is_delta").alias("nd")).collect()
        cells = sorted(int(r.cluster_id) for r in counts
                       if r.nd * 100 > COMPACT_PCT * r.n)
        if cells:
            (
                merged.where(F.col("cluster_id").isin(cells))
                .write.mode("overwrite").partitionBy("cluster_id")
                .parquet(comp_dir)
            )
        with open(manifest, "w") as f:
            json.dump({"compacted_cells": cells}, f)
    with open(manifest) as f:
        comp_cells = json.load(f)["compacted_cells"]
    comp = (spark.read.schema(_COMPACTED).parquet(comp_dir) if comp_cells
            else local_literal_df(spark, [], _COMPACTED))
    return hist, delta, comp, comp_cells


def knn_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index compaction accounting, computed from the POST-compaction
    layout (compacted cells read from the rewritten files, the rest from
    the original history/delta files) — so the oracle hash match proves
    the rewrite preserved every row and routed every cell to exactly one
    side. Decision rule is integer-exact: compact iff
    n_delta * 100 > COMPACT_PCT * (n_history + n_delta)."""
    hist, delta, comp, comp_cells = _compacted_layout(spark, sf_dir)
    untouched = (
        hist.select("vec_id", "cluster_id").withColumn("is_delta", F.lit(0))
        .unionByName(delta.select("vec_id", "cluster_id")
                     .withColumn("is_delta", F.lit(1)))
        .where(~F.col("cluster_id").isin(comp_cells) if comp_cells
               else F.lit(True))
    )
    layout = untouched.unionByName(
        comp.select("vec_id", "cluster_id", "is_delta"))
    return (
        layout.groupBy("cluster_id")
        .agg(
            F.sum(F.expr("1 - is_delta")).cast("long").alias("n_history"),
            F.sum("is_delta").cast("long").alias("n_delta"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
        .withColumn("cluster_id", F.col("cluster_id").cast("int"))
        .withColumn(
            "is_compacted",
            (F.col("n_delta") * 100
             > COMPACT_PCT * (F.col("n_history") + F.col("n_delta")))
            .cast("int"))
        .select("cluster_id", "n_history", "n_delta", "is_compacted",
                "id_checksum")
    )


def knn_ivf_compacted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-k against the post-compaction layout. The oracle is the
    delta-serve oracle VERBATIM: compaction must be invisible to queries
    (same rows, same cells, same results) — the strongest equivalence
    check available, enforced as a hash match."""
    hist, delta, comp, comp_cells = _compacted_layout(spark, sf_dir)
    base = _INDEX_CACHE[(sf_dir, "hist", PIVF_K)]
    cent = _load_centroids(spark, base)

    q_rows = hist.where(F.col("vec_id") < N_QUERIES) \
        .select("vec_id", "q", "qq").collect()
    cc = (cent * cent).sum(axis=1)
    probe_pairs = []
    for r in sorted(q_rows, key=lambda r: r.vec_id):
        qarr = np.array(r.q, dtype="int64")
        d = -2 * (cent @ qarr) + cc
        for c in np.argsort(d, kind="stable")[:PIVF_NPROBE]:
            probe_pairs.append((int(r.vec_id), int(c) + 1))
    probes = F.broadcast(local_literal_df(
        spark, probe_pairs, "qid long, cluster_id int"))
    cells = sorted({c for _, c in probe_pairs})
    qdf = F.broadcast(local_literal_df(
        spark, [(int(r.vec_id), list(r.q), int(r.qq)) for r in q_rows],
        "qid long, q_vec array<bigint>, q_nrm bigint"))

    untouched = (
        hist.select("vec_id", "q", "qq", "cluster_id").unionByName(
            delta.select("vec_id", "q", "qq", "cluster_id"))
        .where(~F.col("cluster_id").isin(comp_cells) if comp_cells
               else F.lit(True))
    )
    index = untouched.unionByName(
        comp.select("vec_id", "q", "qq", "cluster_id"))
    cand = (
        index.where(F.col("cluster_id").isin(cells))
        .join(probes, "cluster_id")
        .where(F.col("vec_id") != F.col("qid"))
    )
    scored = cand.join(qdf, "qid").selectExpr(
        "qid", "vec_id",
        f"CAST({_IDOT_S.format(a='q', b='q_vec')} AS DOUBLE)"
        " / sqrt(CAST(qq AS DOUBLE) * q_nrm) AS cos_sim",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def knn_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-ops audit over the stored full index: cell occupancy spread
    and hot-cell share. The numbers that drive a production rebuild
    decision (a cell holding most of the corpus degrades nprobe/K scan
    savings to nothing). One aggregation over the K-row occupancy
    rollup; the corpus is touched once."""
    base = build_ivf_index(spark, sf_dir, "full")
    assign = _read_assign(spark, base, "assign")
    occ = assign.groupBy("cluster_id").agg(F.count("*").alias("occ"))
    return occ.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("occ").cast("long").alias("n_vectors"),
        F.min("occ").cast("long").alias("min_occ"),
        F.max("occ").cast("long").alias("max_occ"),
    ).selectExpr(
        "n_cells", "n_vectors", "min_occ", "max_occ",
        "max_occ * 1000000 div n_vectors AS max_share_ppm",
        "max_occ * n_cells * 100 div n_vectors AS skew_vs_mean_x100",
    )


KNN_DELTA_SERVE_ORACLE = _build_ctes("hist") + f"""
, delta_src AS (
  SELECT vec_id, {_Q8_D} AS q,
         {_IDOT_D.format(a=_Q8_D, b=_Q8_D)} AS qq
  FROM embeddings
  WHERE vec_id > (SELECT CAST(floor(MAX(vec_id) * {DELTA_PCT} / 100.0) AS BIGINT)
                  FROM embeddings)
), delta AS (
  SELECT vec_id, q, qq, cluster_id FROM (
    SELECT p.vec_id, p.q, p.qq, c.cluster_id,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {_DELTA_DIST}, c.cluster_id) AS rk
    FROM delta_src p CROSS JOIN cent c
  ) WHERE rk = 1
), idx AS (
  SELECT vec_id, q, qq, cluster_id FROM a1
  UNION ALL
  SELECT vec_id, q, qq, cluster_id FROM delta
), qs AS (
  SELECT vec_id AS qid, q AS qv, qq AS q_nrm FROM a1 WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT qid, cluster_id FROM (
    SELECT qs.qid, c.cluster_id,
           row_number() OVER (PARTITION BY qs.qid
                              ORDER BY {_SERVE_DIST}, c.cluster_id) AS rk
    FROM qs CROSS JOIN cent c
  ) WHERE rk <= {PIVF_NPROBE}
), cand AS (
  SELECT p.qid, a.vec_id, a.q, a.qq
  FROM idx a JOIN probes p ON a.cluster_id = p.cluster_id
  WHERE a.vec_id <> p.qid
), scored AS (
  SELECT c.qid, c.vec_id,
         CAST({_IDOT_D.format(a='c.q', b='qs.qv')} AS DOUBLE)
           / sqrt(CAST(c.qq AS DOUBLE) * qs.q_nrm) AS cos_sim
  FROM cand c JOIN qs ON c.qid = qs.qid
)
SELECT qid, vec_id AS neighbor_id, rank, cos_sim FROM (
  SELECT qid, vec_id, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""

KNN_INDEX_HEALTH_ORACLE = _build_ctes("full") + """
, occ_final AS (
  SELECT cluster_id, COUNT(*) AS occ FROM a1 GROUP BY 1
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(occ) AS BIGINT) AS n_vectors,
         CAST(MIN(occ) AS BIGINT) AS min_occ,
         CAST(MAX(occ) AS BIGINT) AS max_occ
  FROM occ_final
)
SELECT n_cells, n_vectors, min_occ, max_occ,
       max_occ * 1000000 // n_vectors AS max_share_ppm,
       max_occ * n_cells * 100 // n_vectors AS skew_vs_mean_x100
FROM agg
"""


KNN_INDEX_COMPACT_ORACLE = _build_ctes("hist") + f"""
, delta_src AS (
  SELECT vec_id, {_Q8_D} AS q FROM embeddings
  WHERE vec_id > (SELECT CAST(floor(MAX(vec_id) * {DELTA_PCT} / 100.0) AS BIGINT)
                  FROM embeddings)
), delta AS (
  SELECT vec_id, cluster_id FROM (
    SELECT p.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {_DELTA_DIST}, c.cluster_id) AS rk
    FROM delta_src p CROSS JOIN cent c
  ) WHERE rk = 1
), merged AS (
  SELECT vec_id, cluster_id, 0 AS is_delta FROM a1
  UNION ALL
  SELECT vec_id, cluster_id, 1 AS is_delta FROM delta
)
SELECT CAST(cluster_id AS INT) AS cluster_id,
       CAST(SUM(1 - is_delta) AS BIGINT) AS n_history,
       CAST(SUM(is_delta) AS BIGINT) AS n_delta,
       CAST(CASE WHEN SUM(is_delta) * 100 > {COMPACT_PCT} * COUNT(*)
            THEN 1 ELSE 0 END AS INT) AS is_compacted,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM merged GROUP BY cluster_id
"""


SPECS = [
    QuerySpec("knn_ivf_persisted", knn_ivf_persisted, KNN_IVF_PERSISTED_ORACLE,
              "ANN served from the persisted integer-exact IVF index: "
              "partition-pruned probe scan, no embeddings rescan, no "
              "training exchange at serve time",
              ("similarity", "ann", "index")),
    QuerySpec("knn_index_delta", knn_index_delta, KNN_INDEX_DELTA_ORACLE,
              "incremental index maintenance: delta assigned under frozen "
              "centroids, appended without rewriting history partitions",
              ("similarity", "ann", "index", "incremental")),
    QuerySpec("knn_ivf_delta_serve", knn_ivf_delta_serve,
              KNN_DELTA_SERVE_ORACLE,
              "serve top-k against the merged history+delta index — "
              "appended vectors searchable with no rebuild",
              ("similarity", "ann", "index", "incremental")),
    QuerySpec("knn_index_health", knn_index_health, KNN_INDEX_HEALTH_ORACLE,
              "index-ops audit: cell occupancy spread and hot-cell share "
              "over the stored index",
              ("similarity", "ann", "index", "audit")),
    QuerySpec("knn_index_compact", knn_index_compact,
              KNN_INDEX_COMPACT_ORACLE,
              "cell-level compaction of the delta-appended index: "
              "high-delta cells rewritten as merged partitions, the rest "
              "untouched; accounting read back from the new layout",
              ("similarity", "ann", "index", "maintenance")),
    QuerySpec("knn_ivf_compacted_serve", knn_ivf_compacted_serve,
              KNN_DELTA_SERVE_ORACLE,
              "serve against the post-compaction layout — compaction is "
              "invisible to queries (delta-serve oracle verbatim)",
              ("similarity", "ann", "index", "maintenance")),
]
