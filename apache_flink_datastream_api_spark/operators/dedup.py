"""Deduplication operators over ``documents`` / ``embeddings``
(driver-mandated LLM-pipeline extension; no reference file:line).

Five families, each in its 100 TB-shape:

- exact          hash-groupBy on md5(text): one shuffle on a 128-bit key,
                 map-side partial agg; never materializes text twice.
- normalized     same, after lowercase/punct-strip/whitespace-collapse.
- MinHash LSH    shingle → salted-hash family → min per hash → band →
                 bucket self-join. The join is on (band, signature), so
                 candidate generation is O(collisions), not O(n²); skewed
                 buckets (boilerplate docs) are AQE skew-split.
- SimHash        60-bit signature from token-hash bit votes; one explode +
                 one wide aggregation (single shuffle per doc).
- embedding      cosine near-dup among label-partitioned candidates
                 (label ≈ cluster id: the blocking key that keeps the
                 self-join from being all-pairs at scale).

Portable hashing (functions.hashing) keeps every signature bit identical
in the DuckDB oracle. Production at 100 TB would swap md5 → xxhash64
(same plan shape, ~3× faster hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import text as X
from ..functions.hashing import (
    family_member_duck,
    family_member_spark,
    hash_family,
    portable_hash64_sql,
)
from ..registry import QuerySpec
from ..sources.tables import load_table, spread_small_source

TOKS_S = X.tokens_spark("text")
TOKS_D = X.tokens_duck("text")


# --- exact dedup -----------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- normalized dedup ------------------------------------------------------

NORM_S = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))"
NORM_D = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr("doc_id", f"md5({NORM_S}) AS content_hash")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


DEDUP_NORMALIZED_ORACLE = f"""
SELECT md5({NORM_D}) AS content_hash, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- MinHash + LSH candidate pairs ----------------------------------------

MH_K = 3          # word 3-gram shingles
MH_HASHES = 16    # hash family size
MH_BANDS = 4      # 4 bands x 4 rows


_FAMILY = hash_family(MH_HASHES)
_R = MH_HASHES // MH_BANDS


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, *, shingled: DataFrame | None = None
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    Plan: scan → explode distinct shingles → ONE md5 per shingle → 16
    arithmetic family members as narrow columns → single groupBy(doc_id)
    with 16 min()s (map-side partial agg; no 16× row explosion) → band
    signatures → self-join on (band, signature). Candidate generation is
    O(bucket collisions), never O(n²); hot buckets are AQE skew-split.

    ``shingled``: optionally reuse a precomputed (doc_id, sh_h) staging
    table (``ngram_shingle_table`` — same k, same portable hash) so
    multi-family audits pay the tokenize+shingle scan once.
    """
    if shingled is not None:
        base = shingled.select("doc_id", F.col("sh_h").alias("h"))
    else:
        docs = spread_small_source(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
        )
        # Materialize the token array first: referencing the tokenizer inside
        # the shingle lambda would re-run split+lower per element (~150x/doc).
        toked = docs.select("doc_id", F.expr(TOKS_S).alias("toks"))
        sh = X.shingles_spark("toks", MH_K)
        base = toked.select(
            "doc_id", F.explode(F.array_distinct(F.expr(sh))).alias("shingle")
        ).selectExpr(
            "doc_id",
            "cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint) AS h",
        )
    mins = base.groupBy("doc_id").agg(
        *[
            F.expr(f"min({family_member_spark('h', _FAMILY[i])})").alias(f"m{i}")
            for i in range(MH_HASHES)
        ]
    )
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'sig', concat_ws(',', "
        + ", ".join(f"m{b * _R + j}" for j in range(_R))
        + "))"
        for b in range(MH_BANDS)
    )
    # Materialized once: both sides of the bucket self-join read it, and
    # the upstream (explode + 16-way min agg) is the expensive part.
    bands = (
        mins.select(
            "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("bs")
        )
        .select("doc_id", "bs.band", "bs.sig")
        .localCheckpoint(eager=True)
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band2"), F.col("sig").alias("sig2")
    )
    return (
        bands.join(
            b2,
            (F.col("band") == F.col("band2"))
            & (F.col("sig") == F.col("sig2"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )


_mins_d = ", ".join(
    f"min({family_member_duck('h', _FAMILY[i])}) AS m{i}" for i in range(MH_HASHES)
)
_bands_d = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, concat_ws(',', "
    + ", ".join(f"m{b * _R + j}" for j in range(_R))
    + ") AS sig FROM mins"
    for b in range(MH_BANDS)
)
DEDUP_MINHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({X.shingles_duck('toks', MH_K)}) AS shingle FROM toks
), base AS (
  SELECT doc_id, {portable_hash64_sql('shingle')} AS h FROM sh
), mins AS (
  SELECT doc_id, {_mins_d} FROM base GROUP BY doc_id
), bands AS (
  {_bands_d}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


# --- SimHash signatures ----------------------------------------------------

SIMHASH_BITS = 60  # the portable hash is 60-bit


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document: per-token portable hash, ±1 vote per
    bit, sign of the vote sum becomes the signature bit. One explode + one
    wide aggregation — a single shuffle keyed by doc_id."""
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    tok = docs.select("doc_id", F.explode(F.expr(TOKS_S)).alias("t"))
    h = tok.selectExpr(
        "doc_id", "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint) AS hv"
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(CASE WHEN (shiftright(hv, {b}) & 1) = 1 THEN 1 ELSE -1 END)").alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = " + ".join(
        f"shiftleft(cast(s{b} > 0 as bigint), {b})" for b in range(SIMHASH_BITS)
    )
    return votes.selectExpr("doc_id", f"{sig} AS simhash")


_votes_d = ", ".join(
    f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_sig_d = " + ".join(
    f"(CAST(s{b} > 0 AS BIGINT) << {b})" for b in range(SIMHASH_BITS)
)
DEDUP_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_D}) AS t FROM documents
), h AS (
  SELECT doc_id, {portable_hash64_sql('t')} AS hv FROM tok
), votes AS (
  SELECT doc_id, {_votes_d} FROM h GROUP BY doc_id
)
SELECT doc_id, {_sig_d} AS simhash FROM votes
"""


# --- n-gram Jaccard (exact, on blocked candidate pairs) --------------------

NJ_K = 3
NJ_THRESHOLD = 0.2


def ngram_shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, source, shingle-hash) staging table for n-gram
    Jaccard. Joining on the 60-bit shingle hash, not the string, keeps
    shuffle keys narrow and equality cheap at scale (collisions are
    mirrored exactly in the oracle, so the comparison stays bit-true).
    Exposed un-materialized so plan tests can pin scan pruning."""
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        spark,
    )
    toked = docs.select("doc_id", "source", F.expr(TOKS_S).alias("toks"))
    sh = X.shingles_spark("toks", NJ_K)
    return toked.select(
        "doc_id", "source", F.explode(F.array_distinct(F.expr(sh))).alias("shingle")
    ).selectExpr(
        "doc_id", "source",
        "cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint) AS sh_h",
    )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, *, shingled: DataFrame | None = None
) -> DataFrame:
    """Exact word-3-gram Jaccard similarity for candidate pairs blocked by
    ``source`` (the blocking key bounds the self-join; at 100 TB the block
    would be an LSH bucket or shard key instead of a metadata column)."""
    # Materialize the shingle table once: it feeds BOTH sides of the
    # self-join plus the per-doc counts, and Spark has no common-subplan
    # reuse across those — without this the explode+md5 runs 3x. (At
    # 100 TB this is an explicit persist of the shingle table to disk —
    # the standard candidate-generation staging step.)
    if shingled is None:
        shingled = ngram_shingle_table(spark, sf_dir).localCheckpoint(eager=True)
    counts = shingled.groupBy("doc_id").agg(F.count("*").alias("n"))
    b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"),
        F.col("sh_h").alias("sh_h_b"),
    )
    inter = (
        shingled.join(
            b,
            (F.col("source") == F.col("source_b"))
            & (F.col("sh_h") == F.col("sh_h_b"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .groupBy("doc_id", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = counts.select(F.col("doc_id").alias("doc_id"), F.col("n").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_id").join(nb, "doc_b")
        .withColumn("jaccard", F.expr("CAST(c AS DOUBLE) / (na + nb - c)"))
        .where(F.col("jaccard") >= NJ_THRESHOLD)
        .select(
            F.col("doc_id").alias("doc_a"), "doc_b",
            F.col("jaccard"),
        )
    )


DEDUP_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {TOKS_D} AS toks FROM documents
), shs AS (
  SELECT DISTINCT doc_id, source, unnest({X.shingles_duck('toks', NJ_K)}) AS shingle FROM toks
), sh AS (
  SELECT doc_id, source, {portable_hash64_sql('shingle')} AS sh_h FROM shs
), counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b
    ON a.source = b.source AND a.sh_h = b.sh_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
FROM inter
JOIN counts na ON na.doc_id = doc_a
JOIN counts nb ON nb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= {NJ_THRESHOLD}
"""


# --- embedding cosine near-dup --------------------------------------------

COS_THRESHOLD = 0.3  # testdata embeddings are near-random (max pair ~0.51)

_DOT_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0 as double), (s, v) -> s + v)"
)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-duplicates among same-``label`` candidates. Norms are
    precomputed per row (one pass) so the pair stage is a dot product per
    candidate, and the label blocking keeps the join from being n²."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_norm = emb.selectExpr(
        "vec_id", "label", "embedding",
        f"sqrt({_DOT_S.format(a='embedding', b='embedding')}) AS norm",
    )
    b = with_norm.selectExpr(
        "vec_id AS vec_b", "label AS label_b", "embedding AS emb_b", "norm AS norm_b"
    )
    return (
        with_norm.join(
            b, (F.col("label") == F.col("label_b")) & (F.col("vec_id") < F.col("vec_b"))
        )
        .withColumn(
            "cos_sim",
            F.expr(f"{_DOT_S.format(a='embedding', b='emb_b')} / (norm * norm_b)"),
        )
        .where(F.col("cos_sim") >= COS_THRESHOLD)
        .select(
            F.col("vec_id").alias("vec_a"), "vec_b",
            F.col("cos_sim"),
        )
    )


_DOT_D = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
DEDUP_EMB_ORACLE = f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt({_DOT_D.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_DOT_D.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm) AS cos_sim
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim
FROM pairs WHERE cos_sim >= {COS_THRESHOLD}
"""


# --- duplicate clusters: connected components over candidate pairs ---------

CC_MAX_ITERS = 25


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse MinHash candidate pairs into duplicate CLUSTERS: each doc
    labeled with the minimum doc_id of its connected component (the
    canonical representative to keep).

    Iterative min-label propagation: per round, every vertex takes the min
    label among itself and its neighbors — converges in O(graph diameter)
    rounds (near-dup components are tiny cliques, so a handful). Each
    round is one shuffle; ``localCheckpoint`` truncates the lineage so the
    plan doesn't grow exponentially. This is the scale-correct shape (the
    same loop MLlib's connected components / GraphFrames run); a
    driver-side union-find over ``collect()`` would be the anti-pattern.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)  # (doc_a, doc_b), a < b
    und = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    ).localCheckpoint(eager=True)
    labels = (
        und.select(F.col("src").alias("v")).distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ITERS):
        prop = (
            und.join(labels, und.src == labels.v)
            .select(F.col("dst").alias("v"), "label")
        )
        # LAZY checkpoint (r9): the convergence probe below is this
        # frame's first action and references it exactly once, so the
        # probe job materializes the checkpoint blocks as a side effect —
        # one job per round instead of two (eager-materialize + probe).
        new_labels = (
            labels.unionByName(prop)
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # converged when no vertex's label changed this round
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component_id"))


DEDUP_COMPONENTS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {DEDUP_MINHASH_ORACLE}
), und AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), verts AS (
  SELECT DISTINCT src AS v FROM und
), reach(root, node) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.root, u.dst FROM reach r JOIN und u ON u.src = r.node
)
SELECT root AS doc_id, MIN(node) AS component_id
FROM reach GROUP BY 1
"""


# --- PageRank over the duplicate graph -------------------------------------
# Which document is the AUTHORITATIVE copy inside a duplicate cluster?
# PageRank over the LSH candidate graph answers it structurally (the doc
# most-connected to other near-dups), and doubles as this engine's
# general iterative-graph pattern: per iteration one join (rank →
# out-edges) + one aggregation (sum incoming contributions) — the same
# shuffle shape GraphX/Pregel runs, no driver-side graph, linear in
# |edges| per round. Fixed PR_ITERS iterations, and ALL arithmetic is
# integer (ranks scaled by PR_SCALE, damping 85/100 via floor division),
# so every engine computes bit-identical ranks — float PageRank would be
# accumulation-order-dependent and unverifiable across engines.

PR_ITERS = 3
PR_SCALE = 10**12          # initial rank per vertex
PR_BASE = 15 * PR_SCALE // 100   # (1 - damping) * scale


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)  # (doc_a, doc_b), a < b
    und = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint(eager=True)  # pairs derivation runs once, not per iter
    )
    deg = und.groupBy("src").agg(F.count("*").alias("d"))
    edges = und.join(deg, "src").localCheckpoint(eager=True)
    ranks = (
        und.select(F.col("src").alias("v")).distinct()
        .select("v", F.lit(PR_SCALE).cast("long").alias("r"))
        .localCheckpoint(eager=True)
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.v)
            .selectExpr("dst AS v", "r div d AS c")
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            ranks.select("v")
            .join(contrib, "v", "left")
            .selectExpr(
                "v",
                f"CAST({PR_BASE} + (85 * coalesce(s, 0)) div 100 AS BIGINT) AS r",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.selectExpr("v AS doc_id", "r AS rank_scaled")


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT n.v, CAST({PR_BASE} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM (SELECT v FROM r0) n LEFT JOIN (
    SELECT u.dst AS v, SUM({prev}.r // g.d) AS s
    FROM und u
    JOIN {prev} ON {prev}.v = u.src
    JOIN deg g ON g.src = u.src
    GROUP BY 1
  ) c ON c.v = n.v
)"""


GRAPH_PAGERANK_ORACLE = f"""
WITH pairs AS (
  {DEDUP_MINHASH_ORACLE}
), und AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), deg AS (
  SELECT src, COUNT(*) AS d FROM und GROUP BY 1
), r0 AS (
  SELECT DISTINCT src AS v, CAST({PR_SCALE} AS BIGINT) AS r FROM und
), {_pr_iter_sql('r0', 'r1')}, {_pr_iter_sql('r1', 'r2')}, {_pr_iter_sql('r2', 'r3')}
SELECT v AS doc_id, r AS rank_scaled FROM r3
"""


# --- edit-distance (Levenshtein) fuzzy dedup -------------------------------
# The verify stage of a fuzzy-dedup pipeline: candidate pairs come from a
# cheap blocking key (here the normalized 40-char prefix; at 100 TB an LSH
# band or SimHash bucket plays the same role), then each candidate pair is
# confirmed with an exact edit distance over a COST-BOUNDED prefix —
# levenshtein is O(m·n) per pair, so the comparison window (LEV_CMP chars)
# is what caps per-pair CPU, and the blocking key is what caps pair count.
# Both engines implement classic Wagner-Fischer, so the distance is
# integer-exact across Spark and DuckDB. The join shuffles once on the
# block key; skewed blocks (boilerplate prefixes) are AQE skew-split.

LEV_BLOCK = 40   # blocking key: normalized prefix length
LEV_CMP = 300    # edit distance computed over this prefix (per-pair CPU cap)
LEV_MAX = 10     # near-dup threshold


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    # substr BEFORE lower: lowercasing only the compared prefix instead of
    # the whole document cuts the dominant scan cost ~(doc_len/LEV_CMP)×;
    # the oracle applies the identical order so Unicode case edge cases
    # (if any) agree. Both self-join sides re-derive from the scan, so the
    # derivation is also spread across the cluster.
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    d = docs.selectExpr(
        "doc_id",
        f"lower(substr(text, 1, {LEV_CMP})) AS head",
        f"lower(substr(text, 1, {LEV_BLOCK})) AS block",
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.head"), F.col("b.head")).alias("edit_distance"),
    ).where(F.col("edit_distance") <= LEV_MAX)


DEDUP_LEV_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         lower(substr(text, 1, {LEV_CMP})) AS head,
         lower(substr(text, 1, {LEV_BLOCK})) AS block
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.head, b.head) AS edit_distance
FROM d a JOIN d b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= {LEV_MAX}
"""


SPECS = [
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE,
              "exact dedup via md5 hash-groupBy", ("dedup",)),
    QuerySpec("dedup_normalized", dedup_normalized, DEDUP_NORMALIZED_ORACLE,
              "normalized-text dedup", ("dedup",)),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_ORACLE,
              "MinHash banding candidate pairs", ("dedup", "lsh")),
    QuerySpec("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE,
              "60-bit SimHash signatures", ("dedup",)),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE,
              "exact n-gram Jaccard on blocked pairs", ("dedup",)),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMB_ORACLE,
              "cosine near-dup, label-blocked", ("dedup", "vector")),
    QuerySpec("dedup_components", dedup_components, DEDUP_COMPONENTS_ORACLE,
              "duplicate clusters via iterative connected components",
              ("dedup", "iterative")),
    QuerySpec("dedup_levenshtein", dedup_levenshtein, DEDUP_LEV_ORACLE,
              "blocked-pair edit-distance near-dup verification",
              ("dedup", "text")),
    QuerySpec("graph_pagerank", graph_pagerank, GRAPH_PAGERANK_ORACLE,
              "integer-exact PageRank over the LSH duplicate graph",
              ("dedup", "iterative", "graph")),
]


# --- canonical-document selection --------------------------------------------
# What production dedup actually SHIPS: one kept document per duplicate
# cluster, the rest dropped. Clusters come from the iterative
# connected-components pass (dedup_components); the keep policy is
# deterministic "longest text wins, then smallest doc_id" — an argmax
# window PARTITIONED BY component (near-dup clusters are tiny cliques,
# so no partition ever exceeds a handful of rows regardless of corpus
# size). Docs outside any cluster are implicitly kept and not re-listed.

def pipeline_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = comp.join(docs, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .selectExpr("component_id", "doc_id", "n_chars",
                    "CAST(rk = 1 AS INT) AS keep")
    )


CANONICAL_DOCS_ORACLE = f"""
WITH comp AS (
  {DEDUP_COMPONENTS_ORACLE}
)
SELECT component_id, comp.doc_id, n_chars,
       CAST(row_number() OVER (PARTITION BY component_id
            ORDER BY n_chars DESC, comp.doc_id) = 1 AS INT) AS keep
FROM comp JOIN documents d ON comp.doc_id = d.doc_id
"""


SPECS += [
    QuerySpec("pipeline_canonical_docs", pipeline_canonical_docs,
              CANONICAL_DOCS_ORACLE,
              "keep-best-per-duplicate-cluster canonical selection",
              ("dedup", "pipeline", "iterative")),
]


# --- MinHash accuracy audit ---------------------------------------------------
# Is the sketch telling the truth? For every LSH candidate pair, the
# MinHash-ESTIMATED Jaccard (matching family members / 16) sits next to
# the EXACT shingle Jaccard, with the absolute estimation error — the
# self-audit that justifies trusting banding thresholds at scales where
# exact verification of every pair is unaffordable. All ratios are
# integer micros; the intersection joins on the 60-bit shingle hash
# (collisions mirrored in the oracle, so the comparison stays bit-true).

def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE materialized shingle staging feeds everything (r9): the audit's
    # own `base` below is byte-identical to the staging dedup_minhash_lsh
    # builds (MH_K == NJ_K, same portable hash — the dedup_family_overlap
    # invariant), yet the old form re-derived tokenize+shingle+md5 FIVE
    # times (lsh internal + mins + sizes + both inter sides). Now the
    # scan-side derivation runs once into a checkpoint and all five
    # consumers read cached blocks.
    assert MH_K == NJ_K
    shingled = ngram_shingle_table(spark, sf_dir).localCheckpoint(eager=True)
    pairs = dedup_minhash_lsh(spark, sf_dir, shingled=shingled)
    base = shingled.selectExpr("doc_id", "sh_h AS h")
    mins = base.groupBy("doc_id").agg(
        *[F.expr(f"min({family_member_spark('h', _FAMILY[i])})").alias(f"m{i}")
          for i in range(MH_HASHES)])
    sizes = base.groupBy("doc_id").agg(F.count("*").alias("sz"))

    ma = mins.select([F.col("doc_id").alias("doc_a")]
                     + [F.col(f"m{i}").alias(f"a{i}") for i in range(MH_HASHES)])
    mb = mins.select([F.col("doc_id").alias("doc_b")]
                     + [F.col(f"m{i}").alias(f"b{i}") for i in range(MH_HASHES)])
    match_expr = " + ".join(
        f"CAST(a{i} = b{i} AS INT)" for i in range(MH_HASHES))
    est = pairs.join(F.broadcast(ma), "doc_a").join(
        F.broadcast(mb), "doc_b").selectExpr(
        "doc_a", "doc_b",
        f"({match_expr}) * 1000000 div {MH_HASHES} AS est_micro")

    inter = (
        pairs.join(base.selectExpr("doc_id AS doc_a", "h"), "doc_a")
        .join(base.selectExpr("doc_id AS doc_b", "h AS hb"), "doc_b")
        .where("h = hb")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"])
        .join(F.broadcast(sizes.selectExpr("doc_id AS doc_a", "sz AS sa")), "doc_a")
        .join(F.broadcast(sizes.selectExpr("doc_id AS doc_b", "sz AS sb")), "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "est_micro",
            "inter * 1000000 div (sa + sb - inter) AS true_micro",
            "abs(est_micro - inter * 1000000 div (sa + sb - inter)) AS err_micro",
        )
    )


_acc_match_d = " + ".join(
    f"CAST(a.m{i} = b.m{i} AS INT)" for i in range(MH_HASHES))

DEDUP_MH_ACCURACY_ORACLE = f"""
WITH pairs AS (
  {DEDUP_MINHASH_ORACLE}
), toks2 AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), sh2 AS (
  SELECT DISTINCT doc_id, unnest({X.shingles_duck('toks', MH_K)}) AS shingle
  FROM toks2
), base2 AS (
  SELECT doc_id, {portable_hash64_sql('shingle')} AS h FROM sh2
), mins2 AS (
  SELECT doc_id, {_mins_d} FROM base2 GROUP BY doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM base2 GROUP BY doc_id
), est AS (
  SELECT doc_a, doc_b, ({_acc_match_d}) * 1000000 // {MH_HASHES} AS est_micro
  FROM pairs JOIN mins2 a ON a.doc_id = doc_a JOIN mins2 b ON b.doc_id = doc_b
), inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS i
  FROM pairs
  JOIN base2 x ON x.doc_id = doc_a
  JOIN base2 y ON y.doc_id = doc_b AND y.h = x.h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, est_micro,
       i * 1000000 // (sa.sz + sb.sz - i) AS true_micro,
       abs(est_micro - i * 1000000 // (sa.sz + sb.sz - i)) AS err_micro
FROM est JOIN inter USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


SPECS += [
    QuerySpec("dedup_minhash_accuracy", dedup_minhash_accuracy,
              DEDUP_MH_ACCURACY_ORACLE,
              "MinHash-estimated vs exact Jaccard per LSH candidate pair",
              ("dedup", "audit")),
]


# --- LSH candidate-generation eval --------------------------------------------
# Closes the dedup-audit loop that dedup_minhash_accuracy opens: not
# "how good are the estimates" but "how good is the CANDIDATE SET".
# Ground truth = source-blocked exact 3-gram Jaccard >= NJ_THRESHOLD
# (dedup_ngram_jaccard — same shingle size as the MinHash path, so the
# two pipelines measure the same similarity); prediction = the LSH
# banding candidates restricted to same-source pairs (LSH also surfaces
# cross-source pairs the blocked ground truth cannot see — excluded for
# a fair confusion count). Output: the confusion counts + integer-ppm
# precision/recall — the banding-parameter tuning readout.

def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Share ONE materialized shingle staging between ground truth and
    # prediction (r9, the dedup_family_overlap device): MH_K == NJ_K and
    # the portable hash is shared, so both families' staging tables are
    # byte-identical — the old form derived tokenize+shingle+md5 twice.
    assert MH_K == NJ_K
    shingled = ngram_shingle_table(spark, sf_dir).localCheckpoint(eager=True)
    truth = dedup_ngram_jaccard(spark, sf_dir, shingled=shingled).select(
        "doc_a", "doc_b")
    pred = dedup_minhash_lsh(spark, sf_dir, shingled=shingled)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pred_ss = (
        pred.join(F.broadcast(src.selectExpr("doc_id AS doc_a",
                                             "source AS sa")), "doc_a")
        .join(F.broadcast(src.selectExpr("doc_id AS doc_b", "source AS sb")),
              "doc_b")
        .where("sa = sb")
        .select("doc_a", "doc_b")
    )
    joined = pred_ss.withColumn("p", F.lit(1)).join(
        truth.withColumn("t", F.lit(1)), ["doc_a", "doc_b"], "full_outer")
    return joined.agg(
        F.sum(F.expr("CAST(p IS NOT NULL AND t IS NOT NULL AS BIGINT)"))
        .alias("tp"),
        F.sum(F.expr("CAST(p IS NOT NULL AND t IS NULL AS BIGINT)"))
        .alias("fp"),
        F.sum(F.expr("CAST(p IS NULL AND t IS NOT NULL AS BIGINT)"))
        .alias("fn"),
    ).selectExpr(
        "tp", "fp", "fn",
        "CASE WHEN tp + fp = 0 THEN 0"
        " ELSE tp * 1000000 div (tp + fp) END AS precision_ppm",
        "CASE WHEN tp + fn = 0 THEN 0"
        " ELSE tp * 1000000 div (tp + fn) END AS recall_ppm",
    )


DEDUP_LSH_EVAL_ORACLE = f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_ORACLE})
), pred0 AS (
  {DEDUP_MINHASH_ORACLE}
), pred AS (
  SELECT doc_a, doc_b
  FROM pred0
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b
  WHERE da.source = db.source
), joined AS (
  SELECT COALESCE(p.doc_a, t.doc_a) AS doc_a,
         p.doc_a IS NOT NULL AS in_p, t.doc_a IS NOT NULL AS in_t
  FROM pred p FULL OUTER JOIN truth t
    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
), agg AS (
  SELECT CAST(SUM(CAST(in_p AND in_t AS BIGINT)) AS BIGINT) AS tp,
         CAST(SUM(CAST(in_p AND NOT in_t AS BIGINT)) AS BIGINT) AS fp,
         CAST(SUM(CAST(NOT in_p AND in_t AS BIGINT)) AS BIGINT) AS fn
  FROM joined
)
SELECT tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN 0
            ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
       CASE WHEN tp + fn = 0 THEN 0
            ELSE tp * 1000000 // (tp + fn) END AS recall_ppm
FROM agg
"""


SPECS += [
    QuerySpec("dedup_lsh_eval", dedup_lsh_eval, DEDUP_LSH_EVAL_ORACLE,
              "LSH candidate precision/recall vs exact-Jaccard ground truth",
              ("dedup", "audit", "eval")),
]


# --- prefix-filter set-similarity join (PPJoin family) -----------------------
# The exact-threshold similarity join that needs NO blocking key and NO
# probabilistic banding: for Jaccard >= t, any two qualifying sets must
# share at least one token in their length-(n - ceil(t*n) + 1) PREFIX
# when every set is ordered by GLOBAL token rarity (ascending df) — so
# candidates come from an equi-join on prefix tokens only, and rare
# tokens make tiny buckets. This is the standard SSJoin/PPJoin
# candidate-generation bound; MinHash banding (above) trades exactness
# for speed, this trades a df-ranking pass for a guarantee: zero false
# negatives at the threshold, verified here by EXACT intersection counts
# ((DEN+NUM)c >= NUM(na+nb) <=> J >= NUM/DEN in pure integers). Plan:
# every join is keyed
# (shingle hash or doc id); the only per-doc sort is the doc-bounded
# rarity rank. At 100 TB the df table is the same rollup the boilerplate
# detector builds, and candidate volume is governed by the df of PREFIX
# tokens — the rarest per doc — not corpus size.

PF_NUM, PF_DEN = 1, 2  # Jaccard threshold 1/2 as an exact rational


def dedup_prefix_filter_join(
    spark: SparkSession, sf_dir: str, *, shingled: DataFrame | None = None
) -> DataFrame:
    # shingled feeds five consumers (df, counts, prefix, both verify sides);
    # measured at sf0.1, RECOMPUTING the explode per consumer beats
    # localCheckpoint materialization (5.1s vs 6.0s) — AQE loses runtime
    # stats behind a checkpoint, the graph_triangle_count lesson again.
    # (A caller-provided ``shingled`` is already materialized, so the
    # cross-family reuse case reads it instead.)
    if shingled is None:
        shingled = ngram_shingle_table(spark, sf_dir).select("doc_id", "sh_h")
    else:
        shingled = shingled.select("doc_id", "sh_h")
    df_tbl = shingled.groupBy("sh_h").agg(F.count("*").alias("df"))
    counts = shingled.groupBy("doc_id").agg(F.count("*").alias("n"))
    rarity = Window.partitionBy("doc_id").orderBy("df", "sh_h")
    prefix = (
        shingled.join(df_tbl, "sh_h")
        .withColumn("rk", F.row_number().over(rarity))
        .join(counts, "doc_id")
        .where(
            f"rk <= n - (n * {PF_NUM} + {PF_DEN} - 1) div {PF_DEN} + 1"
        )
        .select("doc_id", "sh_h")
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cand = (
        prefix.select("sh_h", F.col("doc_id").alias("doc_a"))
        .join(prefix.select("sh_h", F.col("doc_id").alias("doc_b")), "sh_h")
        .where("doc_a < doc_b")
        .select("doc_a", "doc_b")
        .distinct()
        # PPJoin length filter BEFORE the expensive verify join:
        # c <= min(na, nb) and J >= NUM/DEN together force
        # NUM * max(na, nb) <= DEN * min(na, nb) — candidates whose sizes
        # are too far apart can never pass the threshold, so they never
        # enter the intersection-count join. Counts ride along so the
        # final threshold needs no post-verify re-join.
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .where(f"{PF_NUM} * greatest(na, nb) <= {PF_DEN} * least(na, nb)")
    )
    sa = shingled.select(F.col("doc_id").alias("doc_a"), "sh_h")
    sb = shingled.select(F.col("doc_id").alias("doc_b_s"),
                         F.col("sh_h").alias("sh_h_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b_s"))
              & (F.col("sh_h") == F.col("sh_h_b")))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter
        # J >= t  <=>  c/(na+nb-c) >= NUM/DEN  <=>  (DEN+NUM)c >= NUM(na+nb)
        .where(f"{PF_DEN + PF_NUM} * c >= {PF_NUM} * (na + nb)")
        .selectExpr("doc_a", "doc_b", "c AS n_common", "na", "nb",
                    "CAST(c AS DOUBLE) / (na + nb - c) AS jaccard")
    )


DEDUP_PREFIX_FILTER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), shs AS (
  SELECT DISTINCT doc_id, unnest({X.shingles_duck('toks', NJ_K)}) AS shingle
  FROM toks
), sh AS (
  SELECT doc_id, {portable_hash64_sql('shingle')} AS sh_h FROM shs
), dfs AS (
  SELECT sh_h, COUNT(*) AS df FROM sh GROUP BY 1
), counts AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), prefix AS (
  SELECT doc_id, sh_h FROM (
    SELECT s.doc_id, s.sh_h, c.n,
           row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh_h)
             AS rk
    FROM sh s JOIN dfs d USING (sh_h) JOIN counts c USING (doc_id)
  ) WHERE rk <= n - (n * {PF_NUM} + {PF_DEN} - 1) // {PF_DEN} + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
), inter AS (
  SELECT cd.doc_a, cd.doc_b, COUNT(*) AS c
  FROM cand cd
  JOIN sh sa ON sa.doc_id = cd.doc_a
  JOIN sh sb ON sb.doc_id = cd.doc_b AND sb.sh_h = sa.sh_h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, c AS n_common, na.n AS na, nb.n AS nb,
       CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
FROM inter JOIN counts na ON na.doc_id = doc_a
           JOIN counts nb ON nb.doc_id = doc_b
WHERE {PF_DEN + PF_NUM} * c >= {PF_NUM} * (na.n + nb.n)
"""


SPECS += [
    QuerySpec("dedup_prefix_filter_join", dedup_prefix_filter_join,
              DEDUP_PREFIX_FILTER_ORACLE,
              "exact-threshold set-similarity join via df-ordered prefix filter",
              ("dedup", "similarity")),
]


# --- incremental dedup against a historical fingerprint index ----------------
# How dedup actually runs at 100 TB: the corpus is NOT rescanned per
# ingest — yesterday's fingerprint INDEX (fingerprint -> first doc_id, a
# tiny table relative to the corpus) is joined against today's DELTA
# only. The fingerprint is the min portable-hash over word 5-gram
# shingles (the text_fingerprint device: for J-similar docs the min
# shingle hash collides with probability J, so 0.95+ near-dups are
# caught by an EQUALITY join — no pair enumeration at ingest time; the
# banded families above are the deeper offline sweep). Split is
# deterministic here (first INCR_HISTORY_PCT% of doc_ids = history; in
# production, the ingest date); each delta doc is classified
# dup_of_history / dup_within_delta / new. The only scans are one over
# history (index build — in production a stored table, amortized) and
# one over the delta; classification is a broadcast-scale hash join
# plus one delta-bounded window.

INCR_HISTORY_PCT = 80
_FP_K = 5


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    toked = docs.select("doc_id", "text", F.expr(TOKS_S).alias("toks"))
    sh = X.shingles_spark("toks", _FP_K)
    fb = "cast(conv(substr(md5(lower(text)), 1, 15), 16, 10) as bigint)"
    fp = toked.selectExpr(
        "doc_id",
        "coalesce(array_min(transform(" + sh + ", s ->"
        " cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))), "
        + fb + ") AS f",
    ).localCheckpoint(eager=True)
    # materialized: three consumers (history-cut agg, index build, delta
    # classify) would otherwise each re-run the tokenize+shingle+hash
    # fold over the full corpus (measured 3.9 s -> 1.0 s at sf0.1). The
    # staging row is (doc_id, f) — two BIGINTs per document, the same
    # footprint the production stored-index contract materializes anyway.
    mx = fp.agg(F.max("doc_id").alias("m"))
    hist_cut = F.broadcast(mx.selectExpr(
        f"CAST(floor(m * {INCR_HISTORY_PCT} / 100.0) AS BIGINT) AS cut"))
    tagged = fp.crossJoin(hist_cut)
    index = (
        tagged.where("doc_id <= cut")
        .groupBy("f").agg(F.min("doc_id").alias("hist_doc_id"))
    )
    delta = tagged.where("doc_id > cut")
    w = Window.partitionBy("f").orderBy("doc_id")
    classified = (
        delta.join(F.broadcast(index), "f", "left")
        .withColumn("rk_in_delta", F.row_number().over(w))
        .selectExpr(
            "doc_id",
            "CASE WHEN hist_doc_id IS NOT NULL THEN 'dup_of_history'"
            "     WHEN rk_in_delta > 1 THEN 'dup_within_delta'"
            "     ELSE 'new' END AS status",
        )
    )
    return classified.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


_FP_SH_D = X.shingles_duck(TOKS_D, _FP_K)
DEDUP_INCREMENTAL_ORACLE = f"""
WITH fp AS (
  SELECT doc_id,
         coalesce(list_min(list_transform({_FP_SH_D},
                    s -> {portable_hash64_sql('s')})),
                  {portable_hash64_sql('lower(text)')}) AS f
  FROM documents
), cut AS (
  SELECT CAST(floor(MAX(doc_id) * {INCR_HISTORY_PCT} / 100.0) AS BIGINT) AS c
  FROM fp
), index_ AS (
  SELECT f, MIN(doc_id) AS hist_doc_id
  FROM fp, cut WHERE doc_id <= c GROUP BY f
), delta AS (
  SELECT doc_id, f FROM fp, cut WHERE doc_id > c
), classified AS (
  SELECT d.doc_id,
         CASE WHEN i.hist_doc_id IS NOT NULL THEN 'dup_of_history'
              WHEN row_number() OVER (PARTITION BY d.f ORDER BY d.doc_id) > 1
                THEN 'dup_within_delta'
              ELSE 'new' END AS status
  FROM delta d LEFT JOIN index_ i ON d.f = i.f
)
SELECT status, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM classified GROUP BY status
"""


SPECS += [
    QuerySpec("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_ORACLE,
              "delta-vs-fingerprint-index incremental near-dedup, history never rescanned",
              ("dedup", "incremental")),
]


# --- dedup family overlap audit -----------------------------------------------
# The operational question after running three candidate generators:
# do the families agree, and what does each find that the others miss?
# Membership flags over the union of pair sets from (a) MinHash-banded
# candidates, (b) prefix-filter verified J >= 1/2 pairs, (c) the
# source-blocked exact-Jaccard pairs — rolled up to one row per
# membership combination. MinHash-only rows are banding's false-positive
# surface (the exact-verify workload); prefix-only rows are what source
# blocking MISSES (cross-source near-dups); agreement everywhere is the
# audit's healthy state. Composes three already-verified pipelines; the
# shuffles are the unioned pair keys, all equi-joins.

def dedup_family_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE tokenize+shingle+hash scan, materialized, feeds all three
    # families (MH_K == NJ_K and the portable hash is shared, so the
    # staging table is byte-identical to what each family would build).
    # Measured at sf0.1: 9.7s (3x recompute) -> 8.0s; the residual is the
    # prefix-filter join's own candidate+verify work (5.4s standalone),
    # not scan duplication.
    assert MH_K == NJ_K
    shingled = ngram_shingle_table(spark, sf_dir).localCheckpoint(eager=True)
    # each pair set feeds TWO consumers (the keys union and its own flag
    # join) — materialize the tiny pair lists so no family runs twice.
    # The three families are INDEPENDENT once the shared staging table is
    # materialized, so their jobs are submitted from a small thread pool
    # (guide-§2.6 back-fill: each family's straggler tail is filled by
    # the next family's tasks instead of idling the box; Spark schedules
    # concurrent jobs FIFO within one session). Measured at sf0.1
    # isolated: 6.9 s serial -> see OPTIMIZATION_r09.md.
    # InheritableThread (ADVICE r9): plain executor threads in pinned-
    # thread mode do NOT inherit the caller's Spark local properties
    # (job group/description/tags), so harness-level job attribution or
    # cancellation would miss the family jobs; InheritableThread copies
    # them at start.
    from pyspark import InheritableThread

    def _pairs(fam):
        return fam(spark, sf_dir, shingled=shingled).select(
            "doc_a", "doc_b").localCheckpoint(eager=True)

    results: dict[str, DataFrame] = {}
    errors: list[Exception] = []

    def _run(name, fam):
        try:
            results[name] = _pairs(fam)
        except Exception as e:  # propagate to the caller thread
            errors.append(e)

    threads = [
        InheritableThread(target=_run, args=(n, f))
        for n, f in (("mh", dedup_minhash_lsh),
                     ("pf", dedup_prefix_filter_join),
                     ("nb", dedup_ngram_jaccard))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup(
            f"dedup_family_overlap: {len(errors)} families failed", errors)
    mh, pf, nb = results["mh"], results["pf"], results["nb"]
    keys = mh.unionAll(pf).unionAll(nb).distinct()

    def flag(df: DataFrame, name: str) -> DataFrame:
        return df.withColumn(name, F.lit(1)).groupBy("doc_a", "doc_b").agg(
            F.max(name).alias(name))

    joined = (
        keys.join(flag(mh, "in_minhash"), ["doc_a", "doc_b"], "left")
        .join(flag(pf, "in_prefix"), ["doc_a", "doc_b"], "left")
        .join(flag(nb, "in_blocked"), ["doc_a", "doc_b"], "left")
        .selectExpr(
            "coalesce(in_minhash, 0) AS in_minhash",
            "coalesce(in_prefix, 0) AS in_prefix",
            "coalesce(in_blocked, 0) AS in_blocked",
        )
    )
    return joined.groupBy("in_minhash", "in_prefix", "in_blocked").agg(
        F.count("*").alias("n_pairs"))


DEDUP_FAMILY_OVERLAP_ORACLE = f"""
WITH mh AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_ORACLE})
), pf AS (
  SELECT doc_a, doc_b FROM ({DEDUP_PREFIX_FILTER_ORACLE})
), nb AS (
  SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_ORACLE})
), keys AS (
  SELECT doc_a, doc_b FROM mh
  UNION SELECT doc_a, doc_b FROM pf
  UNION SELECT doc_a, doc_b FROM nb
), flagged AS (
  SELECT
    CASE WHEN EXISTS (SELECT 1 FROM mh WHERE mh.doc_a = k.doc_a
                      AND mh.doc_b = k.doc_b) THEN 1 ELSE 0 END AS in_minhash,
    CASE WHEN EXISTS (SELECT 1 FROM pf WHERE pf.doc_a = k.doc_a
                      AND pf.doc_b = k.doc_b) THEN 1 ELSE 0 END AS in_prefix,
    CASE WHEN EXISTS (SELECT 1 FROM nb WHERE nb.doc_a = k.doc_a
                      AND nb.doc_b = k.doc_b) THEN 1 ELSE 0 END AS in_blocked
  FROM keys k
)
SELECT in_minhash, in_prefix, in_blocked, COUNT(*) AS n_pairs
FROM flagged GROUP BY 1, 2, 3
"""


SPECS += [
    QuerySpec("dedup_family_overlap", dedup_family_overlap,
              DEDUP_FAMILY_OVERLAP_ORACLE,
              "3-family pair-set confusion: banding FP surface + blocking misses",
              ("dedup", "audit")),
]


# --- exact substring-level cross-document dedup -------------------------------
# The Lee-et-al "Deduplicating Training Data Makes Language Models
# Better" family: remove REPEATED SPANS (>= SUB_K tokens appearing in
# more than one document), not just whole near-dup docs — the most-used
# production text-dedup pass after doc-level dedup. This completes the
# ladder: exact doc -> near doc -> semantic -> substring.
#
# Distributed shape (all equi-joins on the 60-bit shingle hash; the
# suffix-array construction the paper uses is single-machine — the
# shingle-table formulation is the standard cluster equivalent):
#   1. token-POSITION table (doc_id, pos, token) — posexplode, one scan;
#   2. K-token shingle STARTS (doc_id, start, hash) — map-side transform;
#   3. duplicated hashes: groupBy(hash) HAVING count(DISTINCT doc_id)>=2
#      (cross-document only: a phrase repeated inside ONE doc is not a
#      dedup target);
#   4. covered positions: each duplicated start explodes to its K
#      positions (explode factor bounded by dup density, not corpus
#      size), distinct;
#   5. gaps-and-islands merge into maximal removal spans — the only
#      order-sensitive step, windowed PER DOC (pos - row_number() is the
#      classic island key; partitions are doc-bounded, never global);
#   6. chars-removed audit from the position table (equi-join, no range
#      join anywhere).
# At 100 TB: two scans + three keyed shuffles; the dup-hash table is the
# only intermediate that grows with duplication (not corpus) volume.
# Production would use K=50 (the paper's span length); K=20 matches this
# corpus's ~300-token documents.

SUB_K = 20


def _substring_covered(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None,
    k: int = SUB_K, toked: DataFrame | None = None,
    pos_tok: DataFrame | None = None,
):
    """(pos_tok, covered): the token-position table and the distinct
    (doc_id, pos) set covered by any cross-document duplicated K-gram.

    ``docs``: optional (doc_id, text) frame to run over a RESTRICTED
    corpus (e.g. the survivors of doc-level dedup) — duplication is
    evaluated against exactly the docs given, as a staged pipeline must.
    ``toked``/``pos_tok``: optional pre-materialized staging — the
    K-sweep derives them ONCE and shares them across all K values (r10,
    guide §2.4: the k-independent tokenize + posexplode ran per K)."""
    if toked is None:
        if docs is None:
            docs = spread_small_source(
                load_table(spark, sf_dir, "documents").select(
                    "doc_id", "text"),
                spark,
            )
        toked = docs.select("doc_id", F.expr(TOKS_S).alias("toks"))
    if pos_tok is None:
        pos_tok = toked.select(
            "doc_id", F.posexplode("toks").alias("p0", "tok")
        ).selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS pos", "tok")
    starts = toked.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(toks) < {k} THEN array() "
            f"ELSE transform(sequence(1, size(toks) - {k} + 1), i -> "
            f"named_struct('start', CAST(i AS BIGINT), "
            f"'h', cast(conv(substr(md5(array_join(slice(toks, i, {k}), "
            f"' ')), 1, 15), 16, 10) as bigint))) END"
        )).alias("s"),
    ).select("doc_id", "s.start", "s.h")
    dup_h = (
        starts.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where("nd >= 2")
        .select("h")
    )
    covered = (
        starts.join(dup_h, "h")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(start, start + {k - 1})")).alias("pos"),
        )
        .distinct()
    )
    return pos_tok, covered


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc maximal removal spans of cross-document duplicated
    >= SUB_K-token runs, with token and char accounting per span."""
    pos_tok, covered = _substring_covered(spark, sf_dir)
    cov_tok = covered.join(pos_tok, ["doc_id", "pos"])
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        cov_tok.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("span_end"),
            F.count("*").alias("n_tokens"),
            (F.sum(F.length("tok")) + F.count("*") - 1).alias("n_chars"),
        )
        .select("doc_id", "span_start", "span_end", "n_tokens", "n_chars")
    )


def _sub_common_sql(rel: str = "documents", k: int = SUB_K) -> str:
    """The shared position/shingle/cover/span CTE chain, over any
    (doc_id, text) relation ``rel`` (the capstone runs it over the
    doc-dedup survivor set instead of the raw table) at span length
    ``k`` (the sensitivity sweep varies it)."""
    return _sub_common_tpl(k).replace("__REL__", rel)


def _sub_common_tpl(k: int) -> str:
    return f"""toks AS (
  SELECT doc_id, {TOKS_D} AS toks FROM __REL__
), pos_tok AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, toks[u.i] AS tok
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
), starts AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS start,
         {portable_hash64_sql(f"array_to_string(toks[u.i:u.i+{k - 1}], ' ')")} AS h
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks) - {k} + 2)) AS i) u
), dup AS (
  SELECT h FROM starts GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT s.doc_id, u.p AS pos
  FROM starts s JOIN dup USING (h),
       LATERAL (SELECT unnest(range(s.start, s.start + {k})) AS p) u
), spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) AS span_end,
         COUNT(*) AS n_tokens,
         CAST(SUM(length(tok)) + COUNT(*) - 1 AS BIGINT) AS n_chars
  FROM (
    SELECT c.doc_id, c.pos, p.tok,
           c.pos - row_number() OVER (PARTITION BY c.doc_id ORDER BY c.pos)
             AS grp
    FROM cov c JOIN pos_tok p USING (doc_id, pos)
  )
  GROUP BY doc_id, grp
)"""

DEDUP_SUBSTRING_SPANS_ORACLE = f"""
WITH {_sub_common_sql()}
SELECT doc_id, span_start, span_end, n_tokens, n_chars FROM spans
"""


def dedup_substring_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chars-removed audit of the substring pass: how much of
    each slice of the corpus is cross-document boilerplate? Joins the
    span table back to document metadata (broadcast-scale here; a plain
    keyed join at 100 TB) and rolls up doc/token/char removal totals."""
    spans = dedup_substring_spans(spark, sf_dir)
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("n_tokens").alias("tokens_removed"),
        F.sum("n_chars").alias("chars_removed"),
    )
    return (
        meta.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.expr("CAST(n_spans IS NOT NULL AS BIGINT)")).alias("docs_affected"),
            F.sum(F.coalesce("n_spans", F.lit(0))).alias("n_spans"),
            F.sum(F.coalesce("tokens_removed", F.lit(0))).alias("tokens_removed"),
            F.sum(F.coalesce("chars_removed", F.lit(0))).alias("chars_removed"),
            F.sum("n_chars").cast("long").alias("corpus_chars"),
        )
        .selectExpr(
            "source", "n_docs", "docs_affected", "n_spans", "tokens_removed",
            "chars_removed",
            "chars_removed * 1000000 div corpus_chars AS removed_ppm",
        )
    )


DEDUP_SUBSTRING_AUDIT_ORACLE = f"""
WITH {_sub_common_sql()}, per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_removed,
         CAST(SUM(n_chars) AS BIGINT) AS chars_removed
  FROM spans GROUP BY doc_id
), rolled AS (
  SELECT d.source, COUNT(*) AS n_docs,
         CAST(SUM(CAST(p.n_spans IS NOT NULL AS BIGINT)) AS BIGINT)
           AS docs_affected,
         CAST(SUM(COALESCE(p.n_spans, 0)) AS BIGINT) AS n_spans,
         CAST(SUM(COALESCE(p.tokens_removed, 0)) AS BIGINT) AS tokens_removed,
         CAST(SUM(COALESCE(p.chars_removed, 0)) AS BIGINT) AS chars_removed,
         CAST(SUM(d.n_chars) AS BIGINT) AS corpus_chars
  FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, docs_affected, n_spans, tokens_removed, chars_removed,
       chars_removed * 1000000 // corpus_chars AS removed_ppm
FROM rolled
"""


SPECS += [
    QuerySpec("dedup_substring_spans", dedup_substring_spans,
              DEDUP_SUBSTRING_SPANS_ORACLE,
              "cross-doc repeated >=K-token span removal (Lee-et-al substring dedup)",
              ("dedup", "substring")),
    QuerySpec("dedup_substring_audit", dedup_substring_audit,
              DEDUP_SUBSTRING_AUDIT_ORACLE,
              "per-source chars-removed rollup of the substring dedup pass",
              ("dedup", "substring", "audit")),
]


# --- apply the substring pass: reconstructed cleaned documents ----------------
# The pass above REPORTS removal spans; this one APPLIES them — the
# deliverable a training pipeline actually writes. Kept text is
# reconstructed from the position table minus the covered set (one
# anti-join, one per-doc ordered rebuild) and pinned by an md5 of the
# reconstructed string, so the oracle verifies the exact post-removal
# corpus byte-for-byte, including fully-removed documents (empty-string
# md5). The per-doc collect_list is doc-bounded (a document's own
# tokens), never global.

def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos_tok, covered = _substring_covered(spark, sf_dir)
    kept = pos_tok.join(covered, ["doc_id", "pos"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " s -> s.tok), ' ')"
        ).alias("kept_text"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(per_doc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(n_tokens_kept, CAST(0 AS BIGINT)) AS n_tokens_kept",
            "CAST(length(coalesce(kept_text, '')) AS BIGINT) AS n_chars_kept",
            "md5(coalesce(kept_text, '')) AS kept_md5",
        )
    )


DEDUP_SUBSTRING_CLEAN_ORACLE = f"""
WITH {_sub_common_sql()}, kept AS (
  SELECT p.doc_id, p.pos, p.tok
  FROM pos_tok p ANTI JOIN cov c ON c.doc_id = p.doc_id AND c.pos = p.pos
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens_kept,
         string_agg(tok, ' ' ORDER BY pos) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(length(COALESCE(p.kept_text, '')) AS BIGINT) AS n_chars_kept,
       md5(COALESCE(p.kept_text, '')) AS kept_md5
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


SPECS += [
    QuerySpec("dedup_substring_clean", dedup_substring_clean,
              DEDUP_SUBSTRING_CLEAN_ORACLE,
              "apply substring removal spans: md5-pinned reconstructed corpus",
              ("dedup", "substring")),
]


# --- cross-source duplication matrix ------------------------------------------
# The corpus-composition audit over the near-dup graph: for every
# (source_a, source_b) pair, how many MinHash candidate near-dup pairs
# cross them? The diagonal is intra-source duplication (crawl overlap);
# off-diagonal mass is the mirror/syndication signal that tells you
# which slice to drop before training. Sources are normalized so
# (a, b) == (b, a): the unordered pair is keyed lexicographically.
# Plan: the verified candidate pipeline + two broadcast-scale dimension
# joins + one rollup — nothing new shuffles at corpus scale.

def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.join(F.broadcast(src.selectExpr("doc_id AS doc_a", "source AS sa")),
                   "doc_a")
        .join(F.broadcast(src.selectExpr("doc_id AS doc_b", "source AS sb")),
              "doc_b")
        .selectExpr("least(sa, sb) AS source_a", "greatest(sa, sb) AS source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


DEDUP_SOURCE_MATRIX_ORACLE = f"""
WITH pairs AS (
  {DEDUP_MINHASH_ORACLE}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
GROUP BY 1, 2
"""


SPECS += [
    QuerySpec("dedup_source_matrix", dedup_source_matrix,
              DEDUP_SOURCE_MATRIX_ORACLE,
              "cross-source near-dup pair matrix (syndication/overlap audit)",
              ("dedup", "audit")),
]


# --- capstone: the staged dedup pipeline a training run actually ships --------
# Exact dedup -> near-dup canonical selection -> substring-level span
# removal, STAGED (each pass runs over the previous pass's survivors,
# exactly as production orders them — substring duplication is evaluated
# against the doc-deduped corpus, not the raw one). Per-source
# accounting of what each stage removed:
#   n_docs_in        raw docs
#   n_after_exact    after md5-exact keep-first
#   n_after_near     after dropping non-canonical cluster members
#                    (connected components over MinHash candidates,
#                    longest-text-wins keep policy)
#   chars_in / chars_kept   raw vs post-substring character volume
# Every stage is the independently hash-verified machinery above,
# composed; the oracle replays the identical staging in SQL (recursive-
# CTE components + the substring chain over the survivor relation).

def pipeline_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars")

    # stage 1: exact — keep the min doc_id per content hash
    exact_keep = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = docs.join(exact_keep, "doc_id")

    # stage 2: near — drop non-canonical members of MinHash clusters
    # (clusters computed on the full corpus = the exact-stage survivors
    # here, since exact copies share every shingle and land in the same
    # cluster either way; canonical = longest text, then smallest id)
    canon = pipeline_canonical_docs(spark, sf_dir)
    drop = canon.where("keep = 0").select("doc_id")
    s2 = s1.join(drop, "doc_id", "left_anti").localCheckpoint(eager=True)

    # stage 3: substring spans over the SURVIVOR corpus only
    pos_tok, covered = _substring_covered(
        spark, sf_dir, docs=s2.select("doc_id", "text"))
    kept_chars = (
        pos_tok.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg((F.sum(F.length("tok")) + F.count("*") - 1).alias("kept"))
    )

    src = docs.select("doc_id", "source", "n_chars")
    stage_flags = (
        src
        .join(s1.selectExpr("doc_id", "1 AS in_s1"), "doc_id", "left")
        .join(s2.selectExpr("doc_id", "1 AS in_s2"), "doc_id", "left")
        .join(kept_chars, "doc_id", "left")
    )
    return stage_flags.groupBy("source").agg(
        F.count("*").alias("n_docs_in"),
        F.sum(F.coalesce("in_s1", F.lit(0))).alias("n_after_exact"),
        F.sum(F.coalesce("in_s2", F.lit(0))).alias("n_after_near"),
        F.sum("n_chars").cast("long").alias("chars_in"),
        F.sum(F.when(F.col("in_s2").isNotNull(),
                     F.coalesce("kept", F.lit(0))).otherwise(0))
        .cast("long").alias("chars_kept"),
    )


PIPELINE_DEDUP_E2E_ORACLE = f"""
WITH comp AS (
  {CANONICAL_DOCS_ORACLE}
), exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), s1 AS (
  SELECT d.* FROM documents d JOIN exact_keep USING (doc_id)
), drop_near AS (
  SELECT doc_id FROM comp WHERE keep = 0
), s2 AS (
  SELECT s1.* FROM s1 ANTI JOIN drop_near USING (doc_id)
), {_sub_common_sql('s2')}, kept AS (
  SELECT p.doc_id,
         CAST(SUM(length(p.tok)) + COUNT(*) - 1 AS BIGINT) AS kept
  FROM pos_tok p ANTI JOIN cov c
    ON c.doc_id = p.doc_id AND c.pos = p.pos
  GROUP BY p.doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs_in,
       CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_exact,
       CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_near,
       CAST(SUM(d.n_chars) AS BIGINT) AS chars_in,
       CAST(SUM(CASE WHEN s.doc_id IS NOT NULL
                     THEN COALESCE(k.kept, 0) ELSE 0 END) AS BIGINT)
         AS chars_kept
FROM documents d
LEFT JOIN s1 e ON e.doc_id = d.doc_id
LEFT JOIN s2 s ON s.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
GROUP BY d.source
"""


SPECS += [
    QuerySpec("pipeline_dedup_e2e", pipeline_dedup_e2e,
              PIPELINE_DEDUP_E2E_ORACLE,
              "staged exact -> near-canonical -> substring dedup, per-source accounting",
              ("dedup", "pipeline", "capstone", "iterative")),
]


# --- substring span-length sensitivity sweep ----------------------------------
# The tuning readout for the substring pass (the dedup_lsh_eval
# counterpart): how much would each span-length threshold K remove?
# Short K over-removes (common phrases); long K under-removes. One row
# per K with corpus-level span/token/char totals — the table you read
# before picking the production threshold. Each K is an independent run
# of the verified cover machinery over the same scan; Ks are unioned so
# one query answers the sweep.

SUB_K_SWEEP = (10, 20, 40)


def dedup_substring_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # K-independent staging materialized ONCE for the whole sweep (r10,
    # guide §2.4): tokenize ran 2x per K (pos_tok + starts) and the
    # posexplode once per K — 6 tokenize + 3 posexplode passes for a
    # 3-point sweep. Measured alternating A/B at sf0.1: 3.68 -> 3.14 s
    # (shared toked only: 3.35). The three K branches then run inside one
    # union action, so their stages overlap against the cached staging.
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )
    toked = docs.select("doc_id", F.expr(TOKS_S).alias("toks")).localCheckpoint(
        eager=True)
    shared_pos_tok = toked.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS pos", "tok"
                 ).localCheckpoint(eager=True)
    out = None
    for k in SUB_K_SWEEP:
        pos_tok, covered = _substring_covered(
            spark, sf_dir, k=k, toked=toked, pos_tok=shared_pos_tok)
        cov_tok = covered.join(pos_tok, ["doc_id", "pos"])
        w = Window.partitionBy("doc_id").orderBy("pos")
        spans = (
            cov_tok.withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "grp")
            .agg(
                F.count("*").alias("n_tokens"),
                (F.sum(F.length("tok")) + F.count("*") - 1).alias("n_chars"),
            )
        )
        row = spans.agg(
            F.count("*").alias("n_spans"),
            F.countDistinct("doc_id").alias("docs_affected"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens_removed"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars_removed"),
        ).selectExpr(f"CAST({k} AS BIGINT) AS k", "n_spans", "docs_affected",
                     "tokens_removed", "chars_removed")
        out = row if out is None else out.unionAll(row)
    return out


def _k_sweep_oracle() -> str:
    parts = []
    for k in SUB_K_SWEEP:
        parts.append(f"""
SELECT CAST({k} AS BIGINT) AS k, COUNT(*) AS n_spans,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_affected,
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tokens_removed,
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS chars_removed
FROM (WITH {_sub_common_sql(k=k)} SELECT * FROM spans)""")
    return "\nUNION ALL\n".join(parts)


DEDUP_SUBSTRING_K_SWEEP_ORACLE = _k_sweep_oracle()


SPECS += [
    QuerySpec("dedup_substring_k_sweep", dedup_substring_k_sweep,
              DEDUP_SUBSTRING_K_SWEEP_ORACLE,
              "span-length threshold sweep: removal volume at K in {10,20,40}",
              ("dedup", "substring", "audit", "eval")),
]


# --- SemDeDup-style semantic prune ------------------------------------------
# Semantic dedup as a RETENTION DECISION (SemDeDup, Abbas et al. 2023 —
# arXiv:2303.09540): bucket embeddings by a quantizer, then within each
# bucket drop every vector that has a similar lower-id neighbor. Unlike
# `dedup_embedding_cosine` (which reports candidate PAIRS blocked on a
# GIVEN label), this derives its blocks FROM the embedding itself and
# emits the keep/drop accounting a pipeline acts on. The quantizer here
# is the deterministic sign quantizer (first SEM_B dimensions' sign bits
# -> 2^SEM_B orthant buckets) so the DuckDB oracle replays it exactly;
# the trained-quantizer production variant is the persisted IVF index
# path (operators/annindex.py), whose cells swap in for buckets
# unchanged. At 100 TB: bucket count scales with SEM_B (or IVF K), the
# pairwise stage is bounded per bucket (sum of c_b^2, never n^2 global),
# and the decision rule needs no iteration — one bucketed self-join plus
# an anti-join, all map-side before the bucket shuffle.
#
# Keep rule (deterministic, order-free): vec v is DROPPED iff some
# u < v in v's bucket has cos(u, v) >= SEM_TAU (u itself kept or not).
# Consequence tested in tests/test_dedup_semantic.py: the kept set never
# contains a within-bucket pair at >= SEM_TAU, and every dropped vector
# has a lower-id witness.

SEM_B = 6            # sign bits -> 64 buckets (scale knob; 16+ at 100 TB)
SEM_TAU = 0.3        # testdata embeddings are near-random (max pair ~0.51)

_SEM_BUCKET_S = (
    "aggregate(sequence(1, {b}), 0L, (s, j) -> "
    "s + IF(element_at(embedding, j) > cast(0 as float), "
    "shiftleft(1L, j - 1), 0L))"
)
_SEM_BUCKET_D = (
    "CAST(list_sum(list_transform(generate_series(1, {b}), "
    "j -> CASE WHEN embedding[j] > 0 THEN (1::BIGINT << (j - 1)) "
    "ELSE 0 END)) AS BIGINT)"
)


def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.selectExpr(
        "vec_id",
        f"{_SEM_BUCKET_S.format(b=SEM_B)} AS bucket",
        "embedding",
        f"sqrt({_DOT_S.format(a='embedding', b='embedding')}) AS norm",
    )
    lo = n.selectExpr(
        "vec_id AS lo_id", "bucket", "embedding AS lo_emb", "norm AS lo_norm")
    dropped = (
        n.join(lo, "bucket")
        .where(F.col("lo_id") < F.col("vec_id"))
        .where(F.expr(
            f"{_DOT_S.format(a='lo_emb', b='embedding')} / (lo_norm * norm)"
            f" >= {SEM_TAU}"))
        .select("vec_id").distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        n.join(dropped, "vec_id", "left")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0))
             .alias("n_kept"),
            F.sum(F.when(F.col("is_dropped").isNull(), F.col("vec_id"))
                   .otherwise(F.lit(0))).alias("kept_id_sum"),
        )
    )


DEDUP_SEMDEDUP_ORACLE = f"""
WITH n AS (
  SELECT vec_id,
         {_SEM_BUCKET_D.format(b=SEM_B)} AS bucket,
         embedding,
         sqrt({_DOT_D.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM n lo JOIN n hi ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
  WHERE {_DOT_D.format(a='lo.embedding', b='hi.embedding')}
          / (lo.norm * hi.norm) >= {SEM_TAU}
)
SELECT bucket,
       COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN n.vec_id ELSE 0 END)
         AS BIGINT) AS kept_id_sum
FROM n LEFT JOIN dropped d USING (vec_id)
GROUP BY bucket
"""


SPECS += [
    QuerySpec("dedup_semdedup_prune", dedup_semdedup_prune,
              DEDUP_SEMDEDUP_ORACLE,
              "SemDeDup-style semantic prune: sign-quantizer buckets, "
              "greedy lower-id keep rule, per-bucket retention + exact "
              "kept-set checksum",
              ("dedup", "vector", "llm")),
]


# --- SemDeDup over the persisted IVF index (production variant) --------------
# VERDICT r8 item 3: the sign quantizer above is FIXED at 2^SEM_B buckets,
# so per-bucket pairwise work (sum of c_b^2) is quadratic in n at fixed B.
# The production form buckets by the TRAINED coarse quantizer of the
# persisted ANN index (operators/annindex.py — the SemDeDup paper's
# k-means cells): K grows with the corpus (K proportional to n keeps mean
# cell occupancy CONSTANT, so sum of c_b^2 ~ n * cell_size = linear in n;
# measured in scripts/semdedup_sweep.py -> SCALING.md), cells are already
# persisted/partition-pruned, and the prune reuses the index a pipeline
# built for serving anyway — no second quantizer pass over the corpus.
#
# Same keep rule as above (drop v iff some u < v in v's cell has
# cos(u, v) >= SEM_TAU), but over the index's int8-quantized vectors with
# the threshold test kept INTEGER-EXACT: cos >= 3/10 on non-negative dot
# <=> 100*dot^2 >= 9*qq_u*qq_v (dot <= 64*127^2 ~ 1.03e6, so 100*dot^2
# <= ~1.1e14 — int64-safe). No float division crosses the engine boundary,
# so DuckDB replays the whole lifecycle (build + prune) bit-for-bit.

# cos(u,v) >= SEM_TAU as pure int64 arithmetic (SEM_TAU = 3/10)
_SEM_TAU_NUM2, _SEM_TAU_DEN2 = 9, 100


def dedup_semdedup_ivf(spark: SparkSession, sf_dir: str,
                       k: int | None = None) -> DataFrame:
    import os

    from .annindex import _IDOT_S, build_ivf_index

    # k=None -> the persisted index's default cell count (what the
    # registered query + oracle replay); the scale sweep passes K
    # proportional to n (scripts/semdedup_sweep.py)
    base = (build_ivf_index(spark, sf_dir, "full") if k is None
            else build_ivf_index(spark, sf_dir, "full", k=k))
    assign = spark.read.parquet(os.path.join(base, "assign")) \
        .withColumn("cluster_id", F.col("cluster_id").cast("int"))
    lo = assign.selectExpr("vec_id AS lo_id", "cluster_id",
                           "q AS lo_q", "qq AS lo_qq")
    dot = _IDOT_S.format(a="lo_q", b="q")
    dropped = (
        assign.join(lo, "cluster_id")
        .where(F.col("lo_id") < F.col("vec_id"))
        .withColumn("dot", F.expr(dot))
        .where(F.expr(f"dot > 0 AND {_SEM_TAU_DEN2} * dot * dot >= "
                      f"{_SEM_TAU_NUM2} * lo_qq * qq"))
        .select("vec_id").distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0))
             .alias("n_kept"),
            F.sum(F.when(F.col("is_dropped").isNull(), F.col("vec_id"))
                   .otherwise(F.lit(0))).alias("kept_id_sum"),
        )
    )


def _semdedup_ivf_oracle() -> str:
    from .annindex import _IDOT_D, _build_ctes

    dot = _IDOT_D.format(a="lo.q", b="hi.q")
    return _build_ctes("full") + f"""
, dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM a1 lo JOIN a1 hi
    ON lo.cluster_id = hi.cluster_id AND lo.vec_id < hi.vec_id
  WHERE {dot} > 0
    AND {_SEM_TAU_DEN2} * {dot} * {dot} >= {_SEM_TAU_NUM2} * lo.qq * hi.qq
)
SELECT CAST(a.cluster_id AS INT) AS cluster_id,
       COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a.vec_id ELSE 0 END)
         AS BIGINT) AS kept_id_sum
FROM a1 a LEFT JOIN dropped d ON a.vec_id = d.vec_id
GROUP BY a.cluster_id
"""


SPECS += [
    QuerySpec("dedup_semdedup_ivf", dedup_semdedup_ivf,
              _semdedup_ivf_oracle(),
              "SemDeDup over the persisted IVF index's trained cells "
              "(K grows with the corpus -> per-cell pair work bounded); "
              "integer-exact keep rule, same retention accounting",
              ("dedup", "vector", "llm", "index")),
]
