"""Text analysis operators over the ``documents`` table (driver-mandated
extension: no reference file:line — BASELINE.json north_star).

All pure column expressions (whole-stage codegen, no UDFs), emitted for both
engines from ``functions.text`` so the oracle is mirrored by construction:

- token counting (whitespace tokenization, non-empty tokens)
- quality scoring (punctuation / stopword / length signals)
- language ID (marker-word scores + non-ASCII heuristic, deterministic argmax)
- document fingerprinting (min portable-hash over word 5-gram shingles —
  the single-fingerprint degenerate case of winnowing)

Scale: each query is a single scan + narrow projection; no shuffle at all
except the final (tiny) aggregations. At 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import text as X
from ..functions.localdf import local_literal_df
from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..registry import QuerySpec
from ..sources.tables import load_table, spread_small_source, temp_view

TOKS_S = X.tokens_spark("text")
TOKS_D = X.tokens_duck("text")


# --- token counting --------------------------------------------------------

def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"size({TOKS_S}) AS n_tokens",
        "length(regexp_replace(text, '\\\\s', '')) AS n_nonspace_chars",
        f"CAST(length(regexp_replace(text, '\\\\s', '')) AS DOUBLE) / size({TOKS_S}) AS avg_token_len",
    )


TEXT_TOKENS_ORACLE = f"""
SELECT doc_id,
       len({TOKS_D}) AS n_tokens,
       length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace_chars,
       CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len({TOKS_D}) AS avg_token_len
FROM documents
"""


# --- BPE-ish subword token estimation ---------------------------------------
# A GPT-style pre-tokenizer regex splits text into word/number/punctuation
# pieces (with their leading space, as BPE vocabularies do); each piece
# then costs ~ceil(len/4) subword tokens — the standard chars/4 BPE
# estimate. Pure regexp + higher-order array expressions: JVM-side in
# Spark, mirrored verbatim in DuckDB.

BPE_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\\\s]+"
BPE_PATTERN_DUCK = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pieces = f"regexp_extract_all(lower(text), '{BPE_PATTERN}', 0)"
    subtok = (
        f"aggregate(transform({pieces}, "
        "x -> CAST(ceil(length(trim(x)) / 4.0) AS BIGINT)), 0L, (a, b) -> a + b)"
    )
    return docs.selectExpr(
        "doc_id",
        f"size({pieces}) AS n_pieces",
        f"{subtok} AS n_subtokens",
        f"CAST(n_chars AS DOUBLE) / {subtok} AS chars_per_token",
    )


TEXT_BPE_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{BPE_PATTERN_DUCK}')) AS n_pieces,
       CAST(list_sum(list_transform(regexp_extract_all(lower(text), '{BPE_PATTERN_DUCK}'),
                x -> CAST(ceil(length(trim(x)) / 4.0) AS BIGINT))) AS BIGINT) AS n_subtokens,
       CAST(n_chars AS DOUBLE)
         / list_sum(list_transform(regexp_extract_all(lower(text), '{BPE_PATTERN_DUCK}'),
                    x -> CAST(ceil(length(trim(x)) / 4.0) AS BIGINT))) AS chars_per_token
FROM documents
"""


# --- quality scoring -------------------------------------------------------
# score = 0.5*stopword_ratio + 0.3*(1 - punct_ratio) + 0.2*min(1, n_tokens/100)

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", F.expr(TOKS_S).alias("toks"))
    nt = "size(toks)"
    stop = X.count_in_list_spark("toks", X.STOPWORDS)
    punct = X.punct_count_spark("text")
    return toked.selectExpr(
        "doc_id",
        f"{nt} AS n_tokens",
        f"CAST({stop} AS DOUBLE) / {nt} AS stopword_ratio",
        f"CAST({punct} AS DOUBLE) / length(text) AS punct_ratio",
        f"0.5 * CAST({stop} AS DOUBLE) / {nt}"
        f" + 0.3 * (1.0 - CAST({punct} AS DOUBLE) / length(text))"
        f" + 0.2 * least(1.0, CAST({nt} AS DOUBLE) / 100.0) AS quality_score",
    )


_nt_d = f"len({TOKS_D})"
_stop_d = X.count_in_list_duck(TOKS_D, X.STOPWORDS)
_punct_d = X.punct_count_duck("text")
TEXT_QUALITY_ORACLE = f"""
SELECT doc_id,
       {_nt_d} AS n_tokens,
       CAST({_stop_d} AS DOUBLE) / {_nt_d} AS stopword_ratio,
       CAST({_punct_d} AS DOUBLE) / length(text) AS punct_ratio,
       0.5 * CAST({_stop_d} AS DOUBLE) / {_nt_d}
             + 0.3 * (1.0 - CAST({_punct_d} AS DOUBLE) / length(text))
             + 0.2 * least(1.0, CAST({_nt_d} AS DOUBLE) / 100.0) AS quality_score
FROM documents
"""


# --- language ID -----------------------------------------------------------

def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = {
        lang: X.count_in_list_spark(TOKS_S, words)
        for lang, words in X.LANG_MARKERS.items()
    }
    case = X.langid_case(scores, X.nonascii_count_spark("text"), "length(text)")
    return docs.selectExpr("doc_id", "lang AS labeled_lang", f"{case} AS predicted_lang")


_scores_d = {
    lang: X.count_in_list_duck(TOKS_D, words) for lang, words in X.LANG_MARKERS.items()
}
TEXT_LANGID_ORACLE = f"""
SELECT doc_id, lang AS labeled_lang,
       {X.langid_case(_scores_d, X.nonascii_count_duck('text'), 'length(text)')} AS predicted_lang
FROM documents
"""


# --- document fingerprinting ----------------------------------------------

FP_K = 5  # word 5-gram shingles


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min portable-hash over word 5-gram shingles (rolling-hash family);
    short docs fall back to the hash of the full lowercased text.

    Shape: explode + min-groupBy (codegen'd, map-side partial agg) instead
    of hashing inside an array lambda — ~5× faster at bench scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = spread_small_source(docs.select("doc_id", "text"), spark).select(
        "doc_id", F.expr(TOKS_S).alias("toks")
    )
    sh = X.shingles_spark("toks", FP_K)
    mins = (
        toked.select("doc_id", F.explode(F.expr(sh)).alias("s"))
        .selectExpr("doc_id", "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint) AS h")
        .groupBy("doc_id")
        .agg(F.min("h").alias("min_h"), F.count("*").alias("cnt"))
    )
    fallback = "cast(conv(substr(md5(lower(text)), 1, 15), 16, 10) as bigint)"
    return (
        docs.select("doc_id", "text")
        .join(mins, "doc_id", "left")
        .selectExpr(
            "doc_id",
            f"coalesce(min_h, {fallback}) AS fingerprint",
            "cast(coalesce(cnt, 0) as int) AS n_shingles",
        )
    )


_sh_d = X.shingles_duck(TOKS_D, FP_K)
TEXT_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
       coalesce(list_min(list_transform({_sh_d}, s -> {portable_hash64_sql('s')})),
                {portable_hash64_sql('lower(text)')}) AS fingerprint,
       len({_sh_d}) AS n_shingles
FROM documents
"""


SPECS = [
    QuerySpec("text_tokens", text_tokens, TEXT_TOKENS_ORACLE,
              "token counting over documents", ("text",)),
    QuerySpec("text_bpe_tokens", text_bpe_tokens, TEXT_BPE_ORACLE,
              "BPE-ish regex subword estimation (GPT-style pre-tokenizer)",
              ("text",)),
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_ORACLE,
              "quality scoring: stopword/punct/length signals", ("text",)),
    QuerySpec("text_langid", text_langid, TEXT_LANGID_ORACLE,
              "marker-word + non-ASCII language ID", ("text",)),
    QuerySpec("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_ORACLE,
              "min-hash fingerprint over word 5-grams", ("text",)),
]


# --- inverted index (corpus search) ----------------------------------------
# Posting-list construction: explode tokens, distinct per doc, group by
# token. The classic corpus-indexing shuffle — keyed on token, so stopword
# tokens are the skew risk at 100 TB (salt or frequency-cap them; this
# corpus's vocabulary is uniform). Posting lists come back sorted so the
# array compares deterministically.

def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr("doc_id", f"explode({TOKS_S}) AS token")
        .distinct()
        .groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            # serialized sorted posting list: array values don't survive the
            # driver's hash compare, a canonical string does
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
        )
    )


TEXT_INVERTED_INDEX_ORACLE = f"""
SELECT token, COUNT(*) AS doc_freq,
       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
FROM (
  SELECT DISTINCT doc_id, unnest({TOKS_D}) AS token FROM documents
)
GROUP BY token
"""


# --- conjunctive boolean search over the index ------------------------------
# AND-of-terms: a doc qualifies iff it contains every query term. One
# explode + filter to the k query tokens (pushed into the scan as an IN
# filter), then HAVING count(distinct)=k — no join against the full index.

SEARCH_TERMS = ("batch", "window", "dup")


def text_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = len(SEARCH_TERMS)
    terms = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    return (
        docs.selectExpr("doc_id", "source", f"explode({TOKS_S}) AS token")
        .where(F.col("token").isin(*SEARCH_TERMS))
        .groupBy("doc_id", "source")
        .agg(F.count_distinct("token").alias("n_terms"))
        .where(F.col("n_terms") == k)
        .select("doc_id", "source")
    )


TEXT_BOOLEAN_SEARCH_ORACLE = f"""
SELECT doc_id, source
FROM (
  SELECT doc_id, source, unnest({TOKS_D}) AS token FROM documents
)
WHERE token IN ('batch', 'window', 'dup')
GROUP BY doc_id, source
HAVING COUNT(DISTINCT token) = 3
"""


SPECS += [
    QuerySpec("text_inverted_index", text_inverted_index, TEXT_INVERTED_INDEX_ORACLE,
              "posting-list inverted index over the corpus", ("text", "search")),
    QuerySpec("text_boolean_search", text_boolean_search, TEXT_BOOLEAN_SEARCH_ORACLE,
              "conjunctive AND-of-terms search without an index join",
              ("text", "search")),
]


# --- BM25-ish ranked retrieval ----------------------------------------------
# Ranked search over the same query terms: score = Σ_t idf_t · saturation(tf).
# Deterministic across engines WITHOUT tolerance because:
# - idf uses the raw odds form (N - df + 0.5)/(df + 0.5) — no ln(), whose
#   libm rounding differs between engines,
# - every input (tf, dl, df, N, Σdl) is an exact integer; each float op
#   (/, *, +) is IEEE exactly-rounded, and both expressions are written
#   with identical parenthesization so the op ORDER is identical.
# Corpus stats (N, avgdl, per-term df) are one tiny aggregate broadcast to
# the scan — at 100 TB the stats pass is scan-bound, the scoring pass is a
# second scan with zero shuffle.

BM25_K1 = "1.2"
BM25_B = "0.75"


def _bm25_term_spark(t: str) -> str:
    tf = f"CAST(size(filter({TOKS_S}, x -> x = '{t}')) AS DOUBLE)"
    idf = f"((n_docs - df_{t}) + 0.5) / (df_{t} + 0.5)"
    sat = f"({tf} * ({BM25_K1} + 1)) / ({tf} + ({BM25_K1} * ((1 - {BM25_B}) + ({BM25_B} * (dl / avgdl)))))"
    return f"({idf}) * ({sat})"


def _bm25_term_duck(t: str) -> str:
    tf = f"CAST(len(list_filter({TOKS_D}, x -> x = '{t}')) AS DOUBLE)"
    idf = f"((n_docs - df_{t}) + 0.5) / (df_{t} + 0.5)"
    sat = f"({tf} * ({BM25_K1} + 1)) / ({tf} + ({BM25_K1} * ((1 - {BM25_B}) + ({BM25_B} * (dl / avgdl)))))"
    return f"({idf}) * ({sat})"


def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    df_terms = ", ".join(
        f"COUNT(DISTINCT CASE WHEN token = '{t}' THEN doc_id END) AS df_{t}"
        for t in SEARCH_TERMS
    )
    score = " + ".join(_bm25_term_spark(t) for t in SEARCH_TERMS)
    spread = spread_small_source(docs.select("doc_id", "text"), spark)
    with temp_view(spread, "bm25_docs") as view:
        return spark.sql(f"""
        WITH stats AS (
          SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs, {df_terms}
          FROM (SELECT doc_id, explode({TOKS_S.replace('text', f'{view}.text')}) AS token
                FROM {view})
        ), lens AS (
          SELECT CAST(SUM(size({TOKS_S})) AS DOUBLE)
                 / COUNT(*) AS avgdl FROM {view}
        )
        SELECT doc_id, score FROM (
          SELECT doc_id, ({score}) AS score
          FROM (SELECT doc_id, text, CAST(size({TOKS_S}) AS DOUBLE) AS dl FROM {view})
          CROSS JOIN stats CROSS JOIN lens
        ) WHERE score > 0
        ORDER BY score DESC, doc_id LIMIT 20
    """)


_BM25_DF_TERMS_DUCK = ", ".join(
    f"COUNT(DISTINCT CASE WHEN token = '{t}' THEN doc_id END) AS df_{t}"
    for t in ("batch", "window", "dup")
)
_BM25_SCORE_DUCK = " + ".join(_bm25_term_duck(t) for t in ("batch", "window", "dup"))

TEXT_BM25_ORACLE = f"""
WITH stats AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs, {_BM25_DF_TERMS_DUCK}
  FROM (SELECT doc_id, unnest({TOKS_D}) AS token FROM documents)
), lens AS (
  SELECT CAST(SUM(len({TOKS_D})) AS DOUBLE) / COUNT(*) AS avgdl FROM documents
)
SELECT doc_id, score FROM (
  SELECT doc_id, ({_BM25_SCORE_DUCK}) AS score
  FROM (SELECT doc_id, text, CAST(len({TOKS_D}) AS DOUBLE) AS dl FROM documents)
  CROSS JOIN stats CROSS JOIN lens
) WHERE score > 0
ORDER BY score DESC, doc_id LIMIT 20
"""


SPECS += [
    QuerySpec("text_bm25_rank", text_bm25_rank, TEXT_BM25_ORACLE,
              "BM25-style ranked retrieval, ln-free deterministic scoring",
              ("text", "search")),
]


# --- repetition metrics (Gopher-style quality signals) -----------------------
# Per-doc repetition diagnostics as used by large-corpus quality filters
# (duplicate-token and duplicate-bigram fractions): unigram and bigram
# multiplicity via explode -> two-level agg (map-side combine on both
# levels), joined on doc_id. Ratios are single IEEE divisions of small
# exact integers — bit-identical across engines. At 100 TB both aggs are
# keyed on doc_id (no hot keys by construction) and AQE-coalesced.

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    uni = (
        docs.selectExpr("doc_id", f"explode({TOKS_S}) AS token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_cnt"),
            F.count("*").alias("n_distinct"),
        )
    )
    from ..functions.text import shingles_spark

    bi = (
        docs.selectExpr("doc_id", f"explode({shingles_spark(TOKS_S, 2)}) AS bg")
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.count("*").alias("nd_bigrams"))
    )
    return uni.join(bi, "doc_id").selectExpr(
        "doc_id",
        "n_tokens",
        "CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio",
        "CAST(top_cnt AS DOUBLE) / n_tokens AS top_token_frac",
        "1.0 - CAST(nd_bigrams AS DOUBLE) / n_bigrams AS dup_bigram_frac",
    )


from ..functions.text import shingles_duck as _sh2_duck  # noqa: E402

TEXT_REPETITION_ORACLE = f"""
WITH uni2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_cnt, COUNT(*) AS n_distinct
  FROM (SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest({TOKS_D}) AS token FROM documents)
        GROUP BY doc_id, token)
  GROUP BY doc_id
), bi AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, COUNT(*) AS nd_bigrams
  FROM (SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id, unnest({_sh2_duck(TOKS_D, 2)}) AS bg FROM documents)
        GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT u.doc_id, u.n_tokens,
       CAST(u.n_distinct AS DOUBLE) / u.n_tokens AS distinct_ratio,
       CAST(u.top_cnt AS DOUBLE) / u.n_tokens AS top_token_frac,
       1.0 - CAST(b.nd_bigrams AS DOUBLE) / b.n_bigrams AS dup_bigram_frac
FROM uni2 u JOIN bi b USING (doc_id)
"""


# --- Gopher-style rule filter ------------------------------------------------
# Multi-rule corpus filter with per-rule diagnostics (the shape used by
# Gopher/C4-style cleaning): each rule is a boolean column, `keep` is their
# conjunction — so downstream can both filter AND audit which rule fired.
# Thresholds chosen to split THIS corpus (tokens 10-99, top-frac .05-.30,
# distinct .28-1.0, stopword 0-.22) so both outcomes occur.

GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS = 20, 1000
GOPHER_MAX_TOP_FRAC = "0.15"
GOPHER_MIN_DISTINCT = "0.4"
GOPHER_MIN_STOPWORD = "0.02"


def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = text_repetition(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sw = docs.selectExpr(
        "doc_id",
        f"CAST({X.count_in_list_spark(TOKS_S, X.STOPWORDS)} AS DOUBLE)"
        f" / size({TOKS_S}) AS stopword_frac",
    )
    return rep.join(sw, "doc_id").selectExpr(
        "doc_id",
        f"n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS} AS pass_len",
        f"top_token_frac <= {GOPHER_MAX_TOP_FRAC} AS pass_top_frac",
        f"distinct_ratio >= {GOPHER_MIN_DISTINCT} AS pass_distinct",
        f"stopword_frac >= {GOPHER_MIN_STOPWORD} AS pass_stopword",
        f"n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}"
        f" AND top_token_frac <= {GOPHER_MAX_TOP_FRAC}"
        f" AND distinct_ratio >= {GOPHER_MIN_DISTINCT}"
        f" AND stopword_frac >= {GOPHER_MIN_STOPWORD} AS keep",
    )


TEXT_GOPHER_ORACLE = f"""
WITH uni2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_cnt, COUNT(*) AS n_distinct
  FROM (SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest({TOKS_D}) AS token FROM documents)
        GROUP BY doc_id, token)
  GROUP BY doc_id
), rep AS (
  SELECT doc_id, n_tokens,
         CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
         CAST(top_cnt AS DOUBLE) / n_tokens AS top_token_frac
  FROM uni2
), sw AS (
  SELECT doc_id,
         CAST({X.count_in_list_duck(TOKS_D, X.STOPWORDS)} AS DOUBLE)
         / len({TOKS_D}) AS stopword_frac
  FROM documents
)
SELECT doc_id,
       n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS} AS pass_len,
       top_token_frac <= {GOPHER_MAX_TOP_FRAC} AS pass_top_frac,
       distinct_ratio >= {GOPHER_MIN_DISTINCT} AS pass_distinct,
       stopword_frac >= {GOPHER_MIN_STOPWORD} AS pass_stopword,
       n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
       AND top_token_frac <= {GOPHER_MAX_TOP_FRAC}
       AND distinct_ratio >= {GOPHER_MIN_DISTINCT}
       AND stopword_frac >= {GOPHER_MIN_STOPWORD} AS keep
FROM rep JOIN sw USING (doc_id)
"""


# --- PII redaction -----------------------------------------------------------
# Regex redaction of emails and phone numbers — the standard pre-training
# scrub pass. The synthetic corpus contains no PII, so each doc is prefixed
# with a DETERMINISTIC contact line derived from doc_id (both engines build
# the identical payload); the redactor then provably rewrites it. Patterns
# are kept to the Java-regex ∩ RE2 common subset so Spark and DuckDB agree.
# Pure regexp_replace/extract_all: whole-stage codegen, zero shuffle —
# scan-speed at 100 TB.

PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = (
        "concat('contact u', CAST(doc_id AS STRING), '@mail.example or call 555-', "
        "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ', text)"
    )
    return docs.selectExpr(
        "doc_id",
        f"size(regexp_extract_all({payload}, '{PII_EMAIL_RE}', 0)) AS n_emails",
        f"size(regexp_extract_all({payload}, '{PII_PHONE_RE}', 0)) AS n_phones",
        f"regexp_replace(regexp_replace({payload}, '{PII_EMAIL_RE}', '<EMAIL>'), "
        f"'{PII_PHONE_RE}', '<PHONE>') AS redacted",
    ).selectExpr(
        "doc_id",
        "n_emails",
        "n_phones",
        "length(redacted) AS redacted_len",
        "substring(redacted, 1, 48) AS redacted_head",
    )


TEXT_PII_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         concat('contact u', CAST(doc_id AS VARCHAR), '@mail.example or call 555-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ', text) AS payload
  FROM documents
), r AS (
  SELECT doc_id,
         len(regexp_extract_all(payload, '{PII_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(payload, '{PII_PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(payload, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM p
)
SELECT doc_id, n_emails, n_phones,
       length(redacted) AS redacted_len,
       substring(redacted, 1, 48) AS redacted_head
FROM r
"""


SPECS += [
    QuerySpec("text_repetition", text_repetition, TEXT_REPETITION_ORACLE,
              "duplicate-token / duplicate-bigram repetition diagnostics",
              ("text", "quality")),
    QuerySpec("text_gopher_filter", text_gopher_filter, TEXT_GOPHER_ORACLE,
              "multi-rule quality filter with per-rule audit flags",
              ("text", "quality")),
    QuerySpec("text_pii_redact", text_pii_redact, TEXT_PII_ORACLE,
              "regex PII redaction (emails/phones) over constructed payloads",
              ("text", "quality")),
]


# --- vocabulary growth (Heaps-law curve) ------------------------------------
# Corpus diagnostics: how many NEW word-trigram shingles each ingestion
# batch contributes, and the cumulative vocabulary size — the curve that
# tells a data pipeline whether more raw corpus still buys new content
# (plateau = diminishing returns / heavy duplication). First occurrence
# is min(doc_id) per shingle: explode is map-side, ONE shuffle on the
# shingle key with map-side partial min, and the per-batch rollup +
# cumulative sum run on |batches| rows (driver-scale). At 100 TB the
# shingle-keyed aggregate is the same plan as the dedup family's —
# uniform hash keys, no skew.

VOCAB_BATCH = 25
_VOCAB_K = 3


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New word-trigram shingles per VOCAB_BATCH-doc ingestion batch and
    the cumulative vocabulary size."""
    from pyspark.sql import Window

    sh_s = X.shingles_spark(X.tokens_spark("text"), _VOCAB_K)
    # shingling is CPU-bound: re-spread a low-split scan first (no-op on
    # any well-split production table) — 4x at bench scale
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    first = (
        docs.select("doc_id", F.explode(F.expr(sh_s)).alias("sh"))
        .groupBy("sh")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_batch = first.selectExpr(
        f"CAST(floor(first_doc / {VOCAB_BATCH}) AS BIGINT) AS batch"
    ).groupBy("batch").agg(F.count("*").alias("n_new_shingles"))
    wb = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_batch.select(
        "batch", "n_new_shingles",
        F.sum("n_new_shingles").over(wb).alias("vocab_size"),
    )


TEXT_VOCAB_GROWTH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({X.shingles_duck(X.tokens_duck("text"), _VOCAB_K)}) AS s
  FROM documents
), first AS (
  SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
), per_batch AS (
  SELECT CAST(floor(first_doc / {VOCAB_BATCH}) AS BIGINT) AS batch,
         COUNT(*) AS n_new_shingles
  FROM first GROUP BY 1
)
SELECT batch, n_new_shingles,
       CAST(SUM(n_new_shingles) OVER (ORDER BY batch ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM per_batch
"""


SPECS += [
    QuerySpec("text_vocab_growth", text_vocab_growth, TEXT_VOCAB_GROWTH_ORACLE,
              "Heaps-law vocabulary growth per ingestion batch (first-occurrence min)",
              ("text", "diagnostics")),
]


# --- corpus datacard --------------------------------------------------------
# The per-(source, lang) summary every dataset release ships: doc/token/
# char counts, token-length extremes, and each slice's fraction of the
# corpus. One grouped aggregate over one scan; the corpus total joins
# back as a broadcast one-row aggregate (never a second scan of the
# fact table, never a collect). The fraction is ONE double division of
# two exact longs, rounded — portable.


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card table: per (source, lang) doc/token/char totals,
    token-count extremes, and fraction of all docs."""
    toks = X.tokens_spark("text")
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("total_docs"))
    return (
        docs.selectExpr("source", "lang", f"size({toks}) AS n_toks", "n_chars")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.min("n_toks").alias("min_tokens"),
            F.max("n_toks").alias("max_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "source", "lang", "n_docs", "n_tokens", "n_chars",
            "min_tokens", "max_tokens",
            "round(CAST(n_docs AS DOUBLE) / total_docs, 6) AS frac_docs",
        )
    )


CORPUS_DATACARD_ORACLE = f"""
WITH t AS (SELECT COUNT(*) AS total_docs FROM documents),
g AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len({X.tokens_duck("text")})) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         MIN(len({X.tokens_duck("text")})) AS min_tokens,
         MAX(len({X.tokens_duck("text")})) AS max_tokens
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens, n_chars, min_tokens, max_tokens,
       round(CAST(n_docs AS DOUBLE) / total_docs, 6) AS frac_docs
FROM g, t
"""


SPECS += [
    QuerySpec("corpus_datacard", corpus_datacard, CORPUS_DATACARD_ORACLE,
              "per-(source, lang) dataset-card rollup with corpus fractions",
              ("text", "diagnostics")),
]


# --- Zipf rank-frequency table ----------------------------------------------
# Corpus-law diagnostic: the top-50 terms with global frequency, rank,
# and the rank·freq product (Zipf's law predicts it near-constant). All
# integers; the rank is over the AGGREGATED term table (|vocab| rows,
# not |tokens|), with lexicographic tie-break so the cut is total.
# Same spread_small_source rationale as the other corpus scans: the
# tokenize+explode is CPU-bound, so low-split scans re-parallelize.

ZIPF_TOP = 50


def text_zipf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread_small_source(load_table(spark, sf_dir, "documents"), spark)
    counts = (
        docs.select(F.explode(F.expr(TOKS_S)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "term")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ZIPF_TOP)
        .selectExpr("rank", "term", "freq", "rank * freq AS rank_freq")
    )


TEXT_ZIPF_ORACLE = f"""
WITH counts AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({TOKS_D}) AS term FROM documents)
  GROUP BY term
), ranked AS (
  SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
  FROM counts
)
SELECT rank, term, freq, rank * freq AS rank_freq
FROM ranked WHERE rank <= {ZIPF_TOP}
"""


SPECS += [
    QuerySpec("text_zipf_rank", text_zipf_rank, TEXT_ZIPF_ORACLE,
              "Zipf rank-frequency law table over the corpus vocabulary",
              ("text", "diagnostics")),
]


# --- collocation mining by integer lift --------------------------------------
# Which word bigrams co-occur far more than chance? PMI needs log; LIFT
# doesn't: lift(x,y) = P(xy) / (P(x)·P(y)) = (c_xy·N_uni²) / (N_bi·c_x·c_y)
# — a ratio of exact integers, emitted as floor-scaled milli-lift so
# the ranking never touches accumulated floats. Bigrams from one
# aligned zip of the token array with its tail (map-side); unigram and
# bigram count tables join back by term. Min-count floor keeps the
# rare-pair noise (lift explodes as counts → 1) out of the top-k.

COLLOC_MIN_COUNT = 20
COLLOC_TOP = 30


def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    toks = docs.select(F.expr(TOKS_S).alias("t"))
    # uni fans out 3 ways (n_uni total + both broadcast join sides) and
    # bi 2 ways (n_bi total + the scored base) — pinned at the
    # vocab-sized rollup so the tokenize+explode runs once per table
    # instead of per consumer (r10, guide §2.4; same-JVM alternating
    # A/B at sf0.1: every leg wins, 2.09/1.99/1.57/1.49 ->
    # 1.72/1.62/1.46/1.41).
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w").agg(F.count("*").alias("c"))
    ).localCheckpoint(eager=True)
    bi = (
        toks.where(F.expr("size(t) >= 2"))
        .selectExpr(
            "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> struct(a AS w1, b AS w2))) AS p"
        )
        .selectExpr("p.w1 AS w1", "p.w2 AS w2")
        .groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    ).localCheckpoint(eager=True)
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_bi = bi.agg(F.sum("c_xy").alias("n_bi"))
    scored = (
        bi.where(F.col("c_xy") >= COLLOC_MIN_COUNT)
        .join(F.broadcast(uni.selectExpr("w AS w1", "c AS c_x")), "w1")
        .join(F.broadcast(uni.selectExpr("w AS w2", "c AS c_y")), "w2")
        .crossJoin(F.broadcast(n_uni)).crossJoin(F.broadcast(n_bi))
        .selectExpr(
            "w1", "w2", "c_xy", "c_x", "c_y",
            "CAST(c_xy AS DECIMAL(38,0)) * n_uni * n_uni * 1000"
            " div (CAST(n_bi AS DECIMAL(38,0)) * c_x * c_y) AS lift_milli",
        )
    )
    w = Window.orderBy(F.desc("lift_milli"), "w1", "w2")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= COLLOC_TOP)
        .selectExpr("rank", "w1", "w2", "c_xy", "CAST(lift_milli AS BIGINT) AS lift_milli")
    )


TEXT_COLLOC_ORACLE = f"""
WITH toks AS (
  SELECT {TOKS_D} AS t FROM documents
), uni AS (
  SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), bi AS (
  SELECT p.w1, p.w2, COUNT(*) AS c_xy FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS p
    FROM toks WHERE len(t) >= 2
  ) GROUP BY 1, 2
), n1 AS (SELECT SUM(c) AS n_uni FROM uni),
n2 AS (SELECT SUM(c_xy) AS n_bi FROM bi),
scored AS (
  SELECT b.w1, b.w2, b.c_xy,
         CAST(CAST(b.c_xy AS HUGEINT) * n_uni * n_uni * 1000
              // (CAST(n_bi AS HUGEINT) * x.c * y.c) AS BIGINT) AS lift_milli
  FROM bi b
  JOIN uni x ON x.w = b.w1
  JOIN uni y ON y.w = b.w2
  CROSS JOIN n1 CROSS JOIN n2
  WHERE b.c_xy >= {COLLOC_MIN_COUNT}
)
SELECT rank, w1, w2, c_xy, lift_milli FROM (
  SELECT *, row_number() OVER (ORDER BY lift_milli DESC, w1, w2) AS rank
  FROM scored
) WHERE rank <= {COLLOC_TOP}
"""


SPECS += [
    QuerySpec("text_collocations_lift", text_collocations_lift, TEXT_COLLOC_ORACLE,
              "top bigram collocations by integer-exact lift (log-free PMI analog)",
              ("text", "collocations")),
]


# --- RAKE keyphrase extraction ------------------------------------------------
# Rapid Automatic Keyword Extraction: candidate phrases are maximal runs
# of non-stopword tokens (an islands computation over token positions),
# each word scores degree/freq over all phrase occurrences, a phrase
# scores the sum of its word scores. Everything integer (milli-scores via
# floor division), so the oracle replays it exactly. The only window is
# per-doc over token positions — bounded by document length, never by
# corpus size; word and phrase rollups are plain keyed aggregates.

RAKE_MAX_WORDS = 4
RAKE_TOP = 15


def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(TOKS_S).alias("toks"))
    toked = docs.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    words = toked.where(f"NOT {X._in_list_spark('tok', X.STOPWORDS)}")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = words.withColumn("isl", F.col("pos") - F.row_number().over(w))
    phr = (
        isl.groupBy("doc_id", "isl")
        .agg(
            F.expr("array_join(transform(array_sort(collect_list("
                   "struct(pos, tok))), s -> s.tok), ' ')").alias("phrase"),
            F.count("*").alias("plen"),
        )
        .where(f"plen <= {RAKE_MAX_WORDS}")
    )
    wp = phr.select("plen", F.explode(F.split("phrase", " ")).alias("w"))
    wscore = (
        wp.groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("degree"))
        .selectExpr("w", "degree * 1000 div freq AS wscore")
    )
    occ = phr.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"), F.max("plen").alias("n_words"))
    pscore = (
        occ.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
        .join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("wscore").alias("score_milli"))
    )
    return (
        occ.join(pscore, "phrase")
        .orderBy(F.desc("score_milli"), "phrase")
        .limit(RAKE_TOP)
        .select("phrase", "n_words", "n_occurrences", "score_milli")
    )


_RAKE_STOP_D = X._in_list_duck("tok", X.STOPWORDS)

TEXT_RAKE_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, unnest({TOKS_D}) AS tok,
         generate_subscripts({TOKS_D}, 1) AS pos
  FROM documents
), words AS (
  SELECT doc_id, pos, tok FROM toked WHERE NOT {_RAKE_STOP_D}
), isl AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM words
), phr AS (
  SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM isl GROUP BY 1, 2 HAVING COUNT(*) <= {RAKE_MAX_WORDS}
), wp AS (
  SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM phr
), wscore AS (
  SELECT w, CAST(SUM(plen) AS BIGINT) * 1000 // COUNT(*) AS wscore
  FROM wp GROUP BY 1
), occ AS (
  SELECT phrase, COUNT(*) AS n_occurrences, MAX(plen) AS n_words
  FROM phr GROUP BY 1
), pw AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM occ
), pscore AS (
  SELECT phrase, CAST(SUM(wscore) AS BIGINT) AS score_milli
  FROM pw JOIN wscore USING (w) GROUP BY 1
)
SELECT occ.phrase, n_words, n_occurrences, score_milli
FROM occ JOIN pscore ON occ.phrase = pscore.phrase
ORDER BY score_milli DESC, occ.phrase LIMIT {RAKE_TOP}
"""


SPECS += [
    QuerySpec("text_keyphrase_rake", text_keyphrase_rake, TEXT_RAKE_ORACLE,
              "RAKE keyphrase extraction: stopword-islands + degree/freq scores",
              ("text", "keyphrase")),
]


# --- RAG passage retrieval (capstone composition) -----------------------------
# The retrieval-corpus prep flow end-to-end IN ONE PLAN: overlapping
# chunking (pipeline.chunk_documents — the context-window packing step)
# -> chunk-level BM25 over the standing query terms (ln-free idf, the
# text_bm25_rank determinism recipe, with document length = chunk
# length and df = chunks containing the term) -> best passage per doc
# (argmax window inside each doc's handful of chunks) -> global top-5
# passages. What a retrieval stack materializes before embeddings
# enter the picture; every stage is the already-verified machinery,
# composed.

RAG_TOP = 5


def pipeline_rag_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .pipeline import chunk_documents

    chunks = chunk_documents(spark, sf_dir)
    df_terms = ", ".join(
        "COUNT(DISTINCT CASE WHEN token = '{t}' THEN struct(doc_id, chunk_id)"
        " END) AS df_{t}".format(t=t)
        for t in SEARCH_TERMS
    )

    def term(t: str) -> str:
        tf = f"CAST(size(filter(split(chunk_text, ' '), x -> x = '{t}')) AS DOUBLE)"
        idf = f"((n_chunks - df_{t}) + 0.5) / (df_{t} + 0.5)"
        sat = (f"({tf} * ({BM25_K1} + 1)) / ({tf} + ({BM25_K1} * ((1 - {BM25_B})"
               f" + ({BM25_B} * (dl / avgdl)))))")
        return f"({idf}) * ({sat})"

    with temp_view(chunks, "rag_chunks") as view:
        scored = spark.sql(f"""
        WITH stats AS (
          SELECT COUNT(*) AS n_chunks,
                 CAST(SUM(CAST(n_chunk_tokens AS DECIMAL(28,0))) AS DOUBLE)
                   / COUNT(*) AS avgdl
          FROM {view}
        ), dfs AS (
          SELECT {df_terms} FROM (
            SELECT doc_id, chunk_id, explode(split(chunk_text, ' ')) AS token
            FROM {view}
          )
        )
        SELECT doc_id, chunk_id, n_chunk_tokens,
               CAST(n_chunk_tokens AS DOUBLE) AS dl,
               chunk_text, n_chunks, avgdl,
               {', '.join(f'df_{t}' for t in SEARCH_TERMS)}
        FROM {view} CROSS JOIN stats CROSS JOIN dfs
    """).selectExpr(
            "doc_id", "chunk_id", "n_chunk_tokens",
            " + ".join(term(t) for t in SEARCH_TERMS) + " AS score",
        )
    best = W.partitionBy("doc_id").orderBy(F.desc("score"), "chunk_id")
    per_doc = scored.withColumn("brk", F.row_number().over(best)).where("brk = 1")
    top = W.orderBy(F.desc("score"), "doc_id", "chunk_id")
    return (
        per_doc.withColumn("rank", F.row_number().over(top))
        .where(f"rank <= {RAG_TOP}")
        .select("rank", "doc_id", "chunk_id", "n_chunk_tokens", "score")
    )


from .pipeline import CHUNK_ORACLE as _CHUNK_ORACLE  # noqa: E402

_RAG_DF_D = ", ".join(
    "COUNT(DISTINCT CASE WHEN token = '{t}' THEN (doc_id, chunk_id)"
    " END) AS df_{t}".format(t=t)
    for t in SEARCH_TERMS
)


def _rag_term_duck(t: str) -> str:
    tf = (f"CAST(len(list_filter(string_split(chunk_text, ' '),"
          f" x -> x = '{t}')) AS DOUBLE)")
    idf = f"((n_chunks - df_{t}) + 0.5) / (df_{t} + 0.5)"
    sat = (f"({tf} * ({BM25_K1} + 1)) / ({tf} + ({BM25_K1} * ((1 - {BM25_B})"
           f" + ({BM25_B} * (dl / avgdl)))))")
    return f"({idf}) * ({sat})"


PIPELINE_RAG_ORACLE = f"""
WITH rag_chunks AS (
  {_CHUNK_ORACLE}
), stats AS (
  SELECT COUNT(*) AS n_chunks,
         CAST(SUM(CAST(n_chunk_tokens AS HUGEINT)) AS DOUBLE) / COUNT(*)
           AS avgdl
  FROM rag_chunks
), dfs AS (
  SELECT {_RAG_DF_D} FROM (
    SELECT doc_id, chunk_id, unnest(string_split(chunk_text, ' ')) AS token
    FROM rag_chunks
  )
), scored AS (
  SELECT doc_id, chunk_id, n_chunk_tokens,
         {" + ".join(_rag_term_duck(t) for t in SEARCH_TERMS)} AS score
  FROM (
    SELECT doc_id, chunk_id, n_chunk_tokens,
           CAST(n_chunk_tokens AS DOUBLE) AS dl, chunk_text,
           n_chunks, avgdl, {', '.join(f'df_{t}' for t in SEARCH_TERMS)}
    FROM rag_chunks CROSS JOIN stats CROSS JOIN dfs
  )
), per_doc AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, chunk_id) AS brk
  FROM scored
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id, chunk_id) AS rank,
       doc_id, chunk_id, n_chunk_tokens, score
FROM per_doc WHERE brk = 1
ORDER BY score DESC, doc_id, chunk_id
LIMIT {RAG_TOP}
"""


SPECS += [
    QuerySpec("pipeline_rag_passages", pipeline_rag_passages,
              PIPELINE_RAG_ORACLE,
              "chunk -> chunk-BM25 -> best-passage-per-doc -> top-5 retrieval",
              ("text", "search", "pipeline")),
]


# --- type-token ratio per source ----------------------------------------------
# Vocabulary richness diagnostic: distinct token types / total tokens
# per source (integer ppm), with the corpus-level row for reference.
# Complements text_vocab_growth (growth CURVE) with the per-slice
# scalar a datacard wants; repetitive machine-generated slices show up
# as low TTR. One explode + two keyed aggregates.

def text_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(TOKS_S)).alias("t"))
    per_source = toks.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("t").alias("n_types"),
    )
    overall = toks.groupBy().agg(
        F.lit("__all__").alias("source"),
        F.count("*").alias("n_tokens"),
        F.countDistinct("t").alias("n_types"),
    )
    return per_source.unionByName(overall).selectExpr(
        "source", "n_tokens", "n_types",
        "n_types * 1000000 div n_tokens AS ttr_ppm",
    )


TEXT_TTR_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({TOKS_D}) AS t FROM documents
), per_source AS (
  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT t) AS n_types
  FROM toks GROUP BY 1
  UNION ALL
  SELECT '__all__', COUNT(*), COUNT(DISTINCT t) FROM toks
)
SELECT source, n_tokens, n_types,
       n_types * 1000000 // n_tokens AS ttr_ppm
FROM per_source
"""


SPECS += [
    QuerySpec("text_ttr_by_source", text_ttr_by_source, TEXT_TTR_ORACLE,
              "type-token ratio per source + corpus row (vocab richness)",
              ("text", "quality")),
]


# --- boilerplate shingle detection ------------------------------------------
# Sub-document dedup signal (the CCNet/RefinedWeb pre-step the whole-doc
# dedup families can't see): word 5-grams shared across MANY documents are
# template text — headers, footers, navigation, license blurbs. The rollup
# is (shingle -> distinct-doc frequency); a production pipeline then strips
# spans whose shingles exceed the df threshold. Plan: explode -> ONE
# shuffle on shingle with map-side partial agg -> aggregate-then-rank
# top-20 via TakeOrdered (never a global sort of the shingle table).
# At 100 TB this is the same shape as the MinHash shingle table
# (dedup.py:228) — scan-speed explode plus a hash aggregation.

BOILER_K = 5
BOILER_MIN_DF = 3
BOILER_TOP = 20


def text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        spark,
    )
    sh = docs.selectExpr(
        "doc_id", "source",
        f"explode({X.shingles_spark(TOKS_S, BOILER_K)}) AS shingle",
    )
    agg = sh.groupBy("shingle").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("n_occurrences"),
        F.countDistinct("source").alias("n_sources"),
    )
    top = (
        agg.where(f"df >= {BOILER_MIN_DF}")
        .orderBy(F.desc("df"), F.desc("n_occurrences"), "shingle")
        .limit(BOILER_TOP)
    )
    w = Window.orderBy(F.desc("df"), F.desc("n_occurrences"), "shingle")
    return top.withColumn("rnk", F.row_number().over(w))


TEXT_BOILERPLATE_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source,
         unnest({X.shingles_duck(TOKS_D, BOILER_K)}) AS shingle
  FROM documents
), agg AS (
  SELECT shingle, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS n_occurrences,
         COUNT(DISTINCT source) AS n_sources
  FROM sh GROUP BY 1
)
SELECT shingle, df, n_occurrences, n_sources,
       row_number() OVER (ORDER BY df DESC, n_occurrences DESC, shingle)
         AS rnk
FROM agg WHERE df >= {BOILER_MIN_DF}
ORDER BY rnk LIMIT {BOILER_TOP}
"""


# --- feature hashing (the hashing trick) ------------------------------------
# The classic unbounded-vocabulary featurizer: token -> fixed bucket via the
# portable hash, so the feature space is 64-wide regardless of corpus size
# — no vocabulary build pass, no dictionary broadcast, works identically on
# the first and the trillionth document. Bucketing is MAP-SIDE (hash of the
# token string); the only shuffle is the final (lang, bucket) rollup, whose
# cardinality is bounded by 4 langs x 64 buckets whatever the data volume.

HASH_BUCKETS = 64


def text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark,
    )
    toks = docs.selectExpr("doc_id", "lang", f"explode({TOKS_S}) AS tok")
    return (
        toks.withColumn(
            "bucket", F.pmod(portable_hash64("tok"), F.lit(HASH_BUCKETS))
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("tok").alias("n_terms"),
        )
    )


TEXT_HASHING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({TOKS_D}) AS tok FROM documents
)
SELECT lang, {portable_hash64_sql('tok')} % {HASH_BUCKETS} AS bucket,
       COUNT(*) AS n_tokens, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(DISTINCT tok) AS n_terms
FROM toks GROUP BY 1, 2
"""


SPECS += [
    QuerySpec("text_boilerplate_shingles", text_boilerplate_shingles,
              TEXT_BOILERPLATE_ORACLE,
              "template-text detector: top word-5-grams by distinct-doc df",
              ("text", "dedup", "quality")),
    QuerySpec("text_hashing_trick", text_hashing_trick, TEXT_HASHING_ORACLE,
              "feature hashing: unbounded vocab -> 64 buckets, map-side",
              ("text", "features")),
]


# --- BPE merge training over the word-frequency dictionary -------------------
# The actual tokenizer-training workload: learn merge rules from corpus
# statistics, round by round. Classic BPE trains on the WORD-FREQUENCY
# dictionary (Sennrich et al. 2016), not the raw corpus — so the
# distributed shape is: one corpus-wide tokenize+count (the only pass
# that touches 100 TB), then R rounds over the dict of (word, freq),
# each round = one pair-count aggregate (map-side combinable, weighted
# by freq), a 1-row argmax broadcast back, and a map-only merge rewrite.
# Symbol sequences are encoded as '||'-delimited strings so the merge is
# a single literal replace() — leftmost non-overlapping, one scan per
# round, IDENTICAL semantics in the JVM and DuckDB (a run like "abab"
# merges its second occurrence a later round; canonical BPE's
# remerge-within-round differs only on same-pair runs, which the
# delimiter encoding cannot express without lookahead regex that RE2
# lacks — the variant is pinned by the oracle, not approximated).
# Ties break on (count DESC, pair lexicographic) on both engines.

BPE_TRAIN_ROUNDS = 8

_BPE_SYMS = "filter(split(enc, '\\\\|\\\\|'), x -> x != '')"
_BPE_ENC0 = (
    "concat('||', array_join(transform(sequence(1, length(w)), "
    "i -> substring(w, i, 1)), '||'), '||') AS enc"
)


def _bpe_merge_chain(cur: DataFrame) -> tuple[list[DataFrame], DataFrame]:
    """Run BPE_TRAIN_ROUNDS argmax-merge rounds over an encoded word dict.

    ``cur`` must carry (freq, enc) plus any passthrough columns; returns
    (per-round 1-row best-pair DataFrames, the fully merged dict). Each
    round = one map-side-combinable pair count weighted by freq and a
    1-ROW argmax COLLECT; the winning pair folds back into the dict as a
    literal ``replace`` PROJECTION (no join, no per-round checkpoint —
    the merged dict is the cached initial encoding plus r nested
    replaces, a map-only chain recomputed from cache each round). r9:
    this halves the per-round job count (argmax-checkpoint + rewrite-
    checkpoint -> one collect) — the per-round driver jobs, not the
    dict-sized compute, dominate at any scale where the dict fits the
    cluster, and the replace chain is O(rounds) plan depth, far below
    driver limits. The 1-row collect is the same bounded driver state
    the old eager checkpoint already shipped (argmax must reach the
    driver-side loop either way to drive the next round)."""
    passthrough = [c for c in cur.columns if c != "enc"]
    spark = cur.sparkSession
    rounds = []
    for _ in range(BPE_TRAIN_ROUNDS):
        pairs = (
            cur.selectExpr("freq", f"{_BPE_SYMS} AS syms")
            .selectExpr(
                "freq",
                "explode(if(size(syms) < 2, array(), "
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(element_at(syms, i) AS pa, "
                "element_at(syms, i + 1) AS pb)))) AS p",
            )
            .selectExpr("freq", "p.pa AS pa", "p.pb AS pb")
        )
        hit = (
            pairs.groupBy("pa", "pb").agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "pa", "pb").limit(1)
            .collect()
        )
        # The 1-row round frames are built JVM-side from literals over a
        # single-partition range — NOT spark.createDataFrame(python_rows),
        # which parallelizes through the Python-pickle RDD path at
        # defaultParallelism slices (measured: 8 such frames put 256
        # Python-worker tasks into the consumer's force, +1.6 s at sf0.1).
        def _round_frame(pa: str, pb: str, cnt: int) -> DataFrame:
            return spark.range(0, 1, 1, 1).select(
                F.lit(pa).alias("pa"), F.lit(pb).alias("pb"),
                F.lit(int(cnt)).cast("long").alias("cnt"))

        if not hit:
            # degenerate dict (no symbol pair anywhere): the old
            # crossJoin-with-empty-argmax form emptied the dict and
            # emitted a 0-row round — replicate exactly.
            rounds.append(_round_frame("", "", 0).limit(0))
            cur = cur.limit(0)
            continue
        row = hit[0]
        rounds.append(_round_frame(row["pa"], row["pb"], row["cnt"]))
        # F.lit (not a SQL literal): tokens are whitespace-split text and
        # may contain quote characters. LAZY checkpoint: the next round's
        # argmax job (or the caller's first action over the merged dict)
        # materializes exactly this one replace layer from the previous
        # round's cached blocks — each layer computes ONCE without paying
        # a dedicated eager-materialize job (an uncheckpointed replace CHAIN
        # instead re-ran r layers inside round r's argmax and measured
        # ~1.2 s slower at sf0.1).
        cur = cur.select(
            *passthrough,
            F.replace(
                F.col("enc"),
                F.lit(f"||{row['pa']}||{row['pb']}||"),
                F.lit(f"||{row['pa']}{row['pb']}||"),
            ).alias("enc"),
        ).localCheckpoint(eager=False)
    return rounds, cur


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKS_S)).alias("w"))
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    cur = words.selectExpr("freq", _BPE_ENC0).localCheckpoint(eager=True)
    rounds, _ = _bpe_merge_chain(cur)
    out = rounds[0].selectExpr("1 AS round", "pa", "pb", "cnt")
    for r, nxt in enumerate(rounds[1:], start=2):
        out = out.unionAll(nxt.selectExpr(f"{r} AS round", "pa", "pb", "cnt"))
    return out


def _bpe_chain_sql(keep_w: bool) -> str:
    """The shared words -> w0 -> ... -> w{R} merge-chain CTE prefix.

    MATERIALIZED throughout: w{r} feeds both p{r+1} and w{r+1} — inlined
    CTEs would fan the corpus scan out exponentially (the kcore lesson).
    ``keep_w`` threads the raw word through the chain so the encoder can
    join the merged dict back to per-source occurrence counts."""
    wcol = "w, " if keep_w else ""
    parts = [f"""words AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest({TOKS_D}) AS w FROM documents) GROUP BY 1
), w0 AS MATERIALIZED (
  SELECT {wcol}freq,
         '||' || array_to_string(list_transform(range(1, length(w) + 1),
                 i -> substr(w, i, 1)), '||') || '||' AS enc
  FROM words
)"""]
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        parts.append(f""", p{r} AS MATERIALIZED (
  SELECT syms[i] AS pa, syms[i+1] AS pb, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, list_filter(str_split(enc, '||'), x -> x <> '') AS syms
        FROM w{r-1}),
       UNNEST(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT pa, pb, cnt FROM p{r} ORDER BY cnt DESC, pa, pb LIMIT 1
), w{r} AS MATERIALIZED (
  SELECT {wcol}freq, replace(enc, '||' || b.pa || '||' || b.pb || '||',
                       '||' || b.pa || b.pb || '||') AS enc
  FROM w{r-1}, b{r} b
)""")
    return "".join(parts)


TEXT_BPE_TRAIN_ORACLE = (
    "WITH " + _bpe_chain_sql(keep_w=False) + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pa, pb, cnt FROM b{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    )
)


SPECS += [
    QuerySpec("text_bpe_train", text_bpe_train, TEXT_BPE_TRAIN_ORACLE,
              "BPE merge-rule training over the word-freq dict, R argmax rounds",
              ("text", "tokenizer", "iterative")),
]


# --- BPE encoding with the trained merges -------------------------------------
# Closes the tokenizer-training loop: APPLY the merges text_bpe_train
# learned and account for what they buy, per corpus source. The
# 100 TB-correct shape: merges are applied to the word-frequency DICT
# (|vocab| rows), never to the raw corpus — each distinct word is encoded
# once, and per-source token totals come from joining the encoded dict
# back to (source, word) occurrence counts (two keyed rollups + one
# equi-join on the word; the only corpus-scale pass is the tokenize).
# The merge application itself is the identical delimiter-replace device
# as training (leftmost non-overlapping, one scan per rule), so the
# encoder is consistent-by-construction with the trainer and the oracle
# replays the same chain symbolically.

def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_sw = (
        docs.select("source", F.explode(F.expr(TOKS_S)).alias("w"))
        .groupBy("source", "w").agg(F.count("*").alias("n_occ"))
    )
    words = per_sw.groupBy("w").agg(F.sum("n_occ").alias("freq"))
    cur = words.selectExpr("w", "freq", _BPE_ENC0).localCheckpoint(eager=True)
    _, merged = _bpe_merge_chain(cur)
    encoded = merged.selectExpr(
        "w", f"CAST(size({_BPE_SYMS}) AS BIGINT) AS n_tokens"
    )
    return (
        per_sw.join(encoded, "w")
        .groupBy("source")
        .agg(
            F.sum("n_occ").alias("n_words"),
            F.sum(F.expr("n_occ * n_tokens")).alias("total_tokens"),
            F.sum(F.expr("n_occ * length(w)")).alias("total_chars"),
        )
        .selectExpr(
            "source", "n_words", "total_tokens", "total_chars",
            "total_chars * 1000000 div total_tokens AS chars_per_token_micro",
        )
    )


TEXT_BPE_ENCODE_ORACLE = (
    "WITH " + _bpe_chain_sql(keep_w=True) + f""", encoded AS (
  SELECT w, CAST(len(list_filter(str_split(enc, '||'), x -> x <> ''))
                 AS BIGINT) AS n_tokens
  FROM w{BPE_TRAIN_ROUNDS}
), per_sw AS (
  SELECT source, w, COUNT(*) AS n_occ FROM (
    SELECT source, unnest({TOKS_D}) AS w FROM documents) GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n_occ) AS BIGINT) AS n_words,
       CAST(SUM(n_occ * n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_occ * length(w)) AS BIGINT) AS total_chars,
       CAST(SUM(n_occ * length(w)) * 1000000 // SUM(n_occ * n_tokens)
            AS BIGINT) AS chars_per_token_micro
FROM per_sw JOIN encoded USING (w)
GROUP BY source
"""
)


SPECS += [
    QuerySpec("text_bpe_encode", text_bpe_encode, TEXT_BPE_ENCODE_ORACLE,
              "apply trained BPE merges to the word dict; per-source token accounting",
              ("text", "tokenizer", "iterative")),
]


# --- corpus-trained bigram-LM fluency scoring ---------------------------------
# The quality-filter family's statistical member: score each document by
# how predictable its word sequence is under a bigram model TRAINED ON
# THE CORPUS ITSELF (the cheap KenLM stand-in production pipelines run
# before a neural quality model). Per adjacent pair (w1, w2) the
# continuation probability is C(w1 w2)/C(w1); the doc score is the MEAN
# of those ratios in integer micros — pure integer division, so the
# result is exact on every engine (log-prob perplexity would need
# non-portable transcendental math; the mean-continuation form ranks
# fluency the same way for filtering purposes).
#
# Distributed shape: one tokenize pass builds positioned bigrams; the
# unigram and bigram COUNT tables are corpus-wide rollups (map-side
# combinable); scoring is two keyed equi-joins back onto the doc bigram
# table and one per-doc aggregate. No broadcast assumptions: at 100 TB
# both model tables shuffle-join on their natural keys.

def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toked = docs.select("doc_id", F.expr(TOKS_S).alias("toks"))
    bigrams = toked.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(toks) < 2 THEN array() "
            "ELSE transform(sequence(1, size(toks) - 1), "
            "i -> struct(element_at(toks, i) AS w1, "
            "element_at(toks, i + 1) AS w2)) END"
        )).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    uni = (
        toked.select(F.explode("toks").alias("w1"))
        .groupBy("w1").agg(F.count("*").alias("c1"))
    )
    bi = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    return (
        bigrams.join(bi, ["w1", "w2"]).join(uni, "w1")
        .selectExpr("doc_id", "c2 * 1000000 div c1 AS p_micro")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("sum(p_micro) div count(*)").alias("avg_p_micro"),
        )
    )


TEXT_LM_SCORE_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), bigrams AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM toked, UNNEST(range(1, len(toks))) AS t(i)
), uni AS (
  SELECT w1, COUNT(*) AS c1 FROM (
    SELECT unnest(toks) AS w1 FROM toked) GROUP BY 1
), bi AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY 1, 2
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(c2 * 1000000 // c1) // COUNT(*) AS BIGINT) AS avg_p_micro
FROM bigrams JOIN bi USING (w1, w2) JOIN uni USING (w1)
GROUP BY doc_id
"""


SPECS += [
    QuerySpec("text_lm_score", text_lm_score, TEXT_LM_SCORE_ORACLE,
              "corpus-trained bigram-LM mean-continuation fluency score",
              ("text", "quality", "lm")),
]


# --- post-merge BPE vocabulary accounting -------------------------------------
# The third leg of the tokenizer loop (train -> encode -> VOCAB): the
# symbol inventory after the trained merges, with how many distinct
# words each symbol appears in and its corpus-weighted occurrence count.
# This is the table a tokenizer ships as vocab.json. One explode over
# the merged dict (|vocab| rows, never the corpus) + one rollup.

def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKS_S)).alias("w"))
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    cur = words.selectExpr("freq", _BPE_ENC0).localCheckpoint(eager=True)
    _, merged = _bpe_merge_chain(cur)
    syms = merged.selectExpr("freq", f"explode({_BPE_SYMS}) AS sym")
    return syms.groupBy("sym").agg(
        F.count("*").alias("n_positions"),
        F.sum("freq").alias("total_occurrences"),
    )


TEXT_BPE_VOCAB_ORACLE = (
    "WITH " + _bpe_chain_sql(keep_w=False) + f"""
SELECT sym, COUNT(*) AS n_positions,
       CAST(SUM(freq) AS BIGINT) AS total_occurrences
FROM (
  SELECT freq, unnest(list_filter(str_split(enc, '||'), x -> x <> '')) AS sym
  FROM w{BPE_TRAIN_ROUNDS}
)
GROUP BY sym
"""
)


SPECS += [
    QuerySpec("text_bpe_vocab", text_bpe_vocab, TEXT_BPE_VOCAB_ORACLE,
              "symbol vocabulary after the trained merges (the vocab.json table)",
              ("text", "tokenizer", "iterative")),
]


# --- distributed integer batch perceptron (language-ID head) ------------------
# Supervised ML TRAINING on the engine, joining the iterative family
# (kmeans, PageRank, power iteration): a batch perceptron over
# hashing-trick token features learning lang == 'en', all arithmetic
# 64-bit integers so every epoch is bit-reproducible across engines and
# partitionings. Epoch = one map-side score pass (weights fold in as a
# 17-literal CASE — no join), one misclassified-set equi-join, one
# per-bucket delta rollup (map-side combinable), and a 17-row collect —
# exactly the kmeans shape: driver holds the model, the cluster holds
# the data, each epoch is O(corpus) with no global sort. The oracle
# replays every epoch symbolically.

PCT_BUCKETS = 16   # hashing-trick feature buckets (+1 bias)
PCT_EPOCHS = 3


def _pct_feat_lab(spark: SparkSession, sf_dir: str):
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark)
    tok = docs.select("doc_id", F.explode(F.expr(TOKS_S)).alias("t"))
    feat = (
        tok.selectExpr(
            "doc_id",
            f"cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)"
            f" % {PCT_BUCKETS} AS b")
        .groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
        .unionByName(docs.selectExpr(
            "doc_id", f"CAST({PCT_BUCKETS} AS BIGINT) AS b",
            "CAST(1 AS BIGINT) AS cnt"))
        .localCheckpoint(eager=True)  # feeds every epoch + final eval
    )
    lab = docs.selectExpr(
        "doc_id", "CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y"
    ).localCheckpoint(eager=True)
    return feat, lab


def _pct_scores(feat: DataFrame, w: list[int]) -> DataFrame:
    wcase = " ".join(f"WHEN b = {i} THEN {int(wi)}" for i, wi in enumerate(w))
    return (
        feat.selectExpr("doc_id", f"cnt * (CASE {wcase} ELSE 0 END) AS p")
        .groupBy("doc_id").agg(F.sum("p").alias("s"))
    )


def ml_perceptron_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat, lab = _pct_feat_lab(spark, sf_dir)
    w = [0] * (PCT_BUCKETS + 1)
    for _ in range(PCT_EPOCHS):
        mis = (
            lab.join(_pct_scores(feat, w), "doc_id")
            .where("y * s <= 0").select("doc_id", "y")
        )
        delta = (
            feat.join(mis, "doc_id")
            .groupBy("b").agg(F.sum(F.expr("y * cnt")).alias("d"))
            .collect()
        )
        dmap = {r.b: r.d for r in delta}
        w = [w[i] + dmap.get(i, 0) for i in range(PCT_BUCKETS + 1)]
    final = (
        lab.join(_pct_scores(feat, w), "doc_id")
        .agg(
            F.sum(F.expr("CAST(y * s <= 0 AS BIGINT)")).alias("n_mis_final"),
            F.count("*").alias("n_train"),
        )
    )
    weights = local_literal_df(
        spark, [(i, int(w[i])) for i in range(PCT_BUCKETS + 1)],
        "bucket bigint, weight bigint")
    return weights.crossJoin(F.broadcast(final))


def _perceptron_oracle() -> str:
    parts = [f"""WITH feat AS MATERIALIZED (
  SELECT doc_id, {portable_hash64_sql('t')} % {PCT_BUCKETS} AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest({TOKS_D}) AS t FROM documents)
  GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {PCT_BUCKETS}, 1 FROM documents
), lab AS MATERIALIZED (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents
), w0 AS (
  SELECT CAST(u.b AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
  FROM (SELECT unnest(range(0, {PCT_BUCKETS + 1})) AS b) u
)"""]
    for r in range(1, PCT_EPOCHS + 1):
        parts.append(f""", s{r} AS MATERIALIZED (
  SELECT f.doc_id, CAST(SUM(f.cnt * w.w) AS BIGINT) AS s
  FROM feat f JOIN w{r-1} w ON w.b = f.b GROUP BY 1
), m{r} AS MATERIALIZED (
  SELECT l.doc_id, l.y FROM lab l JOIN s{r} USING (doc_id)
  WHERE l.y * s{r}.s <= 0
), d{r} AS MATERIALIZED (
  SELECT f.b, CAST(SUM(m.y * f.cnt) AS BIGINT) AS d
  FROM feat f JOIN m{r} m USING (doc_id) GROUP BY 1
), w{r} AS MATERIALIZED (
  SELECT w.b, w.w + COALESCE(d.d, 0) AS w
  FROM w{r-1} w LEFT JOIN d{r} d USING (b)
)""")
    r = PCT_EPOCHS
    parts.append(f""", sf AS (
  SELECT f.doc_id, CAST(SUM(f.cnt * w.w) AS BIGINT) AS s
  FROM feat f JOIN w{r} w ON w.b = f.b GROUP BY 1
), ev AS (
  SELECT CAST(SUM(CAST(l.y * sf.s <= 0 AS BIGINT)) AS BIGINT) AS n_mis_final,
         COUNT(*) AS n_train
  FROM lab l JOIN sf USING (doc_id)
)
SELECT w{r}.b AS bucket, w{r}.w AS weight, ev.n_mis_final, ev.n_train
FROM w{r}, ev""")
    return "".join(parts)


ML_PERCEPTRON_ORACLE = _perceptron_oracle()


SPECS += [
    QuerySpec("ml_perceptron_langid", ml_perceptron_langid,
              ML_PERCEPTRON_ORACLE,
              "integer batch perceptron on hashed token features (lang=='en')",
              ("text", "ml", "iterative")),
]


# --- n-gram novelty: eval-memorization audit against the train split --------
# The train/eval contamination question asked from the EVAL side: for
# each held-out doc, how many of its word 5-grams already appear
# anywhere in the train split? (pipeline_decontaminate answers the
# train-side "drop contaminated train docs" form; this emits the graded
# per-doc novelty report you run on a benchmark or a generation sample
# to detect memorization.) Split is the deterministic doc_id % 10 device
# (8/2 train/eval). Novelty = 1 - seen-fraction, reported in exact ppm.
#
# Scale: both sides reduce to DISTINCT 60-bit shingle hashes before the
# join, so the wide operation is one equi-join on the hash key (never
# strings), map-side-combined counts after — the same shape as the
# dedup family. The train gram set is corpus-scale: a shuffle hash join
# on h is the right plan (broadcast would not survive 100 TB).

NOVELTY_K = 5
NOVELTY_TRAIN_MOD = 8  # doc_id % 10 < 8 → train, else eval


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"{X.tokens_spark('text')} AS toks")
    grams = toks.select(
        "doc_id",
        F.explode_outer(F.array_distinct(
            F.expr(X.shingles_spark("toks", NOVELTY_K)))).alias("shingle"),
    ).where(F.col("shingle").isNotNull()).select(
        "doc_id", portable_hash64("shingle").alias("h"))
    train_set = (grams.where(F.col("doc_id") % 10 < NOVELTY_TRAIN_MOD)
                 .select("h").distinct())
    test = grams.where(F.col("doc_id") % 10 >= NOVELTY_TRAIN_MOD)
    joined = test.join(
        train_set.withColumn("seen", F.lit(1)), "h", "left")
    return (
        joined.groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"),
             F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("n_seen"))
        .selectExpr(
            "doc_id", "n_grams", "CAST(n_seen AS BIGINT) AS n_seen",
            "(n_grams - n_seen) * 1000000 div n_grams AS novelty_ppm")
    )


TEXT_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_duck('text')} AS toks FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest({X.shingles_duck('toks', NOVELTY_K)}) AS shingle
  FROM toks
), h AS (
  SELECT doc_id, {portable_hash64_sql('shingle')} AS h FROM grams
), train_set AS (
  SELECT DISTINCT h FROM h WHERE doc_id % 10 < {NOVELTY_TRAIN_MOD}
), test AS (
  SELECT * FROM h WHERE doc_id % 10 >= {NOVELTY_TRAIN_MOD}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_seen,
       CAST((COUNT(*) - SUM(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END))
            * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
FROM test t LEFT JOIN train_set s ON t.h = s.h
GROUP BY t.doc_id
"""


SPECS += [
    QuerySpec("text_ngram_novelty", text_ngram_novelty, TEXT_NOVELTY_ORACLE,
              "per-eval-doc 5-gram novelty vs the train split, exact ppm",
              ("text", "dedup", "trainprep")),
]


# --- snippet-to-source quote attribution --------------------------------------
# Memorization / quote auditing: given short query snippets (here: the
# first QA_TOKENS tokens of every QA_MOD-th doc), find the OTHER corpus
# documents that contain most of the snippet's word-3-gram shingles —
# asymmetric containment |Q ∩ D| / |Q|, the direction whole-doc Jaccard
# (dedup_ngram_jaccard) cannot see when |D| >> |Q|. 100 TB shape: the
# snippet shingle set is tiny by construction (queries x ~10 shingles),
# so it BROADCASTS and the corpus shingle table streams against it
# map-side — one shuffle for the (qid, doc) rollup, never a self-join.

QA_TOKENS = 12   # snippet length in tokens
QA_K = 3         # word shingle width
QA_MOD = 10      # every QA_MOD-th doc contributes a query snippet
QA_MIN_OVERLAP = 2  # >=2 shared shingles (1 is md5-collision / stopword noise)
QA_TOP = 3       # attributions reported per snippet


def text_quote_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toked = docs.select("doc_id", F.expr(TOKS_S).alias("toks"))
    sh = X.shingles_spark("toks", QA_K)
    csh = toked.select(
        "doc_id", F.explode(F.array_distinct(F.expr(sh))).alias("shingle")
    ).select("doc_id", portable_hash64("shingle").alias("sh_h"))
    qsh = (
        toked.where(F.col("doc_id") % QA_MOD == 0)
        .selectExpr("doc_id AS qid", f"slice(toks, 1, {QA_TOKENS}) AS toks")
        .select("qid", F.explode(F.array_distinct(F.expr(sh))).alias("shingle"))
        .select("qid", portable_hash64("shingle").alias("sh_h"))
    )
    qn = qsh.groupBy("qid").agg(F.count("*").alias("nq"))
    hits = (
        csh.join(F.broadcast(qsh),
                 (csh.sh_h == qsh.sh_h) & (csh.doc_id != qsh.qid))
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= QA_MIN_OVERLAP)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), "doc_id")
    return (
        hits.join(F.broadcast(qn), "qid")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= QA_TOP)
        .selectExpr(
            "qid", "doc_id AS source_doc", "rank",
            "nq AS n_snippet_shingles", "c AS n_overlap",
            "c * 1000000 div nq AS containment_ppm",
        )
    )


TEXT_QUOTE_ATTRIBUTION_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), csh AS (
  SELECT DISTINCT doc_id, {portable_hash64_sql('shingle')} AS sh_h FROM (
    SELECT doc_id, unnest({X.shingles_duck('toks', QA_K)}) AS shingle FROM toked)
), qsh AS (
  SELECT DISTINCT qid, {portable_hash64_sql('shingle')} AS sh_h FROM (
    SELECT doc_id AS qid,
           unnest({X.shingles_duck(f'(toks[1:{QA_TOKENS}])', QA_K)}) AS shingle
    FROM toked WHERE doc_id % {QA_MOD} = 0)
), qn AS (
  SELECT qid, COUNT(*) AS nq FROM qsh GROUP BY 1
), hits AS (
  SELECT q.qid, c.doc_id, COUNT(*) AS c
  FROM csh c JOIN qsh q ON c.sh_h = q.sh_h AND c.doc_id <> q.qid
  GROUP BY 1, 2 HAVING COUNT(*) >= {QA_MIN_OVERLAP}
), ranked AS (
  SELECT qid, doc_id, c, nq,
         row_number() OVER (PARTITION BY qid ORDER BY c DESC, doc_id) AS rank
  FROM hits JOIN qn USING (qid)
)
SELECT qid, doc_id AS source_doc, rank,
       nq AS n_snippet_shingles, c AS n_overlap,
       c * 1000000 // nq AS containment_ppm
FROM ranked WHERE rank <= {QA_TOP}
"""


SPECS += [
    QuerySpec("text_quote_attribution", text_quote_attribution,
              TEXT_QUOTE_ATTRIBUTION_ORACLE,
              "snippet-to-source attribution via broadcast containment join",
              ("text", "dedup")),
]


# --- multinomial Naive Bayes language-ID ---------------------------------------
# The generative multiclass counterpart of the binary perceptron above:
# add-1-smoothed multinomial NB trained on the 80% doc_id split,
# scored on the held-out 20%, reported as a confusion matrix (same shape
# as text_langid_confusion, so heuristic vs discriminative vs generative
# are directly comparable). Float discipline: scores are sums of
# ln-MICROS — each term is floor(ln(integer) * 1e6) where ln is
# IEEE-correctly-rounded on an exact-integer argument and the floor
# absorbs any last-ulp wobble (tests/test_round3_laws.py pins Spark and
# DuckDB bit-equal over the entire realistic count range), so the
# per-class scores the argmax compares are BIGINTs, not drifting
# doubles. Shapes at 100 TB: the model is two grouped rollups
# ((w, lang) counts and per-class totals); scoring is the test token
# stream x |langs| broadcast classes with one (w, lang) equi-join —
# map-side combinable all the way down.

NB_TRAIN_MOD = 8   # doc_id % 10 < 8 trains, the rest scores
_LNM_S = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared NB scoring relation: (doc_id, true_lang, c, score_lnm)
    for every held-out doc x candidate class. Consumed by the confusion
    matrix below and by ml_active_learning_batch."""
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark)
    # NOTE (r10): staging tok via localCheckpoint (the dedup_minhash
    # §2.4 device — it feeds five rollups) was measured in 3-round
    # alternating isolated A/B at sf0.1 and LOSES for
    # ml_naive_bayes_langid (2.83 -> 3.18 s min, worst leg every round)
    # with no win for the other two consumers: the corpus is small
    # enough that re-running the tokenize is cheaper than losing AQE
    # runtime stats behind the checkpoint (the prefix_filter_join
    # lesson). Kept lazy.
    tok = docs.select(
        "doc_id", "lang", F.explode(F.expr(TOKS_S)).alias("w"),
        (F.col("doc_id") % 10 < NB_TRAIN_MOD).alias("is_train"),
    )
    train, test = tok.where("is_train"), tok.where("NOT is_train")
    cnt_wc = train.groupBy("w", F.col("lang").alias("c")).agg(
        F.count("*").alias("cnt"))
    class_stats = (
        train.groupBy(F.col("lang").alias("c"))
        .agg(F.count("*").alias("total_c"),
             F.countDistinct("doc_id").alias("n_docs_c"))
    )
    vocab = train.agg(F.countDistinct("w").alias("v"))
    classes = class_stats.crossJoin(F.broadcast(vocab)).selectExpr(
        "c", _LNM_S.format(x="n_docs_c") + " AS prior_lnm",
        _LNM_S.format(x="total_c + v") + " AS denom_lnm")
    doc_len = test.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_toks"))
    # token-occurrence evidence per (doc, class): unseen (w, c) pairs
    # contribute lnm(0 + 1) = 0, so the left join's nulls drop out.
    evidence = (
        test.crossJoin(F.broadcast(classes.select("c")))
        .join(cnt_wc, ["w", "c"], "left")
        .groupBy("doc_id", "c")
        .agg(F.sum(F.expr(
            _LNM_S.format(x="coalesce(cnt, 0) + 1"))).alias("ev_lnm"))
    )
    return (
        evidence.join(F.broadcast(classes), "c")
        .join(doc_len, "doc_id")
        .selectExpr(
            "doc_id", "lang AS true_lang", "c",
            "prior_lnm + ev_lnm - n_toks * denom_lnm AS score_lnm")
    )


def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_lnm"), "c")
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where("r = 1")
        .groupBy("true_lang", F.col("c").alias("pred_lang"))
        .agg(F.count("*").alias("n_docs"))
    )


_LNM_D = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"

_NB_SCORED_CTES = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({TOKS_D}) AS w,
         doc_id % 10 < {NB_TRAIN_MOD} AS is_train
  FROM documents
), train AS (SELECT * FROM tok WHERE is_train),
test AS (SELECT * FROM tok WHERE NOT is_train),
cnt_wc AS (
  SELECT w, lang AS c, COUNT(*) AS cnt FROM train GROUP BY 1, 2
), class_stats AS (
  SELECT lang AS c, COUNT(*) AS total_c, COUNT(DISTINCT doc_id) AS n_docs_c
  FROM train GROUP BY 1
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM train
), classes AS (
  SELECT c, {_LNM_D.format(x='n_docs_c')} AS prior_lnm,
         {_LNM_D.format(x='total_c + v')} AS denom_lnm
  FROM class_stats CROSS JOIN vocab
), doc_len AS (
  SELECT doc_id, lang, COUNT(*) AS n_toks FROM test GROUP BY 1, 2
), evidence AS (
  SELECT t.doc_id, k.c,
         CAST(SUM({_LNM_D.format(x='COALESCE(n.cnt, 0) + 1')}) AS BIGINT)
           AS ev_lnm
  FROM test t CROSS JOIN (SELECT c FROM classes) k
  LEFT JOIN cnt_wc n ON n.w = t.w AND n.c = k.c
  GROUP BY 1, 2
), scored AS (
  SELECT e.doc_id, d.lang AS true_lang, e.c,
         k.prior_lnm + e.ev_lnm - d.n_toks * k.denom_lnm AS score_lnm
  FROM evidence e JOIN classes k ON k.c = e.c
  JOIN doc_len d ON d.doc_id = e.doc_id
)
"""

ML_NB_LANGID_ORACLE = _NB_SCORED_CTES + """, pred AS (
  SELECT doc_id, true_lang, c,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_lnm DESC, c) AS r
  FROM scored
)
SELECT true_lang, c AS pred_lang, COUNT(*) AS n_docs
FROM pred WHERE r = 1 GROUP BY 1, 2
"""


SPECS += [
    QuerySpec("ml_naive_bayes_langid", ml_naive_bayes_langid,
              ML_NB_LANGID_ORACLE,
              "add-1 multinomial NB language-ID confusion, ln-micros exact",
              ("text", "ml", "langid")),
]


# --- active-learning batch selection (margin / uncertainty sampling) ------------
# What a labeling pipeline runs nightly: of the docs the current model
# (the NB scorer above — shared relation, shared CTEs) is LEAST sure
# about, pick the next annotation batch. Uncertainty = the lnm-score
# margin between the top-2 classes; smallest margin = most uncertain.
# Exact integers end-to-end, deterministic (margin, doc_id) tie-break,
# top-20 via orderBy+limit (TakeOrderedAndProject). One extra window
# over the |eval docs| x |langs| scored relation — no new corpus scan.

AL_BATCH = 20


def ml_active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_lnm"), "c")
    ranked = scored.withColumn("r", F.row_number().over(w)).where("r <= 2")
    # Top-1/top-2 via ONE conditional aggregation on the already
    # doc_id-clustered ranked relation instead of a r=1 x r=2 self-join,
    # which put the whole scored subtree (evidence join + window) in
    # the plan twice (r10, guide §2.4). Every doc has a runner-up (the
    # scored relation is test x all classes), so the s2 filter matches
    # the old inner join exactly.
    return (
        ranked.groupBy("doc_id")
        .agg(F.max(F.when(F.col("r") == 1, F.col("true_lang")))
             .alias("true_lang"),
             F.max(F.when(F.col("r") == 1, F.col("c"))).alias("pred_1"),
             F.max(F.when(F.col("r") == 2, F.col("c"))).alias("pred_2"),
             F.max(F.when(F.col("r") == 1, F.col("score_lnm"))).alias("s1"),
             F.max(F.when(F.col("r") == 2, F.col("score_lnm"))).alias("s2"))
        .where("s2 IS NOT NULL")
        .selectExpr("doc_id", "true_lang", "pred_1", "pred_2",
                    "s1 - s2 AS margin_lnm")
        .orderBy("margin_lnm", "doc_id")
        .limit(AL_BATCH)
    )


ML_ACTIVE_LEARNING_ORACLE = _NB_SCORED_CTES + f""", ranked AS (
  SELECT doc_id, true_lang, c, score_lnm,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_lnm DESC, c) AS r
  FROM scored
)
SELECT a.doc_id, a.true_lang, a.c AS pred_1, b.c AS pred_2,
       a.score_lnm - b.score_lnm AS margin_lnm
FROM ranked a JOIN ranked b ON b.doc_id = a.doc_id AND b.r = 2
WHERE a.r = 1
ORDER BY margin_lnm, a.doc_id LIMIT {AL_BATCH}
"""


SPECS += [
    QuerySpec("ml_active_learning_batch", ml_active_learning_batch,
              ML_ACTIVE_LEARNING_ORACLE,
              "margin-based uncertainty sampling batch off the NB scorer",
              ("text", "ml", "trainprep")),
]


# --- word burstiness (variance-to-mean ratio) ------------------------------------
# Corpus-linguistics feature: function words spread evenly (VMR ~ 1,
# Poisson), topical words BURST (VMR >> 1) — the signal behind stopword
# discovery and keyword weighting. With per-doc counts c over N docs
# (zeros implicit), VMR = ((N·Σc² - (Σc)²)) / (N·Σc) exactly in ppm —
# zero-count docs vanish from both sums, so the (word, doc) grain never
# materializes zeros. One tokenize pass + one word rollup + a 1-row N
# broadcast; top-20 by (vmr_ppm, word).

BURST_MIN_DF = 5
BURST_TOP = 20


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    n_row = docs.agg(F.count("*").alias("n_docs"))
    wd = (
        docs.select("doc_id", F.explode(F.expr(TOKS_S)).alias("w"))
        .groupBy("w", "doc_id").agg(F.count("*").alias("c"))
    )
    return (
        wd.groupBy("w")
        .agg(F.count("*").alias("df"), F.sum("c").alias("sc"),
             F.sum(F.expr("c * c")).alias("scc"))
        .where(f"df >= {BURST_MIN_DF}")
        .crossJoin(F.broadcast(n_row))
        .selectExpr(
            "w AS word", "df", "sc AS total_occurrences",
            "(n_docs * scc - sc * sc) * 1000000 div (n_docs * sc) AS vmr_ppm")
        .orderBy(F.desc("vmr_ppm"), "word")
        .limit(BURST_TOP)
    )


TEXT_BURSTINESS_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {TOKS_D} AS toks FROM documents
), n_row AS (
  SELECT COUNT(*) AS n_docs FROM docs
), wd AS (
  SELECT w, doc_id, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(toks) AS w FROM docs)
  GROUP BY 1, 2
), agg AS (
  SELECT w, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM wd GROUP BY 1 HAVING COUNT(*) >= {BURST_MIN_DF}
)
SELECT w AS word, df, sc AS total_occurrences,
       (n_docs * scc - sc * sc) * 1000000 // (n_docs * sc) AS vmr_ppm
FROM agg CROSS JOIN n_row
ORDER BY vmr_ppm DESC, word LIMIT {BURST_TOP}
"""


SPECS += [
    QuerySpec("text_burstiness", text_burstiness, TEXT_BURSTINESS_ORACLE,
              "word burstiness (variance-to-mean) — topical vs function words",
              ("text", "stats")),
]


# --- classifier calibration curve (margin-decile reliability) ---------------------
# The third leg of the NB tooling (confusion matrix -> uncertainty batch
# -> CALIBRATION): bucket the held-out docs into margin quintiles
# (top-1 minus top-2 lnm score — the model's own confidence) and report
# accuracy per bucket. A well-behaved scorer is monotone: wider margin,
# higher accuracy; a flat curve means the confidence is noise and the
# active-learning batch above is sampling blind. Quintile bounds come
# from the exact sharded rank (row_number over the |eval| relation),
# counts are integers, accuracy in ppm.

CAL_BINS = 5


def ml_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_lnm"), "c")
    ranked = scored.withColumn("r", F.row_number().over(w)).where("r <= 2")
    # Same two devices as ml_active_learning_batch (r10, guide §2.4):
    # (1) top-1/top-2 via one conditional aggregation instead of the
    # r=1 x r=2 self-join that duplicated the scored subtree; (2) the
    # denominator n as an unbounded window count on the SAME
    # single-partition pass that ranks by margin, instead of
    # crossJoin(broadcast(agg(m))) which put the m subtree in the plan
    # twice. m is |eval docs| rows — the global window is rollup-sized.
    m = (
        ranked.groupBy("doc_id")
        .agg(F.max(F.when(F.col("r") == 1,
                          (F.col("c") == F.col("true_lang")).cast("bigint")))
             .alias("correct"),
             F.max(F.when(F.col("r") == 1, F.col("score_lnm"))).alias("s1"),
             F.max(F.when(F.col("r") == 2, F.col("score_lnm"))).alias("s2"))
        .where("s2 IS NOT NULL")
        .selectExpr("doc_id", "correct", "s1 - s2 AS margin_lnm")
    )
    wq = Window.orderBy("margin_lnm", "doc_id")
    return (
        m.withColumn("rn", F.row_number().over(wq))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .selectExpr(
            "correct", "margin_lnm",
            f"least(CAST((rn - 1) * {CAL_BINS} div n AS INT),"
            f" {CAL_BINS - 1}) AS bin")
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs"),
             F.sum("correct").alias("n_correct"),
             F.min("margin_lnm").alias("margin_lo"),
             F.max("margin_lnm").alias("margin_hi"))
        .selectExpr("bin", "n_docs", "n_correct", "margin_lo", "margin_hi",
                    "n_correct * 1000000 div n_docs AS accuracy_ppm")
    )


ML_CALIBRATION_ORACLE = _NB_SCORED_CTES + f""", ranked AS (
  SELECT doc_id, true_lang, c, score_lnm,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_lnm DESC, c) AS r
  FROM scored
), m AS (
  SELECT a.doc_id, CAST(a.c = a.true_lang AS BIGINT) AS correct,
         a.score_lnm - b.score_lnm AS margin_lnm
  FROM ranked a JOIN ranked b ON b.doc_id = a.doc_id AND b.r = 2
  WHERE a.r = 1
), n_row AS (
  SELECT COUNT(*) AS n FROM m
), binned AS (
  SELECT correct, margin_lnm,
         least(CAST((row_number() OVER (ORDER BY margin_lnm, doc_id) - 1)
                    * {CAL_BINS} // n AS INT), {CAL_BINS - 1}) AS bin
  FROM m CROSS JOIN n_row
)
SELECT bin, COUNT(*) AS n_docs, CAST(SUM(correct) AS BIGINT) AS n_correct,
       CAST(MIN(margin_lnm) AS BIGINT) AS margin_lo,
       CAST(MAX(margin_lnm) AS BIGINT) AS margin_hi,
       CAST(SUM(correct) AS BIGINT) * 1000000 // COUNT(*) AS accuracy_ppm
FROM binned GROUP BY 1
"""


SPECS += [
    QuerySpec("ml_calibration_curve", ml_calibration_curve,
              ML_CALIBRATION_ORACLE,
              "margin-quintile reliability curve for the NB scorer",
              ("text", "ml", "audit")),
]
