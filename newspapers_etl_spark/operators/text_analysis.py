"""Text-analysis queries for the LLM-data-pipeline surface
(token counting, quality scoring, language-ID, fingerprinting).

No reference counterpart — the reference's only text processing is its
regex extraction family (reference src/01-scrape-images.py:270-317);
these are the north-star corpus-cleaning operators (Gopher/C4-style
filters) the 100 TB pipeline needs.

Everything is built-in column expressions over array higher-order
functions (filter/transform/aggregate) — JVM-side, vectorized in
codegen, zero Python UDFs, zero shuffles except the final small
aggregations.  At 100 TB the cost is one linear scan of the text bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    doc_fingerprint,
    lang_id_oracle_sql,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count_regex,
    token_count_ws,
    words,
)
from newspapers_etl_spark.registry import query

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       CAST(len(string_split_regex(text, '\\s+')) AS INT)            AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')) AS INT) AS n_tokens_re
FROM documents
"""


@query("tokens", oracle=TOKEN_COUNT_ORACLE)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under BOTH tokenizations — whitespace
    split and the BPE-ish word/number/punct regex — the budget inputs
    for packing and token-weighted sampling (functions/text.py); pure
    map-side expressions, one scan, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws("text").alias("n_tokens_ws"),
        token_count_regex("text").alias("n_tokens_re"),
    )


# ---------------------------------------------------------------------------
# Quality scoring (length band + punctuation + stopword ratio)
# ---------------------------------------------------------------------------

QUALITY_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS n_tokens,
         CASE WHEN len(text) > 0
              THEN CAST(len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                   / len(text)
              ELSE 0.0 END AS p_ratio,
         CASE WHEN len(string_split_regex(text, '\\s+')) > 0
              THEN CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                   / len(string_split_regex(text, '\\s+'))
              ELSE 0.0 END AS s_ratio
  FROM documents
)
SELECT doc_id,
       round(s_ratio, 6) AS stop_ratio,
       round(p_ratio, 6) AS pnct_ratio,
       round((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END
             + CASE WHEN p_ratio < 0.2 THEN 1.0 ELSE 0.0 END
             + CASE WHEN s_ratio > 0.0 AND s_ratio < 0.6 THEN 1.0 ELSE 0.0 END)
             / 3.0, 6) AS quality
FROM feats
"""


@query("txtql", oracle=QUALITY_ORACLE)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Features (token count, punct ratio, stopword ratio) are computed
    in their own projection and REFERENCED by the derived columns —
    higher-order-function expressions don't enter codegen, so Catalyst
    never CSEs repeated subtrees; without the staging each ratio's
    split/regex re-runs per output column (and CollapseProject keeps the
    stage because the aliases are referenced more than once)."""
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        token_count_ws("text").cast("double").alias("n_tokens"),
        punct_ratio("text").alias("p_ratio"),
        stopword_ratio("text").alias("s_ratio"),
    )
    len_ok = F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000), 1.0).otherwise(0.0)
    punct_ok = F.when(F.col("p_ratio") < 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when((F.col("s_ratio") > 0.0) & (F.col("s_ratio") < 0.6), 1.0).otherwise(0.0)
    return feats.select(
        "doc_id",
        F.round("s_ratio", 6).alias("stop_ratio"),
        F.round("p_ratio", 6).alias("pnct_ratio"),
        F.round((len_ok + punct_ok + stop_ok) / F.lit(3.0), 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Language ID (marker-lexicon n-gram heuristic, deterministic argmax)
# ---------------------------------------------------------------------------


_LANGS = sorted(LANG_MARKERS)  # alphabetical → deterministic tiebreak

# Shared with the `lang_conf` confusion rollup (the SQL function lives in
# functions/text.py).
LANG_ID_ORACLE = lang_id_oracle_sql()


@query("lgid", oracle=LANG_ID_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID: per-language hit counts + argmax with
    alphabetical tiebreak (identical CASE ordering in the oracle).

    The token array is materialized in its own projection so the text is
    split ONCE, not once per language (no codegen/CSE for higher-order
    functions — see text_quality_scores)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.col("lang").alias("lang_true"), words("text").alias("ws")
    )

    def marker_hits(lg: str):
        markers = LANG_MARKERS[lg]
        return F.size(F.filter("ws", lambda w: w.isin(*markers))).alias(f"s_{lg}")

    scored = toks.select(
        "doc_id", "lang_true", *[marker_hits(lg) for lg in _LANGS]
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in _LANGS])
    expr = None
    for lg in _LANGS:
        cond = F.col(f"s_{lg}") == best
        expr = F.when(cond, F.lit(lg)) if expr is None else expr.when(cond, F.lit(lg))
    return scored.withColumn("lang_pred", expr)


# ---------------------------------------------------------------------------
# TF-IDF (SURVEY §7.1 item 5): top terms per document
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3

TFIDF_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, t.term, CAST(count(*) AS DOUBLE) AS tf
  FROM documents, unnest(string_split_regex(text, '\\s+')) AS t(term)
  GROUP BY doc_id, t.term
),
df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((SELECT n FROM n) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
            AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= {TFIDF_TOP_K}
"""


@query("tfidf", oracle=TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} TF-IDF terms per document — the classic
    keyword-extraction / relevance-weighting primitive, entirely in
    built-ins: explode → two aggregations → broadcast of the term-DF
    dim → bounded window.

    Plan shape: the (doc, term) TF aggregate is the only fact-sized
    shuffle; the document-frequency relation aggregates to vocabulary
    size and broadcasts back onto TF; corpus size N rides in as a
    scalar (cross-join of a 1-row aggregate, broadcast).  Ranking on
    the ROUNDED score with a term tie-break keeps ordering identical
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(words("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    df_rel = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    n_docs = d.agg(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df_rel), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (set-canonical md5 + min-hash-of-1)
# ---------------------------------------------------------------------------

FINGERPRINT_ORACLE = """
SELECT doc_id,
       -- COALESCE: DuckDB array_to_string([]) is NULL vs Spark
       -- array_join([]) '' — empty docs fingerprint as md5('') on both
       -- sides (same fix as EXACT_DEDUP_ORACLE, operators/dedup.py)
       md5(coalesce(array_to_string(list_sort(list_filter(list_distinct(string_split_regex(text, '\\s+')), x -> x != '')), ' '), ''))
         AS fingerprint,
       list_min(list_transform(list_distinct(string_split_regex(text, '\\s+')),
                               t -> md5(t))) AS min_token_hash
FROM documents
"""


@query("textfp", oracle=FINGERPRINT_ORACLE)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (dedup key) + the k=1 minhash
    (min over per-token hashes) — the primitive the MinHash-LSH dedup
    operator band-aggregates at scale."""
    d = load_table(spark, sf_dir, "documents")
    distinct_tokens = F.array_distinct(words("text"))
    return d.select(
        "doc_id",
        doc_fingerprint("text").alias("fingerprint"),
        F.array_min(F.transform(distinct_tokens, lambda t: F.md5(t))).alias(
            "min_token_hash"
        ),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition ratio (Gopher-style quality filter)
# ---------------------------------------------------------------------------

REP_NGRAM = 3

REPETITION_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(text, '\s+') AS ts FROM documents
),
grams AS (
  SELECT doc_id, source,
         CASE WHEN len(ts) >= {REP_NGRAM}
              THEN [array_to_string(ts[i:i+{REP_NGRAM - 1}], ' ')
                    FOR i IN range(1, len(ts) - {REP_NGRAM - 2})]
              ELSE [] END AS gs,
         greatest(len(ts) - {REP_NGRAM - 1}, 0) AS n_grams
  FROM toks
)
SELECT doc_id, source,
       CAST(n_grams AS INT) AS n_grams,
       round(CASE WHEN n_grams > 0
             THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / n_grams
             ELSE 0.0 END, 6) AS rep_ratio
FROM grams
"""


@query("txtrp", oracle=REPETITION_ORACLE)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram fraction per document (1 - distinct/total
    trigrams) — the Gopher/RefinedWeb repetition filter that catches
    boilerplate and degenerate loops exact-dedup misses.  The reference
    has no text-quality notion (its nearest analog is the duplicate-
    filename skip, reference src/01-scrape-images.py:357-359); this is
    north-star corpus-cleaning surface.

    Scale shape: the gram array is built ONCE per row by a single
    `transform` (the gram COUNT is closed-form `size(ts) - n + 1`, so
    no second HOF evaluation — Catalyst does not CSE higher-order
    subtrees), everything stays map-side, and the operator adds zero
    shuffles: one linear scan of the text bytes at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", words("text").alias("ts"))
    gs = F.when(
        F.size("ts") >= REP_NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - (REP_NGRAM - 1)),
            lambda i: F.array_join(F.slice("ts", i, REP_NGRAM), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.greatest(F.size("ts") - (REP_NGRAM - 1), F.lit(0))
    return toks.select(
        "doc_id",
        "source",
        n_grams.cast("int").alias("n_grams"),
        F.round(
            F.when(
                n_grams > 0,
                F.lit(1.0) - F.size(F.array_distinct(gs)).cast("double") / n_grams,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("rep_ratio"),
    )
