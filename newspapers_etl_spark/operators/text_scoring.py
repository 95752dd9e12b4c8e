"""Corpus-level text scoring: unigram language-model surprisal and
sequence-length histograms.

No reference counterpart — the reference's text handling stops at regex
extraction (reference src/01-scrape-images.py:270-317).  These are the
two scoring primitives a 100 TB training-data pipeline runs right after
the Gopher/C4 heuristics in `text_analysis.py`:

* `text_unigram_ppl` — per-document average surprisal (negative log
  likelihood) under the corpus's own unigram distribution, the cheap
  stand-in for KenLM perplexity filtering: documents whose tokens are
  globally rare score high and get routed to review/drop.
* `text_len_hist` — log2-bucketed document-length histogram per
  language, the input to sequence-length curriculum and packing-bin
  sizing decisions.

Scale design: the unigram model is ONE shuffle on the term key (Zipf
skew is absorbed by map-side partial aggregation — every mapper emits
at most |vocab-in-partition| rows per term), and the fitted
distribution is a vocabulary-sized dim broadcast back onto the token
stream; the only fact-sized shuffle is the final per-doc aggregation.
At a real 100 TB corpus the vocab broadcast is capped by frequency —
``text_unigram_ppl(vocab_cap=V)`` keeps the top-V terms (>99.9% of
token mass under Zipf) and scores the tail with the smoothed
LM_FLOOR_COUNT floor — at fixture scale the registered default
broadcasts the whole vocabulary.
The histogram is a pure two-column aggregation: scan, map-side
partial, one tiny shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.text import (
    LM_FLOOR_COUNT,
    lang_id_oracle_sql,
    words,
)
from newspapers_etl_spark.operators.dedup import shingles
from newspapers_etl_spark.operators.text_analysis import text_lang_id
from newspapers_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Sequence-length histogram (curriculum / packing-bin sizing)
# ---------------------------------------------------------------------------

LEN_HIST_ORACLE = """
SELECT lang,
       CAST(floor(log2(n_chars + 1)) AS INT) AS len_bucket,
       CAST(count(*) AS BIGINT)              AS n_docs,
       CAST(sum(n_chars) AS BIGINT)          AS sum_chars,
       CAST(min(n_chars) AS BIGINT)          AS min_chars,
       CAST(max(n_chars) AS BIGINT)          AS max_chars
FROM documents
GROUP BY lang, len_bucket
"""


@query("lenh", oracle=LEN_HIST_ORACLE)
def text_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language power-of-two length histogram over the pre-computed
    n_chars column — the scan reads exactly two columns (asserted
    pattern as in tests/test_plans.py ReadSchema checks), partial
    aggregation collapses each input split to at most
    |langs| x |buckets| rows before the only (tiny) shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.floor(F.log2(F.col("n_chars") + 1)).cast("int").alias("len_bucket"),
            "n_chars",
        )
        .groupBy("lang", "len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus n-gram frequency table (top-k trigrams)
# ---------------------------------------------------------------------------

NGRAM_TOP_K = 50

# Shingle construction mirrors operators/dedup.py shingles() and its
# oracle SQL exactly (k = len-2 windows of 3, whole-text fallback under
# 3 tokens) — but WITHOUT the per-doc distinct: frequency needs every
# occurrence, dedup needs the set.
NGRAM_FREQ_ORACLE = f"""
WITH toks AS (
  SELECT string_split_regex(text, '\\s+') AS ts FROM documents
),
sh AS (
  SELECT CASE WHEN len(ts) >= 3
           THEN list_transform(range(1, len(ts) - 1),
                               i -> array_to_string(list_slice(ts, i, i + 2), ' '))
           ELSE [array_to_string(ts, ' ')] END AS ss
  FROM toks
),
g AS (SELECT unnest(ss) AS gram FROM sh)
SELECT gram, CAST(count(*) AS BIGINT) AS n
FROM g
GROUP BY gram
ORDER BY n DESC, gram
LIMIT {NGRAM_TOP_K}
"""


@query("ngrams", oracle=NGRAM_FREQ_ORACLE)
def ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide trigram frequency, top-{NGRAM_TOP_K} by count with a
    gram tie-break (total order, so the LIMIT boundary is stable across
    engines).  One shuffle on the gram key — Zipf skew collapses in the
    map-side partial count — then TakeOrderedAndProject for the top-k
    (never a global sort).  At 100 TB this is the boilerplate-discovery
    / tokenizer-vocab profiling pass: same plan, bigger partial maps."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(words("text").alias("ts"))
    grams = toks.select(F.explode(shingles("ts")).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(NGRAM_TOP_K)
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier evaluation)
# ---------------------------------------------------------------------------


_LANG_CONF_ORACLE = f"""
WITH base AS ({lang_id_oracle_sql()})
SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM base
GROUP BY lang_true, lang_pred
"""


@query("lgcf", oracle=_LANG_CONF_ORACLE)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-lexicon language classifier
    against the labeled lang column — the evaluation loop every
    filtering heuristic needs before it gates a corpus.  Composes the
    registered `lgid` relation (single tokenization, argmax
    with alphabetical tie-break) and rolls it up to O(langs²) rows;
    the rollup adds one tiny shuffle on (lang_true, lang_pred)."""
    return (
        text_lang_id(spark, sf_dir)
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib via Arrow-batched pandas_udf)
# ---------------------------------------------------------------------------


@pandas_udf(T.IntegerType())  # DataType object: no DDL parse, no session needed at import
def _comp_bytes(texts: pd.Series) -> pd.Series:
    import zlib

    return texts.map(
        lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t else 0
    )



@query("compr")  # rows-only: no zlib on the DuckDB side
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style compressibility signal: zlib-compressed size over
    raw UTF-8 size per document.  Highly repetitive or boilerplate text
    compresses far below normal prose, making the ratio a cheap
    template/spam detector that needs no lexicon (`text_rep` is the
    built-in-expression cousin; this is the entropy-true version).

    DuckDB has no zlib, so the driver records a rows-only check; the
    semantic invariants (repetitive << prose ratio, determinism,
    empty-doc null) are pinned in tests/test_new_ops.py.

    Scale design: the ONE legitimate Python hot path in the repo —
    a vectorized pandas_udf, Arrow-batched, no shuffle at all: at
    100 TB this is a map-only pass whose cost is the zlib byte rate
    (~100 MB/s/core), and the Arrow transfer moves each text exactly
    once.  A row-at-a-time udf here would serialize per value; the
    batch form amortizes to the C library's speed."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        _comp_bytes("text").alias("comp_b"),
    )
    return sized.select(
        "doc_id",
        "n_bytes",
        "comp_b",
        F.when(
            F.col("n_bytes") > 0,
            F.round(F.col("comp_b") / F.col("n_bytes"), 4),
        ).alias("comp_ratio"),
    )


# ---------------------------------------------------------------------------
# Zipf slope (vocabulary health diagnostic)
# ---------------------------------------------------------------------------

ZIPF_HEAD = 500  # fit over the frequency head, the standard Zipf regime

ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(text, '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT lang, term, count(*) AS freq
  FROM toks WHERE term <> ''
  GROUP BY lang, term
), ranked AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rk
  FROM tf
)
SELECT lang,
       CAST(count(*) AS BIGINT)                  AS n_terms,
       round(regr_slope(ln(freq), ln(rk)), 6)    AS zipf_slope
FROM ranked
WHERE rk <= {ZIPF_HEAD}
GROUP BY lang
"""


@query("zipf", oracle=ZIPF_ORACLE)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope per language: least-squares slope of ln(freq) against
    ln(rank) over the top-{ZIPF_HEAD} terms.  Natural text sits near -1;
    a corpus drifting toward 0 (too uniform — boilerplate/templating) or
    far below -1 (a few tokens dominating — spam, OCR noise) fails the
    health check, which makes this the distribution-level counterpart of
    the per-document quality score.

    Plan: term counting is ONE fact-sized shuffle with map-side partials
    (Zipf skew itself is absorbed there — each mapper emits one row per
    distinct term it sees); the rank window and the regression run over
    the O(vocab) term relation, never the corpus.  The slope is
    covar_pop/var_pop — algebraically regr_slope, so the oracle uses
    DuckDB's regr_slope directly.  At 100 TB the window per lang ranks a
    bounded vocabulary (salt it two-phase like `topk_lang` if a
    vocabulary ever outgrows one task)."""
    from pyspark.sql import Window

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(words("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("lang", "term").agg(F.count("*").alias("freq"))
    rk = Window.partitionBy("lang").orderBy(F.desc("freq"), "term")
    ranked = (
        tf.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= ZIPF_HEAD)
        .select(
            "lang",
            F.log("freq").alias("y"),
            F.log("rk").alias("x"),
        )
    )
    return ranked.groupBy("lang").agg(
        F.count("*").alias("n_terms"),
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 6).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Unigram LM surprisal — declared LAST in this module on purpose: a
# module's queries keep their definition order in the driver window.
# ---------------------------------------------------------------------------

UNIGRAM_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS term
  FROM documents
),
tc AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY term
),
n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM toks
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT)                   AS n_tok,
       round(avg(-ln(tc.c / n.n)), 6)             AS nll,
       round(exp(avg(-ln(tc.c / n.n))), 4)        AS ppl
FROM toks t
JOIN tc USING (term)
CROSS JOIN n
GROUP BY t.doc_id
"""


@query("ppl", oracle=UNIGRAM_PPL_ORACLE)
def text_unigram_ppl(
    spark: SparkSession, sf_dir: str, vocab_cap: int | None = None
) -> DataFrame:
    """Average per-token surprisal -ln(count(term)/N) under the corpus
    unigram distribution, plus its exp() as a perplexity.  Three aggs:
    term counts (vocab-sized, broadcast back), corpus token total
    (1-row, broadcast), per-doc mean (the one fact-sized shuffle).
    Rounding before the hash absorbs cross-engine summation-order
    drift in the float mean.

    ``vocab_cap`` is the 100 TB knob: keep only the top-V terms by
    count (ties to the lexically-smaller term — deterministic), so the
    model broadcast is bounded at V rows no matter how heavy-tailed the
    corpus vocabulary is; tail terms score the smoothed floor
    -ln(LM_FLOOR_COUNT / N).  Top-V covers >99.9% of token mass under
    Zipf, so head-token documents score identically to the exact model
    (pytest: tests/test_lm_vocab_cap.py); every capped score is >= the
    exact score because the floor count sits below any real count.  The
    registered default (None) broadcasts the full vocabulary — exact at
    fixture scale."""
    return unigram_ppl_over(
        load_table(spark, sf_dir, "documents"), vocab_cap=vocab_cap
    )


def unigram_ppl_over(
    d: DataFrame, vocab_cap: int | None = None
) -> DataFrame:
    """The scoring core over ANY (doc_id, text) relation — the
    registered query binds it to the fixture table; the hypothesis
    differential test (tests/test_properties.py) runs it against the
    DuckDB oracle on generated corpora."""
    toks = d.select(
        "doc_id",
        F.explode(F.filter(words("text"), lambda x: x != "")).alias("term"),
    )
    tc = toks.groupBy("term").agg(F.count("*").cast("double").alias("c"))
    n = toks.agg(F.count("*").cast("double").alias("n"))
    if vocab_cap is None:
        scored = toks.join(F.broadcast(tc), "term")
        c_eff = F.col("c")
    else:
        top = tc.orderBy(F.desc("c"), "term").limit(vocab_cap)
        scored = toks.join(F.broadcast(top), "term", "left")
        c_eff = F.coalesce(F.col("c"), F.lit(LM_FLOOR_COUNT))
    nll = F.avg(-F.log(c_eff / F.col("n")))
    return (
        scored.crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(nll, 6).alias("nll"),
            F.round(F.exp(nll), 4).alias("ppl"),
        )
    )
