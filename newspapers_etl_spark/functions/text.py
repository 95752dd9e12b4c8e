"""Text-analysis expressions for the LLM-data-pipeline surface.

No reference counterpart (the reference's only text processing is the
regex extraction family, src/01-scrape-images.py:270-317) — these are the
north-star additions: token counting, quality scoring, language-ID
features, document fingerprinting.  All built-in column expressions, so
they vectorize in codegen and scale linearly with scanned bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic and SQL-expressible so the DuckDB oracle can replicate.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "small"),
    "es": ("data", "vector", "agg", "column"),
    "de": ("stream", "batch", "merge", "sort"),
    "fr": ("table", "row", "join", "query"),
    "zh": ("spark", "hash", "key", "scan"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Smoothed-floor pseudo-count for capped LM broadcasts (ppl/ppl2
# vocab_cap): grams outside the top-V model score as if seen 0.5 times —
# strictly below any real count (>= 1), so every tail gram is more
# surprising than any retained gram with the same denominator, and the
# capped model's score is a monotone upper bound on the exact surprisal.
LM_FLOOR_COUNT = 0.5


def words(col: Column | str) -> Column:
    """Whitespace tokenization to array<string>."""
    return F.split(col, r"\s+")


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_regex(col: Column | str) -> Column:
    """BPE-ish token count: alternating word / non-space-non-word runs,
    approximating a subword tokenizer's piece count."""
    return F.size(F.regexp_extract_all(col, F.lit(r"(\w+|[^\w\s])"), 0))


def stopword_ratio(col: Column | str) -> Column:
    """Guarded against empty docs: 0.0 (not NULL/NaN) when no tokens."""
    ws = words(col)
    stop = F.filter(ws, lambda w: w.isin(*STOPWORDS))
    n = F.size(ws)
    return F.when(n > 0, F.size(stop) / n).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    """Guarded against empty strings: 0.0 (not NULL) when length is 0."""
    punct = F.length(F.regexp_replace(col, r"[\w\s]", ""))
    n = F.length(col)
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length band + low punctuation +
    sane stopword ratio.  Mirrors the Gopher/C4-style filters used for LLM
    corpus cleaning, expressed as pure column arithmetic."""
    n_tokens = token_count_ws(col).cast("double")
    len_ok = F.when((n_tokens >= 10) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.0)
    stop = stopword_ratio(col)
    stop_ok = F.when((stop > 0.0) & (stop < 0.6), 1.0).otherwise(0.0)
    return F.round((len_ok + punct_ok + stop_ok) / F.lit(3.0), 6)


def lang_score(col: Column | str, lang: str) -> Column:
    """Marker-hit count for one language (the n-gram-heuristic feature)."""
    ws = words(col)
    return F.size(F.filter(ws, lambda w: w.isin(*LANG_MARKERS[lang])))


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 over the sorted distinct token set.
    Word-order-insensitive, so near-identical shuffled documents collide —
    the cheap exact-ish dedup key.  Empty tokens (split artifacts from
    leading/trailing whitespace) are dropped so ' b' and 'b' fingerprint
    identically — found by tests/test_properties.py."""
    toks = F.filter(F.array_distinct(words(col)), lambda w: w != "")
    return F.md5(F.array_join(F.array_sort(toks), " "))


def lang_score_sql(lang: str) -> str:
    """DuckDB marker-hit-count expression for one language — the oracle
    twin of ``lang_marker_hits``, shared by queries in different
    operator modules."""
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), "
        f"x -> x IN ({markers}))) AS INT)"
    )


def lang_id_oracle_sql() -> str:
    """The full lang-ID relation as DuckDB SQL: per-language scores +
    alphabetical-tiebreak argmax, shared by `lgid` and the
    `lang_conf` confusion rollup."""
    langs = sorted(LANG_MARKERS)  # alphabetical → deterministic tiebreak
    scores = ", ".join(f"{lang_score_sql(lg)} AS s_{lg}" for lg in langs)
    cols = ", ".join(f"s_{lg}" for lg in langs)
    best = ", ".join(f"s_{lg}" for lg in langs)
    case = " ".join(
        f"WHEN s_{lg} = greatest({best}) THEN '{lg}'" for lg in langs
    )
    return f"""
WITH scores AS (
  SELECT doc_id, lang AS lang_true, {scores}
  FROM documents
)
SELECT doc_id, lang_true, {cols},
       CASE {case}
       END AS lang_pred
FROM scores
"""
