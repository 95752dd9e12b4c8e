"""BM25 scoring constants and the single-probe oracle SQL shared by
``operators.retrieval``, ``operators.retrieval_fusion``,
``operators.retrieval_eval``, ``operators.index_pit`` and
``operators.index_merge``.
"""

from __future__ import annotations

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 50
# A fixed probe query (mixed-frequency fixture vocabulary), literal so
# the Spark plan and the DuckDB oracle score the identical term set.
BM25_QUERY_TERMS = ("join", "vector", "stream", "window")

_TERMS_SQL = "', '".join(BM25_QUERY_TERMS)


def bm25_oracle_sql(
    where: str | None = None,
    source: str = "documents",
    prelude: str = "",
) -> str:
    """The BM25 replay SQL, optionally over a narrowed or substituted
    corpus — ``where`` filters the documents feeding the index (the
    deletion oracle scores the survivors), ``source``/``prelude`` swap
    the corpus for a prepended CTE (the upsert oracle scores the corpus
    with updated rows substituted); the defaults are byte-identical to
    the registered ``bm25`` oracle."""
    extra = f"\n  WHERE {where}" if where else ""
    return rf"""
WITH {prelude}toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ts
  FROM {source}{extra}
),
dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM toks),
hits AS (
  SELECT doc_id, unnest(ts) AS term FROM toks
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM hits WHERE term IN ('{_TERMS_SQL}')
  GROUP BY doc_id, term
),
dft AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dft
  FROM hits WHERE term IN ('{_TERMS_SQL}')
  GROUP BY term
),
stats AS (
  -- sum(dl)/count, not avg(dl): dl values are integer-valued, so the
  -- sum is exact in double regardless of accumulation order and the
  -- single division is the identical IEEE op on both engines (avg's
  -- internal accumulation is engine- and order-specific)
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl FROM dl
),
scored AS (
  SELECT tf.doc_id,
         sum(CAST(round(
           ln(1 + (stats.n - dft.dft + 0.5) / (dft.dft + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
           * 1e9) AS BIGINT)) AS s9
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(CAST(s9 AS DOUBLE) / 1e9, 6) AS score
FROM scored
ORDER BY s9 DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Batch scoring: the fixed literal query set shared by bm25b (the
# registered batch scorer) and ndcg (the evaluation over its ranking).
# ---------------------------------------------------------------------------

BM25_BATCH_QUERIES: dict[int, tuple[str, ...]] = {
    0: BM25_QUERY_TERMS,
    1: ("customer", "hash"),
    2: ("merge", "stream"),
}
BM25_BATCH_K = 10

BM25_BATCH_VALUES = ", ".join(
    f"({qid}, '{t}')"
    for qid, ts in sorted(BM25_BATCH_QUERIES.items())
    for t in sorted(set(ts))
)
_ALL_TERMS_SQL = "', '".join(
    sorted({t for ts in BM25_BATCH_QUERIES.values() for t in ts})
)

# Same per-term formula and exact-integer discipline as retrieval.py's
# BM25_ORACLE (1e9-scaled partials summed as BIGINT; avgdl from the
# exact sum/count pair); the only addition is the (query_id, term)
# expansion relation and the per-query bounded rank.
BM25_BATCH_ORACLE = rf"""
WITH q(query_id, term) AS (VALUES {BM25_BATCH_VALUES}),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ts
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM toks),
hits AS (
  SELECT doc_id, unnest(ts) AS term FROM toks
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM hits WHERE term IN ('{_ALL_TERMS_SQL}')
  GROUP BY doc_id, term
),
dft AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dft
  FROM hits WHERE term IN ('{_ALL_TERMS_SQL}')
  GROUP BY term
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl FROM dl
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(CAST(round(
           ln(1 + (stats.n - dft.dft + 0.5) / (dft.dft + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
           * 1e9) AS BIGINT)) AS s9
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
       JOIN q ON q.term = tf.term CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
)
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
       round(CAST(s9 AS DOUBLE) / 1e9, 6) AS score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY s9 DESC, doc_id) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= {BM25_BATCH_K}
"""
