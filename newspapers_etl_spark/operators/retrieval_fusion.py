"""Registered retrieval-composition queries: batch BM25 scoring and
reciprocal-rank-fusion hybrid retrieval.

No reference counterpart (the reference's text handling stops at regex
extraction, src/01-scrape-images.py:270-317).  These register the two
production retrieval shapes that existed only as library functions
after r7:

* ``bm25b`` — the one-scan multi-query batch scorer
  (``retrieval.retrieval_bm25_batch_topk``) bound to a fixed literal
  query set, so the decontamination-sweep shape (every eval-benchmark
  query scored against the corpus in a single pass) has its own oracle
  row and per-round bench number instead of riding only on pytest.
* ``rrf`` — reciprocal rank fusion (Cormack et al., SIGIR 2009):
  fuse the BM25 lexical ranking with an embedding-cosine ranking by
  score = Σ 1/(K + rank_i).  RRF is the standard hybrid-retrieval
  combiner precisely because it needs NO score calibration across
  modalities — only ranks — which also makes it exactly
  oracle-checkable: both input rankings are deterministic here
  (integer-scaled BM25 partials; rounded cosines with id tie-breaks),
  and 1/(K+rank) on small integers is the identical IEEE double on
  both engines.

Scale design:
- Each modality produces a BOUNDED pool (top-RRF_POOL via bounded
  window / TakeOrderedAndProject), so the fusion join is a k-row
  full-outer join — driver-trivial however large the corpus.
- The lexical side reuses ``bm25_topk_over`` unchanged (map-side term
  filter, broadcast stats, exact integer partials); the vector side is
  the ``bf_topk`` broadcast-probe pattern (1-row probe relation,
  crossJoin broadcast, zero corpus shuffle before the bounded rank).
  Swapping the exact cosine pool for the IVF/LSH candidate pools is a
  drop-in at 100 TB — the fusion sees only (doc_id, rank).
- Totality: an empty/null-text corpus yields empty pools and an empty
  fusion — no literal-model collects anywhere on the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.bm25_common import (  # noqa: F401 — batch
    # constants re-exported: tests and callers import them from here.
    BM25_BATCH_K,
    BM25_BATCH_ORACLE,
    BM25_BATCH_QUERIES,
    BM25_QUERY_TERMS,
)
from newspapers_etl_spark.functions.vectors import dot, l2_norm
from newspapers_etl_spark.operators.retrieval import (
    bm25_topk_over,
    retrieval_bm25_batch_topk,
)
from newspapers_etl_spark.registry import query

# ---------------------------------------------------------------------------
# bm25b: one-scan batch scoring over a fixed literal query set
# (constants + oracle in functions/bm25_common.py, shared with ndcg)
# ---------------------------------------------------------------------------


@query("bm25b", oracle=BM25_BATCH_ORACLE)
def retrieval_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus against BM25_BATCH_QUERIES in ONE scan pair —
    the decontamination-sweep shape.  Plan (retrieval.py): hit stream
    filtered map-side to the UNION of all query terms, per-(doc, term)
    tf once however many queries share a term, broadcast (df, stats,
    term→query expansion), per-query bounded-window top-k.  Output:
    (query_id, doc_id, score, rnk)."""
    return retrieval_bm25_batch_topk(
        spark, sf_dir, BM25_BATCH_QUERIES, k=BM25_BATCH_K
    )


# ---------------------------------------------------------------------------
# rrf: reciprocal-rank fusion of the lexical and vector rankings
# ---------------------------------------------------------------------------

RRF_K = 60  # the paper's constant: damps the head, never zeroes the tail
RRF_POOL = 25  # per-modality candidate pool depth
RRF_TOP_K = 20
RRF_PROBE_ID = 3  # fixture probe: one vector, present at every SF

_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), z -> CAST(z[1] AS DOUBLE)*z[2]))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)*x)))"

RRF_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ts
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM toks),
hits AS (SELECT doc_id, unnest(ts) AS term FROM toks),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM hits WHERE term IN ('{"', '".join(BM25_QUERY_TERMS)}')
  GROUP BY doc_id, term
),
dft AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dft
  FROM hits WHERE term IN ('{"', '".join(BM25_QUERY_TERMS)}')
  GROUP BY term
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl FROM dl
),
scored AS (
  SELECT tf.doc_id,
         sum(CAST(round(
           ln(1 + (stats.n - dft.dft + 0.5) / (dft.dft + 0.5))
           * tf.tf * (1.2 + 1)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           * 1e9) AS BIGINT)) AS s9
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY s9 DESC, doc_id) AS r_lex
  FROM scored QUALIFY r_lex <= {RRF_POOL}
),
probe AS (
  SELECT embedding AS pvec, {_SQL_NORM.format(a="embedding")} AS pn
  FROM embeddings WHERE vec_id = {RRF_PROBE_ID}
),
sims AS (
  SELECT e.vec_id AS doc_id,
         round({_SQL_DOT.format(a="e.embedding", b="p.pvec")}
               / ({_SQL_NORM.format(a="e.embedding")} * p.pn), 6) AS sim
  FROM embeddings e CROSS JOIN probe p
),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
  FROM sims QUALIFY r_vec <= {RRF_POOL}
),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         round(COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + l.r_lex), 0)
               + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + v.r_vec), 0),
               6) AS rrf_score,
         CAST(l.r_lex AS INTEGER) AS r_lex,
         CAST(v.r_vec AS INTEGER) AS r_vec
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf_score, r_lex, r_vec,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
            AS INTEGER) AS rnk
FROM fused
QUALIFY rnk <= {RRF_TOP_K}
"""


@query("rrf", oracle=RRF_ORACLE)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF-fuse the BM25 ranking for the fixture term
    query with the cosine ranking against the RRF_PROBE_ID embedding
    (doc_id and vec_id share the id space in the fixtures — the usual
    one-row-per-document multimodal layout).  Output: (doc_id,
    rrf_score, r_lex, r_vec, rnk) for the fused top-RRF_TOP_K; a doc
    ranked by only one modality carries a NULL rank on the other and
    contributes a single 1/(K+rank) term.

    Both pools are rank-deterministic across engines (BM25's exact
    integer s9; cosine rounded to 6 dp with id tie-breaks), and
    1/(K+rank) over small integers is the identical IEEE double
    everywhere, so the fused scores hash-match the DuckDB oracle
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    # Lexical pool: keep_rank ranks by the EXACT (s9 DESC, doc_id) key
    # the pool is selected by — rank and pool cannot disagree at a 6-dp
    # rounding collapse, and the oracle's lex CTE ranks by the same
    # exact s9.
    lex = bm25_topk_over(
        docs, BM25_QUERY_TERMS, k=RRF_POOL, keep_rank=True
    ).select("doc_id", F.col("rnk").alias("r_lex"))
    # Vector pool: the bf_topk broadcast-probe shape — 1-row probe
    # relation, no driver pull, zero corpus shuffle before the rank.
    e = load_table(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == RRF_PROBE_ID).select(
        F.col("embedding").alias("pvec"), l2_norm("embedding").alias("pn")
    )
    sims = e.crossJoin(F.broadcast(probe)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            dot("embedding", "pvec") / (l2_norm("embedding") * F.col("pn")), 6
        ).alias("sim"),
    )
    # Pool first via orderBy+limit (TakeOrderedAndProject: per-partition
    # heap + k-row merge, never a global single-partition window), THEN
    # rank within the k-row pool on the same (sim, doc_id) key — ranks
    # identical to the oracle's full-relation row_number for every pool
    # member.
    w_vec = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    vec = (
        sims.orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .withColumn("r_vec", F.row_number().over(w_vec))
        .select("doc_id", "r_vec")
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        "r_lex",
        "r_vec",
    )
    w_f = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w_f))
        .filter(F.col("rnk") <= RRF_TOP_K)
        .select("doc_id", "rrf_score", "r_lex", "r_vec", "rnk")
    )
