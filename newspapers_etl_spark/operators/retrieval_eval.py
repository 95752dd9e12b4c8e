"""Retrieval-quality evaluation: nDCG@k of the batch BM25 rankings
against a deterministic graded relevance.

North-star operator with no reference counterpart (the reference's
search has no quality metric — it trusts the archive's own ranking,
reference src/01-scrape-images.py:482-522).

Closes the retrieval loop the repo already ships (bm25 → bm25b → rrf):
a pipeline that RANKS needs an operator that SCORES the ranking, and
nDCG@k is the standard graded-relevance metric (Järvelin & Kekäläinen,
TOIS 2002).  The relevance oracle here is derived from the data itself
— rel(query, doc) = number of distinct query terms present in the
document — which keeps the whole evaluation deterministic and
hash-verifiable while exercising the exact join/window shape a real
qrels-file evaluation runs (swap the rel relation for a qrels table and
nothing else changes).

Scale design:
- rel is posting-bounded: docs with rel > 0 are exactly the docs the
  scorer's hit stream already touches — never a corpus-wide dense
  matrix.  The DCG join is (queries × k) rows against that bounded rel
  relation; the IDCG window partitions by query over rel > 0 docs only.
- The ranking side reuses bm25_batch_topk_over's amortized batch plan
  (its scan count is independent of query count); the relevance stream
  adds ONE tokenize scan, persisted because both DCG and IDCG consume
  it (cache.py owns the release).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.bm25_common import (
    BM25_BATCH_K,
    BM25_BATCH_ORACLE,
    BM25_BATCH_QUERIES,
    BM25_BATCH_VALUES,
)
from newspapers_etl_spark.functions.text import words
from newspapers_etl_spark.operators.retrieval import bm25_batch_topk_over
from newspapers_etl_spark.registry import query

NDCG_ORACLE = rf"""
WITH ranked AS (
  SELECT * FROM ({BM25_BATCH_ORACLE}) r
),
q(query_id, term) AS (VALUES {BM25_BATCH_VALUES}),
toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(text, '\s+'),
                                   x -> x != '')) AS ts
  FROM documents
),
rel AS (
  SELECT q.query_id, t.doc_id, CAST(count(*) AS INTEGER) AS rel
  FROM toks t JOIN q ON list_contains(t.ts, q.term)
  GROUP BY q.query_id, t.doc_id
),
dcg AS (
  SELECT r.query_id,
         sum(CAST(round((pow(2, coalesce(rel.rel, 0)) - 1)
                        / log2(r.rnk + 1) * 1e9) AS BIGINT)) AS dcg9
  FROM ranked r
  LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  GROUP BY r.query_id
),
ideal AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irnk
  FROM rel
),
idcg AS (
  SELECT query_id,
         sum(CAST(round((pow(2, rel) - 1) / log2(irnk + 1) * 1e9)
                  AS BIGINT)) AS idcg9
  FROM ideal WHERE irnk <= {BM25_BATCH_K} GROUP BY query_id
)
SELECT d.query_id,
       round(CASE WHEN i.idcg9 > 0
                  THEN CAST(d.dcg9 AS DOUBLE) / CAST(i.idcg9 AS DOUBLE)
                  ELSE 0.0 END, 6) AS ndcg
FROM dcg d LEFT JOIN idcg i USING (query_id)
"""


@query("ndcg", oracle=NDCG_ORACLE)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, ndcg): nDCG@k of each batch query's BM25 top-k under
    the term-overlap relevance grade, rounded to 6 dp.  DCG uses the
    standard exponential gain (2^rel − 1)/log2(rank + 1), each term
    1e9-integer-scaled before the BIGINT sum so the cross-engine total
    is summation-order-independent; the ideal ordering tie-breaks on
    doc_id so both engines rank identically."""
    d = load_table(spark, sf_dir, "documents")
    ranked = bm25_batch_topk_over(d, BM25_BATCH_QUERIES, k=BM25_BATCH_K)

    toks = d.select(
        "doc_id",
        F.array_distinct(
            F.filter(words("text"), lambda x: x != "")
        ).alias("ts"),
    )
    per_query_rel = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).alias("query_id"),
                    F.size(
                        F.array_intersect(
                            "ts", F.array(*[F.lit(t) for t in sorted(set(ts))])
                        )
                    ).alias("rel"),
                )
                for qid, ts in sorted(BM25_BATCH_QUERIES.items())
            ]
        )
    )
    # rel feeds TWO subplans of the returned DataFrame (the DCG join
    # and the IDCG window); unpersisted, Spark would recompute the
    # tokenize scan for each — persist materializes it once (the
    # jaccard/dd_spans pattern; release path: cache.py).  The persisted
    # relation is posting-bounded (docs holding >=1 query term), far
    # smaller than the corpus.
    rel = (
        toks.select("doc_id", per_query_rel.alias("x"))
        .select("doc_id", "x.query_id", "x.rel")
        .filter(F.col("rel") > 0)
        .persist()
    )

    # A scored doc necessarily contains >=1 query term, so rel >= 1 for
    # every ranked row and the inner join loses nothing (the oracle's
    # LEFT JOIN + coalesce is the same function on that invariant).
    # The BROADCAST side is the (queries x k)-row ranking — rel is
    # posting-bounded but corpus-shaped, and must stay distributed.
    # Each gain term is 1e9-integer-scaled BEFORE the sum (the bm25 s9
    # discipline, ADVICE r9 #3): a double sum over irrational gains is
    # summation-order-dependent, and a partition-order ulp could flip
    # the final 6-dp rounding against the oracle; BIGINT sums are
    # order-independent by construction.
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rnk") + 1)
    dcg = (
        rel.join(F.broadcast(ranked), ["query_id", "doc_id"])
        .select("query_id", F.round(gain * 1e9).cast("long").alias("g9"))
        .groupBy("query_id")
        .agg(F.sum("g9").alias("dcg9"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal_gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(
        F.col("irnk") + 1
    )
    idcg = (
        rel.withColumn("irnk", F.row_number().over(w))
        .filter(F.col("irnk") <= BM25_BATCH_K)
        .select("query_id", F.round(ideal_gain * 1e9).cast("long").alias("g9"))
        .groupBy("query_id")
        .agg(F.sum("g9").alias("idcg9"))
    )
    return dcg.join(F.broadcast(idcg), "query_id", "left").select(
        "query_id",
        F.round(
            F.when(
                F.col("idcg9") > 0,
                F.col("dcg9").cast("double") / F.col("idcg9").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg"),
    )
