"""Registered bench handles for the fitted-model production paths.

``fit_codebook`` (operators/ivfadc.py), ``fit_pca`` (operators/pca.py)
and ``fit_anchors`` (operators/semantic_dedup.py) are the at-scale
model-fitting loops — sampled Lloyd iterations and the distributed
covariance pull — but they were reachable only as optional parameters
of the encode/search queries, so their cost had no per-round bench
number and a regression in a fit loop was invisible (VERDICT r5 #4).

Each query here runs one fit end-to-end and returns the MODEL as rows
(code/component × dimension × value) — model-sized output by
construction, so the measured time is the distributed fit itself, not
result materialization.

ORACLES (flipped in r10, the ivf_topk/ivfadc r9 pattern): the
registered ``fit_anc``/``fit_pq`` defaults run the EXACT fit
(``fit_fraction=1.0`` — Spark's seeded Bernoulli sample is
partition-dependent and no other engine can replay it; the exact
recursion is), which the DuckDB Lloyd mirrors replay clause for clause
(``lloyd_sql.centroid_model_rows_sql`` / ``pq_model_rows_sql``;
differential tests in tests/test_model_fit_oracle.py predate the flip).
Cost was pre-measured equal to the sampled fit at sf0.1 (BASELINE.md
round-9 notes).  At 100 TB pass ``fit_fraction`` (IVF_FIT_FRACTION /
CB_FIT_FRACTION) — sampling the fit input is the production parameter;
the plans are identical.  ``fit_pca`` stays rows-only: the driver eigh
has no SQL replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.functions.lloyd_sql import (
    centroid_model_rows_sql,
    pq_model_rows_sql,
)
from newspapers_etl_spark.operators.ivfadc import CB_ITERATIONS, SUB_DIM, fit_codebook
from newspapers_etl_spark.operators.pca import PCA_K, fit_pca
from newspapers_etl_spark.operators.semantic_dedup import (
    N_ANCHORS,
    PQ_CODEBOOK,
    PQ_SUBSPACES,
    fit_anchors,
)
from newspapers_etl_spark.registry import query

ANCHOR_ITERS = 2  # Lloyd steps of the registered anchor fit and its oracle

FIT_ANC_ORACLE = centroid_model_rows_sql(N_ANCHORS, ANCHOR_ITERS, "anchor_id")
FIT_PQ_ORACLE = pq_model_rows_sql(PQ_CODEBOOK, PQ_SUBSPACES, SUB_DIM, CB_ITERATIONS)


def _model_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-built model relation — O(model) rows, the same legitimate
    scale posture as the literal centroid/anchor embeds.  Every double
    column is rounded to 6 dp IN SPARK (F.round = decimal-string
    HALF_UP, the same tie convention DuckDB's round applies) — Python's
    round() is correct-rounding on the binary double and disagrees with
    both engines exactly on the decimal ties the 9-dp-rounded fits make
    common (a cell mean over a power-of-two member count divides
    exactly; found by the pre-staged fit_pq mirror test: 2 of 1024
    components sat on a ...5 tie at the 7th digit)."""
    df = spark.createDataFrame(rows, schema)
    return df.select(
        *[
            F.round(c, 6).alias(c) if t == "double" else F.col(c)
            for c, t in df.dtypes
        ]
    )


@query("fpq", oracle=FIT_PQ_ORACLE)
def fit_pq_codebook(
    spark: SparkSession, sf_dir: str, fit_fraction: float = 1.0
) -> DataFrame:
    """Per-subspace k-means PQ codebook fit (CB_ITERATIONS Lloyd steps,
    one pass per step fitting ALL subspaces).  Output: (code, dim, val)
    — PQ_CODEBOOK × EMB_DIM rows.  The registered default is the EXACT
    fit mirrored by ``lloyd_sql.pq_model_rows_sql``; at 100 TB pass
    ``fit_fraction=CB_FIT_FRACTION`` for the seeded-sample fit (same
    plan, smaller fit input)."""
    codebook = fit_codebook(spark, sf_dir, fit_fraction=fit_fraction)
    rows = [
        (int(code), int(d), float(x))
        for code, vec in codebook
        for d, x in enumerate(vec)
    ]
    return _model_df(spark, rows, "code int, dim int, val double")


@query("fpca")  # rows-only: eigenvector floats are model-derived
def fit_pca_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA fit: d² covariance (map-side partials, d²-key
    shuffle) + d-vector mean + driver eigh.  Output: (component, dim,
    loading, eigenvalue) — PCA_K × EMB_DIM rows."""
    _mean, comps, eigvals = fit_pca(spark, sf_dir, PCA_K)
    rows = [
        (int(c), int(d), float(x), float(eigvals[c]))
        for c, vec in enumerate(comps)
        for d, x in enumerate(vec)
    ]
    return _model_df(
        spark, rows, "component int, dim int, loading double, eigenvalue double"
    )


@query("fanc", oracle=FIT_ANC_ORACLE)
def fit_anchor_centroids(
    spark: SparkSession, sf_dir: str, fit_fraction: float = 1.0
) -> DataFrame:
    """Lloyd k-means anchor fit (the SemDeDup production anchor source,
    reusing similarity's _centroids).  Output: (anchor_id, dim, val) —
    N_ANCHORS × EMB_DIM rows.  The registered default is the EXACT fit
    mirrored by ``lloyd_sql.centroid_model_rows_sql``; at 100 TB pass
    ``fit_fraction=IVF_FIT_FRACTION`` for the seeded-sample fit (same
    plan, smaller fit input)."""
    anchors = fit_anchors(
        spark, sf_dir, iters=ANCHOR_ITERS, fit_fraction=fit_fraction
    )
    rows = [
        (int(aid), int(d), float(x))
        for aid, vec in anchors
        for d, x in enumerate(vec)
    ]
    return _model_df(spark, rows, "anchor_id int, dim int, val double")
