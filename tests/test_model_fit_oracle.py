"""Oracle coverage for the model-fit bench handles (flipped in r10):
the registered fit_anc/fit_pq defaults run the EXACT fit
(fit_fraction=1.0) and must hash-match their DuckDB Lloyd mirrors
(functions/lloyd_sql.py), clause for clause.  These differential tests
were pre-staged in r9 before the defaults flipped (see model_fit.py's
module docstring)."""

from __future__ import annotations

from tests.conftest import assert_matches_oracle


def test_fit_anc_exact_matches_lloyd_mirror(spark, sf_dir, oracle):
    """fit_anchor_centroids' registered default (exact fit) == the
    lloyd_centroid_ctes recursion emitted as (anchor_id, dim, val)
    rows at 6 dp — and FIT_ANC_ORACLE is exactly that mirror."""
    from newspapers_etl_spark.functions.lloyd_sql import centroid_model_rows_sql
    from newspapers_etl_spark.operators.model_fit import (
        FIT_ANC_ORACLE,
        fit_anchor_centroids,
    )
    from newspapers_etl_spark.operators.semantic_dedup import N_ANCHORS

    assert FIT_ANC_ORACLE == centroid_model_rows_sql(N_ANCHORS, 2, "anchor_id")
    assert_matches_oracle(
        fit_anchor_centroids(spark, sf_dir), oracle, FIT_ANC_ORACLE
    )


def test_fit_pq_exact_matches_subspace_lloyd_mirror(spark, sf_dir, oracle):
    """fit_pq_codebook's registered default (exact fit) == the
    raw-vector per-subspace Lloyd recursion (pq_codebook_ctes) emitted
    as (code, dim, val) rows at 6 dp — seeds, 6-dp argmin assignment
    with smallest-code ties, and 9-dp mean updates all mirrored — and
    FIT_PQ_ORACLE is exactly that mirror."""
    from newspapers_etl_spark.functions.lloyd_sql import pq_model_rows_sql
    from newspapers_etl_spark.operators.ivfadc import CB_ITERATIONS
    from newspapers_etl_spark.operators.model_fit import (
        FIT_PQ_ORACLE,
        fit_pq_codebook,
    )
    from newspapers_etl_spark.operators.semantic_dedup import (
        EMB_DIM,
        PQ_CODEBOOK,
        PQ_SUBSPACES,
    )

    assert FIT_PQ_ORACLE == pq_model_rows_sql(
        PQ_CODEBOOK,
        PQ_SUBSPACES,
        EMB_DIM // PQ_SUBSPACES,
        CB_ITERATIONS,
    )
    assert_matches_oracle(
        fit_pq_codebook(spark, sf_dir), oracle, FIT_PQ_ORACLE
    )


def test_fit_handles_sampled_path_still_works(spark, sf_dir):
    """The 100 TB production parameter survives the flip: passing a
    sampled fit_fraction still runs the seeded-sample fit and produces
    the model-sized row counts (the registered defaults are now the
    exact fit; the sampled path has no oracle by construction)."""
    from newspapers_etl_spark.operators.model_fit import (
        fit_anchor_centroids,
        fit_pq_codebook,
    )
    from newspapers_etl_spark.operators.semantic_dedup import (
        EMB_DIM,
        N_ANCHORS,
        PQ_CODEBOOK,
    )

    assert (
        fit_anchor_centroids(spark, sf_dir, fit_fraction=0.25).count()
        == N_ANCHORS * EMB_DIM
    )
    assert (
        fit_pq_codebook(spark, sf_dir, fit_fraction=0.5).count()
        == PQ_CODEBOOK * EMB_DIM
    )
