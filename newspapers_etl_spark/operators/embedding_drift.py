"""Embedding-space drift monitor: PSI over IVF cell-assignment
histograms — VERDICT r9 next-round #6, closing the monitoring loop for
the VECTOR side the way ``ndcg`` closed it for retrieval and ``drift``
for scalar features.

No reference counterpart (the reference never compares snapshots —
src/01-scrape-images.py).  Scalar-feature PSI (operators/
drift_monitor.py) cannot see a semantic shift that leaves lengths and
languages alone; the standard cheap detector is the coarse-quantizer
histogram: assign both slices to the SAME frozen IVF cells and PSI the
two cell-occupancy distributions.  A drifted embedding corpus moves
mass between cells long before any scalar column moves — and the cells
already exist wherever an IVF/IVFADC index is deployed, so the monitor
costs one codes-grain aggregation, no new model.

Scale design (the drift_monitor contract, vector edition):
- The returned plan is ONE corpus scan (plan-pinned in
  tests/test_ivf_maintenance.py): the frozen quantizer is a literal
  model in the map expression (similarity._nearest_cell — the exact
  Lloyd fit happens before plan construction and collects k×d floats),
  the ref/cand split is a map-side parity predicate, and the shuffle
  carries cells×2 counter rows, never vectors.  Where a stored codes
  relation exists (operators/ivf_maintenance.py) the same frame runs
  off (vec_id, cell) directly — swap the scan, nothing else changes.
- Totals are WINDOW sums over the bounded cell histogram — never a
  join back onto the counts lineage (the drift_monitor double-scan
  lesson, r9).
- Laplace smoothing (+0.5 per cell) keeps PSI finite on cells one
  slice never hits; fixed cells make the score exact arithmetic + one
  ln, hash-verifiable cross-engine (the oracle replays the exact Lloyd
  fit via functions/lloyd_sql.py and the same smoothed-PSI algebra).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.lloyd_sql import (
    SQL_DOT,
    lloyd_centroid_ctes,
)
from newspapers_etl_spark.operators.similarity import (
    IVF_CELLS,
    IVF_ITERATIONS,
    _centroids,
    _nearest_cell,
)
from newspapers_etl_spark.registry import query

_ASG_DOT = SQL_DOT.format(a="n_.embedding", b="c.cvec")

DRIFT_EMB_ORACLE = f"""
WITH {lloyd_centroid_ctes(IVF_CELLS, IVF_ITERATIONS)},
asg AS (
  SELECT vec_id, cell,
         CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
  FROM (
    SELECT n_.vec_id, c.cell,
           row_number() OVER (PARTITION BY n_.vec_id
                              ORDER BY {_ASG_DOT} DESC, c.cell) AS rk
    FROM nn n_ CROSS JOIN c{IVF_ITERATIONS} c
  ) WHERE rk = 1
),
counts AS (
  SELECT cell,
         CAST(sum(is_ref) AS BIGINT) AS ref_n,
         CAST(sum(1 - is_ref) AS BIGINT) AS cand_n
  FROM asg GROUP BY cell
),
tot AS (
  SELECT CAST(sum(ref_n) AS DOUBLE) AS ref_tot,
         CAST(sum(cand_n) AS DOUBLE) AS cand_tot,
         CAST(count(*) AS DOUBLE) AS n_cells
  FROM counts
)
SELECT CAST(c.cell AS INTEGER) AS cell, c.ref_n, c.cand_n,
       round(((c.ref_n + 0.5) / (t.ref_tot + 0.5 * t.n_cells)
              - (c.cand_n + 0.5) / (t.cand_tot + 0.5 * t.n_cells))
             * ln(((c.ref_n + 0.5) / (t.ref_tot + 0.5 * t.n_cells))
                  / ((c.cand_n + 0.5) / (t.cand_tot + 0.5 * t.n_cells))),
             6) AS psi_part
FROM counts c CROSS JOIN tot t
"""


def embedding_drift_over(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    is_ref: F.Column,
) -> DataFrame:
    """(cell, ref_n, cand_n, psi_part) between the two slices ``is_ref``
    splits ``e`` into, under the FROZEN centroid set — the reusable
    monitor body: production passes the deployed index's centroids and
    a snapshot-id predicate; the registered query passes the exact
    fixture fit and the parity surrogate."""
    counts = (
        e.filter(F.col("embedding").isNotNull())
        .select(
            _nearest_cell("embedding", cents).cast("int").alias("cell"),
            is_ref.alias("is_ref"),
        )
        .groupBy("cell")
        .agg(
            F.sum("is_ref").cast("long").alias("ref_n"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("cand_n"),
        )
    )
    # Totals as window aggregates over the already-bounded histogram —
    # a groupBy+join-back would re-run the corpus scan (the
    # drift_monitor lesson); the window moves cells rows.
    w = Window.partitionBy(F.lit(1))
    counts = counts.select(
        "cell",
        "ref_n",
        "cand_n",
        F.sum("ref_n").over(w).cast("double").alias("ref_tot"),
        F.sum("cand_n").over(w).cast("double").alias("cand_tot"),
        F.count("*").over(w).cast("double").alias("n_cells"),
    )
    p = (F.col("ref_n") + 0.5) / (F.col("ref_tot") + 0.5 * F.col("n_cells"))
    q = (F.col("cand_n") + 0.5) / (F.col("cand_tot") + 0.5 * F.col("n_cells"))
    return counts.select(
        "cell",
        "ref_n",
        "cand_n",
        F.round((p - q) * F.log(p / q), 6).alias("psi_part"),
    )


@query("dremb", oracle=DRIFT_EMB_ORACLE)
def embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell PSI contributions between the reference slice (even
    vec_id) and the candidate slice (odd vec_id) under the exact-fit
    coarse quantizer: (cell, ref_n, cand_n, psi_part).  Σ psi_part is
    the embedding-drift score the monitor alerts on (>0.2 investigate,
    >0.25 block — the drift_monitor thresholds); per-cell terms keep it
    explainable (WHICH region of embedding space moved)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(e, IVF_CELLS, IVF_ITERATIONS, fit_fraction=1.0)
    if not cents:
        return spark.createDataFrame(
            [], "cell int, ref_n long, cand_n long, psi_part double"
        )
    return embedding_drift_over(
        e, cents, F.when((F.col("vec_id") % 2) == 0, 1).otherwise(0)
    )
