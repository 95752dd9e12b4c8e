"""Centroid refresh from the combinable cell stats — the decision half
of the index-maintenance loop (VERDICT r10 next-round #6): after
appends/deletes have drifted the corpus away from the FROZEN coarse
quantizer, should the index be rebuilt?

No reference counterpart (the reference has no vector search,
src/01-scrape-images.py:482-522); this closes the loop the (n, svec)
stats pairs were designed for: ``embedding_drift`` ALERTS (PSI over
cell histograms), this operator DECIDES — derive refreshed centroids
svec/n per cell WITHOUT a corpus pass, measure the would-be
reassignment churn, and emit the refresh/don't-refresh row.

Churn = the fraction of indexed vectors whose nearest REFRESHED
centroid differs from their stored cell, measured over the PQ-decoded
reconstructions:

- the only scan is the CODES relation (M small ints per vector — the
  raw embeddings are never touched, exactly the ADC discipline);
- decode is a map-side literal lookup (one k-entry array-of-arrays per
  subspace, ``element_at`` by stored code — the codebook ships inside
  the plan);
- nearest-refreshed is the same literal argmax-dot fold the index
  itself assigns with (``similarity._nearest_cell``), over ≤k
  refreshed centroids.

At 100 TB: one pass over the codes (bytes per vector), zero joins,
zero shuffles before the 2-long aggregate — the decision costs less
than any probe query.  Float discipline: the refreshed means are ONE
double division of the exact stats sums (never F.avg — the (n, svec)
lesson), so both engines derive bit-identical centroids; the decode
and dot-fold reuse the established cross-engine-matched expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.lloyd_sql import SQL_DOT
from newspapers_etl_spark.functions.tinyio import read_tiny_rows
from newspapers_etl_spark.operators.index_delete import IVF_DEL_PRED
from newspapers_etl_spark.operators.ivf_maintenance import (
    FIT_PREDICATE,
    IVF_FROZEN_CTES,
    _read_model,
    build_ivf_index,
    codes_fingerprint,
    delete_from_ivf_index,
    fit_models,
    ivf_frozen_ctes,
    read_ivf_codes,
    rebuild_ivf_index,
    scratch_index_dir,
)
from newspapers_etl_spark.operators.ivfadc import SUB_DIM
from newspapers_etl_spark.operators.similarity import _nearest_cell
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.sinks import verified

# Rebuild when more than this fraction of the index would change cells
# under the refreshed quantizer.  A 100 TB deployment tunes this
# against rebuild cost; the registered query uses the default.
REFRESH_CHURN_THRESHOLD = 0.1

_REF_DOT = SQL_DOT.format(a="r.rvec", b="c.cvec")

# The decision fragment (refreshed means -> PQ decode -> re-assign) is
# shared with the maintenance-policy oracle (operators/
# maintenance_policy.py): it references only the frozen-fragment CTE
# names (asg/nnall/enc/cbk), so it replays over ANY corpus
# ivf_frozen_ctes() was parameterized with.
REF_DECISION_CTES = f"""rm AS (
  -- refreshed centroid components: per-(cell, position) sum/count of
  -- the double-cast members — the exact algebra of the stored
  -- (n, svec) pair, ONE division (never avg: engine-internal
  -- accumulation), unrounded (the sums are exact doubles)
  SELECT a.cell, i - 1 AS pos,
         sum(CAST(e.embedding[i] AS DOUBLE)) / count(*) AS m
  FROM asg a JOIN nnall e USING (vec_id),
       unnest(range(1, len(e.embedding) + 1)) AS t(i)
  GROUP BY a.cell, i
),
rc AS (SELECT cell, list(m ORDER BY pos) AS cvec FROM rm GROUP BY cell),
rv AS (
  -- PQ-decoded reconstruction: the stored code's codebook slice per
  -- subspace, concatenated in subspace order
  SELECT e.vec_id,
         flatten(list(list_slice(c.embedding, e.sub*{SUB_DIM} + 1,
                                 e.sub*{SUB_DIM} + {SUB_DIM})
                 ORDER BY e.sub)) AS rvec
  FROM enc e JOIN cbk c USING (code)
  GROUP BY e.vec_id
),
nr AS (
  SELECT vec_id, cell AS ncell FROM (
    SELECT r.vec_id, c.cell,
           row_number() OVER (PARTITION BY r.vec_id
                              ORDER BY {_REF_DOT} DESC, c.cell) AS rk
    FROM rv r CROSS JOIN rc c
  ) WHERE rk = 1
)"""

IVF_REF_ORACLE = f"""
WITH {IVF_FROZEN_CTES},
{REF_DECISION_CTES}
SELECT CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN n.ncell != a.cell THEN 1 ELSE 0 END)
            AS BIGINT) AS moved,
       round(CAST(sum(CASE WHEN n.ncell != a.cell THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS churn,
       (round(CAST(sum(CASE WHEN n.ncell != a.cell THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*), 6)
        > {REFRESH_CHURN_THRESHOLD}) AS refresh
FROM asg a JOIN nr n USING (vec_id)
"""


def refreshed_centroids(
    spark: SparkSession, path: str
) -> list[tuple[int, list[float]]]:
    """svec/n per cell from the LIVE stats generation — the refreshed
    quantizer, derived with no corpus pass (the whole point of storing
    the combinable pair).  Driver-side division: the stats sums are
    exact doubles (see _merge_cell_stats), so the single IEEE division
    is bit-identical to any engine's sum/count."""
    # Driver-local read (tinyio): the stats pair is a cells×dim
    # relation consumed on the driver — a Spark job per read paid the
    # whole per-job floor (guide §1.2/§5).  Same rows, same cell order.
    rows = sorted(
        read_tiny_rows(verified.current_data_path(f"{path}/stats")),
        key=lambda r: int(r["cell"]),
    )
    return [
        (int(r["cell"]), [float(s) / int(r["n"]) for s in r["svec"]])
        for r in rows
    ]


def _decoded(codes: DataFrame, codebook: list[tuple[int, list[float]]]) -> DataFrame:
    """(cell, rvec): the PQ reconstruction of every indexed vector —
    per-subspace ``element_at`` into one literal array-of-arrays (the
    codebook appears ONCE in the plan, not per-code), materialized as a
    column BEFORE anything indexes it (higher-order lambdas never CSE —
    the ppl2 lesson)."""
    m = len(codebook[0][1]) // SUB_DIM
    sub_lits = [
        F.array(
            *[
                F.array(
                    *[
                        F.lit(float(v))
                        for v in kvec[s * SUB_DIM:(s + 1) * SUB_DIM]
                    ]
                )
                for _code, kvec in codebook
            ]
        )
        for s in range(m)
    ]
    recon = F.flatten(
        F.array(
            *[
                F.element_at(sub_lits[s], F.col("codes")[s] + 1)
                for s in range(m)
            ]
        )
    )
    return codes.select("cell", recon.alias("rvec"))


def centroid_refresh_decision(
    spark: SparkSession,
    path: str,
    threshold: float = REFRESH_CHURN_THRESHOLD,
) -> DataFrame:
    """The decision row (total, moved, churn, refresh) for the index at
    ``path``: churn = fraction of PQ-decoded vectors whose nearest
    refreshed centroid differs from their stored cell.  One pass over
    the codes; models and refreshed centroids are bounded literals.
    An index whose codes were all deleted yields (0, 0, NULL, NULL) —
    there is nothing to churn and nothing to decide."""
    _cents, codebook = _read_model(spark, path)
    refreshed = refreshed_centroids(spark, path)
    if not refreshed:
        # Stats empty ⟺ every vector deleted ⟹ the anti-join reader
        # yields no codes either: emit the nothing-to-decide row
        # directly (an empty centroid literal can't even be folded).
        return spark.createDataFrame(
            [(0, 0, None, None)],
            "total long, moved long, churn double, refresh boolean",
        )
    moved = _decoded(read_ivf_codes(spark, path), codebook).select(
        "cell",
        _nearest_cell("rvec", refreshed).cast("int").alias("ncell"),
    )
    churn = F.round(F.col("moved") / F.col("total"), 6)
    return (
        moved.agg(
            F.count("*").cast("long").alias("total"),
            F.sum(
                F.when(F.col("ncell") != F.col("cell"), 1).otherwise(0)
            ).cast("long").alias("moved"),
        )
        .select(
            "total",
            "moved",
            churn.alias("churn"),
            (churn > F.lit(threshold)).alias("refresh"),
        )
    )


@query("ivfref", oracle=IVF_REF_ORACLE)
def ivf_centroid_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end refresh decision on the fixture: fit the frozen
    models on the 1-in-8 fit slice, index the full corpus, then decide
    from the stored stats alone.  The oracle replays fit + assignment +
    encode (the shared frozen-model fragment), derives the refreshed
    means with the same one-division algebra, decodes, and re-assigns."""
    e = load_table(spark, sf_dir, "embeddings")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [], "total long, moved long, churn double, refresh boolean"
        )
    path = scratch_index_dir("ivf-ref", sf_dir)
    build_ivf_index(spark, e, path, e_encode=e, models=models)
    return centroid_refresh_decision(spark, path)


# --------------------------------------------------------------- rebuild

# The rebuild replays as fit + frozen assignment + encode over the
# SURVIVORS (the delete slice is index_delete's): the whole-index
# generation swap changes models, so the oracle is the append oracle's
# shape with both the corpus and the fit slice narrowed.
REBUILD_DEL_PRED = IVF_DEL_PRED

IVF_RB_ORACLE = f"""
WITH {ivf_frozen_ctes(corpus_where=f"NOT ({REBUILD_DEL_PRED})")}
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
       array_to_string(list(CAST(e.code AS VARCHAR) ORDER BY e.sub), '-')
         AS codes_fp
FROM asg a JOIN enc e USING (vec_id)
GROUP BY a.vec_id, a.cell
"""


@query("ivfrb", oracle=IVF_RB_ORACLE)
def ivf_rebuild_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full lifecycle on the fixture: index everything under the
    frozen fit-slice models, DELETE a slice through the tombstone
    ledger, then REBUILD — refit on the survivors' fit slice, re-encode
    the live corpus, flip codes+model+stats in one pointer write — and
    read the new generation back.  Output is the (vec_id, cell,
    codes_fp) view under the REBUILT models, which the oracle replays
    directly over the filtered corpus (the rebuild's whole contract is
    that history — batches, deletes, old models — leaves no trace)."""
    e = load_table(spark, sf_dir, "embeddings")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [], "vec_id long, cell int, codes_fp string"
        )
    path = scratch_index_dir("ivf-rb", sf_dir)
    build_ivf_index(spark, e, path, e_encode=e, models=models)
    delete_from_ivf_index(
        spark, e.filter(F.expr(REBUILD_DEL_PRED)), path, batch_id="d1"
    )
    rebuild_ivf_index(spark, e, path)
    return codes_fingerprint(read_ivf_codes(spark, path))
