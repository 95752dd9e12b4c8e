"""ANN quality evaluation: recall@k of the IVF search against the exact
brute-force baseline — the vector-side twin of ``ndcg``
(operators/retrieval_eval.py), closing the ANN loop the same way: a
pipeline that APPROXIMATES needs a registered operator that MEASURES
the approximation, with a per-round bench number and a driver hash row,
not only pytest floors.

No reference counterpart (the reference has no vector search,
src/01-scrape-images.py).  Recall@k = |ANN top-k ∩ exact top-k| / k is
THE standard ANN quality metric (what every FAISS/IVF paper reports),
and here it is exactly oracle-checkable because BOTH rankings are
deterministic and SQL-replayable: the exact side is ``bf_topk``'s
rounded-cosine ranking, the approximate side is ``ivftk``'s
exact-fit Lloyd quantizer + probed-cell scan (functions/lloyd_sql.py) —
the oracle simply intersects the two registered oracles.

Scale design:
- Both inputs are the already-scale-shaped registered plans
  (broadcast probes, zero corpus shuffle before the bounded ranks);
  the evaluation itself joins two (probes × k)-row relations —
  driver-trivial however large the corpus.
- The denominator is the exact side's per-probe row count, not a
  literal k, so tiny corpora (< k rows) still score honestly.
- At 100 TB the same frame evaluates any candidate ANN configuration
  (nprobe, cells, codebooks) against a SAMPLED probe set — recall on a
  probe sample is the standard tuning feedback for the `annst` /
  `sh_bkts` occupancy knobs (SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.operators.similarity import (
    IVF_TOPK_ORACLE,
    TOPK_ORACLE,
    sim_ann_ivf_topk,
    sim_topk_bruteforce,
)
from newspapers_etl_spark.registry import query

IVF_RECALL_ORACLE = f"""
WITH bf AS (SELECT * FROM ({TOPK_ORACLE}) t),
ivf AS (SELECT * FROM ({IVF_TOPK_ORACLE}) t),
truth AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS truth_k
  FROM bf GROUP BY probe_id
),
hits AS (
  SELECT b.probe_id, CAST(count(*) AS BIGINT) AS hits
  FROM bf b JOIN ivf i ON b.probe_id = i.probe_id AND b.vec_id = i.vec_id
  GROUP BY b.probe_id
)
SELECT t.probe_id, coalesce(h.hits, 0) AS hits, t.truth_k,
       round(coalesce(h.hits, 0) / CAST(t.truth_k AS DOUBLE), 6) AS recall
FROM truth t LEFT JOIN hits h USING (probe_id)
"""


@query("ivfrec", oracle=IVF_RECALL_ORACLE)
def ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, hits, truth_k, recall): per-probe recall@k of the
    registered IVF search against the exact brute-force cosine top-k.
    ``truth_k`` is the exact side's actual pool size (= k except on
    corpora smaller than k); ``recall`` is rounded to 6 dp.  On the
    uniform-random fixture recall is a FLOOR, not an expectation
    (Jegou et al. §V — see fit_codebook's measured notes); the
    clustered-fixture pytest shows the realistic regime."""
    bf = sim_topk_bruteforce(spark, sf_dir).select("probe_id", "vec_id")
    ivf = sim_ann_ivf_topk(spark, sf_dir).select("probe_id", "vec_id")
    truth = bf.groupBy("probe_id").agg(F.count("*").alias("truth_k"))
    hits = (
        bf.join(ivf, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("hits"))
    )
    return truth.join(hits, "probe_id", "left").select(
        "probe_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        "truth_k",
        F.round(
            F.coalesce("hits", F.lit(0)) / F.col("truth_k").cast("double"), 6
        ).alias("recall"),
    )
