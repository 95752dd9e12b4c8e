"""Gated maintenance policy for the BM25 posting index — the lexical
twin of ``operators/maintenance_policy.py`` (VERDICT r13 next-round
#4): the vector index's monitored lifecycle got its alert→decide→act
chain in r13, but the posting index has the same lifecycle
(append/delete/upsert/compact all live in ``operators/retrieval.py``)
and until now no policy gating its one expensive step.

No reference counterpart (the reference never indexes or deletes,
src/01-scrape-images.py); the operational problem is universal at
100 TB: deletes are O(batch) tombstones, so the index READ path
degrades as tombstones accumulate (every query anti-joins them and
dead postings still occupy the scanned shards) — but compaction is the
one O(index) rewrite, so running it on a schedule wastes exactly the
work the tombstone design saved.  The chain prices each stage
separately, cheapest first:

- ``frag``   (always):   tombstoned-to-live DOCUMENT ratio.  O(1) in
  index size: the live doc count is the stats pair already maintained
  by every append/delete, and the tombstone roots are bounded id
  relations (one count over ids, never postings).  act = the alert.
- ``dead``   (on alert): dead POSTING fraction — the share of stored
  posting rows a reader's anti-join suppresses, i.e. the actual read
  amplification.  One bounded scan over the posting relation (the
  gated analogue of the IVF chain's churn scan over codes; postings
  are the index, orders of magnitude smaller than the corpus text).
- ``compact`` (on verdict): the O(index) rewrite actually RUNS
  (``compact_bm25_postings`` — tombstones fold in, dead postings leave
  disk, the ledger resets under one atomic pointer flip) and the
  metric is the surviving posting count read back through the flipped
  pointer; otherwise NULL/false.

Every compare is the ivf_ref-proven round-then-compare on exact
integer-valued doubles, so the oracle replays the same branch.  The
upsert-then-compact-equals-reindex invariant this relies on is pinned
in tests/test_retrieval.py; the chain's own null path (no deletes ⇒ no
scan ⇒ no compaction) is pinned in tests/test_bm25_policy.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.ledger import (
    BM25,
    TOMBS,
    live_roots,
    read_live,
)
from newspapers_etl_spark.operators.index_delete import DOC_DEL_PRED
from newspapers_etl_spark.operators.ivf_maintenance import scratch_index_dir
from newspapers_etl_spark.operators.retrieval import (
    _read_bm25_stats,
    compact_bm25_postings,
    delete_bm25_docs,
    write_bm25_postings,
)
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.sinks import verified

# Alert when tombstoned docs exceed a tenth of the live corpus; compact
# when the dead-posting share a reader pays for exceeds a twentieth.
FRAG_ALERT = 0.1
DEAD_POSTING_BAR = 0.05

_FRAG_SQL = "round(c.dead / c.live, 6)"
_DEAD_SQL = "round(p.dead_p / p.total, 6)"

BM_POL_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ts
  FROM documents
),
cnt AS (
  SELECT CAST(sum(CASE WHEN {DOC_DEL_PRED} THEN 1 ELSE 0 END) AS DOUBLE)
           AS dead,
         CAST(sum(CASE WHEN {DOC_DEL_PRED} THEN 0 ELSE 1 END) AS DOUBLE)
           AS live
  FROM documents
),
post AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
  GROUP BY doc_id, term
),
pcnt AS (
  SELECT CAST(count(*) AS DOUBLE) AS total,
         CAST(sum(CASE WHEN {DOC_DEL_PRED} THEN 1 ELSE 0 END) AS DOUBLE)
           AS dead_p
  FROM post
)
SELECT 'frag' AS stage, {_FRAG_SQL} AS metric,
       {_FRAG_SQL} > {FRAG_ALERT} AS act
FROM cnt c
UNION ALL
SELECT 'dead',
       CASE WHEN {_FRAG_SQL} > {FRAG_ALERT} THEN {_DEAD_SQL} END,
       CASE WHEN {_FRAG_SQL} > {FRAG_ALERT}
            THEN {_DEAD_SQL} > {DEAD_POSTING_BAR}
            ELSE FALSE END
FROM cnt c CROSS JOIN pcnt p
UNION ALL
SELECT 'compact',
       CASE WHEN {_FRAG_SQL} > {FRAG_ALERT}
             AND {_DEAD_SQL} > {DEAD_POSTING_BAR}
            THEN p.total - p.dead_p END,
       ({_FRAG_SQL} > {FRAG_ALERT}
        AND {_DEAD_SQL} > {DEAD_POSTING_BAR}) AS act
FROM cnt c CROSS JOIN pcnt p
"""


def _round6(spark: SparkSession, num: float, den: float) -> float:
    """round(num/den, 6) computed BY SPARK, not Python: Python's round
    is half-even while Spark and DuckDB round half-up, and the chain's
    metric values must hash-match the oracle exactly (the mnt_pol
    posture — every published metric comes off a Spark plan)."""
    return float(
        spark.range(1)
        .select(F.round(F.lit(num) / F.lit(den), 6).alias("m"))
        .collect()[0]["m"]
    )


def _stored(spark: SparkSession, path: str, ptr: dict | None) -> DataFrame:
    """Every stored posting row a reader scans, dead or alive."""
    return reduce(
        DataFrame.unionByName,
        [spark.read.parquet(f"{path}/{r}") for r in live_roots(BM25, ptr)],
    )


def bm25_policy_chain(
    spark: SparkSession,
    path: str,
    frag_threshold: float = FRAG_ALERT,
    dead_threshold: float = DEAD_POSTING_BAR,
) -> DataFrame:
    """Run the gated chain over the posting index at ``path`` and
    return one row per stage — (stage, metric, act), the
    maintenance_policy_chain shape.  A never-written path or a
    never-populated index (zero live documents AND zero tombstones) is
    nothing-to-monitor: every stage comes back metric NULL / act
    false, the maintenance_policy precedent.  A FULLY-tombstoned index
    (zero live documents but tombstones present) is the opposite — the
    maximally-fragmented state alerts unconditionally (frag metric
    NULL: dead/live is undefined) and compacts the dead postings off
    disk.  A pointer-less but populated index (the plain
    write_bm25_postings layout, no maintenance yet) monitors normally
    with zero tombstones."""
    nothing = [("frag", None, False), ("dead", None, False),
               ("compact", None, False)]
    schema = "stage string, metric double, act boolean"
    stats_root = f"{path}/stats"
    # No stats at all (never-written path) is nothing-to-monitor; a
    # POINTER-LESS but populated index is monitorable — no pointer
    # means no delete ever published, i.e. zero tombstones by
    # construction (the legacy write_bm25_postings layout).
    if not verified.has_parquet_data(stats_root):
        return spark.createDataFrame(nothing, schema)
    ptr = verified.current_pointer(stats_root)
    # 1-row driver-local stats read (functions/tinyio.py, guide §1.2).
    live_n = float(_read_bm25_stats(stats_root)["n"])
    tombs = list(ptr.get("live_tombstones", [])) if ptr else []
    if live_n <= 0 and not tombs:
        # Never-written or genuinely empty: nothing to monitor.
        return spark.createDataFrame(nothing, schema)
    # Tombstone roots are bounded id relations — counting them is the
    # O(1)-in-index-size alert cost.
    dead_docs = sum(
        spark.read.parquet(f"{path}/{TOMBS}{t}").count() for t in tombs
    )
    if live_n <= 0:
        # FULLY tombstoned (tombstones present, zero live docs) — the
        # maximally-fragmented state, not nothing-to-monitor (ADVICE
        # r14 #3): every stored posting is dead weight a reader still
        # scans and anti-joins.  The frag ratio dead/live is undefined
        # (metric NULL) but the alert is unconditional, so the chain
        # falls through to the dead-posting scan (which measures 1.0
        # when any postings are stored) and the compaction that
        # finally removes them from disk.
        frag, alert = None, dead_docs > 0
    else:
        frag = _round6(spark, float(dead_docs), live_n)
        alert = frag > frag_threshold
    rows: list[tuple] = [("frag", frag, alert)]
    verdict = False
    if alert:
        # The gated decision scan: how much of the stored posting
        # relation does the reader's anti-join actually suppress?
        total = _stored(spark, path, ptr).count()
        surviving = read_live(spark, path, BM25).count()
        if total > 0:
            dead_frac = _round6(spark, float(total - surviving), float(total))
            verdict = dead_frac > dead_threshold
            rows.append(("dead", dead_frac, verdict))
        else:
            rows.append(("dead", None, False))
    else:
        rows.append(("dead", None, False))
    if verdict:
        compact_bm25_postings(spark, path)
        survived = _stored(spark, path, verified.current_pointer(stats_root)).count()
        rows.append(("compact", float(survived), True))
    else:
        rows.append(("compact", None, False))
    return spark.createDataFrame(rows, schema)


@query("bmpol", oracle=BM_POL_ORACLE)
def bm25_policy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The posting-index lifecycle with the policy in the loop: write
    the index over the full documents table, DELETE the ``doc_id % 7 =
    0`` slice through the tombstone ledger (the ivf_del/bm25d fixture
    slice — about a seventh of the corpus, enough to trip both bars),
    then let the chain run — on the fixture it alerts, measures the
    dead-posting share, and COMPACTS; the oracle replays every stage
    from the documents table (doc counts for frag, distinct (doc, term)
    pairs for the posting relation) and takes the same branch because
    every compare is the round-then-compare posture on exact
    integer-valued doubles."""
    path = scratch_index_dir("bm-pol", sf_dir)
    write_bm25_postings(spark, sf_dir, path)
    docs = load_table(spark, sf_dir, "documents")
    delete_bm25_docs(
        spark, docs.filter(F.expr(DOC_DEL_PRED)), path, batch_id="d1"
    )
    return bm25_policy_chain(spark, path)
