"""SCD Type-2 merge (CDC upsert) without a table format.

MERGE INTO needs Delta/Iceberg; on plain parquet the same semantics
compose from the operators this engine already has — change-detection
join, anti-join, union — exactly the incremental discipline the
reference runs against its Drive catalog (skip unchanged, add new,
reference src/01-scrape-images.py:462-465), extended with history
tracking: every change CLOSES the current version (valid_to = change
ts) and INSERTS a new open one, so any past state remains queryable
("what was this customer's segment last March").

Scale design: one equi-join on the business key decides
changed/unchanged/new; all three output classes are map-side
projections of that single join — no window over history is needed for
the merge itself (only open rows participate), so the cost is one
shuffle of the CURRENT snapshot + updates, independent of history
depth.  History stays append-only; pair with a partitioned write on
valid_from for time-pruned reads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table

# The SCD2 primitives live in functions/scd.py, shared with
# streaming/scd_stream.py; they are re-exported here for tests and
# downstream composition.
from newspapers_etl_spark.functions.scd import (  # noqa: F401
    OPEN_END,
    SCD2_MERGE_ORACLE,
    _BASE_TS,
    _UPD_TS,
    scd2_as_of,
    scd2_init,
    scd2_merge,
)
from newspapers_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Registered queries: a deterministic CDC batch over the customer dim
# ---------------------------------------------------------------------------

def _merged_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap SCD2 history from the customer snapshot, then apply one
    CDC batch: every customer holding a finished ('F') order churns —
    their segment changes to CHURNED at _UPD_TS."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    hist0 = scd2_init(cust, F.lit(_BASE_TS).cast("timestamp"))
    updates = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .select(
            "c_custkey",
            F.lit("CHURNED").alias("c_mktsegment"),
            F.lit(_UPD_TS).cast("timestamp").alias("ts"),
        )
    )
    return scd2_merge(hist0, updates, key="c_custkey", track_cols=["c_mktsegment"])


@query("scd2", oracle=SCD2_MERGE_ORACLE)
def scd2_merge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD2 history after one CDC batch: unchanged open rows, closed
    prior versions, and newly opened versions, all from a single
    change-detection join (see module docstring for the scale argument).
    Mirrors the reference's skip-unchanged/add-new catalog discipline
    (src/01-scrape-images.py:462-465) with version history retained.

    Validity bounds are projected as formatted strings: the 9999-12-31
    open-version sentinel is outside Arrow's nanosecond timestamp range,
    so a timestamp projection would overflow the driver's Arrow-based
    result compare (pandas ns epoch ends 2262-04-11)."""
    hist = _merged_customer_history(spark, sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return hist.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "is_current",
    )


SCD2_AS_OF_ORACLE = """
WITH changed AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
)
SELECT c_mktsegment, count(*) AS n_customers
FROM (
  SELECT CASE WHEN EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
              THEN 'CHURNED' ELSE c.c_mktsegment END AS c_mktsegment
  FROM customer c
) t
GROUP BY c_mktsegment
"""


@query("s2pit", oracle=SCD2_AS_OF_ORACLE)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time segment census AFTER the churn batch: the as-of
    filter selects exactly one version per key (the one whose validity
    interval covers the probe ts), then a count per segment.  The as-of
    predicate is a map-side filter — no window, no join — so a
    valid_from-partitioned history prunes to the covering partitions."""
    hist = _merged_customer_history(spark, sf_dir)
    at = F.lit("2024-07-01 00:00:00").cast("timestamp")
    return (
        scd2_as_of(hist, at)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct event enrichment (the feature-store join)
# ---------------------------------------------------------------------------

# Churn boundary INSIDE the events' ts range (January), so the as-of
# join genuinely selects between versions per event: the same user's
# events resolve to the original segment before the boundary and to
# CHURNED after it.
_ENRICH_TS = "2024-01-15 12:00:00"

SCD_ENRICH_ORACLE = f"""
WITH changed AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
)
SELECT CASE WHEN EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
             AND e.ts >= '{_ENRICH_TS}'
            THEN 'CHURNED' ELSE c.c_mktsegment END AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2)   AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment
"""


@query("scdenr", oracle=SCD_ENRICH_ORACLE)
def scd2_event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-CORRECT event enrichment: each event joins the SCD2
    dimension version valid AT ITS OWN timestamp (equi-join on the
    business key + validity-interval residual — the training-data /
    feature-store discipline that prevents label leakage from future
    attribute values).  The history is built by the same scd2_init +
    scd2_merge machinery as `scd2`, with the churn batch placed
    mid-January so events on both sides of the boundary prove the
    version selection; the oracle rebuilds the interval semantics as a
    CASE on the boundary.

    Scale: the join shuffles on the key (or broadcasts the dimension —
    history is dim-sized, not fact-sized); the interval predicate is a
    per-row residual after the hash match, never an expansion.  At
    100 TB with a valid_from-partitioned history, AQE prunes closed
    partitions older than the fact's watermark."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    hist0 = scd2_init(cust, F.lit(_BASE_TS).cast("timestamp"))
    updates = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .select(
            "c_custkey",
            F.lit("CHURNED").alias("c_mktsegment"),
            F.lit(_ENRICH_TS).cast("timestamp").alias("ts"),
        )
    )
    hist = scd2_merge(hist0, updates, key="c_custkey", track_cols=["c_mktsegment"])
    e = load_table(spark, sf_dir, "events")
    joined = e.join(
        F.broadcast(hist),
        (e.user_id == hist.c_custkey)
        & (hist.valid_from <= e.ts)
        & (e.ts < hist.valid_to),
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
