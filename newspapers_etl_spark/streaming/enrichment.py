"""Stream–static dimension enrichment: the streaming face of the
broadcast star join.

The reference enriches each scraped row with constants from its setup
context (reference src/01-scrape-images.py:484-497 builds the search
URL from the fixed newspaper id and date); the streaming engine's
version of "attach dimension attributes to a moving fact stream" is
the stream–static join: the event stream joins a batch-loaded
dimension table that is broadcast to every task, no stream-side state
at all (unlike stream–stream joins, a static side needs no watermark
bookkeeping — each micro-batch joins against the same relation).

Scale design: the dimension is broadcast ONCE per micro-batch plan —
events never shuffle for the join; the post-join aggregation is the
only stateful stage and its state is O(segments).  At 100 TB/day of
events the cost profile is identical: map-side hash probe against the
broadcast dim, partial agg, tiny state.  A dimension too big to
broadcast drops to a shuffled stream-static join with the same
semantics — the query shape here is the decision point, not a
rewrite.

The oracle is the equivalent BATCH join+aggregate: on bounded input
(AvailableNow over the fixture) the micro-batched stream must converge
to exactly the batch answer — hash equality IS the proof.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.streaming.incremental_stream import (
    read_events_stream,
    run_available_now,
)

ENRICH_ORACLE = """
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2)   AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


@query("stenr", oracle=ENRICH_ORACLE)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream inner-joined to the broadcast customer dimension on
    user_id = c_custkey, aggregated per market segment — executed by
    the streaming engine (AvailableNow, complete-mode memory sink)."""
    stream = read_events_stream(
        spark, sf_dir, glob="events.parquet", ts_encoding="auto"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_enrich_")
    return run_available_now(agg, "stream_enrich_sink", ckpt, "complete")
