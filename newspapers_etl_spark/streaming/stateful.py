"""Custom stateful streaming operator (SURVEY.md §2.8 north-star /
§2.7): per-key running totals via ``applyInPandasWithState``.

This is the Spark-native replacement for the reference's hand-rolled
checkpoint dict (scraper_state.json, reference
.github/workflows/main.yml:70-74): user-defined state that survives
across micro-batches, checkpointed by the engine, with the update logic
in Python over Arrow batches.

Scale design: state lives in the state store keyed by the group — one
(count, sum) pair per user here, so store size is O(distinct keys), not
O(rows); each micro-batch touches only the keys it contains.  Use a
timeout (ProcessingTimeTimeout/EventTimeTimeout) to expire idle keys
when the key space is unbounded."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from newspapers_etl_spark.registry import query
from newspapers_etl_spark.streaming.incremental_stream import (
    read_events_stream,
    run_available_now,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_running_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Merge this micro-batch's rows for one key into the persisted
    (count, sum) state and emit the updated totals — an incremental
    aggregate the engine checkpoints and restores on resume."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals_stateful(stream: DataFrame) -> DataFrame:
    """Attach the stateful running-totals operator to an events-shaped
    stream.  Each micro-batch emits one row per touched key with the
    cumulative totals so far; the LAST emission per key equals the batch
    aggregate over all input (proven in tests/test_streaming.py)."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_running_totals,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Registered query: the stateful operator under the real engine
# ---------------------------------------------------------------------------

STATEFUL_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY user_id
"""


@query("ststa", oracle=STATEFUL_ORACLE)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals maintained by ``applyInPandasWithState``
    UNDER THE STREAMING ENGINE (AvailableNow over the events parquet,
    append-mode memory sink), reduced to each key's final emission and
    hash-checked against the batch aggregate — the proof that the
    custom state store converges to the declarative answer.

    The reduction (max n_events per key, and the total it was emitted
    with) is deterministic under ANY micro-batching: the count is
    strictly monotone per key, so the max identifies the last emission
    even when multiple batches emitted interim rows.  Multi-batch
    execution and checkpoint resume are pinned in
    tests/test_streaming.py."""
    import tempfile

    stream = read_events_stream(
        spark, sf_dir, glob="events.parquet", ts_encoding="auto"
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
    sink = run_available_now(
        running_totals_stateful(stream), "stream_stateful_sink", ckpt, "append"
    )
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("total_value", "n_events"), 2).alias("total_value"),
    )
