"""Structured Streaming layer (SURVEY.md §2.7 St1-St5).

The reference's incremental machinery — one micro-batch per day
partition (reference .github/workflows/main.yml:77-95), checkpoint state
(scraper_state.json, main.yml:70-74), idempotent re-delivery via
skip-if-exists (src/01-scrape-images.py:357-359,462-465) — maps onto
Structured Streaming natively:

- St1 micro-batching: a file source with ``maxFilesPerTrigger`` (or
  ``Trigger.AvailableNow`` for bounded catch-up runs, the direct
  equivalent of the day loop's "process what exists, then stop").
- St2 checkpoint state: ``checkpointLocation`` — offsets + operator
  state, resumable across processes, replacing scraper_state.json.
- St3 resume/replay: restart with the same checkpoint processes ONLY
  unseen input files (verified by tests/test_streaming.py).
- St4 idempotent delivery: ``dropDuplicatesWithinWatermark`` on the
  event key, plus ``foreachBatch`` writing through the anti-join append
  sink (operators/incremental.py:incremental_append).
- St5 watermarked event-time windows: the same window shapes as the
  batch queries in operators/events_windows.py — one definition, two
  execution modes.

Scale design: the streaming aggregations below shuffle on (window, key)
with partial aggregation per micro-batch; state store size is bounded by
the watermark horizon, and the file source never lists more than the
trigger's file cap per batch.  The registered queries execute the REAL
streaming engine (AvailableNow → memory sink) so the DuckDB oracle
checks actual micro-batch output, not a batch re-phrasing.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from newspapers_etl_spark.catalog import table_path
from newspapers_etl_spark.operators.sessions_shared import SESSION_GAP, SESSION_ORACLE
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.streaming.stream_joins import interval_join

# Declared source schema (FIXTURES.md) — streaming file sources must
# never infer (inference re-lists and re-reads the directory).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# The driver fixtures have shipped ts as TIMESTAMP(NANOS) (older
# generations — Spark's reader rejects it as TimestampType; declare raw
# nanos and floor-divide to microseconds, the same truncation DuckDB
# applies) and as timestamp[us] isAdjustedToUTC=false (current — reads
# as TIMESTAMP_NTZ, re-tagged to session-tz TimestampType like
# catalog.load_table).  A streaming source must declare its schema up
# front, so the encoding is sniffed from one parquet footer.
EVENTS_SCHEMA_NANOS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.LongType()) for f in EVENTS_SCHEMA]
)
EVENTS_SCHEMA_NTZ = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
        for f in EVENTS_SCHEMA
    ]
)


def _peek_ts_encoding(src_dir: str, glob: str | None) -> str:
    """Sniff the events ts encoding from the first matching file's parquet
    footer (footer-only read, no data pages): 'nanos' | 'ntz' | 'tz'."""
    import glob as globmod
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Recursive: the streaming file source lists src_dir recursively, so
    # the sniff must see nested/partitioned layouts too.  No match is an
    # error — defaulting to 'tz' would declare a schema that nanos files
    # arriving later could not be read with.
    # A match may be a FILE (driver fixtures are single parquet files)
    # or a DIRECTORY (a Spark-written dataset is a directory named
    # *.parquet holding part-*.parquet files) — the footer read must
    # land on a file, so directory matches descend to their parts.
    pattern = os.path.join(src_dir, "**", glob or "*.parquet")
    files: list[str] = []
    for m in sorted(globmod.glob(pattern, recursive=True)):
        if os.path.isfile(m):
            files.append(m)
        elif os.path.isdir(m):
            files.extend(
                sorted(
                    f
                    for f in globmod.glob(
                        os.path.join(m, "**", "*.parquet"), recursive=True
                    )
                    if os.path.isfile(f)
                )
            )
    if not files:
        raise FileNotFoundError(
            f"ts_encoding='auto' found no parquet under {src_dir!r} "
            f"(glob {glob or '*.parquet'!r}); pass ts_encoding explicitly "
            "for a not-yet-populated source directory"
        )
    # Physical type first: Spark's default parquet writer emits INT96
    # timestamps, which pyarrow ALSO surfaces as timestamp[ns] — but
    # Spark reads INT96 back as plain session-tz TimestampType, so
    # classifying it 'nanos' (the INT64-nano fixture path, read via
    # nanosAsLong + LongType schema) would fail on every engine-written
    # dataset.  Only INT64 columns can be the legacy-nanos encoding.
    pf = pq.ParquetFile(files[0])
    phys = next(
        pf.schema.column(i)
        for i in range(len(pf.schema))
        if pf.schema.column(i).name == "ts"
    ).physical_type
    if phys == "INT96":
        return "tz"
    t = pq.read_schema(files[0]).field("ts").type
    if pa.types.is_int64(t) or (pa.types.is_timestamp(t) and t.unit == "ns"):
        return "nanos"
    if pa.types.is_timestamp(t) and t.tz is None:
        return "ntz"
    return "tz"

# Late-data horizon.  The fixture is a bounded replay (ts spans one
# month), so a generous watermark keeps every window open for the whole
# catch-up run while still exercising the watermark code path; a live
# deployment would use the actual lateness SLA (e.g. "1 hour").
WATERMARK = "35 days"


def read_events_stream(
    spark: SparkSession,
    src_dir: str,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
    ts_encoding: str = "tz",
) -> DataFrame:
    """File-source stream over a directory of events-shaped parquet
    (optionally narrowed by a ``pathGlobFilter`` — the streaming source
    requires a directory, so single-file fixtures are selected by glob).
    With ``max_files_per_trigger`` set, each micro-batch consumes at most
    that many files — the day-loop pacing knob (main.yml:94) done by the
    engine instead of `sleep 5`.  ``ts_encoding``: 'tz' for Spark-written
    TIMESTAMP micros (the default for engine-internal handoffs), 'auto'
    to sniff driver fixtures whose encoding varies by generation."""
    if ts_encoding == "auto":
        ts_encoding = _peek_ts_encoding(src_dir, glob)
    schema = {
        "nanos": EVENTS_SCHEMA_NANOS,
        "ntz": EVENTS_SCHEMA_NTZ,
        "tz": EVENTS_SCHEMA,
    }[ts_encoding]
    if ts_encoding == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader: DataStreamReader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = reader.parquet(src_dir)
    if ts_encoding == "nanos":
        out = out.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_encoding == "ntz":
        out = out.withColumn("ts", F.col("ts").cast("timestamp"))
    return out


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """St5: watermarked 1-hour tumbling count/sum per event type —
    identical shape to the batch events_tumbling_hourly."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def deduped_stream(stream: DataFrame) -> DataFrame:
    """St4: exactly-once effect under at-least-once delivery —
    watermark-bounded dedup on the event key (state is dropped once
    event-time passes the horizon, so the store stays bounded)."""
    return stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# State-store partition count for the STATEFUL streaming queries.
# Streaming plans never AQE-coalesce: the shuffle-partition count at
# query start is frozen into the checkpoint and each partition carries
# its own state store(s), each paying fixed init + per-epoch
# commit/maintenance I/O regardless of how little state it holds — at
# the session default (cores) a stream-stream join runs cores×4 stores
# for kilobytes of state (measured: stjn 4.7 s → 1.9 s at 8 partitions
# on the sf0.1 replay; guide §2.2's size-partitions-to-data, which AQE
# cannot do for streams).  The knob is the state-VOLUME sizing control:
# a production deployment with large keyed state raises it (env or
# conf) exactly as it would size any shuffle; the bounded fixture
# replays hold model-sized state.
import os as _os

STREAM_SHUFFLE_PARTITIONS = int(
    _os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")
)


def run_available_now(
    df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion over all currently
    available input (Trigger.AvailableNow — the reference's 'catch up,
    then stop' month run), land it in a memory sink, and return the
    result as a DataFrame.  The checkpoint makes re-runs incremental.

    The shuffle-partition override scopes to the stream's planning
    (the engine freezes the count into the checkpoint at ``start()``)
    and is restored right after the drain — batch queries in the same
    session keep the session setting.  foreachBatch-based streams
    (index_stream etc.) don't need it: their stream side is stateless
    and their inner batch jobs coalesce through AQE.

    ``state_partitions`` overrides the default (0 → keep the session
    setting): a caller whose aggregate sums unrounded doubles that a
    downstream round() then truncates can sit ON a rounding boundary,
    where the accumulation order — which depends on the partitioning —
    picks the side (the bm25 s9 lesson); such a caller pins the
    partitioning its committed results were produced under
    (operators/rollup.py is the one case)."""
    spark = df.sparkSession
    n = STREAM_SHUFFLE_PARTITIONS if state_partitions is None else state_partitions
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if n > 0:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return df.sparkSession.table(query_name)


# ---------------------------------------------------------------------------
# Registered queries: the real streaming engine, oracle-checked
# ---------------------------------------------------------------------------

STREAM_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY 1, 2
"""


@query("sttmb", oracle=STREAM_TUMBLING_ORACLE)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling aggregation executed BY THE STREAMING
    ENGINE (AvailableNow over the events parquet, complete-mode memory
    sink).  Matching the batch oracle proves micro-batch execution
    converges to the batch answer on bounded input."""
    stream = read_events_stream(spark, sf_dir, glob="events.parquet", ts_encoding="auto")
    ckpt = tempfile.mkdtemp(prefix="ckpt_tumbling_")
    return run_available_now(
        tumbling_counts(stream), "stream_tumbling_hourly_sink", ckpt, "complete"
    )


STREAM_DEDUP_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY event_type
"""


@query("stddp", oracle=STREAM_DEDUP_ORACLE)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the event stream, then a
    per-type count of survivors.  The fixture has unique event_ids, so
    the oracle's count == count(distinct) per type is exactly what the
    dedup must preserve (no drops, no double-delivery); the duplicate-
    collapsing path is exercised with planted dupes in
    tests/test_streaming.py."""
    stream = read_events_stream(spark, sf_dir, glob="events.parquet", ts_encoding="auto")
    ckpt = tempfile.mkdtemp(prefix="ckpt_dedup_")
    deduped = deduped_stream(stream)
    # No distinct aggregates on streams; count+sum over the deduped rows
    # equals the oracle's per-type totals iff dedup dropped nothing it
    # shouldn't (fixture ids are unique) and nothing twice.
    counted = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # Aggregation after dropDuplicatesWithinWatermark needs its own
    # watermark context; complete mode emits the converged totals.
    return run_available_now(
        counted, "stream_dedup_sink", ckpt, "complete"
    )


STREAM_JOIN_WITHIN = "6 hours"

STREAM_JOIN_ORACLE = f"""
SELECT l.user_id                                          AS user_id,
       l.ts                                               AS left_ts,
       r.ts                                               AS right_ts,
       l.value                                            AS left_value,
       r.value                                            AS right_value,
       CAST(date_diff('second', l.ts, r.ts) AS BIGINT)    AS lag_seconds
FROM events l
JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click'
 AND r.event_type = 'purchase'
 AND r.ts >= l.ts
 AND r.ts <= l.ts + INTERVAL {STREAM_JOIN_WITHIN}
"""


@query("stjn", oracle=STREAM_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join executed BY THE STREAMING
    ENGINE (clicks ⋈ purchases within {within} on user_id, AvailableNow,
    append-mode memory sink) against the plain batch SQL join as oracle:
    a hash match proves the engine's state-buffered micro-batch join
    emits exactly the batch answer — and the interval bound is what
    keeps that buffered state expirable at scale (see
    streaming/stream_joins.py)."""
    stream = read_events_stream(spark, sf_dir, glob="events.parquet", ts_encoding="auto")
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    ckpt = tempfile.mkdtemp(prefix="ckpt_ssjoin_")
    return run_available_now(
        interval_join(clicks, purchases, "user_id", within=STREAM_JOIN_WITHIN),
        "stream_join_sink",
        ckpt,
        "append",
    )


def session_counts(stream: DataFrame) -> DataFrame:
    """St5 sessions ON THE STREAM: the same ``session_window`` shape as
    the batch query (operators/events_windows.py:events_session_windows),
    executed by the streaming engine with gap-merge state.  Grouping is
    (user_id, session_window) — session windows on streams require a
    non-window grouping column, and update mode is unsupported, so the
    registered runner uses complete mode."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query("stses", oracle=SESSION_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed BY THE STREAMING ENGINE (AvailableNow,
    complete-mode memory sink) over the events parquet; the oracle is
    the identical gaps-and-islands SQL the batch query uses, so a match
    proves the engine's incremental session-merge state converges to
    the batch answer on bounded input.  Checkpoint-resume behavior for
    this exact shape is asserted in tests/test_streaming.py."""
    stream = read_events_stream(spark, sf_dir, glob="events.parquet", ts_encoding="auto")
    ckpt = tempfile.mkdtemp(prefix="ckpt_sessions_")
    return run_available_now(
        session_counts(stream), "stream_sessions_sink", ckpt, "complete"
    )
