"""Pure SCD2 primitives shared across operator modules.

``operators/scd.py`` and ``streaming/scd_stream.py`` both compose the
merge.  Design rationale and the 100 TB argument live in
``operators/scd.py``'s module docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OPEN_END = "9999-12-31 23:59:59"  # sentinel for the open version


def scd2_init(snapshot: DataFrame, effective: Column) -> DataFrame:
    """Bootstrap a history relation from a first snapshot: every row is
    an open current version."""
    return snapshot.select(
        "*",
        effective.alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    track_cols: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Apply one batch of updates to an SCD2 history.

    - unchanged keys (or attribute-identical updates): kept as-is —
      re-delivering the same update is a no-op (idempotent re-delivery,
      the St4 discipline).
    - changed keys: current version closed at the update ts, new open
      version inserted.
    - new keys: inserted as open versions.
    Closed history rows pass through untouched.

    Duplicate keys WITHIN the batch are collapsed to the latest row per
    key first (ties broken on the tracked attributes for determinism):
    without this, each duplicate fans out through the change-detection
    left join and emits multiple closed versions plus multiple open
    'current' rows for the same key — corrupted history.  The dedup
    window shuffles on the same key as the merge join itself, and only
    over the batch (never the history), so it adds no new exchange
    shape at scale."""
    from pyspark.sql import Window

    closed_hist = history.filter(~F.col("is_current"))
    current = history.filter(F.col("is_current"))

    u = updates.select(
        F.col(key), *[F.col(c) for c in track_cols], F.col(ts_col).alias("_ts")
    )
    latest = Window.partitionBy(key).orderBy(
        F.desc("_ts"), *[F.desc(c) for c in track_cols]
    )
    u = (
        u.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # "changed" = any tracked attribute differs (null-safe OR chain)
    cond = None
    for c in track_cols:
        piece = ~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
        cond = piece if cond is None else (cond | piece)

    cur = current.alias("cur")
    upd = u.alias("upd")
    joined = cur.join(upd, F.col(f"cur.{key}") == F.col(f"upd.{key}"), "left_outer")

    untouched = joined.filter(F.col(f"upd.{key}").isNull() | ~cond).select("cur.*")
    closing = joined.filter(F.col(f"upd.{key}").isNotNull() & cond)
    closed_now = closing.select(
        *[F.col(f"cur.{c}") for c in current.columns if c not in ("valid_to", "is_current")],
        F.col("upd._ts").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened_now = closing.select(
        F.col(f"upd.{key}").alias(key),
        *[F.col(f"upd.{c}").alias(c) for c in track_cols],
        *[
            F.col(f"cur.{c}").alias(c)
            for c in current.columns
            if c not in (key, *track_cols, "valid_from", "valid_to", "is_current")
        ],
        F.col("upd._ts").alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).select(*current.columns)

    brand_new = (
        u.join(current.select(key), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(c) for c in track_cols],
            F.col("_ts").alias("valid_from"),
            F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    # align brand_new columns (missing untracked attrs become nulls)
    for c in current.columns:
        if c not in brand_new.columns:
            brand_new = brand_new.withColumn(c, F.lit(None))
    brand_new = brand_new.select(*current.columns)

    return closed_hist.unionByName(untouched).unionByName(closed_now).unionByName(
        opened_now
    ).unionByName(brand_new)


def scd2_as_of(history: DataFrame, at: Column) -> DataFrame:
    """Point-in-time view: the version valid at `at` per key."""
    return history.filter((F.col("valid_from") <= at) & (at < F.col("valid_to")))



# Deterministic CDC fixture: the churn batch both engines replay
_BASE_TS = "2024-01-01 00:00:00"
_UPD_TS = "2024-06-01 00:00:00"

SCD2_MERGE_ORACLE = f"""
WITH changed AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
)
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       '{_BASE_TS}' AS valid_from,
       '{OPEN_END}' AS valid_to,
       TRUE AS is_current
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
UNION ALL
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       '{_BASE_TS}', '{_UPD_TS}', FALSE
FROM customer c
WHERE EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
UNION ALL
SELECT c.c_custkey, c.c_name, 'CHURNED' AS c_mktsegment,
       '{_UPD_TS}', '{OPEN_END}', TRUE
FROM customer c
WHERE EXISTS (SELECT 1 FROM changed ch WHERE ch.c_custkey = c.c_custkey)
"""
