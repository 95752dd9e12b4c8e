"""Query registry backing the driver contract (__spark_entry__.py).

Each operator family registers named queries here via the ``@query``
decorator: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, the equivalent DuckDB oracle SQL.  Column names
and types are aligned on both sides (the driver sorts columns by name
and value-hashes, so every computed column is aliased identically and
integer sums are CAST to BIGINT in the oracle — DuckDB's sum(int) is
HUGEINT).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# all_queries() lists queries in _OPERATOR_MODULES order, each module's
# queries in definition order; import order plays no part.  The driver's
# correctness harness checks queries in that order, capped around ~50
# per round, so the list is the rotation: families whose last green
# driver hash row is oldest, or that hold a query never checked in any
# window, go first, and a query changed in the current round must sit
# inside the first ~50.  A change verified output-identical by the full
# oracle sweep, on a query whose driver row is at most one round old,
# may defer its re-hash one round with a ledger note naming it.
# Per-slot notes: query count, round of the last driver hash row.
_OPERATOR_MODULES = (
    # ---- window (slots 1-50): the index-lifecycle families first (the
    # six r14 registrations stdel/bmpol/ivfpit/bmpit/stbdl/stbup took
    # their first driver rows behind the six queries they build on),
    # then dedup (nine r10-stale rows, the oldest history), then the
    # r12-hashed families, closing on urlcn at slot 50 exactly. ----
    "newspapers_etl_spark.operators.ivf_maintenance",     # 1   ivfapp hashed r14
    "newspapers_etl_spark.operators.retrieval",           # 1   bm25 hashed r14
    "newspapers_etl_spark.operators.index_delete",        # 2   ivfdel, bm25d hashed r14
    "newspapers_etl_spark.operators.index_upsert",        # 2   ivfup, bm25u hashed r14
    "newspapers_etl_spark.streaming.delete_stream",       # 1   stdel: first row, slot 7
    "newspapers_etl_spark.operators.bm25_policy",         # 1   bmpol: first row, slot 8
    "newspapers_etl_spark.operators.index_pit",           # 2   ivfpit, bmpit: first rows
    "newspapers_etl_spark.streaming.bm25_upkeep_stream",  # 2   stbdl, stbup: first rows
    "newspapers_etl_spark.operators.dedup",               # 10  9 rows r10 + ddex r13
    "newspapers_etl_spark.operators.embedding_drift",     # 1   hashed r12
    "newspapers_etl_spark.operators.similarity",          # 5   hashed r12
    "newspapers_etl_spark.operators.ann_eval",            # 1   hashed r12
    "newspapers_etl_spark.operators.pandas_surface",      # 3   hashed r12
    "newspapers_etl_spark.operators.multimodal",          # 4   hashed r12
    "newspapers_etl_spark.operators.relational_extended", # 9   hashed r12
    "newspapers_etl_spark.operators.scd",                 # 3   hashed r12
    "newspapers_etl_spark.operators.diagnostics",         # 1   hashed r12
    "newspapers_etl_spark.operators.url_ops",             # 1   hashed r12 — urlcn, slot 50
    # ---- tail: r12-hashed riders displaced by the dedup block ----
    "newspapers_etl_spark.operators.incremental",         # 3   hashed r12
    "newspapers_etl_spark.operators.snapshot_diff",       # 1   hashed r12
    "newspapers_etl_spark.operators.events_analytics",    # 3   hashed r12
    "newspapers_etl_spark.operators.sampling_extended",   # 3   hashed r12
    "newspapers_etl_spark.streaming.enrichment",          # 1   hashed r12
    "newspapers_etl_spark.streaming.scd_stream",          # 1   hashed r12
    "newspapers_etl_spark.streaming.stateful",            # 1   hashed r12
    "newspapers_etl_spark.operators.retrieval_fusion",    # 2   hashed r12
    "newspapers_etl_spark.operators.ivfadc",              # 2   hashed r12
    "newspapers_etl_spark.operators.semantic_dedup",      # 2   hashed r12
    # ---- r13-hashed families ----
    "newspapers_etl_spark.operators.pca",                 # 2   hashed r13
    "newspapers_etl_spark.operators.rollup",              # 2   hashed r13
    "newspapers_etl_spark.operators.sketches",            # 1   hashed r13
    "newspapers_etl_spark.sources.text_formats",          # 4   hashed r13
    "newspapers_etl_spark.operators.data_quality",        # 1   hashed r13
    "newspapers_etl_spark.operators.corpus",              # 5   hashed r13
    "newspapers_etl_spark.operators.sampling",            # 2   hashed r13
    "newspapers_etl_spark.operators.text_analysis",       # 6   hashed r13
    "newspapers_etl_spark.operators.events_windows",      # 6   hashed r13
    "newspapers_etl_spark.operators.pipeline",            # 2   hashed r13
    "newspapers_etl_spark.sinks.verified",                # 1   hashed r13
    "newspapers_etl_spark.operators.dedup_scale",         # 1   hashed r13
    "newspapers_etl_spark.operators.corpus_overlap",      # 2   hashed r13
    "newspapers_etl_spark.streaming.incremental_stream",  # 4   hashed r13
    "newspapers_etl_spark.operators.drift_monitor",       # 1   hashed r13
    "newspapers_etl_spark.operators.retrieval_eval",      # 1   hashed r13
    "newspapers_etl_spark.operators.text_lm",             # 1   hashed r13
    # ---- r14-hashed families ----
    "newspapers_etl_spark.operators.ivf_refresh",         # 2   hashed r14
    "newspapers_etl_spark.operators.model_fit",           # 3   hashed r14
    "newspapers_etl_spark.operators.extraction_queries",  # 8   hashed r14
    "newspapers_etl_spark.operators.text_scoring",        # 6   hashed r14
    "newspapers_etl_spark.operators.relational",          # 21  hashed r14
    "newspapers_etl_spark.streaming.index_stream",        # 1   hashed r14
    "newspapers_etl_spark.streaming.bm25_stream",         # 1   hashed r14
    "newspapers_etl_spark.operators.maintenance_policy",  # 1   hashed r14
    "newspapers_etl_spark.streaming.upsert_stream",       # 1   hashed r14
    # ---- registered r15, after that round's window ----
    "newspapers_etl_spark.operators.run_manifest",        # 1   manif
    "newspapers_etl_spark.operators.filtered_ann",        # 1   fann
    "newspapers_etl_spark.operators.index_merge",         # 2   imrg, bmmrg
    "newspapers_etl_spark.operators.chunking",            # 1   chnk
    "newspapers_etl_spark.operators.late_interaction",    # 1   mxsim
)

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB-runnable ANSI SQL over
    the pre-registered fixture views, or None for non-SQL-expressible ops
    (driver then records a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _ensure_loaded() -> None:
    """Import every declared operator module; any failure raises.  All
    declared modules exist, so a missing one is a packaging bug, not an
    in-progress build — silent tolerance would shrink the registered
    surface without failing anything."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, ordered by its module's slot in
    _OPERATOR_MODULES (a stable sort: each module keeps its own
    definition order)."""
    _ensure_loaded()
    slot = {mod: i for i, mod in enumerate(_OPERATOR_MODULES)}
    return dict(sorted(QUERIES.items(), key=lambda kv: slot[kv[1].__module__]))


def all_oracles() -> dict[str, str]:
    """Every registered oracle, in all_queries() order."""
    return {name: ORACLE[name] for name in all_queries() if name in ORACLE}
