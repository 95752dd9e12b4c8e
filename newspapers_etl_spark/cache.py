"""Caller-owned release path for query-internal caches.

Seven registered queries persist an intermediate relation because it
feeds multiple subplans of the one DataFrame they return (``jaccard``'s
shingle sets, ``dd_spn``'s window stream + repeated-key set,
``shprs``/``sh32``'s (doc_id, sh) members — see
operators/dedup.py:manku_neardup_pairs — ``lshver``'s banded MinHash
signatures, ``ddemb``'s embedding LSH bucket relation, and ``ndcg``'s
posting-bounded relevance relation).  The query contract (return an
unexecuted DataFrame) makes in-query ``unpersist()`` impossible: the
cache must outlive the call so the caller's action can use it.  In the
bench harness every measured run clears the cache between queries
(bench.py); a LONG-LIVED interactive session, or a sweep that runs many
queries on one SparkSession, owns the release instead — wrap the work in
:func:`all_session_caches_cleared` or call
:func:`clear_all_session_caches` when done.

The scope is deliberately SESSION-GLOBAL, and the names say so: Spark
exposes no per-relation registry of the queries' internal persists (the
DataFrames never escape the query functions), so the only reliable
release is ``spark.catalog.clearCache()`` — which also drops any cache
the caller persisted for unrelated work.  Both operations are
storage-only: they never change results, only free executor storage
memory, and a cleared relation re-materializes on next use.  Callers
that need surviving caches should re-``persist()`` them after the
block rather than expecting a scoped release.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def clear_all_session_caches(spark: SparkSession) -> None:
    """Release EVERY cached relation on the session — the intermediates
    persisted inside jaccard/dd_spans/sh_pairs/sh32/lshver/ddemb/ndcg and
    any caches the caller created.  Safe at any point: a cleared cache
    re-materializes on next use."""
    spark.catalog.clearCache()


@contextmanager
def all_session_caches_cleared(spark: SparkSession) -> Iterator[SparkSession]:
    """Run a block, then release every session cache (see module
    docstring for why the scope is global)::

        with all_session_caches_cleared(spark):
            sh_pairs_df = all_queries()["shprs"](spark, sf_dir)
            sh_pairs_df.count()
        # ALL session caches released here, incl. (doc_id, sh)

    Clears on exit even when the block raises."""
    try:
        yield spark
    finally:
        clear_all_session_caches(spark)
