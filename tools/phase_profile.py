"""Per-action phase profiler for registered queries (guide §1: measure
first).  Monkey-patches the eager DataFrame/DataFrameWriter entry points
so every Spark action a query triggers is logged with its duration and
the repo call site — the local[32] equivalent of reading the UI's job
timeline (spark.ui is disabled in the bench session).  Each query's
header also carries its whole-stage codegen compiles: the Janino
compile count (``CodegenMetrics``) and total compile time
(``CodeGenerator.compileTime``, an exact running sum, where the metrics
histogram only samples), as deltas around the query.  A query that
recompiles shapes the session already compiled shows up there.

Usage:
    python tools/phase_profile.py ivfapp stup mntpol
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/phase_profile.py imrg
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

LOG: list[tuple[str, float, str]] = []


def _caller() -> str:
    for fr in reversed(traceback.extract_stack()):
        if "newspapers_etl_spark" in fr.filename:
            return f"{Path(fr.filename).name}:{fr.lineno}"
    return "?"


def _wrap(cls, name: str) -> None:
    orig = getattr(cls, name)

    def wrapper(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(self, *a, **kw)
        finally:
            LOG.append((name, time.perf_counter() - t0, _caller()))

    wrapper.__name__ = name
    setattr(cls, name, wrapper)


def _codegen(spark) -> tuple[int, float]:
    """(Janino compiles, compile ms) so far in this JVM."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n.getCount(), ns / 1e6


def main() -> int:
    # Spark 4: pyspark.sql.DataFrame is the abstract facade; the classic
    # session instantiates pyspark.sql.classic.dataframe.DataFrame which
    # overrides the eager methods — patch the concrete class.
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for m in ("collect", "head", "take", "count", "toPandas"):
        _wrap(DataFrame, m)
    for m in ("parquet", "save", "csv", "json", "saveAsTable"):
        _wrap(DataFrameWriter, m)

    from newspapers_etl_spark import registry
    from newspapers_etl_spark.session import get_spark

    spark = get_spark("phase_profile")
    queries = registry.all_queries()
    # warmup
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    for qname in sys.argv[1:]:
        LOG.clear()
        spark.catalog.clearCache()
        n0, ms0 = _codegen(spark)
        t0 = time.perf_counter()
        df = queries[qname](spark, SF_DIR)
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_noop = time.perf_counter() - t1
        total = time.perf_counter() - t0
        n1, ms1 = _codegen(spark)
        # the final noop ride-along was logged by the save wrapper; drop it
        body = [r for r in LOG if r[2] != "?"]
        accounted = sum(d for _, d, _ in body)
        print(f"\n=== {qname}: total {total:.2f}s  (fn {t_build:.2f}s + "
              f"noop {t_noop:.2f}s; actions {accounted:.2f}s, "
              f"gap {total - accounted - t_noop:.2f}s; codegen {n1 - n0} "
              f"compiles, {ms1 - ms0:.0f} ms) ===")
        for op, dt, site in sorted(body, key=lambda r: -r[1]):
            print(f"  {dt:7.3f}s  {op:<8s} {site}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
