"""SparkSession factory.

Defaults are sized for the local[32] test harness but every setting is the
one you'd also want on a 1000-executor cluster reading 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — replaces hand-tuned shuffle partition counts at scale.
- Shuffle partitions ~= cores locally; on a real cluster AQE coalesces from
  a deliberately-high initial number, so we set the initial high and let
  AQE shrink.
- UTC session timezone: parquet timestamps compare cleanly against the
  DuckDB oracle and avoid DST-dependent results.
- Arrow enabled: every Pandas-UDF / toPandas boundary is vectorized.
- Driver heap sized to the host: a quarter of physical RAM, at most
  48g, unless ``SPARK_GRAFT_DRIVER_MEM`` says otherwise.
- Generated-code cache sized to the engine's working set: Spark keeps
  100 whole-stage classes by default, fewer than one repeat of a batch
  needs (109 distinct classes per ``dedup_search`` benchmark pass,
  132 per ``incremental`` pass, 2,051 for one session over all 161
  registered queries).  At 100 the LRU cache evicts each class before
  its next use, so every repeat compiles it again and the JIT warms the
  new class up again.  2,500 holds the whole registry for about 16 MB
  more Metaspace (figures at the setting).

The reference engine is single-threaded (reference
src/01-scrape-images.py:502-515 iterates rows in a Python for loop); the
Spark rebuild's unit of parallelism is the partition, so nothing here
mirrors the reference's pacing constants.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Managed-table warehouse (bucketed tables etc.): a throwaway dir by
# default so local runs never litter the repo; clusters override.
_WAREHOUSE = os.environ.get("SPARK_GRAFT_WAREHOUSE") or tempfile.mkdtemp(
    prefix="spark_warehouse_"
)


def _default_driver_memory() -> str:
    """A quarter of physical RAM, at most 48g.  A heap sized past the
    host lets the JVM grow until the kernel kills it: with a 48g default
    on a 16 GB host the test session died at about 80% of the suite.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it for a deployment."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf names
        return "48g"
    return f"{min(48 * 1024, ram // 4 // 2**20)}m"


def get_spark(
    app_name: str = "newspapers_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` controls local-mode parallelism and the shuffle-partition
    floor; on a cluster, pass ``master`` via extra_conf/spark-submit and
    these settings still apply.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.warehouse.dir", _WAREHOUSE)
        # Python Data Source API: let custom connectors receive filters
        # (sources/archive_source.py folds date predicates into the scan).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # SESSION-WIDE: TIMESTAMP(NANOS) parquet columns (events.ts) read
        # as raw longs instead of erroring; catalog.load_table converts
        # to µs timestamps explicitly.  Declared here, at session build,
        # so the effect is visible and deliberate — a per-read set/restore
        # is unsafe because Spark consults the conf again at scan
        # EXECUTION, after a lazy reader would have restored it.  Any
        # OTHER nanos column a caller reads comes back as a long (never
        # silently wrong — the type changes), and must convert like
        # load_table does.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Generated-class cache (module docstring).  STATIC conf, so it
        # can only be set here, at session build.  Measured on 4 cores:
        # a steady benchmark pass ran 51-56 Janino compiles
        # (dedup_search) and 103-116 (incremental) at the default, 0 at
        # 2,500 (now and then 2-6, from a new adaptive plan shape).  One
        # session over all 161 registered queries (tools/oracle_sweep.py,
        # sf0.01) needs 2,051 distinct classes; it compiled 3,151 times
        # at 100 and 2,049 at 2,500, the smallest round cap above that.
        # Cost at the end of that sweep: Metaspace 213 -> 225 MB
        # (209 -> 225 MB after a full GC), compressed class space
        # 27 -> 29 MB, JIT code heap 120 -> 132 MB; about 8 KB of
        # Metaspace per retained class.
        .config("spark.sql.codegen.cache.maxEntries", "2500")
        # PySpark 4 wraps EVERY DataFrame/Column API call in a
        # call-site capture (errors/utils._with_origin): a conf.get py4j
        # round-trip + a Python stack walk + a JVM thread-local set per
        # call, ~1.5-4 ms each — measured 0.6 s of pure driver overhead
        # on one maintenance roundtrip (~400 captures).  The capture
        # only enriches error messages with user line numbers; the
        # engine's own error surfacing never relied on it.  Off at any
        # scale — this is driver-side overhead, not a local[32] quirk.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # FileOutputCommitter v2: task outputs move to the destination
        # at task commit instead of a serial rename pass in job commit —
        # the standard large-job committer choice (guide §9 era
        # defaults), measured ~10% off every small parquet publish here
        # and a much bigger win when a 100 TB write commits thousands of
        # files.  Our index publishes stay atomic regardless: visibility
        # is gated on the generation-pointer flip, not on _SUCCESS.
        # CONTRACT for the v2 trade-off (ADVICE r16): with v2, a mid-job
        # crash can leave PARTIAL task outputs in an overwrite
        # destination whose old content the overwrite already cleared —
        # so every overwrite destination in this engine must be either
        # pointer-gated (readers resolve through _CURRENT, never the
        # torn dir) or a scratch/staging path healed by wholesale retry
        # (underscore-staged batch roots, scratch_index_dir trees,
        # merge dest roots wiped by their caller).  A new write path
        # that lets readers list an overwrite destination directly must
        # not rely on its emptiness/partial state to mean anything.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
