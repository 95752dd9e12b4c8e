"""Session-level behaviour of ``get_spark``: the driver heap fits in the
host's RAM, each generated-code shape is compiled once per session, and
driver threads started by ``par_jobs`` inherit the caller's job tags."""

from __future__ import annotations

import os
import warnings

from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.registry import all_queries

# The dedup family: about 146 distinct whole-stage classes at sf0.001,
# more than Spark's default cache of 100, so at the default every class
# is evicted before the repeat reaches it.  One query alone (jacc, about
# 48 classes) fits even the default cache and would prove nothing.
_WORKING_SET = ("jacc", "ddemb", "lshver", "shprs", "ddspn")


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _collect_all(spark, sf_dir) -> None:
    queries = all_queries()
    for name in _WORKING_SET:
        queries[name](spark, sf_dir).collect()
        spark.catalog.clearCache()


def test_driver_heap_fits_in_physical_ram(spark):
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf) <= ram
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= ram


def test_codegen_cache_cap_is_pinned(spark):
    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == "2500"


def test_repeat_of_registered_queries_compiles_nothing(spark, sf_dir):
    # AQE off for both runs: adaptive re-planning depends on which stage
    # finishes first, and now and then yields a plan shape no earlier run
    # had.  That is a new class, not a cache miss, and this test is about
    # the cache.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _collect_all(spark, sf_dir)
        before = _compiles(spark)
        _collect_all(spark, sf_dir)
        assert _compiles(spark) - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_par_jobs_threads_inherit_tags_without_warning(spark):
    spark.addTag("par-jobs-probe")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            seen = par_jobs(spark.getTags, spark.getTags)
    finally:
        spark.removeTag("par-jobs-probe")
    assert all("par-jobs-probe" in tags for tags in seen)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
