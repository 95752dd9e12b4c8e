"""newspapers_etl_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
``j-jayes/newspapers-etl`` (reference at /root/reference, read-only),
re-expressed Spark-first: declarative DataFrame/SQL plans optimized by
Catalyst, with Pandas-UDF/mapInPandas only where built-ins cannot express
the semantics (external I/O, multimodal decode).

Layout:
    session.py      SparkSession factory tuned for local[32] and cluster parity
    catalog.py      table loading with declared schemas (no inference)
    functions/      pure column-expression library (regex fallbacks, sanitize,
                    dates, mime, json, vectors, text stats) — zero Python UDFs
    operators/      relational core, incremental anti-join pipeline, dedup,
                    similarity search, multimodal plumbing
    sources/        nested-JSON manifest flattening, binary-file source
    sinks/          partitioned writes + md5-verified audit
    streaming/      Structured Streaming windows/watermarks + incremental runner
    registry.py     the queries()/oracle_sql() registry that backs
                    __spark_entry__.py (driver correctness contract)
    cache.py        caller-owned release path for query-internal caches

Cache lifecycle: jaccard/dd_spans/sh_pairs/sh32/lshver/ddemb/ndcg
persist() intermediates that must outlive the query call (the returned
DataFrame references them); long-lived sessions release them via
``newspapers_etl_spark.cache.all_session_caches_cleared`` /
``clear_all_session_caches`` (session-GLOBAL by design — which see).
"""

__version__ = "0.1.0"
