"""Column-kernel and pointer-publish timings for the traced run.

Each kernel is a projection over a fixed, pre-cached generated column,
finished with a ``noop`` write; the figure is rows per second per core
at ``ROWS`` rows (median of ``REPS`` timings).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gen

ROWS = 20_000
REPS = 2
PUBLISHES = 20


def _frame(spark, rng, path: str):
    """The kernel input: ``ROWS`` generated rows written once to parquet,
    read back with the token column materialized, and cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from newspapers_etl_spark.functions.text import words

    texts = gen.doc_texts(rng, ROWS, 0.0)
    days = np.datetime64("2000-01-01") + rng.integers(0, 3650, ROWS).astype("timedelta64[D]")
    table = pa.table(
        {
            "text": texts,
            "emb": pa.array(list(gen.unit_vectors(rng, ROWS)), pa.list_(pa.float32())),
            "emb2": pa.array(list(gen.unit_vectors(rng, ROWS)), pa.list_(pa.float32())),
            "date_str": [str(d).replace("-", "/") for d in days],
            "title": [f"The {t[:40]}! (vol. {i % 97})" for i, t in enumerate(texts)],
        }
    )
    pq.write_table(table, path)
    df = spark.read.parquet(path).withColumn("tokens", words("text"))
    df = df.repartition(spark.sparkContext.defaultParallelism).persist()
    df.count()
    return df


def kernel_rates(spark, rng, cores: int, path: str) -> dict[str, float]:
    from newspapers_etl_spark.functions.extraction import normalize_date, sanitize_title
    from newspapers_etl_spark.functions.text import doc_fingerprint, quality_score, words
    from newspapers_etl_spark.functions.vectors import cosine_similarity
    from newspapers_etl_spark.operators.dedup import (
        emb_lsh_bucket,
        minhash_signature,
        shingles,
        simhash,
    )

    df = _frame(spark, rng, path)
    planes = rng.choice([-1.0, 1.0], size=(16, gen.DIM)).tolist()
    kernels = {
        "minhash": [minhash_signature(shingles("tokens"))],
        "simhash": [simhash("text")],
        "emb_lsh_bucket": [emb_lsh_bucket("emb", planes)],
        "tokenize": [words("text")],
        "quality_score": [quality_score("text")],
        "doc_fingerprint": [doc_fingerprint("text")],
        "cosine_similarity": [cosine_similarity("emb", "emb2")],
        "extract": [normalize_date("date_str"), sanitize_title("title")],
    }
    out = {}
    try:
        for name, cols in kernels.items():
            proj = df.select(*[c.alias(f"k{i}") for i, c in enumerate(cols)])
            times = []
            for _ in range(REPS):
                t0 = time.perf_counter()
                proj.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            out[name] = ROWS / (statistics.median(times) * cores)
    finally:
        df.unpersist()
    return out


def publish_seconds(root: str) -> float:
    """Median ``publish_generation`` time on a scratch root."""
    from newspapers_etl_spark.sinks.verified import (
        allocate_generation,
        publish_generation,
    )

    os.makedirs(root, exist_ok=True)
    times = []
    for _ in range(PUBLISHES):
        gen_no, name = allocate_generation(root)
        os.makedirs(os.path.join(root, name))
        t0 = time.perf_counter()
        publish_generation(root, gen_no, name)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
