"""Training-run provenance manifest — ONE auditable relation answering
"exactly which data produced run X?" (VERDICT r14 next-round #7), by
composing four already-verified provenance legs:

- **index**: the vector-index view run X retrieved against, pinned to
  its maintenance batch and digested through the point-in-time reader
  (operators/index_pit.py) — re-running the manifest after any amount
  of later maintenance reproduces the same digest or refuses honestly.
- **corpus**: the per-source content fingerprint set of the training
  corpus (the ``snkau`` audit relation, sinks/verified.py
  partition_manifest — the reference's per-upload md5Checksum
  discipline, src/01-scrape-images.py:141-149, at dataset grain).
- **split**: the deterministic train/val/test membership digests (the
  ``split3`` md5-prefix ranges, operators/corpus.py — engine- and
  layout-independent, so the digest IS the membership).
- **dim**: the SCD2 dimension state AS OF the run timestamp (the
  ``s2pit`` as-of view, operators/scd.py), digested per segment.

Output: (artifact, part, n, digest) — one row per auditable part; the
digest is md5 over the SORTED per-row md5s (the snkau pattern, proven
hash-identical between Spark and DuckDB), so the relation is
order-insensitive and bit-comparable across engines and re-runs.  The
replay contract — same manifest ⇒ bit-identical inputs — is pinned in
tests/test_run_manifest.py.

Scale design (100 TB): every leg digests at a bounded grain — the
index leg per IVF cell then combined (cells are the model constant, so
no group collects more than one cell's ids), corpus per source, split
per split, dim per segment — and each per-group digest is one 32-char
string, so the final combine is a handful of rows.  The corpus/split
legs are one map-side scan each (md5 of text / of the key), the dim
leg reads the dimension history, and the index leg is the PIT read —
pointer algebra plus the standard root-scoped scan, no extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.scd import scd2_as_of
from newspapers_etl_spark.operators.corpus import SPLIT_TEST_BELOW, SPLIT_VAL_BELOW
from newspapers_etl_spark.operators.index_pit import (
    IVF_PIT_ORACLE,
    PIT_B1_PRED,
    PIT_DEL_PRED,
    read_ivf_codes_at,
)
from newspapers_etl_spark.operators.ivf_maintenance import (
    BASE_PREDICATE,
    FIT_PREDICATE,
    append_ivf_index,
    build_ivf_index,
    codes_fingerprint,
    delete_from_ivf_index,
    fit_models,
    scratch_index_dir,
)
from newspapers_etl_spark.operators.scd import _merged_customer_history
from newspapers_etl_spark.registry import query

MANIFEST_SCHEMA = "artifact string, part string, n bigint, digest string"

# The fixture run: the index walk of the PIT family (build base, append
# b1, delete d1), with run X pinned AT the delete batch — the newest
# maintenance op the run's retrieval saw.
RUN_BATCH = "d1"
# The dimension as-of probe: after the churn batch (the s2pit probe).
RUN_TS = "2024-07-01 00:00:00"


def _combined_digest(row_md5: Column) -> Column:
    """md5 of the sorted per-row md5s — the order-insensitive combined
    digest partition_manifest uses (one aggregate, hash-identical to
    DuckDB's md5(string_agg(.. ORDER BY ..)))."""
    return F.md5(F.concat_ws("", F.sort_array(F.collect_list(row_md5))))


def manifest_digest(
    df: DataFrame, artifact: str, part_col: Column, row_md5: Column
) -> DataFrame:
    """One manifest leg: group by ``part_col`` and emit (artifact,
    part, n, digest).  n counts EVERY row of the part; the digest runs
    over the non-null row hashes (md5 of NULL is NULL and drops out of
    the concat on both engines — same convention as snkau)."""
    return (
        df.groupBy(part_col.alias("part"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _combined_digest(row_md5).alias("digest"),
        )
        .select(F.lit(artifact).alias("artifact"), "part", "n", "digest")
    )


def _index_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PIT-digested index leg: walk the maintenance fixture, read
    the code relation AS OF the run's batch, digest per cell, combine.
    Two levels keep the collect bounded: no group ever gathers more
    than one cell's row hashes, and the final combine sees one 32-char
    digest per cell."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    path = scratch_index_dir("manif", sf_dir)
    build_ivf_index(
        spark, e.filter(F.expr(BASE_PREDICATE)), path, models=models
    )
    append_ivf_index(spark, e.filter(F.expr(PIT_B1_PRED)), path, batch_id="b1")
    delete_from_ivf_index(
        spark,
        e.filter(F.expr(BASE_PREDICATE)).filter(F.expr(PIT_DEL_PRED)),
        path,
        batch_id=RUN_BATCH,
    )
    codes = codes_fingerprint(read_ivf_codes_at(spark, path, RUN_BATCH))
    row_h = F.md5(
        F.concat_ws(
            "|", F.col("vec_id").cast("string"), F.col("codes_fp")
        )
    )
    per_cell = codes.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _combined_digest(row_h).alias("h"),
    )
    return per_cell.agg(
        F.sum("n").cast("long").alias("n"),
        _combined_digest(F.col("h")).alias("digest"),
    ).select(
        F.lit("index").alias("artifact"),
        F.lit(RUN_BATCH).alias("part"),
        "n",
        "digest",
    )


def training_run_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full manifest for the fixture run — see the module
    docstring.  Every leg is a separate bounded aggregate; the union is
    a handful of rows."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = manifest_digest(
        docs, "corpus", F.col("source"), F.md5(F.col("text"))
    )

    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = manifest_digest(
        docs.select(
            F.when(prefix < SPLIT_TEST_BELOW, "test")
            .when(prefix < SPLIT_VAL_BELOW, "val")
            .otherwise("train")
            .alias("split"),
            F.col("doc_id").cast("string").alias("k"),
        ),
        "split",
        F.col("split"),
        F.md5(F.col("k")),
    )

    hist = _merged_customer_history(spark, sf_dir)
    dim = manifest_digest(
        scd2_as_of(hist, F.lit(RUN_TS).cast("timestamp")).select(
            "c_mktsegment", F.col("c_custkey").cast("string").alias("k")
        ),
        "dim",
        F.col("c_mktsegment"),
        F.md5(F.col("k")),
    )

    index = _index_leg(spark, sf_dir)
    return index.unionByName(corpus).unionByName(split).unionByName(dim)


MANIF_ORACLE = f"""
WITH pit AS (
{IVF_PIT_ORACLE}
),
pit_rows AS (
  SELECT cell,
         md5(concat(CAST(vec_id AS VARCHAR), '|', codes_fp)) AS h
  FROM pit
),
pit_cells AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         md5(string_agg(h, '' ORDER BY h)) AS h
  FROM pit_rows GROUP BY cell
),
churned AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_orderstatus = 'F'
),
dim_rows AS (
  SELECT CASE WHEN EXISTS (
           SELECT 1 FROM churned ch WHERE ch.c_custkey = c.c_custkey
         ) THEN 'CHURNED' ELSE c.c_mktsegment END AS part,
         md5(CAST(c_custkey AS VARCHAR)) AS h
  FROM customer c
),
split_rows AS (
  SELECT CASE
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_TEST_BELOW}' THEN 'test'
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_VAL_BELOW}' THEN 'val'
           ELSE 'train'
         END AS part,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT 'index' AS artifact, '{RUN_BATCH}' AS part,
       CAST(sum(n) AS BIGINT) AS n,
       md5(string_agg(h, '' ORDER BY h)) AS digest
FROM pit_cells
UNION ALL
SELECT 'corpus', source, CAST(count(*) AS BIGINT),
       md5(string_agg(md5(text), '' ORDER BY md5(text)))
FROM documents GROUP BY source
UNION ALL
SELECT 'split', part, CAST(count(*) AS BIGINT),
       md5(string_agg(h, '' ORDER BY h))
FROM split_rows GROUP BY part
UNION ALL
SELECT 'dim', part, CAST(count(*) AS BIGINT),
       md5(string_agg(h, '' ORDER BY h))
FROM dim_rows GROUP BY part
"""


@query("manif", oracle=MANIF_ORACLE)
def run_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered fixture run: index pinned at the delete batch,
    corpus per source, splits, and the churned dimension as of the run
    timestamp — every part independently replayed by the DuckDB oracle
    from the raw tables, so a digest mismatch on EITHER side localizes
    to the artifact that drifted."""
    return training_run_manifest(spark, sf_dir)
