"""Shard-parallel index build + merge for BOTH indexes (`imrg` for the
vector side; ``merge_bm25_indexes`` the lexical twin): build
independent index shards over disjoint corpus partitions, then merge
them into a single index that is bit-identical to a single-pass build
— THE pattern that makes a 100 TB index build tractable (no reference
counterpart; the reference's whole corpus is a Drive folder, reference
src/01-scrape-images.py:482-522).

Why this is the scale path: a monolithic ``build_ivf_index`` over
100 TB is one giant job whose failure restarts everything.  Sharded,
each partition of the corpus gets its own embarrassingly-parallel
build (fit once on a sample, broadcast the frozen model — exactly the
fit-on-slice / encode-everything contract the maintenance family
already enforces), and the only cross-shard step is the merge:

- codes: a UNION of cell-partitioned roots — row-level, no recompute,
  no shuffle beyond the final cell-partitioned write (and on an object
  store even that can be a manifest concatenation, since every shard
  is already laid out by cell);
- stats: the per-cell combinable ``(n, Σx)`` PAIR folds across shards
  by plain addition (``_merge_cell_stats`` — the same fold appends and
  deletes publish through), which is WHY the index stores the pair and
  never the mean: means don't merge, sums do.

Merged-equals-built holds exactly (not approximately): encode is a
deterministic function of (frozen model, vector), so sharding changes
WHERE a row is encoded, never WHAT it encodes to; and the fixture
embeddings' double sums sit inside the 53-bit exact window, so the
stat fold is associative (the ``_merge_cell_stats`` discipline).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.bm25_common import bm25_oracle_sql
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.functions.ledger import (
    BM25,
    IVF,
    read_live,
    write_root_or_empty,
)
from newspapers_etl_spark.functions.tinyio import read_tiny_rows, write_model
from newspapers_etl_spark.operators.ivf_maintenance import (
    FIT_PREDICATE,
    IVF_FROZEN_CTES,
    _fold_stats_rows,
    _read_model,
    _write_codes,
    _write_stats_local,
    build_ivf_index,
    fit_models,
    read_ivf_codes,
    scratch_index_dir,
)
from newspapers_etl_spark.operators.retrieval import (
    BM25_POSTING_SHARDS,
    _write_bm25_stats,
    _write_postings,
    retrieval_bm25_topk_from_postings,
    write_bm25_postings,
)
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.sinks import verified


def merge_ivf_indexes(
    spark: SparkSession, shard_paths: list[str], dest: str
) -> None:
    """Merge shard indexes (each a ``build_ivf_index`` layout, possibly
    since maintained — shards are read through their generation
    pointers) into one fresh index at ``dest``.

    Refuses shards whose frozen models differ: merging code relations
    encoded under different quantizers/codebooks would produce an index
    that is valid under NEITHER model.  The check compares the
    driver-side model literals (k×d floats, already collected) — no
    extra Spark job.

    The merged index is a complete first-generation layout (model/,
    cell-partitioned codes/, stats/) with no pointer: appends, deletes,
    compaction, policy monitoring and PIT reads compose on it exactly
    as on a built index.  ``dest`` must be fresh or wiped by the caller
    (the ``scratch_index_dir`` convention ``build_ivf_index`` shares):
    parquet overwrite would NOT remove a previous life's generation
    pointer under ``dest/stats``, and readers resolve through it."""
    if not shard_paths:
        raise ValueError("merge_ivf_indexes needs at least one shard")
    models = [_read_model(spark, p) for p in shard_paths]
    for p, m in zip(shard_paths[1:], models[1:]):
        if m != models[0]:
            raise ValueError(
                f"shard {p!r} was encoded under a different frozen model "
                f"than {shard_paths[0]!r}; re-encode or rebuild before "
                "merging"
            )

    cents, codebook = models[0]
    union = reduce(
        DataFrame.union, [read_ivf_codes(spark, p) for p in shard_paths]
    )

    # Three of the four destination roots are MODEL-SIZED relations
    # whose bytes already live on the driver: the shared frozen models
    # (collected for the equality check above) and the shard stats
    # (cells×dim pairs).  They land with driver-local parquet writes
    # (functions/tinyio.py) and the stats fold runs driver-side in
    # SHARD ORDER (``_fold_stats_rows`` — deterministic, vs the Spark
    # fold's partition order; associative within the fixtures'
    # 53-bit-exact window, the module docstring's standing argument).
    # Only the codes union is a real distributed write (guide §1.2/§5;
    # this removes 3 of the merge's 4 jobs).
    write_model(f"{dest}/model/centroids", "cell", "cvec", cents)
    write_model(f"{dest}/model/codebook", "code", "kvec", codebook)
    _write_stats_local(
        f"{dest}/stats",
        _fold_stats_rows(
            *[
                read_tiny_rows(verified.current_data_path(f"{p}/stats"))
                for p in shard_paths
            ]
        ),
    )

    # Every shard's live code relation may be empty (fully-deleted
    # shards): the guard keeps the merged index readable as zero rows.
    write_root_or_empty(IVF, _write_codes, union, f"{dest}/codes")


def merge_bm25_indexes(
    spark: SparkSession,
    shard_paths: list[str],
    dest: str,
    shards: int | None = None,
) -> None:
    """The lexical twin: merge BM25 posting indexes built over DISJOINT
    document partitions into one index equal to a single-pass
    ``write_bm25_postings`` over everything — so the {vector, lexical}
    maintenance matrix closes over MERGE too.

    Same combinable-pair argument as the IVF merge: the stored corpus
    stats are (n, sum_dl) — integer-valued doubles whose sums are exact
    — so the merged stats fold by addition; postings are per-(doc,
    term) rows, so a union over disjoint doc partitions IS the full
    posting relation; and df is never stored (derived at query time as
    count_distinct within a term's shard), so nothing df-shaped needs
    reconciling.  ``term_shard`` is RECOMPUTED from the term on the way
    through (one map-side hash), which makes the merge correct even
    when shard indexes were written with different shard counts — every
    term's postings land in exactly one output shard, the invariant
    query-time df depends on.

    Disjointness is the caller's contract (as vec_id uniqueness is for
    the IVF merge): a doc_id present in two shard indexes would
    double-count its postings.  Shards are read through their
    generation pointers (live batches unioned, tombstones anti-joined),
    so MAINTAINED shard indexes merge correctly."""
    if not shard_paths:
        raise ValueError("merge_bm25_indexes needs at least one shard")
    shards = BM25_POSTING_SHARDS if shards is None else shards
    parts = [read_live(spark, p, BM25) for p in shard_paths]
    union = reduce(DataFrame.union, parts).select(
        "doc_id",
        "term",
        "tf",
        "dl",
        F.pmod(F.xxhash64("term"), F.lit(shards)).cast("int").alias(
            "term_shard"
        ),
    )

    # The merged stats are the sum of per-shard 1-row (n, sum_dl)
    # pairs — integer-valued doubles whose sums are exact (the module
    # docstring's standing argument), already consumed driver-side by
    # every reader.  Fold them on the driver and land the root with one
    # driver-local parquet write (functions/tinyio.py) instead of a
    # union+aggregate Spark job (guide §1.2/§5).  Shard order is the
    # deterministic fold order; exactness makes any order identical.
    n_tot, dl_tot = 0.0, 0.0
    for p in shard_paths:
        for r in read_tiny_rows(verified.current_data_path(f"{p}/stats")):
            n_tot += float(r["n"])
            dl_tot += float(r["sum_dl"] or 0.0)
    _write_bm25_stats(f"{dest}/stats", {"n": n_tot, "sum_dl": dl_tot})

    write_root_or_empty(
        BM25,
        lambda df, root: _write_postings(df, root, shards),
        union,
        f"{dest}/postings",
    )


def index_cell_digest(codes: DataFrame, stats: DataFrame) -> DataFrame:
    """The driver-hashable per-cell view of an index: member count and
    first stat component from the stats pair, plus two order-free
    digests of the code relation (membership, and the full code bytes).
    Two-level: the per-cell string is built from a SORTED collect so no
    task ordering leaks into the hash (the run_manifest digest
    discipline)."""
    fp = codes.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.concat(
            F.col("vec_id").cast("string"),
            F.lit(":"),
            F.concat_ws(
                "-", F.transform("codes", lambda c: c.cast("string"))
            ),
        ).alias("entry"),
    )
    digests = fp.groupBy("cell").agg(
        F.md5(
            F.concat_ws(
                "-",
                F.transform(
                    F.sort_array(F.collect_list("vec_id")),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("members_md5"),
        F.md5(
            F.concat_ws(
                "-",
                F.sort_array(
                    F.collect_list(F.struct("vec_id", "entry"))
                ).getField("entry"),
            )
        ).alias("codes_md5"),
    )
    pairs = stats.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n"),
        F.round(F.element_at("svec", 1), 6).alias("sum0"),
    )
    return pairs.join(digests, "cell").select(
        "cell", "n", "sum0", "members_md5", "codes_md5"
    )


IMRG_ORACLE = f"""
WITH {IVF_FROZEN_CTES},
fps AS (
  SELECT a.vec_id, a.cell,
         CAST(a.vec_id AS VARCHAR) || ':' ||
         array_to_string(list(CAST(e.code AS VARCHAR) ORDER BY e.sub), '-')
           AS entry
  FROM asg a JOIN enc e USING (vec_id)
  GROUP BY a.vec_id, a.cell
),
pairs AS (
  SELECT a.cell, count(*) AS n,
         round(sum(CAST(n_.embedding[1] AS DOUBLE)), 6) AS sum0
  FROM asg a JOIN nnall n_ USING (vec_id)
  GROUP BY a.cell
),
digests AS (
  SELECT cell,
         md5(array_to_string(
           list(CAST(vec_id AS VARCHAR) ORDER BY vec_id), '-')) AS members_md5,
         md5(array_to_string(list(entry ORDER BY vec_id), '-')) AS codes_md5
  FROM fps GROUP BY cell
)
SELECT CAST(p.cell AS INTEGER) AS cell, p.n, p.sum0,
       d.members_md5, d.codes_md5
FROM pairs p JOIN digests d ON p.cell = d.cell
"""


@query("imrg", oracle=IMRG_ORACLE)
def ivf_shard_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end shard build + merge on the fixture: fit the frozen
    models once on the 1-in-8 fit slice (the maintenance family's
    contract), build TWO shard indexes over the even/odd halves of the
    corpus, merge them, and read the merged index back.  Output: one
    row per cell — combinable-stats count and Σx[0], membership digest,
    and full-code-bytes digest.

    The oracle replays fit + assignment + encode over the UNDIVIDED
    corpus (the shared frozen-replay fragment every maintenance oracle
    hashes against) and digests the same per-cell view: a hash match
    proves merged == single-build down to the code bytes AND that the
    stat pairs folded exactly.  Shards must be non-empty (the fixture
    halves are); ``build_ivf_index`` refuses an empty fit corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [],
            "cell int, n long, sum0 double, members_md5 string, "
            "codes_md5 string",
        )
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 != 0)
    pa = scratch_index_dir("ivf-mrg-a", sf_dir)
    pb = scratch_index_dir("ivf-mrg-b", sf_dir)
    dest = scratch_index_dir("ivf-mrg", sf_dir)
    # The two shard builds are the embarrassingly-parallel half of the
    # pattern — run them concurrently (§2.6), exactly as a 100 TB
    # deployment would run one build job per corpus partition.
    par_jobs(
        lambda: build_ivf_index(spark, even, pa, models=models),
        lambda: build_ivf_index(spark, odd, pb, models=models),
    )
    merge_ivf_indexes(spark, [pa, pb], dest)

    return index_cell_digest(
        read_ivf_codes(spark, dest), verified.read_current(spark, f"{dest}/stats")
    )


BMMRG_ORACLE = bm25_oracle_sql()


@query("bmmrg", oracle=BMMRG_ORACLE)
def bm25_shard_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical twin of ``imrg``, end-to-end on the fixture: build
    TWO BM25 posting indexes over the even/odd halves of the documents
    table, merge them with ``merge_bm25_indexes``, and score the fixed
    probe query against the MERGED index through the standard pruned
    read path (``retrieval_bm25_topk_from_postings`` — term_shard
    partition pruning + pushed term predicate, tombstone-aware).

    The oracle is the direct undivided-corpus BM25 replay — byte-equal
    to the registered ``bm25`` oracle — so a hash match proves the
    whole chain: shard builds over disjoint halves, posting union,
    term_shard recompute, and the (n, sum_dl) stat fold reproduce the
    single-pass index exactly, down to the 1e-9-scaled integer score
    partials.  No model to fit (unlike ``imrg``): BM25's only cross-
    shard state IS the combinable stats pair, which is why the merge
    needs no empty-fit guard."""
    docs = load_table(spark, sf_dir, "documents")
    pa = scratch_index_dir("bm-mrg-a", sf_dir)
    pb = scratch_index_dir("bm-mrg-b", sf_dir)
    dest = scratch_index_dir("bm-mrg", sf_dir)
    # Concurrent shard builds (§2.6) — the 100 TB shape.
    par_jobs(
        lambda: write_bm25_postings(
            spark, None, pa, docs=docs.filter(F.col("doc_id") % 2 == 0)
        ),
        lambda: write_bm25_postings(
            spark, None, pb, docs=docs.filter(F.col("doc_id") % 2 != 0)
        ),
    )
    merge_bm25_indexes(spark, [pa, pb], dest)
    return retrieval_bm25_topk_from_postings(spark, dest)
