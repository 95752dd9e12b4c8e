"""Streaming DELETION from the maintained IVF index: a file-source
stream of RETIRED ids whose every micro-batch is one O(batch) tombstone
delete — the fourth and last leg of the streaming maintenance surface
(ingest ``stivf``, posting ingest ``st_bm25``, re-embedding upsert
``stup``, retirement ``stdel``), and the shape deletions actually
arrive in at 100 TB: takedown notices and dedup verdicts land as id
LISTS in waves, not as one bulk purge.

No reference counterpart (the reference never deletes,
src/01-scrape-images.py persists everything it scrapes); this composes
two already-verified layers:

- Structured Streaming supplies ordering, offset tracking and restart
  semantics through the shared ``functions/ledger.drain``;
- ``delete_from_ivf_index`` supplies atomicity and idempotency
  (root-scoped ``tombs-batch-<id>`` roots + the ``applied_deletes``
  ledger + one generation-pointer publish), so a micro-batch REPLAYED
  after a crash-restart no-ops instead of double-subtracting stats —
  exactly-once retirement from an at-least-once stream.

Each micro-batch carries only the retired ids; the (vec_id, embedding)
rows the stats subtraction needs are re-derived by a broadcast
left-semi join against the caller's system of record (the takedown
pipeline holds ids, the corpus holds vectors).  Correctness is
micro-batch-split invariance: tombstone roots accumulate (readers
anti-join their union — a later root never conflicts with an earlier
one because retirement waves touch disjoint ids per epoch: the file
source reads each file once) and the per-cell (n, svec) subtraction is
combinable, so the drained index equals the one bulk delete and the
registered ``stdel`` query shares ``ivf_del``'s oracle verbatim.

At 100 TB: each epoch's work is one broadcast semi-join (O(batch)),
one frozen-model encode of the batch, a bounded tombstone write and a
1-row-per-touched-cell stats merge; no corpus shuffle, no code-root
rewrite, and the read path is the same anti-join it already was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.ledger import drain
from newspapers_etl_spark.operators.index_delete import (
    IVF_DEL_ORACLE,
    IVF_DEL_PRED,
)
from newspapers_etl_spark.operators.ivf_maintenance import (
    FIT_PREDICATE,
    build_ivf_index,
    codes_fingerprint,
    delete_from_ivf_index,
    fit_models,
    read_ivf_codes,
    scratch_index_dir,
)
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.registry import query


def stream_delete_ivf(
    spark: SparkSession,
    retired_dir: str,
    corpus: DataFrame,
    path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> None:
    """Drain ``retired_dir`` (a parquet file source of single-column
    ``vec_id`` retirement rows) out of the index at ``path``, one
    ledgered tombstone delete per micro-batch.  ``corpus`` is the
    system of record holding the vectors being retired — the stats
    subtraction re-derives its (vec_id, embedding) inputs from it by a
    left-semi join on the batch's ids (broadcast: a retirement wave is
    small relative to the corpus).  batch_id is the epoch, so the
    checkpoint's replay and the ``applied_deletes`` ledger compose into
    exactly-once; ids must be disjoint across epochs AND present in the
    index (each id retired once — the delete membership contract lifted
    to the stream).

    ORDERING CONTRACT (the stup posture): because the subtraction
    re-derives the retired rows from ``corpus`` AT DRAIN TIME, the
    system of record must still hold the indexed embeddings for every
    id in flight — purge the corpus rows only after the stream has
    drained, or pass a snapshot taken before the wave.  ``schema``
    (default: inferred from the dir) lets a caller drain a source that
    may hold zero files — an empty retirement wave is a normal day."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        retired = corpus.join(
            F.broadcast(batch_df.select("vec_id")), "vec_id", "left_semi"
        )
        delete_from_ivf_index(
            batch_df.sparkSession, retired, path, batch_id=f"e{epoch_id}"
        )

    drain(spark, retired_dir, checkpoint_dir, apply_batch,
          max_files_per_trigger, schema)


@query("stdel", oracle=IVF_DEL_ORACLE)
def stream_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_del's exact contract with the retirement wave arriving as a
    STREAM: index the full corpus under the frozen fit-slice models,
    land the ``vec_id % 5 = 0`` ids as a 2-file source drained in
    micro-batches (each one ledgered tombstone delete), read the
    survivors back through the pointer.  The output — and therefore the
    oracle — is identical to ``ivf_del``: tombstone roots accumulate
    and the stats subtraction is combinable, so the final index is
    micro-batch-split invariant."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [], "vec_id long, cell int, codes_fp string"
        )
    path = scratch_index_dir("st-del", sf_dir)
    in_dir = scratch_index_dir("st-del-in", sf_dir)
    ckpt = scratch_index_dir("st-del-cp", sf_dir)
    retired = e.filter(F.expr(IVF_DEL_PRED)).select("vec_id")
    # Base build and stream-source landing are independent jobs (§2.6).
    # Two files -> two micro-batches at maxFilesPerTrigger=1 (the
    # stivf sizing); explicit schema so an empty retirement wave
    # (degenerate fixtures) drains zero batches instead of failing
    # inference on a fileless dir.
    par_jobs(
        lambda: build_ivf_index(spark, e, path, e_encode=e, models=models),
        lambda: retired.repartition(2).write.parquet(in_dir),
    )
    stream_delete_ivf(spark, in_dir, e, path, ckpt, schema=retired.schema)
    return codes_fingerprint(read_ivf_codes(spark, path))
