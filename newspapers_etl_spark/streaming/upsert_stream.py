"""Streaming UPSERT into the maintained IVF index: a file-source
stream of REPLACEMENT embeddings whose every micro-batch is one
composed delete+append upsert — the third leg of the streaming
maintenance trio (ingest ``stivf``, posting ingest ``st_bm25``,
update ``stup``), and the shape the most common 100 TB index mutation
actually arrives in: an embedding-model upgrade re-embeds existing ids
in WAVES from the embedder, not one bulk swap (exactly the scenario
the maintenance-policy chain monitors for).

No reference counterpart (the reference neither streams nor embeds,
src/01-scrape-images.py); this composes two already-verified layers:

- Structured Streaming supplies ordering, offset tracking and restart
  semantics through the shared ``functions/ledger.drain``;
- ``upsert_ivf_index`` supplies atomicity and idempotency PER HALF
  (root-scoped tombstone delete + ledgered append under
  ``e<epoch>.del`` / ``e<epoch>.add``), so a replayed epoch no-ops its
  published half and applies the rest — exactly-once in-place updates
  from an at-least-once stream, even when the crash lands BETWEEN the
  halves of one epoch.

Each micro-batch carries the NEW rows; the OLD rows (what the delete
subtracts) are the batch ids semi-joined against the caller's system
of record — the corpus table HAS them, and the join is O(batch) with
the batch side broadcast.  Correctness is micro-batch-split invariance
again, with one new ingredient: a later epoch's tombstone also covers
an earlier epoch's append root, which is harmless because update waves
touch disjoint ids per epoch (each replaced id appears in exactly one
micro-batch — the file source reads each file once), so the final
index equals the one bulk upsert and the registered ``stup`` query
shares ``ivfup``'s oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.ledger import drain
from newspapers_etl_spark.operators.index_upsert import (
    IVF_UP_ORACLE,
    IVF_UP_PRED,
)
from newspapers_etl_spark.operators.ivf_maintenance import (
    FIT_PREDICATE,
    build_ivf_index,
    codes_fingerprint,
    fit_models,
    read_ivf_codes,
    scratch_index_dir,
    upsert_ivf_index,
)
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.registry import query


def stream_upsert_ivf(
    spark: SparkSession,
    updates_dir: str,
    corpus: DataFrame,
    path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> None:
    """Drain ``updates_dir`` (a parquet file source of (vec_id,
    embedding) REPLACEMENT rows) into the index at ``path``, one
    composed upsert per micro-batch.  ``corpus`` is the system of
    record holding the rows being replaced — the delete half re-derives
    its (vec_id, embedding) inputs from it by a left-semi join on the
    batch's ids (broadcast: an update wave is small relative to the
    corpus).  batch_id is the epoch, so the checkpoint's replay and the
    halves' ledgers compose into exactly-once; ids must be disjoint
    across epochs (each id re-embedded once per wave), the upsert
    membership contract lifted to the stream.

    ORDERING CONTRACT: because the delete half re-derives the old rows
    by semi-joining ``corpus`` AT DRAIN TIME, ``corpus`` must still
    reflect the PRE-update embeddings for every id in flight — update
    the system of record only after the stream has drained (or pass a
    snapshot taken before the wave).  If the corpus is mutated first,
    the delete subtracts the NEW vectors and corrupts the per-cell
    (n, svec) statistics silently.  Callers that cannot guarantee the
    ordering should supply an explicit old-rows source per batch via
    ``upsert_ivf_index`` directly — the same membership contract its
    docstring states for the batch path."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        old = corpus.join(
            F.broadcast(batch_df.select("vec_id")), "vec_id", "left_semi"
        )
        upsert_ivf_index(
            batch_df.sparkSession, old, batch_df, path,
            batch_id=f"e{epoch_id}",
        )

    drain(spark, updates_dir, checkpoint_dir, apply_batch,
          max_files_per_trigger, schema)


@query("stup", oracle=IVF_UP_ORACLE)
def stream_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivfup's exact contract with the update wave arriving as a
    STREAM: index the full corpus under the frozen fit-slice models,
    land the reversed-vector slice as a 2-file source drained in
    micro-batches (each one composed delete+append upsert), read the
    result back through the pointer.  The output — and therefore the
    oracle — is identical to ``ivfup``: per-epoch waves touch disjoint
    ids, so the final index is micro-batch-split invariant."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [], "vec_id long, cell int, codes_fp string"
        )
    path = scratch_index_dir("st-up", sf_dir)
    in_dir = scratch_index_dir("st-up-in", sf_dir)
    ckpt = scratch_index_dir("st-up-cp", sf_dir)
    new = e.filter(F.expr(IVF_UP_PRED)).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    # Base build and stream-source landing are independent jobs (§2.6).
    # Two files -> two micro-batches at maxFilesPerTrigger=1 (the
    # stivf sizing); explicit schema so an empty update wave
    # (degenerate fixtures) drains zero batches instead of failing
    # inference on a fileless dir.
    par_jobs(
        lambda: build_ivf_index(spark, e, path, e_encode=e, models=models),
        lambda: new.repartition(2).write.parquet(in_dir),
    )
    stream_upsert_ivf(spark, in_dir, e, path, ckpt, schema=new.schema)
    return codes_fingerprint(read_ivf_codes(spark, path))
