"""Streaming ingestion into the maintained IVF/PQ index: a file-source
embedding stream whose every micro-batch is an O(batch) frozen-model
append — the streaming face of ``operators/ivf_maintenance.py``, and
the shape a 100 TB embedding pipeline actually lands vectors in
(micro-batches from the embedder, not one bulk load).

No reference counterpart (the reference neither streams nor embeds,
src/01-scrape-images.py); this composes two already-verified halves:

- Structured Streaming supplies ordering, offset tracking and restart
  semantics through ``functions/ledger.drain`` (``maxFilesPerTrigger``
  micro-batches, ``availableNow``, ``checkpointLocation``), the one
  drain every foreachBatch stream here runs;
- ``append_ivf_index`` supplies atomic visibility and idempotency
  (staged rename + generation-pointer publish + applied-batch ledger),
  so a micro-batch REPLAYED after a crash-restart no-ops instead of
  double-counting — exactly-once index maintenance from an
  at-least-once stream, with NO extra machinery.

Correctness is batch-equivalence by construction: encode is a pure
function of (frozen model, vector) and the stats pairs are combinable,
so the final index is invariant to how the stream happened to split
into micro-batches — the registered ``stivf`` query therefore shares
``ivf_app``'s oracle verbatim (same fit slice, same base/append split,
same root-agnostic output).

At 100 TB: each micro-batch's work is map-side literal-model encode +
a bounded cell-grain write + a cells×dim stats merge; the stream never
shuffles vectors and the index read path is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.ledger import drain
from newspapers_etl_spark.operators.ivf_maintenance import (
    BASE_PREDICATE,
    FIT_PREDICATE,
    IVF_APP_ORACLE,
    append_ivf_index,
    build_ivf_index,
    codes_fingerprint,
    fit_models,
    read_ivf_codes,
    scratch_index_dir,
)
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.registry import query


def stream_append_ivf(
    spark: SparkSession,
    updates_dir: str,
    path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``updates_dir`` (a parquet file source of (vec_id,
    embedding) rows) into the index at ``path``, one frozen-model
    append per micro-batch.  batch_id is the micro-batch epoch: on a
    crash-restart the checkpoint replays the in-flight epoch and the
    applied-batch ledger makes the replay a no-op — the two layers'
    retry stories compose into exactly-once."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        append_ivf_index(
            batch_df.sparkSession, batch_df, path, batch_id=f"e{epoch_id}"
        )

    drain(spark, updates_dir, checkpoint_dir, apply_batch,
          max_files_per_trigger)


@query("stivf", oracle=IVF_APP_ORACLE)
def stream_ivf_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_app's exact contract with the append half arriving as a
    STREAM: build on the base slice under the frozen fit-slice models,
    land the remaining quarter as a 2-file source drained in
    micro-batches (each one ledgered append), read the union back
    through the pointer.  The output — and therefore the oracle — is
    identical to ``ivf_app``: the final index is micro-batch-split
    invariant (pure encode, combinable stats)."""
    e = load_table(spark, sf_dir, "embeddings")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [], "vec_id long, cell int, codes_fp string"
        )
    path = scratch_index_dir("st-ivf", sf_dir)
    in_dir = scratch_index_dir("st-ivf-in", sf_dir)
    ckpt = scratch_index_dir("st-ivf-cp", sf_dir)
    # Base build and stream-source landing are independent jobs (§2.6).
    # Two files -> two micro-batches at maxFilesPerTrigger=1: enough to
    # prove the multi-epoch ledger flow without doubling the append
    # cost per extra epoch.
    par_jobs(
        lambda: build_ivf_index(
            spark, e.filter(F.expr(BASE_PREDICATE)), path, models=models
        ),
        lambda: e.filter(~F.expr(BASE_PREDICATE))
        .repartition(2)
        .write.parquet(in_dir),
    )
    stream_append_ivf(spark, in_dir, path, ckpt)
    return codes_fingerprint(read_ivf_codes(spark, path))
