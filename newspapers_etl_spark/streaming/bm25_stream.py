"""Streaming ingestion into the maintained BM25 posting index: a
file-source document stream whose every micro-batch is an O(batch)
posting append — the lexical twin of ``streaming/index_stream.py``
(VERDICT r12 next-round #4), and the shape a 100 TB text pipeline
actually lands documents in (micro-batches from the crawler/cleaner,
not one bulk tokenize).

No reference counterpart (the reference neither streams nor indexes,
src/01-scrape-images.py); this composes two already-verified halves:

- Structured Streaming supplies ordering, offset tracking and restart
  semantics through the shared ``functions/ledger.drain``;
- ``append_bm25_postings`` supplies atomic visibility and idempotency
  (staged rename + generation-pointer publish + applied-batch ledger),
  so a micro-batch REPLAYED after a crash-restart no-ops instead of
  double-counting tf/df/stats — exactly-once index maintenance from an
  at-least-once stream, with NO extra machinery.

Correctness is batch-equivalence by construction: posting rows are a
pure per-document function (tokenize → tf/dl) and the (n, sum_dl)
stats pair is combinable, so the final index is invariant to how the
stream split into micro-batches — the registered ``st_bm25`` query
therefore shares ``bm25``'s oracle verbatim (the drained index holds
exactly the full corpus, and df derives from the surviving postings at
query time however they arrived).

At 100 TB: each micro-batch's work is map-side tokenize + one
(doc, term) aggregation over the batch + a bounded shard-grain write +
a 1-row stats merge; the full token stream never shuffles and the
index read path is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.ledger import drain
from newspapers_etl_spark.operators.ivf_maintenance import scratch_index_dir
from newspapers_etl_spark.operators.retrieval import (
    BM25_ORACLE,
    append_bm25_postings,
    retrieval_bm25_topk_from_postings,
    write_bm25_postings,
)
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.registry import query

# The fixture split: the base slice seeds the index, the rest streams.
# NULL doc_ids route into the base slice — the streamed complement is
# ``~expr``, and a bare modulo predicate filters NULL keys false BOTH
# ways, silently dropping them from the split while the shared
# BM25_ORACLE scores the full documents table (ADVICE r13).  Fixtures
# carry no NULL keys (output-identical there); the split is now total.
DOC_BASE_PREDICATE = "doc_id % 4 < 3 OR doc_id IS NULL"


def stream_append_bm25(
    spark: SparkSession,
    updates_dir: str,
    path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> None:
    """Drain ``updates_dir`` (a parquet file source of (doc_id, text)
    rows) into the posting index at ``path``, one ledgered append per
    micro-batch.  batch_id is the micro-batch epoch: on a crash-restart
    the checkpoint replays the in-flight epoch and the applied-batch
    ledger makes the replay a no-op — the two layers' retry stories
    compose into exactly-once (the stream_append_ivf contract, lexical
    edition).  Doc_id disjointness across micro-batches is the file
    source's to provide (each file is read exactly once), matching the
    append's contract.  ``schema`` (default: inferred from the dir)
    lets a caller that KNOWS the row shape drain a source that may hold
    zero files — an empty ingest wave is a normal morning, and schema
    inference on a fileless dir raises where an explicit schema just
    terminates after zero batches."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        append_bm25_postings(
            batch_df.sparkSession,
            None,
            path,
            batch_id=f"e{epoch_id}",
            docs=batch_df,
        )

    drain(spark, updates_dir, checkpoint_dir, apply_batch,
          max_files_per_trigger, schema)


@query("stbm25", oracle=BM25_ORACLE)
def stream_bm25_append_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bm25's exact contract with a quarter of the corpus arriving as a
    STREAM: write the posting index over the base slice (doc_id % 4 <
    3), land the remaining quarter as a 2-file source drained in
    micro-batches (each one ledgered append), score through the pointer.
    The output — and therefore the oracle — is identical to ``bm25``:
    the final index is micro-batch-split invariant (pure per-doc
    postings, combinable stats, df derived at query time)."""
    path = scratch_index_dir("st-bm25", sf_dir)
    in_dir = scratch_index_dir("st-bm25-in", sf_dir)
    ckpt = scratch_index_dir("st-bm25-cp", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Base build and stream-source landing are independent jobs (§2.6).
    # Two files -> two micro-batches at maxFilesPerTrigger=1: enough to
    # prove the multi-epoch ledger flow without doubling the append
    # cost per extra epoch (the stivf sizing).
    par_jobs(
        lambda: write_bm25_postings(
            spark, None, path, docs=docs.filter(F.expr(DOC_BASE_PREDICATE))
        ),
        lambda: docs.filter(~F.expr(DOC_BASE_PREDICATE))
        .repartition(2)
        .write.parquet(in_dir),
    )
    # Explicit schema: an EMPTY streamed slice (degenerate fixtures)
    # writes a fileless dir, where inference raises but a known schema
    # just drains zero batches.
    stream_append_bm25(spark, in_dir, path, ckpt, schema=docs.schema)
    return retrieval_bm25_topk_from_postings(spark, path)
