"""Streaming DELETION and UPSERT for the maintained BM25 posting index
— the lexical halves that complete the streaming maintenance matrix
(ingest / re-embed-or-re-edit / retire × {vector, lexical}):

- ``stream_delete_bm25`` drains a file-source stream of RETIRED doc
  ids (takedown notices and dedup verdicts hit documents exactly as
  they hit vectors — ``streaming/delete_stream.py``'s motivation,
  lexical edition), one O(batch) ledgered tombstone delete per
  micro-batch epoch;
- ``stream_upsert_bm25`` drains a file-source stream of REPLACEMENT
  (doc_id, text) rows (an edit/clean/re-OCR wave), each micro-batch
  one composed delete+append upsert under the ``e<epoch>.del`` /
  ``e<epoch>.add`` batch discipline of ``upsert_bm25_docs``.

No reference counterpart (the reference neither streams nor indexes,
src/01-scrape-images.py); both compose two already-verified layers —
Structured Streaming's offsets/restart semantics (the shared
``functions/ledger.drain``) and the posting index's tombstone +
applied-ledger protocol (``functions/ledger.apply_batch``) — so a
replayed epoch no-ops its published half and applies the rest:
exactly-once index mutation from an at-least-once stream, the
stivf/stup story.

Correctness is micro-batch-split invariance again: tombstone roots
accumulate (readers anti-join their union), posting rows are a pure
per-document function, and the (n, sum_dl) stats pair subtracts and
adds combinably; waves touch disjoint doc_ids per epoch (the file
source reads each file once), so the drained index equals the one bulk
mutation and the registered queries share ``bm25d``'s / ``bm25u``'s
oracles verbatim.  A later epoch's tombstone covering an earlier
epoch's append root is the designed root-scoping behavior (harmless
under per-epoch id disjointness — ``upsert_stream.py``'s analysis).

BOTH readers re-derive the OLD rows from the caller's system of record
by a broadcast left-semi join on the batch's ids — the takedown
pipeline holds ids, the editor holds new text, the corpus holds what
was indexed.  ORDERING CONTRACT (the stup posture): ``corpus`` must
still hold the INDEXED text for every id in flight — apply the
edits/purges to the system of record only after the stream drains, or
pass a pre-wave snapshot; otherwise the delete half re-tokenizes the
wrong text and corrupts the subtracted (n, sum_dl) silently.

At 100 TB: each epoch is one broadcast semi-join (O(batch)), a
per-batch tokenize + bounded shard-grain write, and a 1-row stats
merge behind one pointer publish; the corpus text never shuffles and
the read path is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.ledger import drain
from newspapers_etl_spark.operators.index_delete import (
    BM25_DEL_ORACLE,
    DOC_DEL_PRED,
)
from newspapers_etl_spark.operators.index_upsert import (
    BM25_UP_ORACLE,
    DOC_UP_PRED,
)
from newspapers_etl_spark.operators.ivf_maintenance import scratch_index_dir
from newspapers_etl_spark.operators.retrieval import (
    delete_bm25_docs,
    retrieval_bm25_topk_from_postings,
    upsert_bm25_docs,
    write_bm25_postings,
)
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.registry import query


def stream_delete_bm25(
    spark: SparkSession,
    retired_dir: str,
    corpus: DataFrame,
    path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> None:
    """Drain ``retired_dir`` (a parquet file source of single-column
    ``doc_id`` retirement rows) out of the posting index at ``path``,
    one ledgered tombstone delete per micro-batch — the (doc_id, text)
    rows the stats subtraction re-tokenizes come from ``corpus`` by a
    broadcast left-semi join (see the module docstring's ordering
    contract).  batch_id is the epoch: checkpoint replay × the
    ``applied_deletes`` ledger = exactly-once; ids disjoint across
    epochs and present in the index (the delete membership contract
    lifted to the stream)."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        retired = corpus.join(
            F.broadcast(batch_df.select("doc_id")), "doc_id", "left_semi"
        )
        delete_bm25_docs(
            batch_df.sparkSession, retired, path, batch_id=f"e{epoch_id}"
        )

    drain(spark, retired_dir, checkpoint_dir, apply_batch,
          max_files_per_trigger, schema)


def stream_upsert_bm25(
    spark: SparkSession,
    updates_dir: str,
    corpus: DataFrame,
    path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> None:
    """Drain ``updates_dir`` (a parquet file source of (doc_id, text)
    REPLACEMENT rows) into the posting index at ``path``, one composed
    delete+append upsert per micro-batch; the OLD text the delete half
    re-tokenizes comes from ``corpus`` by a broadcast left-semi join
    (ordering contract in the module docstring).  batch_id is the
    epoch, so the halves' ledgers compose into exactly-once even when
    a crash lands BETWEEN one epoch's delete and append; ids disjoint
    across epochs (each doc edited once per wave)."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        old = corpus.join(
            F.broadcast(batch_df.select("doc_id")), "doc_id", "left_semi"
        )
        upsert_bm25_docs(
            batch_df.sparkSession, old, batch_df, path,
            batch_id=f"e{epoch_id}",
        )

    drain(spark, updates_dir, checkpoint_dir, apply_batch,
          max_files_per_trigger, schema)


@query("stbdl", oracle=BM25_DEL_ORACLE)
def stream_bm25_delete_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bm25d's exact contract with the retirement wave arriving as a
    STREAM: write the posting index over the full documents table, land
    the ``doc_id % 7 = 0`` ids as a 2-file source drained in
    micro-batches (each one ledgered tombstone delete), score the
    survivors through the pointer.  The output — and therefore the
    oracle — is identical to ``bm25d`` by micro-batch-split
    invariance."""
    path = scratch_index_dir("st-bdl", sf_dir)
    in_dir = scratch_index_dir("st-bdl-in", sf_dir)
    ckpt = scratch_index_dir("st-bdl-cp", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    retired = docs.filter(F.expr(DOC_DEL_PRED)).select("doc_id")
    # Base build and stream-source landing are independent jobs (§2.6).
    par_jobs(
        lambda: write_bm25_postings(spark, None, path, docs=docs),
        lambda: retired.repartition(2).write.parquet(in_dir),
    )
    stream_delete_bm25(spark, in_dir, docs, path, ckpt,
                       schema=retired.schema)
    return retrieval_bm25_topk_from_postings(spark, path)


@query("stbup", oracle=BM25_UP_ORACLE)
def stream_bm25_upsert_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bm25u's exact contract with the edit wave arriving as a STREAM:
    write the posting index over the full documents table, land the
    ``doc_id % 9 = 4`` slice with its text doubled as a 2-file source
    drained in micro-batches (each one composed delete+append upsert),
    score through the pointer.  The output — and therefore the oracle —
    is identical to ``bm25u``: per-epoch waves touch disjoint doc_ids,
    so the final index is micro-batch-split invariant."""
    path = scratch_index_dir("st-bup", sf_dir)
    in_dir = scratch_index_dir("st-bup-in", sf_dir)
    ckpt = scratch_index_dir("st-bup-cp", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.expr(DOC_UP_PRED)).select(
        "doc_id", F.concat("text", F.lit(" "), "text").alias("text")
    )
    # Base build and stream-source landing are independent jobs (§2.6).
    par_jobs(
        lambda: write_bm25_postings(spark, None, path, docs=docs),
        lambda: new.repartition(2).write.parquet(in_dir),
    )
    stream_upsert_bm25(spark, in_dir, docs, path, ckpt, schema=new.schema)
    return retrieval_bm25_topk_from_postings(spark, path)
