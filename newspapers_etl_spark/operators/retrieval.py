"""BM25 retrieval scoring over the documents table.

No reference counterpart (the reference's text handling stops at regex
extraction, src/01-scrape-images.py:270-317); this is the retrieval
primitive a training-data pipeline uses for query-based curation —
"find the corpus documents most relevant to this probe query" powers
benchmark decontamination sweeps (score every doc against each eval
query, drop the top hits) and targeted-domain sampling, the lexical
complement of the embedding-space searches in ``similarity.py``.

Scale design (Okapi BM25, the Robertson/Spärck Jones formulation with
Lucene's non-negative IDF):

* The token stream is FILTERED to the query's terms map-side before any
  shuffle — the per-(doc, term) tf aggregation touches |Q|/|V| of the
  corpus tokens, not all of them.  Document length (the one per-doc
  statistic that needs the full token array) is a map-side ``size()``
  over the materialized token column, carried on the hit stream; the
  only other pass is the 1-row (N, avgdl) statistics aggregate.  The
  full token stream never shuffles.
* The model side is tiny and broadcast: per-term document frequencies
  (|Q| rows) and the 1-row (N, avgdl) corpus statistics — the same
  broadcast-the-model shape as ``ppl``'s unigram distribution.
* Per-term partial scores are scaled to 1e-9-resolution INTEGERS before
  the per-doc sum, so the total is exact and summation-order-independent
  — a double sum of rounded parts can still straddle the final 6-dp
  rounding boundary between engines (observed: 1.429784 vs 1.429785 at
  sf0.001); an integer sum cannot.  The (score, doc_id) ranking is then
  deterministic on both sides.
* Top-k is a global ``orderBy().limit()`` — TakeOrderedAndProject, a
  per-partition heap + single k-row merge, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.bm25_common import (  # noqa: F401
    BM25_B,
    BM25_K1,
    BM25_QUERY_TERMS,
    BM25_TOP_K,
    bm25_oracle_sql,
)
from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.functions.ledger import (
    BM25,
    apply_batch,
    compact,
    read_live,
    write_root_or_empty,
)
from newspapers_etl_spark.functions.text import words
from newspapers_etl_spark.functions.tinyio import (
    bm25_stats_schema,
    read_tiny_rows,
    write_tiny_parquet,
)
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.sinks import verified

BM25_ORACLE = bm25_oracle_sql()


@query("bm25", oracle=BM25_ORACLE)
def retrieval_bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Top-k documents by Okapi BM25 against a literal term query:
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (Lucene's floor-at-zero
    variant).  See the module docstring for the shuffle budget; the
    output is (doc_id, score) for the k best, score-then-id ordered."""
    return bm25_topk_over(load_table(spark, sf_dir, "documents"), terms, k)


def bm25_topk_over(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
    keep_rank: bool = False,
) -> DataFrame:
    """The scoring core over ANY (doc_id, text) relation — the
    registered query binds it to the fixture table; the hypothesis
    differential test (tests/test_properties.py) runs it against the
    DuckDB oracle on generated corpora.

    ``keep_rank=True`` appends a ``rnk`` column: the row's position in
    the EXACT (s9 DESC, doc_id) order — the same key the top-k pool is
    selected by, so rank and pool can never disagree at a 6-dp rounding
    collapse (the RRF fusion consumes this).  The rank window runs on
    the already-limited k-row relation, so the default path's
    TakeOrderedAndProject plan is unchanged."""
    staged = docs.select(
        "doc_id", F.filter(words("text"), lambda x: x != "").alias("ts")
    )
    # Document length rides the hit stream (max() of a per-doc constant)
    # so no per-doc relation is shuffled for the join — only the
    # query-term hits ever leave their scan partition.  explode_outer,
    # not explode: InferFiltersFromGenerate would push size/isnotnull
    # predicates below the projection with the tokenize HOF re-inlined
    # (the dd_spans lesson); the isin filter drops the null row anyway.
    hits = staged.select(
        "doc_id",
        F.size("ts").cast("double").alias("dl"),
        F.explode_outer("ts").alias("term"),
    ).filter(F.col("term").isin(*terms))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"),
        F.max("dl").alias("dl"),
    )
    dft = hits.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("dft")
    )
    # avgdl as exact-integer-sum / count, never F.avg: document lengths
    # are integers, so the long sum is summation-order-independent and
    # the one double division is bit-identical across engines and
    # partitionings — the same (n, sum_dl) discipline the stored index
    # uses (write_bm25_postings), shrinking the cross-engine
    # nondeterministic surface to ln() alone (ADVICE r7 #4).
    stats = staged.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum(F.size("ts")) / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(1 + (F.col("n") - F.col("dft") + 0.5) / (F.col("dft") + 0.5))
    part9 = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        * 1e9
    ).cast("long")
    pool = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(part9).alias("s9"))
        .orderBy(F.desc("s9"), F.asc("doc_id"))
        .limit(k)
    )
    score = F.round(F.col("s9") / 1e9, 6).alias("score")
    if keep_rank:
        w = Window.orderBy(F.desc("s9"), F.asc("doc_id"))
        return pool.select(
            "doc_id", score, F.row_number().over(w).alias("rnk")
        )
    return pool.select("doc_id", score)


BM25_POSTING_SHARDS = 256


def _shard_write_width(df: DataFrame, shards: int) -> int:
    """Partition count for the repartition feeding a shard-partitioned
    posting write: ``min(shards, executor parallelism)``.  Hash
    partitioning on ``term_shard`` keeps every shard wholly inside ONE
    task either way, so the on-disk layout — one file per shard
    directory, the pytest-pinned invariant — is unchanged; only the
    number of write tasks changes.  The full ``shards`` width was a
    cluster-sized constant (guide §2.2: size partitions to the work,
    which AQE cannot do for an explicit repartition): on a 256+-core
    cluster this still fans out to one task per shard, while a smaller
    executor pool stops paying task-launch + commit for hundreds of
    near-empty writers."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(int(shards), int(par)))


def write_bm25_postings(
    spark: SparkSession,
    sf_dir: str | None,
    path: str,
    shards: int = BM25_POSTING_SHARDS,
    docs: DataFrame | None = None,
) -> None:
    """The stored-index half of the 100 TB contract: tokenize ONCE and
    write the (term, doc_id, tf, dl) posting relation partitioned by a
    term-hash shard, plus the 1-row (n, avgdl) corpus statistics —
    after this, scoring any query reads only the query terms' shards
    (parquet PartitionFilters on term_shard + pushed term predicate),
    never the corpus text.  Sharding by hash, not by raw term: a
    10^7-term vocabulary cannot be one directory per term, and hot
    terms spread nothing here because a shard holds whole terms (the
    skew unit is the term itself, bounded by doc frequency).  df is NOT
    stored — it is exactly count_distinct(doc_id) within a term's
    postings, all of which live in one shard.

    The corpus arrives either as ``sf_dir`` (the fixture documents
    table) or as ``docs`` (a (doc_id, text) relation — the streaming
    ingester builds its base index over a slice)."""
    if docs is None and sf_dir is None:
        raise ValueError(
            "write_bm25_postings needs a corpus: pass sf_dir or docs"
        )
    staged = (
        _staged_of(docs) if docs is not None else _staged_tokens(spark, sf_dir)
    )
    postings = _postings_of(staged, shards)
    # Stats are stored as the COMBINABLE pair (n, sum_dl), not avgdl:
    # document lengths are integer-valued doubles, so sums are exact
    # (< 2^53) and an incremental append's merged stats equal the
    # from-scratch stats BIT-FOR-BIT — avgdl derived at query time is
    # then identical on both paths (a stored average would drift by an
    # ulp when combined and could flip a rounded score partial).
    # The two roots are independent jobs — overlap them (guide §2.6).
    par_jobs(
        lambda: write_root_or_empty(
            BM25,
            lambda df, root: _write_postings(df, root, shards),
            postings,
            f"{path}/postings",
        ),
        lambda: _corpus_stats(staged)
        .write.mode("overwrite")
        .parquet(f"{path}/stats"),
    )


def _write_postings(df: DataFrame, root: str, shards: int) -> None:
    """A shard-partitioned posting root.  The repartition ON the layout
    key puts each shard's rows in one task → one file per shard
    directory, so a term lookup reads exactly one file; without it
    every task holds rows for all shards and writes tasks × shards
    small files at corpus scale."""
    df.repartition(_shard_write_width(df, shards), "term_shard").write.mode(
        "overwrite"
    ).partitionBy("term_shard").parquet(root)


def _staged_of(docs: DataFrame) -> DataFrame:
    """(doc_id, ts) token relation from a documents relation — the one
    tokenize the initial write, the append AND the delete all share, so
    a deleted document's dl is recomputed by the same pure function
    that counted it in."""
    return docs.select(
        "doc_id", F.filter(words("text"), lambda x: x != "").alias("ts")
    )


def _staged_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _staged_of(load_table(spark, sf_dir, "documents"))


def _postings_of(staged: DataFrame, shards: int) -> DataFrame:
    """(doc_id, term, tf, dl, term_shard) posting rows from the staged
    token relation — the one construction both the initial write and
    the incremental append use."""
    return (
        staged.select(
            "doc_id",
            F.size("ts").cast("double").alias("dl"),
            F.explode_outer("ts").alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"), F.max("dl").alias("dl"))
        .withColumn(
            "term_shard", F.pmod(F.xxhash64("term"), F.lit(shards)).cast("int")
        )
    )


def _corpus_stats(staged: DataFrame) -> DataFrame:
    return staged.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.size("ts").cast("double")).alias("sum_dl"),
    )


def _read_bm25_stats(stats_root: str) -> dict:
    """The live (n, sum_dl) row, read driver-locally through the
    generation pointer (functions/tinyio.py) — every maintenance
    publish consumes it on the driver, and a 1-row Spark job per read
    paid the whole per-job floor (guide §1.2/§5)."""
    return read_tiny_rows(verified.current_data_path(stats_root))[0]


def _write_bm25_stats(path: str, stats: dict) -> None:
    """Land an (n, sum_dl) pair as a stats generation with one
    driver-local parquet write — same layout, atomic temp+rename;
    visibility still gates on the caller's pointer publish."""
    sum_dl = stats["sum_dl"]
    write_tiny_parquet(
        path,
        {
            "n": [float(stats["n"])],
            "sum_dl": [None if sum_dl is None else float(sum_dl)],
        },
        bm25_stats_schema(),
    )


def _fold_bm25_stats(old_rows: list[dict], batch, sign: int) -> dict:
    """The previous (n, sum_dl) row plus (``sign`` 1) or minus (``sign``
    -1) the batch's pair — exact, because document lengths are
    integer-valued doubles (see write_bm25_postings)."""
    old = old_rows[0]
    return {
        "n": float(old["n"]) + sign * float(batch["n"]),
        "sum_dl": float(old["sum_dl"] or 0.0)
        + sign * float(batch["sum_dl"] or 0.0),
    }


def _apply_bm25_batch(
    path: str, op: str, batch_id: str, staged, shards: int = BM25_POSTING_SHARDS
) -> None:
    """The BM25 payload of the ledgered batch protocol
    (functions/ledger.py): the batch is tokenized (``staged()``, not
    persisted), an add's postings land in the shard layout, and the
    (n, sum_dl) pair of the batch — one 1-row aggregate beside the
    staging write — folds into the previous pair on the driver."""
    apply_batch(
        path, BM25, op, batch_id, staged,
        lambda s, root: _write_postings(_postings_of(s, shards), root, shards),
        lambda s: _corpus_stats(s).collect()[0],
        _fold_bm25_stats, _write_bm25_stats,
    )


def append_bm25_postings(
    spark: SparkSession,
    sf_dir: str | None,
    path: str,
    shards: int = BM25_POSTING_SHARDS,
    batch_id: str | None = None,
    docs: DataFrame | None = None,
) -> None:
    """Incremental index maintenance: add a NEW corpus slice's postings
    to an existing index — O(batch) work, no rebuild.  Per-(doc, term)
    posting rows land in the same shard layout under their own
    ``postings-batch-<id>`` root, which the reader discovers through
    the stats pointer's applied-batch ledger (postings and stats become
    visible atomically together); the (n, sum_dl) stats pair combines
    exactly (see write_bm25_postings);
    df needs no maintenance at all because it is derived from the
    postings at query time.  The caller owns doc_id disjointness (same
    contract as any append-only fact table; the incremental anti-join
    gate in operators/incremental.py is the standard guard).

    IDEMPOTENT under retry (ADVICE r8 #3 — the old append-mode write
    doubled tf on every re-run), through the ledgered-batch protocol of
    functions/ledger.py:

    - ``batch_id`` names the batch.  The default is a slug of
      ``sf_dir`` PLUS a content fingerprint (row count + max doc_id,
      one O(batch) aggregate — ADVICE r9 #2): identical content retried
      at the same path dedupes, while REGENERATED content at a re-used
      path fingerprints differently and is appended rather than
      silently swallowed by the applied-batch ledger.  Note the
      fingerprint is a footgun guard, not a content hash — a mutation
      that preserves both count and max id still collides, so a
      pipeline that re-uses paths for new content should pass an
      explicit ``batch_id`` (its own batch sequence number).  The
      batch's postings write to the underscore-invisible staging dir
      ``_postings-batch-<id>`` with mode=overwrite, then one atomic
      local rename exposes ``postings-batch-<id>`` — a retry of a torn
      or completed write REPLACES the batch, never duplicates it.
    - the stats publish records the batch in the pointer's
      ``applied_batches`` ledger; a retry of a fully-applied batch is
      a no-op, so stats can never double-count — even a late retry of
      batch A after batch B has published.
    - crash between rename and publish: the renamed postings stay
      invisible (readers derive roots from the pointer) and the index
      serves the PREVIOUS state (failure-injection pytest); the retry
      converges to exactly the rebuild-from-everything index
      bit-for-bit.

    SINGLE WRITER ASSUMED, like every generation-pointer publisher
    (sinks/verified.py publish_generation): concurrent appends would
    race the pointer read-modify-write; serialize maintenance, or add
    CAS on the pointer object for multi-writer deployments.

    The batch arrives either as ``sf_dir`` (a fixture directory whose
    documents table IS the batch — the registered roundtrips) or as
    ``docs`` (a (doc_id, text) relation — what the streaming ingester
    and the upsert hand in per micro-batch); ``docs`` callers must
    pass an explicit ``batch_id`` (a DataFrame has no path to slug and
    fingerprinting it would add an extra pass per micro-batch — the
    epoch / upsert id is the natural name)."""
    import re

    if docs is not None and batch_id is None:
        raise ValueError(
            "append_bm25_postings(docs=...) requires an explicit batch_id"
        )
    if batch_id is None:
        slug = re.sub(r"[^A-Za-z0-9._-]+", "-", sf_dir.strip("/")) or "b0"
        fp = (
            load_table(spark, sf_dir, "documents")
            .agg(F.count("*").alias("n"), F.max("doc_id").alias("m"))
            .collect()[0]
        )
        batch_id = f"{slug}-n{int(fp['n'])}-m{fp['m'] if fp['m'] is not None else 'x'}"

    def staged() -> DataFrame:
        if docs is not None:
            return _staged_of(docs)
        return _staged_tokens(spark, sf_dir)

    _apply_bm25_batch(path, "add", batch_id, staged, shards)


def delete_bm25_docs(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    batch_id: str,
) -> None:
    """Remove documents from the posting index WITHOUT rewriting any
    posting root — the shrink half of index maintenance (dedup kills
    documents, takedowns remove them; a 100 TB index must shed them in
    O(delete batch), not O(index)).

    ``docs`` is the (doc_id, text) relation of the documents being
    removed — the caller HAS these rows, and re-tokenizing them with
    the SAME pure function that indexed them is what lets the
    (n, sum_dl) stats pair SUBTRACT combinably: document lengths are
    integer-valued doubles, so the subtraction is exact and a
    delete-then-compact index equals the never-indexed-them rebuild
    bit-for-bit.  EVERY deleted doc_id enters the tombstone root (even
    token-less documents — they counted in n), which readers anti-join
    on doc_id; per-term document frequencies need no bookkeeping
    because df is derived from the surviving postings at query time.

    The ledgered-batch protocol (functions/ledger.py), delete side:
    ``applied_deletes`` is the append-only idempotency ledger (survives
    compaction — a late retry of a folded delete must no-op),
    ``live_tombstones`` lists the roots readers still anti-join
    (compaction folds them in and resets it), and tombstones +
    subtracted stats become visible atomically together through the one
    generation publish.  The caller owns membership (deleting an
    unindexed doc_id, or the same id through two batch_ids, corrupts
    the subtraction — the append's doc-disjointness contract, in
    reverse).  SINGLE WRITER ASSUMED."""
    _apply_bm25_batch(path, "del", batch_id, lambda: _staged_of(docs))


def upsert_bm25_docs(
    spark: SparkSession,
    docs_old: DataFrame,
    docs_new: DataFrame,
    path: str,
    batch_id: str,
) -> None:
    """Re-index documents in place — a document EDIT at 100 TB is a
    delete of the stored tokenization plus an append of the new one,
    composed under ONE batch discipline (``upsert_ivf_index`` composes
    identically: both indexes publish through the tombstone +
    applied-ledger protocol of functions/ledger.py):

    - DELETE ``docs_old`` (the currently-indexed text for the ids — the
      system of record has it) under ``<batch_id>.del``;
    - APPEND ``docs_new``'s postings under ``<batch_id>.add``.

    The delete's tombstone is root-scoped to the posting roots that
    exist when it publishes, so the append's new
    ``postings-batch-<batch_id>.add`` root is never covered — the
    re-indexed documents score from their new postings while the old
    ones stay suppressed, and df/avgdl see exactly the substituted
    corpus (df derives from surviving postings at query time; the
    (n, sum_dl) pair subtracts then adds exactly).  Idempotent + crash
    safe via the halves' own ledgers: a retry no-ops the published half
    and applies the rest.  Caller owns membership, as for the halves.
    SINGLE WRITER ASSUMED."""
    delete_bm25_docs(spark, docs_old, path, batch_id=f"{batch_id}.del")
    append_bm25_postings(
        spark, None, path, batch_id=f"{batch_id}.add", docs=docs_new
    )


def compact_bm25_postings(
    spark: SparkSession,
    path: str,
    shards: int = BM25_POSTING_SHARDS,
    keep_old_roots: bool = False,
) -> str:
    """Fold the accumulated posting roots (base + live batches) back
    into ONE compacted root — the maintenance step that keeps the read
    path's union width constant however many batches have landed
    (ADVICE r9 #4 asked for exactly this before the reader comment
    could claim it).

    The shared compaction of functions/ledger.py: rewrite the union
    minus the live tombstones into the underscore-invisible staging
    dir ``_postings-compact-<n>`` (one file per shard, the
    write_bm25_postings layout), rename atomically, then ONE pointer
    metadata write flips readers — ``postings_root`` to the new dir,
    ``live_batches``/``live_tombstones`` reset, and the superseded
    roots recorded as ``reap_roots`` in the SAME write — while
    ``applied_batches`` is deliberately UNTOUCHED: it is the
    idempotency ledger, and forgetting a folded batch would let a late
    retry re-append rows the compacted root already holds.  The old
    roots are deleted only after the flip, and a crash in between
    leaves their names in ``reap_roots`` for the next maintenance call
    to finish (``reap_pending_roots``) — never an orphaned index copy.
    Stats are unchanged (compaction moves no rows), so the data
    generation stays put.  ``keep_old_roots`` skips the reap (the
    long-running-reader grace knob, as in compact_partitions).
    Returns the new root's name.

    SINGLE WRITER ASSUMED, like every pointer maintenance step —
    serialize compactions with appends."""
    stats_root = f"{path}/stats"
    if verified.current_pointer(stats_root) is None:
        # No append has ever published a pointer: republish the current
        # stats through a generation first so there is a pointer to
        # carry the root metadata (also upgrades a legacy root layout).
        # One row in, one row out — driver-local I/O (tinyio), no jobs.
        row = _read_bm25_stats(stats_root)
        gen_no, new_name = verified.allocate_generation(stats_root)
        _write_bm25_stats(f"{stats_root}/{new_name}", row)
        verified.publish_generation(stats_root, gen_no, new_name)
    return compact(
        spark,
        path,
        BM25,
        lambda df, root: _write_postings(df, root, shards),
        keep_old_roots,
    )


def _term_shards(
    spark: SparkSession, terms: tuple[str, ...], shards: int
) -> list[int]:
    """Shard ids for the query terms, from one 1-row local computation —
    Spark's xxhash64 is the sharding function, so ask Spark (a
    LocalRelation projection; nothing is scanned)."""
    row = (
        spark.range(1)
        .select(
            *[
                F.pmod(F.xxhash64(F.lit(t)), F.lit(shards))
                .cast("int")
                .alias(f"s{i}")
                for i, t in enumerate(terms)
            ]
        )
        .collect()[0]
    )
    return sorted({int(v) for v in row})


def retrieval_bm25_topk_from_postings(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
    shards: int = BM25_POSTING_SHARDS,
) -> DataFrame:
    """Score a query against the written posting index: the scan is
    pruned to the query terms' shards at the PARTITION level (a literal
    term_shard IN (...) list, derived from the terms with one
    LocalRelation projection) and to the terms themselves via a pushed
    predicate; identical scores to the direct path by construction
    (same tf/dl/df inputs, same integer-scaled arithmetic),
    pytest-asserted along with the PartitionFilters pruning."""
    wanted = _term_shards(spark, terms, shards)
    # The posting roots are the current base root plus every batch the
    # stats pointer's LIVE ledger records — the reader derives them from
    # the POINTER, not a directory listing, so a batch's postings and
    # its stats become visible atomically together (a renamed-but-
    # unpublished batch is invisible until its retry publishes), and a
    # compaction's single metadata write flips all readers to the
    # folded root (compact_bm25_postings).  Each root is scanned
    # separately and unioned: the term_shard partition pruning below
    # pushes into every branch (PartitionFilters per FileScan —
    # plan-asserted in pytest).  Pre-split pointers carry only
    # applied_batches; fall back to it.
    # Deleted documents are anti-joined per ROOT inside the shared
    # reader (each live tombstone scoped to the roots it covers, so a
    # post-delete re-append is read untouched) and BEFORE df is
    # derived, so document frequencies count only surviving docs
    # (stats were already subtracted at delete time).  Costs nothing
    # until a delete lands; the term_shard/term predicates still push
    # into every branch scan through the union and the anti-join
    # (left-side columns — plan-asserted in pytest).
    postings = read_live(spark, path, BM25)
    # avgdl derived from the stored combinable (n, sum_dl) pair — the
    # same division both the batch and incremental paths perform, so
    # scores agree bit-for-bit however the index was built.  The read
    # resolves the generation pointer an append may have published
    # (legacy root layout before any append — read_current handles
    # both).
    stats = verified.read_current(spark, f"{path}/stats").select(
        "n",
        # n can be 0 on an empty or fully-deleted index — the hit
        # stream is empty then too, so avgdl is never consumed; the
        # guard only keeps ANSI mode from failing the 1-row projection.
        F.when(F.col("n") > 0, F.col("sum_dl") / F.col("n")).alias("avgdl"),
    )
    return _score_pruned_postings(postings, stats, terms, k, wanted)


def _score_pruned_postings(
    postings: DataFrame,
    stats: DataFrame,
    terms: tuple[str, ...],
    k: int,
    wanted: list[int],
) -> DataFrame:
    """The shared scoring tail over an already-resolved posting relation
    and a 1-row (n, avgdl) stats relation — the live reader and the
    point-in-time reader (operators/index_pit.py) differ only in which
    roots and which stats generation feed it."""
    tf = (
        postings.filter(F.col("term_shard").isin(wanted))
        .filter(F.col("term").isin(*terms))
        .select("doc_id", "term", "tf", "dl")
    )
    dft = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("dft")
    )
    idf = F.log(1 + (F.col("n") - F.col("dft") + 0.5) / (F.col("dft") + 0.5))
    part9 = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        * 1e9
    ).cast("long")
    return (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(part9).alias("s9"))
        .orderBy(F.desc("s9"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round(F.col("s9") / 1e9, 6).alias("score"))
    )


def retrieval_bm25_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[int, tuple[str, ...]],
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Score the corpus against MANY queries in ONE scan — the shape a
    decontamination sweep actually runs (every eval-benchmark query vs
    every training document): returns (query_id, doc_id, score, rnk)
    for each query's top-k.

    Same plan skeleton as the single-query path — the hit stream is
    filtered map-side to the UNION of all query terms, tf aggregates
    once per (doc, term) — with one addition: a broadcast (term,
    query_id) expansion relation fans each term's partial score out to
    the queries containing it, so per-(query, doc) totals come from one
    more map-side broadcast join, not another corpus pass.  df/idf stay
    per-TERM (query-independent), computed once however many queries
    share a term.  Top-k per query is a bounded window (rank within
    query_id), not a global sort."""
    return bm25_batch_topk_over(load_table(spark, sf_dir, "documents"), queries, k)


def bm25_batch_topk_over(
    d: DataFrame,
    queries: dict[int, tuple[str, ...]],
    k: int = BM25_TOP_K,
) -> DataFrame:
    """The batch-scoring core over ANY (doc_id, text) relation — same
    split as ``bm25_topk_over`` so the hypothesis differential
    (tests/test_properties.py) can run it against the DuckDB oracle and
    the single-query path on generated corpora."""
    spark = d.sparkSession
    all_terms = sorted({t for ts in queries.values() for t in ts})
    staged = d.select(
        "doc_id", F.filter(words("text"), lambda x: x != "").alias("ts")
    )
    hits = staged.select(
        "doc_id",
        F.size("ts").cast("double").alias("dl"),
        F.explode_outer("ts").alias("term"),
    ).filter(F.col("term").isin(*all_terms))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"),
        F.max("dl").alias("dl"),
    )
    dft = hits.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("dft")
    )
    # exact-integer avgdl, same discipline as bm25_topk_over
    stats = staged.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum(F.size("ts")) / F.count(F.lit(1))).alias("avgdl"),
    )
    expansion = spark.createDataFrame(
        [(t, qid) for qid, ts in sorted(queries.items()) for t in set(ts)],
        "term string, query_id int",
    )
    idf = F.log(1 + (F.col("n") - F.col("dft") + 0.5) / (F.col("dft") + 0.5))
    part9 = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        * 1e9
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.desc("s9"), F.asc("doc_id"))
    return (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(expansion), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(part9).alias("s9"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("s9") / 1e9, 6).alias("score"),
            "rnk",
        )
    )
