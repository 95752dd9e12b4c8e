"""The ledgered-batch protocol both maintained indexes publish through —
IVF/PQ codes (operators/ivf_maintenance.py) and BM25 postings
(operators/retrieval.py) — and the one drain every foreachBatch
maintenance stream runs.

A batch op (``add`` or ``del``, ``apply_batch``):

1. read the pointer's ledger; a batch already applied is a no-op, so a
   retry of a completed op changes nothing;
2. take the root-rewrite epoch and the op journal trimmed to it;
3. an EMPTY delete only ledgers its id, in a pointer-meta-only write;
4. read the previous stats generation and allocate the next one;
5. stage the batch root (an add's data, a delete's tombstone ids) and
   aggregate its stats contribution, concurrently;
6. fold the contribution into the old stats and write the generation;
7. record a tombstone's cover scope — the roots live NOW, so a later
   re-append of the same id lands in a root it does not cover;
8. ONE ``publish_generation``: ledgers, live roots, journal entry and
   stats become visible together.

Nothing is visible before step 8 (readers derive roots from the
pointer), so a crash anywhere leaves readers on the previous index and
the retry converges to the uncrashed result.  Two ledgers per op: the
``applied_*`` one is append-only (it survives compaction, so a late
retry of a folded batch stays a no-op); the live one lists the roots a
reader still reads (compaction resets it).

A compaction (``compact``): heal a crashed reap and orphan tombstones,
union the live roots minus their tombstones, write the union staged,
guard an all-deleted root, rename, then ``flip_compacted_roots``.

Each index kind is an ``IndexKind`` layout here plus the payload
callables its own module passes in: encode or tokenize, the root
writer, the stats aggregate and fold.  SINGLE WRITER ASSUMED, like
every generation-pointer publisher.

Every ``sinks.verified`` call goes through the module object, so tests
that monkeypatch a ``verified`` function reach every call made here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from newspapers_etl_spark.functions.jobs import par_jobs
from newspapers_etl_spark.functions.tinyio import read_tiny_rows
from newspapers_etl_spark.sinks import verified

TOMBS = "tombs-batch-"


@dataclass(frozen=True)
class IndexKind:
    """The on-disk layout of one maintained index kind."""

    root_key: str  # pointer key naming the current base root
    default_root: str  # the base root before any compaction or rebuild
    batch_prefix: str  # an appended batch's root is <prefix><batch_id>
    id_col: str  # the row key tombstones anti-join on
    empty_schema: str  # the typed zero-row root of an all-deleted index
    journal_keys: tuple[str, ...] = ()  # folded stats each journal entry gets


IVF = IndexKind(
    "codes_root", "codes", "codes-batch-", "vec_id",
    "vec_id long, cell int, codes array<int>",
)
# BM25 journal entries carry the published (n, sum_dl) pair: superseded
# stats generations are reaped, but as-of scoring (operators/index_pit.py)
# needs them.  Codes reads need no stats, so IVF entries skip them.
BM25 = IndexKind(
    "postings_root", "postings", "postings-batch-", "doc_id",
    "doc_id bigint, term string, tf double, dl double, term_shard int",
    ("n", "sum_dl"),
)


def kind_of(ptr: dict) -> IndexKind:
    """The kind a rewritten index's pointer belongs to (every
    compaction or rebuild records its kind's root key)."""
    return BM25 if BM25.root_key in ptr else IVF


def root_epoch(ptr: dict | None) -> str:
    """The root-rewrite epoch a maintenance op publishes under —
    ``<compactions>.<rebuilds>``.  Appends and deletes within one epoch
    leave every root they exposed on disk, so the index view as of any
    such op is reconstructible (operators/index_pit.py); a compaction
    or rebuild bumps its counter and physically rewrites roots, which
    truncates point-in-time history at that boundary."""
    if ptr is None:
        return "0.0"
    return f"{int(ptr.get('compactions', 0))}.{int(ptr.get('rebuilds', 0))}"


def live_ops_log(ptr: dict | None, epoch: str) -> list[dict]:
    """The op journal TRIMMED to the current root-rewrite epoch plus
    every RETAINED one — the pointer-size bound that keeps ops_log
    O(ops since the last unretained compaction/rebuild) instead of
    O(ops ever): entries from a closed-and-unretained epoch reference
    roots the rewrite already reaped, so the PIT reader refuses them
    regardless of whether they are still journaled (a trimmed batch
    refuses as 'no op journal entry' instead of 'predates the last
    compaction' — same contract, cheaper pointer).  Entries from a
    closed epoch in ``retained_epochs`` (a keep_old_roots rewrite —
    operators/index_pit.py) stay journaled: their roots are still on
    disk and the PIT reader serves them until ``reap_retained_epochs``
    drops the epoch, which truncates these entries in the same pointer
    write.  The trim rides the next append/delete publish; compaction
    itself never touches the journal."""
    log = list(ptr.get("ops_log", [])) if ptr else []
    keep = {epoch} | set((ptr or {}).get("retained_epochs", {}))
    return [o for o in log if o.get("ep") in keep]


def live_batches(ptr: dict | None) -> list[str]:
    """The batch ids whose roots a reader still unions.  Pointers
    written before the applied/live ledger split carry only
    ``applied_batches``."""
    if not ptr:
        return []
    return list(ptr.get("live_batches", ptr.get("applied_batches", [])))


def base_root(kind: IndexKind, ptr: dict | None) -> str:
    return (ptr or {}).get(kind.root_key, kind.default_root)


def live_roots(kind: IndexKind, ptr: dict | None) -> list[str]:
    """The data root NAMES (relative to the table root) a reader unions
    right now — the base root plus every live batch root."""
    return [base_root(kind, ptr)] + [
        f"{kind.batch_prefix}{b}" for b in live_batches(ptr)
    ]


def retained_epoch_meta(kind: IndexKind, ptr: dict) -> dict:
    """The ``retained_epochs`` map after a keep_old_roots rewrite closes
    the current epoch: per epoch, the two things the live pointer
    otherwise loses — the epoch's base root name and each live
    tombstone's recorded cover scopes — so the PIT reader
    (operators/index_pit.py) can reconstruct any view inside the closed
    epoch from its (untrimmed) journal entries plus the roots the
    skipped reap left on disk.  A tombstone with no recorded covers
    conservatively covered every root of its epoch, mirroring the live
    reader's default."""
    retained = dict(ptr.get("retained_epochs", {}))
    covers = dict(ptr.get("tombstone_covers", {}))
    roots = live_roots(kind, ptr)
    retained[root_epoch(ptr)] = {
        "base": base_root(kind, ptr),
        "covers": {
            t: covers.get(t, roots) for t in ptr.get("live_tombstones", [])
        },
    }
    return retained


def read_live(spark, path: str, kind: IndexKind):
    """The live data relation of the index at ``path``: its live roots,
    each minus the tombstones that cover it — all derived from the
    POINTER, never a directory listing, so a batch's rows and stats
    appear atomically together and a compaction's one metadata write
    flips readers to the folded root."""
    ptr = verified.current_pointer(f"{path}/stats")
    return verified.tombstoned_union(
        spark, path, ptr, live_roots(kind, ptr), kind.id_col
    )


def write_root_or_empty(
    kind: IndexKind, write_root: Callable[[Any, str], None], df, root: str
) -> None:
    """``write_root(df, root)``, then a typed zero-row file if that left
    no data: a partitioned write of an empty relation leaves a fileless
    root, which readers reject (UNABLE_TO_INFER_SCHEMA)."""
    write_root(df, root)
    if not verified.has_parquet_data(root):
        df.sparkSession.createDataFrame([], kind.empty_schema).write.mode(
            "overwrite"
        ).parquet(root)


def apply_batch(
    path: str,
    kind: IndexKind,
    op: str,
    batch_id: str,
    rows: Callable[[], Any],
    write_root: Callable[[Any, str], None],
    batch_stats: Callable[[Any], Any],
    fold: Callable[[list[dict], Any, int], Any],
    write_stats: Callable[[str, Any], None],
) -> None:
    """Apply one ledgered batch ``op`` ("add" or "del") to the index at
    ``path`` (the protocol is in the module docstring).  The payload:

    - ``rows()`` builds the batch relation, only once the batch is
      known to be unapplied; a persisted relation is unpersisted at
      the end;
    - ``write_root(rows, dir)`` writes an add's data root (a delete's
      tombstone root is always the batch's ``kind.id_col`` column);
    - ``batch_stats(rows)`` computes the batch's stats contribution,
      concurrently with the staging write;
    - ``fold(old_rows, contribution, sign)`` merges it into the previous
      generation's rows on the driver (``sign`` -1 subtracts a delete);
    - ``write_stats(dir, folded)`` writes the new generation; the
      ``kind.journal_keys`` of ``folded`` go into the journal entry."""
    add = op == "add"
    stats_root = f"{path}/stats"
    ptr = verified.current_pointer(stats_root)
    ledger = "applied_batches" if add else "applied_deletes"
    applied = list((ptr or {}).get(ledger, []))
    if batch_id in applied:
        return
    epoch = root_epoch(ptr)
    ops_log = live_ops_log(ptr, epoch)
    df = rows()
    try:
        if not add and ptr is not None and not df.head(1):
            # Nothing to subtract or tombstone: ledger the id without
            # allocating a byte-identical stats generation.  The staging
            # write below emits schema-bearing files even for zero rows,
            # so exposure cannot be the emptiness signal here.  A
            # pointer-less root takes the full path, whose publish
            # establishes the pointer.
            verified.update_pointer_meta(
                stats_root,
                applied_deletes=applied + [batch_id],
                ops_log=ops_log + [
                    {"g": int(ptr["generation"]), "op": op, "b": batch_id,
                     "r": False, "ep": epoch,
                     **dict.fromkeys(kind.journal_keys)}
                ],
            )
            return
        old_rows = read_tiny_rows(verified.current_data_path(stats_root))
        gen_no, gen_name = verified.allocate_generation(stats_root)
        name = f"{kind.batch_prefix if add else TOMBS}{batch_id}"

        def stage() -> bool:
            if add:
                write_root(df, f"{path}/_{name}")
            else:
                df.select(kind.id_col).write.mode("overwrite").parquet(
                    f"{path}/_{name}"
                )
            # An EMPTY add writes no data files: it is ledgered as
            # applied but kept out of the live roots.
            return verified.expose_staged_batch(path, f"_{name}", name)

        exposed, contrib = par_jobs(stage, lambda: batch_stats(df))
        folded = fold(old_rows, contrib, 1 if add else -1)
        write_stats(f"{stats_root}/{gen_name}", folded)
        meta: dict = {ledger: applied + [batch_id]}
        if add:
            live = live_batches(ptr)
            meta["live_batches"] = live + [batch_id] if exposed else live
        else:
            tombs = list((ptr or {}).get("live_tombstones", []))
            covers = dict((ptr or {}).get("tombstone_covers", {}))
            if exposed:
                tombs.append(batch_id)
                covers[batch_id] = live_roots(kind, ptr)
            meta["live_tombstones"] = tombs
            meta["tombstone_covers"] = covers
        # Append-ordered op journal for point-in-time reads: generation,
        # op, batch, whether a root was exposed, root-rewrite epoch.
        meta["ops_log"] = ops_log + [
            {"g": gen_no, "op": op, "b": batch_id, "r": exposed, "ep": epoch,
             **{k: folded[k] for k in kind.journal_keys}}
        ]
        verified.publish_generation(stats_root, gen_no, gen_name, meta=meta)
    finally:
        if df.is_cached:
            df.unpersist()


def compact(
    spark,
    path: str,
    kind: IndexKind,
    write_root: Callable[[Any, str], None],
    keep_old_roots: bool = False,
) -> str:
    """Fold the live roots (base + live batches, minus the live
    tombstones) into ONE new ``<default_root>-compact-<n>`` root behind
    one pointer flip; the caller guarantees a pointer exists.  The flip
    resets ``live_batches``, ``live_tombstones`` and
    ``tombstone_covers`` and records the superseded roots as
    ``reap_roots`` in the same write — the ``applied_*`` ledgers are
    untouched, so a late retry of a folded batch stays a no-op, and a
    crash between flip and reap is healed by the next maintenance call.
    ``keep_old_roots`` skips the reap and records what the PIT reader
    needs to keep serving the closed epoch.  Stats move nowhere
    (compaction adds and removes no rows).  Returns the new root's
    name."""
    stats_root = f"{path}/stats"
    ptr = verified.current_pointer(stats_root)
    # Heal a crashed prior reap and a delete that died before publish.
    verified.reap_pending_roots(stats_root, path)
    verified.reap_orphan_tombstones(path)
    roots = live_roots(kind, ptr)
    n = int(ptr.get("compactions", 0)) + 1
    new_root = f"{kind.default_root}-compact-{n:04d}"
    union = verified.tombstoned_union(spark, path, ptr, roots, kind.id_col)
    write_root_or_empty(kind, write_root, union, f"{path}/_{new_root}")
    verified.expose_staged_batch(path, f"_{new_root}", new_root)
    extra: dict = {"live_tombstones": [], "tombstone_covers": {}}
    if keep_old_roots:
        extra["retained_epochs"] = retained_epoch_meta(kind, ptr)
    tombs = [f"{TOMBS}{t}" for t in ptr.get("live_tombstones", [])]
    verified.flip_compacted_roots(
        stats_root,
        path,
        root_key=kind.root_key,
        new_root=new_root,
        compactions=n,
        old_roots=[f"{path}/{r}" for r in roots + tombs],
        keep_old_roots=keep_old_roots,
        extra_meta=extra,
    )
    return new_root


def drain(
    spark,
    src_dir: str,
    ckpt: str,
    apply_batch: Callable[[Any, int], None],
    max_files_per_trigger: int = 1,
    schema=None,
) -> None:
    """Drain the parquet file source ``src_dir`` to its end
    (``availableNow``), ``max_files_per_trigger`` files per micro-batch,
    handing each batch to ``apply_batch(batch_df, epoch_id)`` under the
    checkpoint ``ckpt``.  On a crash-restart the checkpoint replays the
    in-flight epoch; an ``apply_batch`` that ledgers by epoch makes the
    replay a no-op, so the two retry stories compose into exactly-once.
    ``schema`` (default: inferred from the dir) lets a caller that knows
    the row shape drain a source holding zero files, which inference
    cannot read."""
    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start().awaitTermination()
