"""Point-in-time reads of BOTH maintained indexes — reconstruct the
exact view an index served AS OF any past append/delete batch
(VERDICT r13 next-round #5): the audit and reproducibility story a
100 TB training pipeline needs ("which index state produced run X?",
"re-run yesterday's retrieval under yesterday's index" — literally, for
the BM25 twin: ``retrieval_bm25_topk_at`` replays a scored query).

No reference counterpart (the reference keeps no index at all,
src/01-scrape-images.py); the mechanism is the one already paid for:
appends and deletes never rewrite roots — they EXPOSE new ones
(``codes-batch-<id>``, ``tombs-batch-<id>``) and flip the generation
pointer — so every historical view's physical bytes are still on disk
until a compaction or rebuild folds them.  The pointer's ``ops_log``
(appended by every ``append_ivf_index`` / ``delete_from_ivf_index``
publish: generation, op kind, batch id, root-exposed flag, root-rewrite
epoch) supplies the one thing the applied/live ledgers lose — the
INTERLEAVING of appends and deletes — and the reconstruction is pure
pointer algebra plus the standard root-scoped tombstoned read:

- roots  = current base root + every ``add`` op up to the target that
  exposed a root IN THE CURRENT EPOCH (ops from older epochs are
  already folded into the base by the compaction/rebuild that closed
  the epoch);
- tombstones = every ``del`` op up to the target in the current epoch,
  each anti-joined against exactly the roots its publish recorded in
  ``tombstone_covers`` — the same scoping the live reader uses, so a
  post-delete re-append inside the window reconstructs correctly too.

HISTORY BOUNDARY with retention (r15, VERDICT r14 #5 / ADVICE r14 #1):
a compaction or rebuild physically rewrites roots (that is its job) —
but run with ``keep_old_roots=True`` the rewrite RETAINS the epoch it
closes: the skipped reap leaves the epoch's roots on disk, the pointer
snapshots its base + tombstone scopes (``retained_epochs``), its
journal entries stay served, and the reader reconstructs pre-rewrite
views exactly as it does live-epoch ones, at the same cost.  Views in
an epoch that was NOT retained — or that ``reap_retained_epochs``
(the grace-window GC) has since dropped — are gone, and the reader
REFUSES them (clear ValueError) rather than serving a folded
approximation.  Cost at 100 TB: identical to a live read over the
same roots — one pointer read, no extra scan, no copy-on-write of
anything; retention costs only the storage of the kept epochs' roots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.bm25_common import (
    BM25_QUERY_TERMS,
    BM25_TOP_K,
)
from newspapers_etl_spark.functions.ledger import (
    BM25,
    IVF,
    TOMBS,
    IndexKind,
    base_root,
    kind_of,
    root_epoch,
)
from newspapers_etl_spark.operators.ivf_maintenance import (
    BASE_PREDICATE,
    FIT_PREDICATE,
    IVF_APP_ORACLE,
    append_ivf_index,
    build_ivf_index,
    codes_fingerprint,
    compact_ivf_codes,
    delete_from_ivf_index,
    fit_models,
    scratch_index_dir,
)
from newspapers_etl_spark.operators.retrieval import (
    BM25_POSTING_SHARDS,
    _score_pruned_postings,
    _term_shards,
    append_bm25_postings,
    bm25_oracle_sql,
    compact_bm25_postings,
    delete_bm25_docs,
    write_bm25_postings,
)
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.sinks import verified

# The fixture walk: base build, append the vec_id%8=3 slice (b1),
# delete the vec_id%10=1 sub-slice OF THE BASE (d1 — membership holds:
# it was indexed by the build), append the vec_id%8=7 slice (b2).  The
# registered query reads AT d1: (base ∪ b1) − d1, with b2 invisible.
PIT_B1_PRED = "vec_id % 8 = 3"
PIT_B2_PRED = "vec_id % 8 = 7"
PIT_DEL_PRED = "vec_id % 10 = 1"

# The as-of-d1 view replayed over the full-corpus append oracle: frozen
# assignment/encode are per-row pure functions, so filtering the full
# replay equals replaying the filtered corpus (the IVF_DEL_ORACLE
# posture).  The delete term is NULL-safe (coalesce) because the engine
# derives d1 by filtering — a NULL vec_id never enters the delete batch
# and must stay in the view.
IVF_PIT_ORACLE = f"""
SELECT * FROM (
{IVF_APP_ORACLE}
) WHERE (({BASE_PREDICATE}) OR ({PIT_B1_PRED}))
  AND NOT coalesce(({PIT_DEL_PRED}) AND ({BASE_PREDICATE}), FALSE)
"""


def _as_of_view(
    spark: SparkSession,
    path: str,
    batch_id: str,
    kind: IndexKind,
    op: str | None = None,
) -> tuple[list[dict], DataFrame]:
    """The shared ops_log reconstruction both maintained indexes use:
    returns (journal prefix up to the target in its epoch, the data
    relation as of the target — its roots unioned, each minus the
    tombstones its recorded scopes say cover it).  Raises the three
    honest refusals — unknown batch, ambiguous batch, and a view the
    last compaction/rebuild folded.

    ``op`` disambiguates a batch id published by BOTH ledgers: the
    append and delete idempotency ledgers are separate, so one raw id
    can legally name an append AND a delete batch (their journal
    entries differ only in ``op``).  Resolving "first match" there
    would silently reconstruct the wrong op's view (ADVICE r14 #2), so
    an ambiguous id REFUSES unless the caller names the op kind
    ("add"/"del").  Upserts never collide — their halves publish under
    ``<id>.del``/``<id>.add`` — and a repeat publish of the same
    (op, id) no-ops at the ledger, so two matches for one (op, id)
    cannot occur."""
    ptr = verified.current_pointer(f"{path}/stats")
    log = list(ptr.get("ops_log", [])) if ptr else []
    matches = [
        i
        for i, o in enumerate(log)
        if o.get("b") == batch_id and (op is None or o.get("op") == op)
    ]
    if not matches:
        kind = f" with op {op!r}" if op else ""
        raise ValueError(
            f"no op journal entry for batch {batch_id!r}{kind} at "
            f"{path!r} — point-in-time reads address applied "
            "append/delete batches"
        )
    if len(matches) > 1:
        kinds = sorted({log[i].get("op") for i in matches})
        raise ValueError(
            f"batch id {batch_id!r} is ambiguous at {path!r}: published "
            f"by ops {kinds} (the append and delete ledgers are "
            "separate) — pass op='add' or op='del' to name the view"
        )
    idx = matches[0]
    epoch = root_epoch(ptr)
    target_ep = log[idx].get("ep")
    if target_ep == epoch:
        ep_base = base_root(kind, ptr)
        covers = dict(ptr.get("tombstone_covers", {})) if ptr else {}
    else:
        # The batch's epoch was closed by a compaction/rebuild.  If that
        # rewrite ran with keep_old_roots=True, the epoch is RETAINED:
        # its roots are still on disk and the pointer snapshotted its
        # base + tombstone scopes at close — reconstruct exactly as for
        # the live epoch, at the same cost.  Otherwise the roots were
        # reaped and the only honest answer is refusal.
        retained = (ptr or {}).get("retained_epochs", {})
        if target_ep not in retained:
            raise ValueError(
                f"batch {batch_id!r} predates the last compaction/"
                f"rebuild (op epoch {target_ep!r}, current {epoch!r}) "
                "and its epoch was not retained — the rewrite folded "
                "its roots; run compactions/rebuilds with "
                "keep_old_roots=True to keep history PIT-readable "
                "until reap_retained_epochs drops it"
            )
        ep_base = retained[target_ep]["base"]
        covers = dict(retained[target_ep].get("covers", {}))
    prefix = [o for o in log[: idx + 1] if o.get("ep") == target_ep]
    roots = [ep_base] + [
        f"{kind.batch_prefix}{o['b']}"
        for o in prefix
        if o["op"] == "add" and o.get("r")
    ]
    tombs = [o["b"] for o in prefix if o["op"] == "del" and o.get("r")]
    pit_ptr = {
        "live_tombstones": tombs,
        "tombstone_covers": {t: covers[t] for t in tombs if t in covers},
    }
    return prefix, verified.tombstoned_union(
        spark, path, pit_ptr, roots, kind.id_col
    )


def reap_retained_epochs(path: str, keep: int = 0) -> list[str]:
    """The retention/GC half of the keep_old_roots contract: drop all
    but the newest ``keep`` retained epochs, DELETE their roots from
    disk (the epoch base — whole rebuild shell when nothing live still
    points into it — plus every batch and tombstone root its journal
    exposed) and TRUNCATE their ops_log entries, all behind one atomic
    pointer write; a crash between the write and the deletes is healed
    by ``reap_pending_roots`` like every other reap here.  After the
    reap, PIT reads inside a dropped epoch refuse ('no op journal
    entry') — the retention horizon moved, honestly.

    ``keep`` is the audit-window knob, counted in RETAINED EPOCHS
    because epochs are the unit a rewrite closes: a deployment with a
    time-based grace period maps it to however many keep_old_roots
    rewrites its maintenance cadence runs inside the grace window
    (e.g. nightly compaction + 7-day audit window → keep=7).  Works on
    either maintained index (the pointer's root key names the kind).
    Returns the dropped epochs.  SINGLE WRITER ASSUMED, like every
    pointer maintenance step."""
    stats_root = f"{path}/stats"
    ptr = verified.current_pointer(stats_root)
    retained = dict((ptr or {}).get("retained_epochs", {}))
    if not retained:
        return []
    order = sorted(
        retained, key=lambda e: tuple(int(p) for p in e.split("."))
    )
    drop = order[: max(len(order) - max(keep, 0), 0)]
    if not drop:
        return []
    kind = kind_of(ptr)
    kept = {e: v for e, v in retained.items() if e not in drop}
    # Top-level components something live (or still-retained) points
    # into must survive — e.g. a compaction that closed an epoch whose
    # base was rebuild-0001/codes leaves the LIVE model at
    # rebuild-0001/model, so only the codes subtree is reapable.
    protected = {
        str(ptr.get(kind.root_key, "")).split("/")[0],
        str(ptr.get("model_root", "")).split("/")[0],
    } | {str(v.get("base", "")).split("/")[0] for v in kept.values()}
    log = list(ptr.get("ops_log", []))
    reap = set(ptr.get("reap_roots", []))  # merge a crashed flip's list
    for ep in drop:
        ep_base = str(retained[ep]["base"])
        top = ep_base.split("/")[0]
        reap.add(top if top not in protected else ep_base)
        for o in log:
            if o.get("ep") == ep and o.get("r"):
                add = o["op"] == "add"
                reap.add(f"{kind.batch_prefix if add else TOMBS}{o['b']}")
        for t in retained[ep].get("covers", {}):
            reap.add(f"{TOMBS}{t}")
    dropped = set(drop)
    verified.update_pointer_meta(
        stats_root,
        retained_epochs=kept,
        ops_log=[o for o in log if o.get("ep") not in dropped],
        reap_roots=sorted(reap),
    )
    verified.reap_pending_roots(stats_root, path)
    return drop


def read_ivf_codes_at(
    spark: SparkSession, path: str, batch_id: str, op: str | None = None
) -> DataFrame:
    """The code relation exactly as the index served it right after
    ``batch_id`` (an append or delete batch) published — see the module
    docstring for the reconstruction and its history boundary.  ``op``
    ("add"/"del") names the view when one id was published by both
    ledgers."""
    return _as_of_view(spark, path, batch_id, IVF, op=op)[1]


def retrieval_bm25_topk_at(
    spark: SparkSession,
    path: str,
    batch_id: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
    shards: int = BM25_POSTING_SHARDS,
    op: str | None = None,
) -> DataFrame:
    """Score a query against the posting index AS OF ``batch_id`` — the
    lexical twin of ``read_ivf_codes_at`` (reproduce yesterday's
    retrieval under yesterday's index).  Roots and tombstones come from
    the same journal algebra; the (n, avgdl) statistics the score needs
    come from the journal too (each BM25 entry records its published
    (n, sum_dl) pair — two scalars — because superseded stats
    GENERATIONS are reaped; no-op entries record None and inherit the
    nearest earlier pair).  Scan pruning and the scoring tail are the
    live reader's own (`_score_pruned_postings`), so an as-of read
    costs exactly what the live read cost at that moment."""
    prefix, postings = _as_of_view(spark, path, batch_id, BM25, op=op)
    stat = next(
        (o for o in reversed(prefix) if o.get("n") is not None), None
    )
    if stat is None:
        raise ValueError(
            f"no journaled stats at or before batch {batch_id!r} — the "
            "op journal starts at the first published append/delete"
        )
    stats = spark.createDataFrame(
        [(float(stat["n"]), float(stat["sum_dl"]))], "n double, sum_dl double"
    ).select(
        "n",
        F.when(F.col("n") > 0, F.col("sum_dl") / F.col("n")).alias("avgdl"),
    )
    wanted = _term_shards(spark, terms, shards)
    return _score_pruned_postings(postings, stats, terms, k, wanted)


@query("ivfpit", oracle=IVF_PIT_ORACLE)
def ivf_point_in_time_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Walk three maintenance generations (append b1, delete d1, append
    b2) WITH a retained compaction between d1 and b2 (r15: the walk now
    crosses a root-rewrite boundary), and read the index AS OF the
    middle op: the compaction folded d1's tombstones and b1's root into
    a new base and closed their epoch, but ``keep_old_roots=True``
    retained the epoch — so the read still reconstructs (base ∪ b1) −
    d1 with b2 AND the compaction invisible, bit-for-bit what a live
    read between d1 and the compaction returned, which is what the
    oracle replays.  Same (vec_id, cell, codes_fp) shape as
    ``ivfapp``."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    if not models[0] or not models[1]:
        return spark.createDataFrame(
            [], "vec_id long, cell int, codes_fp string"
        )
    path = scratch_index_dir("ivf-pit", sf_dir)
    build_ivf_index(
        spark, e.filter(F.expr(BASE_PREDICATE)), path, models=models
    )
    append_ivf_index(
        spark, e.filter(F.expr(PIT_B1_PRED)), path, batch_id="b1"
    )
    delete_from_ivf_index(
        spark,
        e.filter(F.expr(BASE_PREDICATE)).filter(F.expr(PIT_DEL_PRED)),
        path,
        batch_id="d1",
    )
    compact_ivf_codes(spark, path, keep_old_roots=True)
    append_ivf_index(
        spark, e.filter(F.expr(PIT_B2_PRED)), path, batch_id="b2"
    )
    return codes_fingerprint(read_ivf_codes_at(spark, path, "d1"))


# The posting-index walk mirrors the vector one on doc_id: base write
# (the st_bm25 split, NULL keys routed to base), append b1, delete the
# %10=1 sub-slice OF THE BASE, append b2, score AS OF the delete.
BM_PIT_BASE = "doc_id % 4 < 3 OR doc_id IS NULL"
BM_PIT_B1_PRED = "doc_id % 8 = 3"
BM_PIT_B2_PRED = "doc_id % 8 = 7"
BM_PIT_DEL_PRED = "doc_id % 10 = 1"

BM_PIT_ORACLE = bm25_oracle_sql(
    where=(
        f"(({BM_PIT_BASE}) OR ({BM_PIT_B1_PRED})) "
        f"AND NOT coalesce(({BM_PIT_DEL_PRED}) AND doc_id % 4 < 3, FALSE)"
    )
)


@query("bmpit", oracle=BM_PIT_ORACLE)
def bm25_point_in_time_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The posting-index walk (append b1, delete d1, append b2) scored
    AS OF the middle op, WITH a retained compaction between d1 and b2
    (r15: the walk now crosses a root-rewrite boundary, the lexical
    twin of ``ivfpit``): BM25 top-k over (base ∪ b1) − d1 with b2's
    postings, the compaction, and b2's stats all invisible —
    bit-for-bit the ranking a live query between d1 and the compaction
    returned, which is what the oracle replays over the same corpus
    filter.  Same (doc_id, score) shape as ``bm25``."""
    path = scratch_index_dir("bm-pit", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_bm25_postings(spark, None, path, docs=docs.filter(F.expr(BM_PIT_BASE)))
    append_bm25_postings(
        spark, None, path,
        batch_id="b1", docs=docs.filter(F.expr(BM_PIT_B1_PRED)),
    )
    delete_bm25_docs(
        spark,
        docs.filter(F.expr(BM_PIT_BASE)).filter(F.expr(BM_PIT_DEL_PRED)),
        path,
        batch_id="d1",
    )
    compact_bm25_postings(spark, path, keep_old_roots=True)
    append_bm25_postings(
        spark, None, path,
        batch_id="b2", docs=docs.filter(F.expr(BM_PIT_B2_PRED)),
    )
    return retrieval_bm25_topk_at(spark, path, "d1")
