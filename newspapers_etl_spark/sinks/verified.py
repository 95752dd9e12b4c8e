"""Verified partitioned sink (SURVEY.md §2.1 S4-S5).

The reference uploads each file into a title/date folder hierarchy
(get_or_create_drive_folder ×2, reference src/01-scrape-images.py:441-452,
layout contract README.md:94-106) and verifies every upload by comparing
the server-side md5Checksum against a locally recomputed digest
(src/01-scrape-images.py:98-132, compute_md5 :78-83).

Spark-first re-expression:
- The folder hierarchy IS Hive partitioning: ``partitionBy(cols)`` —
  directory creation, atomic task commit, and retry-safe staging renames
  all come from Spark's commit protocol; no get-or-create code.
- Per-file md5 verification becomes a POST-WRITE AUDIT: an
  order-insensitive content digest per partition computed on the source
  and on the read-back, compared as relations.  The digest (sorted
  per-row md5s re-hashed) is associative-safe: any row order in either
  engine or any partition file layout yields the same value.

Scale design: the audit aggregates to one row per partition before the
compare join, so verification shuffles |partitions| rows, not |rows|;
digesting is a map-side expression over the already-read rows.  Skewed
partitions (one giant title — §4's 'Dagens Nyheter' case) are bounded by
AQE skew splitting during the digest agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.registry import query


def partition_manifest(
    df: DataFrame, partition_cols: list[str], content_col: str
) -> DataFrame:
    """Audit manifest: one row per partition with row count and an
    order-insensitive combined content digest (md5 of the sorted
    per-row md5s).  This is the relation the reference's per-upload
    md5Checksum comparison becomes at dataset grain."""
    row_md5 = F.md5(F.col(content_col))
    return df.groupBy(*partition_cols).agg(
        F.count("*").alias("n_docs"),
        F.md5(F.concat_ws("", F.sort_array(F.collect_list(row_md5)))).alias(
            "combined_digest"
        ),
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    sort_cols: list[str] | None = None,
) -> None:
    """Hive-partitioned parquet write — the title/date folder fan-out of
    src/01-scrape-images.py:441-452 as one declarative sink.

    ``sort_cols`` sorts WITHIN each write task before encoding
    (sortWithinPartitions — no global shuffle): clustered values compress
    better and give parquet row-group min/max statistics real selectivity,
    so later range predicates skip row groups, not just directories.

    Writes resolve through the generation pointer (see
    ``compact_partitions``): on a compacted table, appends land in the
    LIVE generation, so readers going through ``read_current`` see
    them."""
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.partitionBy(*partition_cols).mode(mode).parquet(
        current_data_path(path)
    )


def verify_partitioned_write(
    spark: SparkSession,
    src: DataFrame,
    path: str,
    partition_cols: list[str],
    content_col: str,
) -> DataFrame:
    """Post-write audit (the S4 verify + the declared-but-unimplemented
    verify-month op, reference .github/workflows/main.yml:23): join the
    source manifest against the sink's read-back manifest per partition
    and flag count or digest mismatches.  Empty result = verified."""
    expected = partition_manifest(src, partition_cols, content_col).select(
        *partition_cols,
        F.col("n_docs").alias("n_expected"),
        F.col("combined_digest").alias("expected_digest"),
    )
    actual = partition_manifest(
        read_current(spark, path), partition_cols, content_col
    ).select(
        *partition_cols,
        F.col("n_docs").alias("n_actual"),
        F.col("combined_digest").alias("actual_digest"),
    )
    return (
        expected.join(actual, partition_cols, "full_outer")
        .filter(
            (F.col("n_expected").eqNullSafe(F.col("n_actual")) == False)  # noqa: E712
            | (F.col("expected_digest").eqNullSafe(F.col("actual_digest")) == False)  # noqa: E712
        )
    )


# --- Generation-pointer layout -------------------------------------------
#
# A compacted table root holds:
#   path/_CURRENT            tiny JSON pointer {"generation": N, "dir": ...}
#   path/_gen-0000000N/      the live generation (Hive-partitioned parquet)
#   path/_gen-0000000M/      older generations pending retention cleanup
# plus, before the first compaction, legacy root-level Hive dirs/files.
#
# The underscore prefix is load-bearing: Hadoop/Spark file listing skips
# paths starting with '_' or '.', so generation dirs and the pointer are
# INVISIBLE to a plain ``spark.read.parquet(path)`` of the root — the
# legacy layout and the generation layout coexist during migration
# without double-reads.  Readers go through ``read_current``.

CURRENT_PTR = "_CURRENT"
_GEN_PREFIX = "_gen-"


def local_fs_path(path: str) -> str:
    """The OS path for ``path``, REFUSING remote URIs: the pointer ops
    here are plain-file I/O (``open``/``os.replace``/``shutil``), which
    is only atomic — only meaningful — on a local filesystem.  On
    HDFS/S3/GCS the pointer protocol is the same single-key PUT of the
    pointer object, but it must go through that store's API (Hadoop
    FileSystem / boto / gcsfs), which this sandbox build does not ship;
    failing loudly here beats silently writing a ``file:/...`` pointer
    next to an object-store table (ADVICE r8 #4)."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        return parsed.path if parsed.scheme == "file" else path
    raise NotImplementedError(
        f"generation-pointer I/O requires a local filesystem path; got "
        f"scheme {parsed.scheme!r} in {path!r} — route pointer reads/"
        "writes through the object store's API for remote tables"
    )


def _read_pointer(path: str) -> dict | None:
    """The current-generation pointer, or None for a legacy root-layout
    table (data files directly under ``path``)."""
    import json
    import os

    p = os.path.join(local_fs_path(path), CURRENT_PTR)
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def current_pointer(path: str) -> dict | None:
    """Public read of the generation pointer (callers that publish with
    ``meta=...`` read their bookkeeping back through this — e.g. the
    BM25 append's ``applied_batches`` idempotency ledger)."""
    return _read_pointer(path)


def current_data_path(path: str) -> str:
    """Resolve the directory readers should scan: the pointed-to
    generation, or the root itself before any compaction has run."""
    import os

    ptr = _read_pointer(path)
    if ptr is None:
        return path
    return os.path.join(path, ptr["dir"])


def read_current(spark: SparkSession, path: str) -> DataFrame:
    """Read the live generation of a (possibly compacted) table."""
    return spark.read.parquet(current_data_path(path))


def allocate_generation(path: str) -> tuple[int, str]:
    """The next generation number and directory NAME under ``path`` —
    write the new data there, then ``publish_generation``.  A crash
    after the write but before the publish leaves only a stray
    ``_gen-N`` directory (invisible to readers, overwritten by the next
    successful attempt); the pointer — and therefore every reader —
    still sees the previous generation."""
    ptr = _read_pointer(path)
    gen_no = 1 if ptr is None else int(ptr["generation"]) + 1
    return gen_no, f"{_GEN_PREFIX}{gen_no:08d}"


def publish_generation(
    path: str,
    gen_no: int,
    dir_name: str,
    keep_old_generation: bool = False,
    meta: dict | None = None,
) -> None:
    """Atomically repoint readers of ``path`` at ``dir_name`` (temp file
    + ``os.replace`` on the local filesystem this module requires — see
    ``local_fs_path``; on an object store the analogous single-key PUT
    of the pointer object), then reap the superseded generation unless
    ``keep_old_generation``.  Readers resolving through ``read_current``
    see either the old generation or the new one at every instant — no
    directory-rename window where the path is absent.

    ``meta`` entries are stored alongside ``generation``/``dir`` in the
    pointer (read back via ``current_pointer``) — e.g. the BM25
    append's ``applied_batches`` idempotency ledger.  Keys already in
    the pointer that this publish does NOT name are CARRIED FORWARD
    (ADVICE r9 #4): a generic maintenance publish — compaction over the
    BM25 stats root, say — must not silently drop another writer's
    bookkeeping (losing ``applied_batches`` would make every applied
    batch's postings invisible to readers AND re-appendable).  Pass the
    key in ``meta`` to overwrite it deliberately.

    SINGLE WRITER ASSUMED: the allocate→write→publish sequence is a
    read-modify-write of the pointer with no lock, so two concurrent
    publishers can interleave allocate() and lose one update (the
    classic lost-update race).  Every caller in this repo is a
    driver-side maintenance operation (compaction, index append) that
    the surrounding pipeline serializes; a multi-writer deployment
    needs a coordination layer (e.g. a conditional PUT / CAS on the
    pointer object) that plain files cannot provide."""
    import json
    import os
    import shutil
    import uuid

    os_path = local_fs_path(path)
    prev_ptr = _read_pointer(path)
    old_dir = current_data_path(path)
    carry = {
        k: v
        for k, v in (prev_ptr or {}).items()
        if k not in ("generation", "dir")
    }
    tmp = os.path.join(os_path, f".{CURRENT_PTR}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {**carry, "generation": gen_no, "dir": dir_name, **(meta or {})}, f
        )
    os.replace(tmp, os.path.join(os_path, CURRENT_PTR))

    if keep_old_generation:
        return
    if prev_ptr is None:
        # Legacy root layout: reap root-level data entries only —
        # underscore/dot entries (the pointer, generations, _SUCCESS)
        # stay.
        for name in os.listdir(os_path):
            if name.startswith(("_", ".")):
                continue
            entry = os.path.join(os_path, name)
            if os.path.isdir(entry):
                shutil.rmtree(entry)
            else:
                os.remove(entry)
    else:
        shutil.rmtree(local_fs_path(old_dir), ignore_errors=True)


def has_parquet_data(path: str) -> bool:
    """Whether any parquet DATA file exists under ``path`` — a
    partitioned write of an EMPTY relation produces only _SUCCESS, and
    pointing a reader at such a root fails with UNABLE_TO_INFER_SCHEMA;
    batch appenders use this to keep empty batches out of the live read
    roots (they still enter the idempotency ledger)."""
    import os

    for _dirpath, _dirs, files in os.walk(local_fs_path(path)):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def update_pointer_meta(path: str, **meta) -> None:
    """Atomically rewrite the pointer's BOOKKEEPING keys without moving
    the data generation — the single-key PUT a maintenance step that
    changes only metadata (e.g. a postings compaction repointing read
    roots) needs: ``publish_generation`` would force a new data
    directory for unchanged data, and its old-generation reaper would
    delete the very directory being re-pointed.  Requires an existing
    pointer (metadata-only updates on a legacy root layout have nothing
    to anchor to).  Same single-writer assumption as every pointer
    write here."""
    import json
    import os
    import uuid

    ptr = _read_pointer(path)
    if ptr is None:
        raise ValueError(
            f"no generation pointer at {path!r} — update_pointer_meta only "
            "amends an existing pointer (publish a generation first)"
        )
    os_path = local_fs_path(path)
    tmp = os.path.join(os_path, f".{CURRENT_PTR}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump({**ptr, **meta}, f)
    os.replace(tmp, os.path.join(os_path, CURRENT_PTR))


def expose_staged_batch(table_root: str, staging_name: str, final_name: str) -> bool:
    """Atomically expose a staged root (underscore dir → final rename,
    replacing a prior crashed-after-rename attempt wholesale) and
    report whether it holds any DATA — an EMPTY batch writes no
    parquet files, and a fileless root breaks readers with
    UNABLE_TO_INFER_SCHEMA, so it is removed and the caller keeps it
    out of the live read roots (it still enters the idempotency
    ledger).  The exposure step of ``functions/ledger.apply_batch``
    and ``functions/ledger.compact`` (whose root always holds data),
    the one publish path both maintained indexes run."""
    import os
    import shutil

    root = local_fs_path(table_root)
    final_dir = os.path.join(root, final_name)
    shutil.rmtree(final_dir, ignore_errors=True)
    os.rename(os.path.join(root, staging_name), final_dir)
    if not has_parquet_data(final_dir):
        shutil.rmtree(final_dir, ignore_errors=True)
        return False
    return True


def reap_pending_roots(stats_root: str, table_root: str) -> None:
    """Delete any roots a previous compaction flipped away from but
    died before reaping (``reap_roots`` in the pointer), then clear the
    list.  Idempotent; called at the start of every compaction and at
    the end of ``flip_compacted_roots`` — the crash window between the
    pointer flip and the reap can therefore never orphan an index copy
    permanently."""
    import os
    import shutil

    ptr = _read_pointer(stats_root)
    if not ptr or not ptr.get("reap_roots"):
        return
    base = local_fs_path(table_root)
    for rel in ptr["reap_roots"]:
        target = os.path.normpath(os.path.join(base, rel))
        if target.startswith(os.path.normpath(base) + os.sep):
            shutil.rmtree(target, ignore_errors=True)
    update_pointer_meta(stats_root, reap_roots=[])


def reap_orphan_tombstones(table_root: str) -> None:
    """Delete tombstone debris the pointer no longer (or never)
    references — the delete-path twin of the rebuild-orphan heal
    (ADVICE r11): a delete that dies between its staging write and
    ``expose_staged_batch`` leaves an ``_tombs-batch-<id>`` dir, one
    that dies between expose and publish leaves a live-named
    ``tombs-batch-<id>`` dir with no ledger row, and a compaction that
    dies between its reap and the next retry can strand a folded one.
    Readers are pointer-driven (only ``live_tombstones`` roots are
    anti-joined), so these are storage-only leaks — but at 100 TB a
    leak per crashed delete still accumulates.  Keeps every dir whose
    batch_id IS in ``live_tombstones`` or belongs to a RETAINED epoch
    (a keep_old_roots rewrite left them PIT-readable — each retained
    epoch's ``covers`` keys name exactly its exposed tombstones);
    removes the rest.  Idempotent; SINGLE WRITER ASSUMED (call from
    maintenance entry points, never concurrently with an in-flight
    delete)."""
    import os
    import re
    import shutil

    ptr = _read_pointer(f"{table_root}/stats")
    live = set((ptr or {}).get("live_tombstones", []))
    for ep in (ptr or {}).get("retained_epochs", {}).values():
        live |= set(ep.get("covers", {}))
    base = local_fs_path(table_root)
    for name in os.listdir(base):
        m = re.fullmatch(r"(_?)tombs-batch-(.+)", name)
        if m and (m.group(1) == "_" or m.group(2) not in live):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def flip_compacted_roots(
    stats_root: str,
    table_root: str,
    *,
    root_key: str,
    new_root: str,
    compactions: int,
    old_roots: list[str],
    keep_old_roots: bool = False,
    extra_meta: dict | None = None,
) -> None:
    """The compaction publish of ``functions/ledger.compact``, which
    both maintained indexes run: ONE atomic pointer-metadata write
    flips readers to ``new_root``, resets ``live_batches``
    (``applied_batches`` survives untouched — it is the idempotency
    ledger), and RECORDS the superseded roots as ``reap_roots`` in the
    same write; only then are they deleted and the list cleared.  A crash between flip and reap leaves the names
    in the pointer for ``reap_pending_roots`` to finish — the
    alternative (compute old roots on retry) reads the NEW pointer and
    would orphan a full index copy per crash.

    ``extra_meta`` rides the SAME atomic write — a compaction that
    folds tombstones into the new root must reset ``live_tombstones``
    in the very update that flips the root, or a crash in between
    would leave readers anti-joining deletions the fold already
    applied (harmless) or, worse ordered the other way, reading
    deleted rows back."""
    import os

    base = local_fs_path(table_root)
    rel = [os.path.relpath(local_fs_path(r), base) for r in old_roots]
    update_pointer_meta(
        stats_root,
        **{
            root_key: new_root,
            "live_batches": [],
            "compactions": compactions,
            "reap_roots": [] if keep_old_roots else rel,
            **(extra_meta or {}),
        },
    )
    reap_pending_roots(stats_root, table_root)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    keep_old_generation: bool = False,
) -> str:
    """Small-file compaction: rewrite each Hive partition into at most
    ``files_per_partition`` files.  Streaming/incremental sinks accrete
    one file per micro-batch per partition; at 100 TB that's millions of
    tiny files — listing cost alone dominates reads.

    The swap is a GENERATION-POINTER publish, not a directory rename:
    the rewrite lands fully in a fresh ``_gen-N`` dir under the table
    root, then ``_CURRENT`` is atomically replaced (write-temp +
    ``os.replace`` locally; on an object store the same single-key PUT
    of the pointer object).  A reader resolving through
    ``read_current`` therefore sees either the old generation or the
    new one at every instant — there is no window where ``path`` is
    absent, which the previous double-``shutil.move`` swap had.

    The previous generation is deleted after the publish unless
    ``keep_old_generation``; a reader that resolved the pointer just
    before the swap may still be scanning those files, so a deployment
    with long-running concurrent readers keeps N old generations and
    reaps them after its max-query-runtime grace period (that is
    exactly the retention knob table formats expose).

    The shuffle key is (partition_cols, hash-bucket) so each output
    partition spreads over at most ``files_per_partition`` write tasks.
    The bucket hashes every DATA COLUMN of the row — a deterministic
    row attribute — never monotonically_increasing_id(): a
    nondeterministic repartition expression routes rows differently
    when a task retries, which is the classic round-robin-repartition
    lost/duplicated-rows hazard.

    Returns the new generation's data directory."""
    import os

    gen_no, new_name = allocate_generation(path)
    old_dir = current_data_path(path)
    new_dir = os.path.join(path, new_name)

    df = spark.read.parquet(old_dir)
    parts = [F.col(c) for c in partition_cols]
    data_cols = [c for c in df.columns if c not in partition_cols]
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in data_cols]),
        F.lit(files_per_partition),
    )
    (
        df.repartition(*parts, bucket.alias("_b"))
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(new_dir)
    )

    publish_generation(path, gen_no, new_name, keep_old_generation)
    return new_dir


# ---------------------------------------------------------------------------
# Registered audit query (oracle-checked): the manifest itself
# ---------------------------------------------------------------------------

MANIFEST_ORACLE = """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       md5(string_agg(md5(text), '' ORDER BY md5(text))) AS combined_digest
FROM documents
GROUP BY lang, source
"""


@query("snkau", oracle=MANIFEST_ORACLE)
def sink_partition_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit manifest over documents partitioned by (lang, source) —
    the exact relation both sides of verify_partitioned_write compute."""
    d = load_table(spark, sf_dir, "documents")
    return partition_manifest(d, ["lang", "source"], "text")


def tombstoned_union(
    spark: SparkSession,
    table_root: str,
    ptr: dict | None,
    roots: list[str],
    key: str,
):
    """Union the data ``roots`` (names relative to ``table_root``) with
    every live tombstone anti-joined on ``key`` — but ONLY against the
    roots that tombstone COVERS (the roots that existed when its delete
    published, recorded in the pointer's ``tombstone_covers`` map).

    Root-scoping is what makes re-adding a previously deleted id
    correct: the old rows (in covered roots) stay suppressed while a
    LATER append's root — never covered by an earlier tombstone — is
    read untouched, so a takedown reversal is one ordinary append, no
    compaction required first.  A tombstone with no ``covers`` entry
    (a pre-scoping pointer) conservatively covers every root.  Costs
    nothing until a delete lands; the reader under
    ``functions/ledger.read_live`` for the BM25 postings and the IVF
    codes alike."""
    from functools import reduce

    covers = dict(ptr.get("tombstone_covers", {})) if ptr else {}
    tombs = list(ptr.get("live_tombstones", [])) if ptr else []
    parts = []
    for r in roots:
        df = spark.read.parquet(f"{table_root}/{r}")
        hits = [t for t in tombs if r in covers.get(t, [r])]
        if hits:
            tdf = reduce(
                DataFrame.unionByName,
                [
                    spark.read.parquet(f"{table_root}/tombs-batch-{t}")
                    for t in hits
                ],
            )
            df = df.join(tdf, key, "left_anti")
        parts.append(df)
    return reduce(DataFrame.unionByName, parts)
