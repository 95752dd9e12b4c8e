"""Driver-local parquet I/O for MODEL-SIZED relations (guide §1.2/§5).

The index lifecycle's smallest relations — the frozen centroid/codebook
models (k×d floats), the per-cell (n, svec) stats pairs (cells×dim
doubles), the 1-row BM25 (n, sum_dl) stats — are driver-resident Python
lists on every path that touches them: they are CREATED from collected
lists (``fit_models``) and CONSUMED via ``collect()`` (``_read_model``,
``refreshed_centroids``, the BM25 stats pulls).  Routing a k-row local
relation through a Spark job just to land it in (or lift it out of) a
parquet file pays the whole per-job floor — scheduler round-trips, task
launch, commit protocol — for zero distributed work, 2-4 times per
pointer publish.  The r16 phase profile put the residual cost of the
walk queries (``ivfpit``/``mntpol``/``bmpit``) exactly here, and the
8→32-core scaling ratio of ≈1.0 confirms none of it is compute.

So: tiny relations move through pyarrow on the driver, in the SAME
on-disk layout (a directory holding one ``part-*.parquet`` file, like a
1-task Spark write).  Every existing reader keeps working unchanged —
``spark.read.parquet`` on the directory, ``has_parquet_data``'s
``*.parquet`` walk, and this module's own reader (pyarrow's dataset
discovery skips ``_``/``.``-prefixed entries exactly like Hadoop
listing, so it also reads Spark-written roots with their ``_SUCCESS``
markers).  Atomicity: the part file is written to a dot-temp name and
``os.replace``d, then visibility still gates on the caller's
generation-pointer flip — the same torn-but-unpublished crash window
the Spark write had.

This is a driver-side cost at ANY scale, not a local[32] artifact: a
1000-executor cluster pays the same scheduler/commit floor per k-row
job, and the models/stats are bounded (cells×dim) regardless of corpus
size.  The DATA-sized roots (codes, postings, tombstones) stay Spark
writes, untouched.

Remote stores: like every pointer operation (sinks/verified.py
``local_fs_path``), this is plain-file I/O and REFUSES non-local URIs;
an object-store deployment routes these bytes through its store API.
"""

from __future__ import annotations

import os
import uuid
from typing import Any, Iterable, Mapping, Sequence

from newspapers_etl_spark.sinks import verified


def _fs_path(path: str) -> str:
    return verified.local_fs_path(path)


def write_tiny_parquet(
    path: str,
    columns: Mapping[str, Sequence[Any]],
    schema: "Any",
) -> None:
    """Overwrite ``path`` (a directory root) with one parquet part file
    holding ``columns`` under the given pyarrow ``schema`` — the local
    twin of ``df.write.mode("overwrite").parquet(path)`` for a relation
    that already lives on the driver.  The write is temp-file +
    ``os.replace`` (atomic on the local FS this engine's pointer
    machinery already requires); stale part files from a previous life
    of the directory are removed first, matching overwrite-mode
    semantics."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fs = _fs_path(path)
    shutil.rmtree(fs, ignore_errors=True)
    os.makedirs(fs, exist_ok=True)
    table = pa.table(
        {name: pa.array(vals, type=schema.field(name).type) for name, vals in columns.items()},
        schema=schema,
    )
    token = uuid.uuid4().hex
    tmp = os.path.join(fs, f".part-00000-{token}.parquet.tmp")
    final = os.path.join(fs, f"part-00000-{token}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


def read_tiny_rows(path: str) -> list[dict]:
    """Every row under ``path`` as a list of plain-Python dicts — the
    local twin of ``spark.read.parquet(path).collect()`` for a relation
    the caller consumes on the driver anyway.  Reads both layouts: a
    directory of part files written by Spark (``_SUCCESS`` and other
    ``_``/``.``-prefixed entries are skipped, like Hadoop listing) and
    this module's single-part layout."""
    import pyarrow.parquet as pq

    fs = _fs_path(path)
    files: list[str] = []
    for dirpath, dirs, fnames in os.walk(fs):
        # Prune hidden DIRECTORIES from the walk, not just hidden
        # files: Hadoop listing ignores underscore/dot paths at every
        # level, so a crashed publish's ``_gen-N`` staging dir inside a
        # legacy root must stay invisible here too — descending into it
        # returned the crashed attempt's already-merged stats row ahead
        # of the live one (caught by the append-crash-retry pytest).
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files.extend(
            os.path.join(dirpath, f)
            for f in fnames
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    files.sort()
    if not files:
        raise FileNotFoundError(f"no parquet data under {path!r}")
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


# --- Fixed schemas for the engine's tiny relations ----------------------

def model_schema(id_col: str, vec_col: str) -> "Any":
    """(id int32, vec list<float64>) — centroids/codebook layout, the
    arrow types Spark's parquet writer emits for
    ``"cell int, cvec array<double>"``."""
    import pyarrow as pa

    return pa.schema(
        [pa.field(id_col, pa.int32()), pa.field(vec_col, pa.list_(pa.float64()))]
    )


def ivf_stats_schema() -> "Any":
    """(cell int32, n int64, svec list<float64>) — the per-cell
    combinable stats pair (``_cell_stats``' Spark schema)."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("cell", pa.int32()),
            pa.field("n", pa.int64()),
            pa.field("svec", pa.list_(pa.float64())),
        ]
    )


def bm25_stats_schema() -> "Any":
    """(n double, sum_dl double) — the 1-row BM25 corpus stats."""
    import pyarrow as pa

    return pa.schema(
        [pa.field("n", pa.float64()), pa.field("sum_dl", pa.float64())]
    )


def write_model(
    path: str, id_col: str, vec_col: str, rows: Iterable[tuple[int, list[float]]]
) -> None:
    """Land a collected (id, vector) model list as a parquet root."""
    ids, vecs = [], []
    for i, v in rows:
        ids.append(int(i))
        vecs.append([float(x) for x in v])
    write_tiny_parquet(
        path, {id_col: ids, vec_col: vecs}, model_schema(id_col, vec_col)
    )


def read_model_rows(
    path: str, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """The (id, vector) model list back from a parquet root, id-sorted —
    the exact post-processing ``_read_model``'s collect applied."""
    rows = read_tiny_rows(path)
    return sorted(
        ((int(r[id_col]), [float(x) for x in r[vec_col]]) for r in rows),
        key=lambda t: t[0],
    )
