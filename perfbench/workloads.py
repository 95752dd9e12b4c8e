"""The workloads: their inputs, the calls of one pass, and the
correctness gate that runs after the timed window.

A pass is a list of ``Call``s issued in a closed loop (each starts after
the previous one returns).  A call that returns a DataFrame is finished
by collecting it to the driver (``toPandas``), so the gate checks the
very outputs that were timed.  A write call is finished when its change
is visible through the index's generation pointer (``visible``).
"""

from __future__ import annotations

import os
import shutil
import sys
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen


@dataclass
class Call:
    name: str
    kind: str  # "read" | "write" | "drain" | "probe" (untimed bookkeeping)
    fn: Callable
    visible: Callable[[], bool] | None = None
    roots: tuple[str, ...] = ()  # dirs the call writes into (sink accounting)
    input_bytes: int = 0


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Ctx:
    """What a workload needs between preparation, passes and the gate."""

    spark: object
    inputs: str  # generated input root
    work: str  # per-pass scratch root
    seed: int
    rng: np.random.Generator
    gen_record: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _normalizer():
    """``tests/conftest.normalize_rows``: the oracle-compare semantics the
    test suite and ``tools/oracle_sweep.py`` use."""
    tests = os.path.join(os.getcwd(), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from conftest import normalize_rows

    return normalize_rows


def _pdf_rows(pdf):
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]


def same_rows(a_pdf, b_pdf) -> tuple[bool, str]:
    norm = _normalizer()
    a_cols, a_rows = norm(*_pdf_rows(a_pdf))
    b_cols, b_rows = norm(*_pdf_rows(b_pdf))
    if a_cols != b_cols:
        return False, f"columns {a_cols} != {b_cols}"
    if len(a_rows) != len(b_rows):
        return False, f"rows {len(a_rows)} != {len(b_rows)}"
    bad = sum(1 for x, y in zip(a_rows, b_rows) if x != y)
    return bad == 0, f"{bad} differing rows" if bad else f"{len(a_rows)} rows"


def oracle_checks(sf_dir: str, outputs: dict) -> list[Check]:
    """Compare each call's collected output with DuckDB running the
    registry oracle over the same generated tables.  Every output must be
    non-empty; names without an oracle get only that check."""
    import duckdb

    from newspapers_etl_spark import registry
    from newspapers_etl_spark.catalog import TABLES, table_path

    oracles = registry.all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(table_path(sf_dir, t)):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(sf_dir, t)}')"
            )
    checks = []
    for name, got in outputs.items():
        if got is None:
            checks.append(Check(name, False, "call failed"))
        elif len(got) == 0:
            checks.append(Check(name, False, "empty result"))
        elif name not in oracles:
            checks.append(Check(name, True, f"rows-only: {len(got)} rows"))
        else:
            try:
                ok, detail = same_rows(got, con.sql(oracles[name]).df())
            except Exception as e:  # a crash is a failed check, never dropped
                ok, detail = False, f"{type(e).__name__}: {e}"[:300]
            checks.append(Check(name, ok, detail))
    return checks


def _sink_calls(ctx: Ctx, sf_dir: str, pass_no: int) -> list[Call]:
    """The dataflow's last step: write the documents table through the
    verified partitioned sink and audit it (the audit must come back
    empty before the write counts as visible), then compact the sink
    into a new generation.  Probes around the compaction record the
    sink's bytes on disk; the compacted generation is its live data."""
    from newspapers_etl_spark.catalog import load_table
    from newspapers_etl_spark.sinks.verified import (
        compact_partitions,
        current_data_path,
        current_pointer,
        verify_partitioned_write,
        write_partitioned,
    )

    spark = ctx.spark
    path = os.path.join(ctx.work, f"sink-p{pass_no}")
    state = {}

    def write():
        docs = load_table(spark, sf_dir, "documents")
        write_partitioned(docs, path, ["lang"], sort_cols=["doc_id"])
        state["docs"] = docs

    def visible() -> bool:
        bad = verify_partitioned_write(spark, state["docs"], path, ["lang"], "text")
        return len(bad.limit(1).collect()) == 0

    def compact():
        state["ptr"] = current_pointer(path)
        compact_partitions(spark, path, ["lang"])

    def probe(after: bool):
        # A sink read (read_current) opens exactly one data root.
        ctx.extra.setdefault("roots", []).append(
            {"live_roots": 1, "bytes": _dir_bytes(path)}
        )
        if after:
            ctx.extra["live_bytes"] = _dir_bytes(current_data_path(path))

    size = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    return [
        Call("sink.documents", "write", write, visible, (path,), size),
        Call("pointer.before_compact", "probe", lambda: probe(False)),
        Call(
            "sink.compact", "write", compact,
            lambda: current_pointer(path) != state["ptr"], (path,),
        ),
        Call("pointer.after_compact", "probe", lambda: probe(True)),
    ]  # fmt: skip


class DedupSearch:
    """Near-duplicate search registry queries, then the verified sink
    write and its compaction."""

    name = "dedup_search"
    queries = ("jacc", "ddemb")
    tables = {"documents": 500, "embeddings": 500}  # the tables read, rows

    def prepare(self, ctx: Ctx) -> None:
        ctx.extra["sf_dir"] = os.path.join(ctx.inputs, "tables")
        ctx.gen_record.update(
            gen.generate_tables(ctx.extra["sf_dir"], ctx.seed, self.tables)
        )

    def calls(self, ctx: Ctx, pass_no: int) -> list[Call]:
        from newspapers_etl_spark import registry

        q = registry.all_queries()
        sf = ctx.extra["sf_dir"]
        out = [
            Call(n, "read", (lambda fn=q[n]: fn(ctx.spark, sf))) for n in self.queries
        ]
        return out + _sink_calls(ctx, sf, pass_no)

    def end_pass(self, ctx: Ctx, pass_no: int) -> None:
        shutil.rmtree(os.path.join(ctx.work, f"sink-p{pass_no}"), ignore_errors=True)

    def gate(self, ctx: Ctx, outputs: dict) -> list[Check]:
        return oracle_checks(
            ctx.extra["sf_dir"], {n: outputs.get(n) for n in self.queries}
        )


# --- incremental -------------------------------------------------------------


def _write_pq(path: str, table: pa.Table) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


class Incremental:
    """A seeded op schedule on one IVF and one BM25 index, plus a
    stateful event drain."""

    name = "incremental"
    n_base = 250  # vectors and documents in the initial builds
    n_batch = 40  # rows per append
    n_delete = 30
    n_upsert = 30
    drains = ("sttmb",)
    tables = {"events": 3000}  # the drain's table, rows

    def prepare(self, ctx: Ctx) -> None:
        """Generate the drain's table, the op payloads, the BM25 probe
        terms and the frozen IVF models."""
        rng, d = ctx.rng, os.path.join(ctx.inputs, "inc")
        sf = ctx.extra["sf_dir"] = os.path.join(ctx.inputs, "tables")
        ctx.gen_record.update(gen.generate_tables(sf, ctx.seed, self.tables))
        nb, k = self.n_base, self.n_batch
        files, sizes, vecs = {}, {}, {}

        def write(key, table):
            files[key] = os.path.join(d, f"{key}.parquet")
            sizes[key] = _write_pq(files[key], table)

        def vectors(key, ids, v=None):
            v = gen.unit_vectors(rng, len(ids)) if v is None else v
            vecs.update(zip(ids.tolist(), v))
            write(key, gen.embeddings_table(rng, ids, v))

        def docs(key, ids):
            texts = gen.doc_texts(rng, len(ids), gen.DUP_SHARE)
            write(key, pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}))

        vectors("emb_base", np.arange(nb))
        vectors("emb_b1", nb + np.arange(k))
        docs("doc_base", np.arange(nb))
        docs("doc_b1", nb + np.arange(k))
        pick = rng.permutation(nb)
        del_ids = np.sort(pick[: self.n_delete])
        up_ids = np.sort(pick[self.n_delete : self.n_delete + self.n_upsert])
        # The upsert's old half is the rows as currently indexed; ids with
        # no new row (``del_ids``) are deleted, the rest replaced.
        old = np.sort(np.concatenate([del_ids, up_ids]))
        vectors("emb_up_old", old, np.stack([vecs[i] for i in old]))
        vectors("emb_up_new", up_ids)
        terms = tuple(sorted(rng.choice(gen.WORDS[1:], size=3, replace=False)))
        rows = 2 * nb + 2 * k + len(old) + len(up_ids)
        ctx.extra.update(
            files=files, sizes=sizes, terms=terms, del_ids=del_ids, up_ids=up_ids
        )
        ctx.gen_record["incremental_ops"] = {"rows": rows, "bytes": sum(sizes.values())}
        # Frozen models in the shape fit_models returns, fitted outside
        # the engine: the first base vectors serve as the 8 coarse cells
        # and the 16-entry codebook.  Every pass and the gate's rebuild
        # encode under them.
        first = [(i, [float(x) for x in vecs[i]]) for i in range(16)]
        ctx.extra["models"] = (first[:8], first)

    def _paths(self, ctx: Ctx, pass_no: int) -> dict[str, str]:
        root = os.path.join(ctx.work, f"inc-p{pass_no}")
        names = ("ivf", "bm25")
        return {n: os.path.join(root, n) for n in names}

    def calls(self, ctx: Ctx, pass_no: int) -> list[Call]:
        from newspapers_etl_spark import registry
        from newspapers_etl_spark.operators.index_pit import read_ivf_codes_at
        from newspapers_etl_spark.operators.ivf_maintenance import (
            append_ivf_index,
            build_ivf_index,
            compact_ivf_codes,
            read_ivf_codes,
            upsert_ivf_index,
        )
        from newspapers_etl_spark.operators.retrieval import (
            append_bm25_postings,
            retrieval_bm25_topk_from_postings,
            write_bm25_postings,
        )
        from newspapers_etl_spark.sinks.verified import current_pointer

        spark, f, sz = ctx.spark, ctx.extra["files"], ctx.extra["sizes"]
        models = ctx.extra["models"]
        p = self._paths(ctx, pass_no)
        rd = spark.read.parquet
        out: list[Call] = []

        def write(name, index, fn, payload=""):
            """A mutation is visible once the index's pointer changed (or,
            for a fresh layout without a pointer, once its stats exist)."""
            stats = os.path.join(p[index], "stats")
            before = {}

            def run():
                before["ptr"] = current_pointer(stats)
                fn()

            def visible() -> bool:
                ptr = current_pointer(stats)
                if before["ptr"] is None:
                    return ptr is not None or os.path.isdir(stats)
                return ptr != before["ptr"]

            out.append(Call(name, "write", run, visible, (p[index],), sz.get(payload, 0)))

        def read(name, fn):
            out.append(Call(name, "read", fn))

        def ivf_read(batch_id=None):
            if batch_id:
                read("ivf.read_at", lambda: read_ivf_codes_at(spark, p["ivf"], batch_id))
            else:
                read("ivf.read", lambda: read_ivf_codes(spark, p["ivf"]))

        def bm25_read():
            terms = ctx.extra["terms"]
            read("bm25.topk", lambda: retrieval_bm25_topk_from_postings(spark, p["bm25"], terms=terms))

        # fmt: off
        write("ivf.build", "ivf", lambda: build_ivf_index(spark, rd(f["emb_base"]), p["ivf"], models=models), "emb_base")
        write("bm25.build", "bm25", lambda: write_bm25_postings(spark, None, p["bm25"], docs=rd(f["doc_base"])), "doc_base")
        write("ivf.append", "ivf", lambda: append_ivf_index(spark, rd(f["emb_b1"]), p["ivf"], batch_id="b1"), "emb_b1")
        ivf_read("b1")
        write("bm25.append", "bm25", lambda: append_bm25_postings(spark, None, p["bm25"], batch_id="b1", docs=rd(f["doc_b1"])), "doc_b1")
        write("ivf.upsert", "ivf", lambda: upsert_ivf_index(spark, rd(f["emb_up_old"]), rd(f["emb_up_new"]), p["ivf"], "u1"), "emb_up_new")
        out.append(Call("pointer.before_compact", "probe", lambda: self._roots(ctx, p)))
        write("ivf.compact", "ivf", lambda: compact_ivf_codes(spark, p["ivf"]))
        out.append(Call("pointer.after_compact", "probe", lambda: self._roots(ctx, p)))
        ivf_read()
        bm25_read()
        # fmt: on
        q, sf = registry.all_queries(), ctx.extra["sf_dir"]
        for n in self.drains:
            out.append(Call(n, "drain", (lambda fn=q[n]: fn(spark, sf))))
        return out

    def _roots(self, ctx: Ctx, p: dict[str, str]) -> None:
        """Record the roots a read of the IVF index (the one the schedule
        compacts) opens, code roots and tombstones, and its bytes on
        disk.  The gate's from-scratch build is its live data."""
        from newspapers_etl_spark.sinks.verified import current_pointer

        ptr = current_pointer(os.path.join(p["ivf"], "stats")) or {}
        batches = ptr.get("live_batches", ptr.get("applied_batches", []))
        roots = 1 + len(batches) + len(ptr.get("live_tombstones", []))
        ctx.extra.setdefault("roots", []).append(
            {"live_roots": roots, "bytes": _dir_bytes(p["ivf"])}
        )

    def end_pass(self, ctx: Ctx, pass_no: int) -> None:
        ctx.extra["last_pass"] = pass_no
        shutil.rmtree(os.path.join(ctx.work, f"inc-p{pass_no - 1}"), ignore_errors=True)

    def _final(self, ctx: Ctx):
        """The rows each index should hold after the schedule."""
        from pyspark.sql import functions as F

        spark, f = ctx.spark, ctx.extra["files"]
        gone = [int(i) for i in (*ctx.extra["del_ids"], *ctx.extra["up_ids"])]
        emb = spark.read.parquet(f["emb_base"], f["emb_b1"])
        emb = emb.filter(~F.col("vec_id").isin(gone))
        return {
            "emb": emb.unionByName(spark.read.parquet(f["emb_up_new"])),
            "doc": spark.read.parquet(f["doc_base"], f["doc_b1"]),
        }

    def gate(self, ctx: Ctx, outputs: dict) -> list[Check]:
        """The final indexes against from-scratch builds over the same
        final rows under the same frozen models, plus the drain oracle."""
        from newspapers_etl_spark.operators.ivf_maintenance import (
            build_ivf_index,
            codes_fingerprint,
            read_ivf_codes,
        )
        from newspapers_etl_spark.operators.retrieval import (
            retrieval_bm25_topk_from_postings,
            write_bm25_postings,
        )

        spark = ctx.spark
        p = self._paths(ctx, ctx.extra["last_pass"])
        ref = os.path.join(ctx.work, "ref")
        final = self._final(ctx)

        def codes(path):
            return codes_fingerprint(read_ivf_codes(spark, path)).toPandas()

        def ivf():
            dest = os.path.join(ref, "ivf")
            build_ivf_index(spark, final["emb"], dest, models=ctx.extra["models"])
            ctx.extra["live_bytes"] = _dir_bytes(dest)
            return same_rows(codes(p["ivf"]), codes(dest))

        def bm25():
            """The pass's last top-k read (no BM25 write follows it) against
            the same probe on a rebuild.  Scores do not depend on the shard
            count; a small one keeps the rebuild cheap."""
            dest = os.path.join(ref, "bm25")
            write_bm25_postings(spark, None, dest, shards=8, docs=final["doc"])
            want = retrieval_bm25_topk_from_postings(
                spark, dest, terms=ctx.extra["terms"], shards=8
            )
            return same_rows(outputs["bm25.topk"], want.toPandas())

        checks = []
        for name, fn in (("ivf.final_codes", ivf), ("bm25.final_topk", bm25)):
            try:
                ok, detail = fn()
            except Exception as e:  # a crash is a failed check, never dropped
                ok, detail = False, f"{type(e).__name__}: {e}"[:300]
            checks.append(Check(name, ok, detail))
        shutil.rmtree(ref, ignore_errors=True)
        return checks + oracle_checks(
            ctx.extra["sf_dir"], {n: outputs.get(n) for n in self.drains}
        )


WORKLOADS = {w.name: w for w in (DedupSearch(), Incremental())}
