"""Crash seams of the single ledgered publish path, for both index
kinds and both batch ops.

Each case starts from a copy of one small index per kind (base build
plus one append ``b0``, so a pointer exists), injects a crash at one
pointer seam of an add or a delete, and checks two things:

- after the crash, readers see exactly the pre-op index: the same
  codes (IVF) or the same top-k (BM25), and the same pointer;
- a plain retry then converges bit for bit to a run that never
  crashed: same read-back rows and the same pointer text.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table

BASE = "{k} % 4 < 3 OR {k} IS NULL"
B0 = "{k} % 8 = 3"
B1 = "{k} % 8 = 7"
DEL = "({k} % 4 < 3) AND {k} % 10 = 1"


def _ivf(spark, sf_dir):
    from newspapers_etl_spark.operators.ivf_maintenance import (
        FIT_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        codes_fingerprint,
        delete_from_ivf_index,
        fit_models,
        read_ivf_codes,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    part = lambda p: e.filter(F.expr(p.format(k="vec_id")))  # noqa: E731

    def setup(path):
        build_ivf_index(spark, part(BASE), path, models=models)
        append_ivf_index(spark, part(B0), path, "b0")

    ops = {
        "add": lambda path: append_ivf_index(spark, part(B1), path, "b1"),
        "del": lambda path: delete_from_ivf_index(spark, part(DEL), path, "d1"),
    }

    def read(path):
        return sorted(
            tuple(r) for r in codes_fingerprint(read_ivf_codes(spark, path)).collect()
        )

    return setup, ops, read


def _bm25(spark, sf_dir):
    from newspapers_etl_spark.operators.retrieval import (
        append_bm25_postings,
        delete_bm25_docs,
        retrieval_bm25_topk_from_postings,
        write_bm25_postings,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    part = lambda p: d.filter(F.expr(p.format(k="doc_id")))  # noqa: E731

    def setup(path):
        write_bm25_postings(spark, None, path, docs=part(BASE))
        append_bm25_postings(spark, None, path, batch_id="b0", docs=part(B0))

    ops = {
        "add": lambda path: append_bm25_postings(
            spark, None, path, batch_id="b1", docs=part(B1)
        ),
        "del": lambda path: delete_bm25_docs(spark, part(DEL), path, "d1"),
    }

    def read(path):
        return [
            tuple(r) for r in retrieval_bm25_topk_from_postings(spark, path).collect()
        ]

    return setup, ops, read


def _pointer(path):
    with open(os.path.join(path, "stats", "_CURRENT")) as f:
        return f.read()


@pytest.fixture(scope="module")
def built():
    """Per-module memo: the kinds' helpers (the IVF models are fitted
    once), their set-up indexes and the uncrashed reference results."""
    return {}


def _fresh_index(tmp_path_factory, built, kind, setup, name):
    """A private copy of the kind's set-up index: every case mutates
    its own copy of one build instead of building again.  The index
    holds only relative root names, so a copy is the same index."""
    if ("setup", kind) not in built:
        built["setup", kind] = str(tmp_path_factory.mktemp(kind) / "idx")
        setup(built["setup", kind])
    path = str(tmp_path_factory.mktemp(name) / "idx")
    shutil.copytree(built["setup", kind], path)
    return path


@pytest.mark.heavy
@pytest.mark.parametrize("seam", ["allocate_generation", "publish_generation"])
@pytest.mark.parametrize("op", ["add", "del"])
@pytest.mark.parametrize("kind", ["ivf", "bm25"])
def test_crash_at_seam_is_invisible_and_retry_converges(
    spark, sf_dir, tmp_path_factory, monkeypatch, built, kind, op, seam
):
    from newspapers_etl_spark.sinks import verified

    if ("kit", kind) not in built:
        built["kit", kind] = {"ivf": _ivf, "bm25": _bm25}[kind](spark, sf_dir)
    setup, ops, read = built["kit", kind]
    if ("ref", kind, op) not in built:
        ref = _fresh_index(tmp_path_factory, built, kind, setup, f"ref-{op}")
        ops[op](ref)
        built["ref", kind, op] = (read(ref), _pointer(ref))
    want_rows, want_ptr = built["ref", kind, op]

    path = _fresh_index(
        tmp_path_factory, built, kind, setup, f"crash-{kind}-{op}-{seam}"
    )
    before_rows, before_ptr = read(path), _pointer(path)
    assert before_rows != want_rows  # the op is visible when it lands

    def boom(*args, **kwargs):
        raise RuntimeError(f"injected crash at {seam}")

    monkeypatch.setattr(verified, seam, boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        ops[op](path)
    monkeypatch.undo()
    assert _pointer(path) == before_ptr
    assert read(path) == before_rows

    ops[op](path)
    assert _pointer(path) == want_ptr
    assert read(path) == want_rows
