"""On-disk format pins for both maintained indexes: the whole
``stats/_CURRENT`` pointer text and the directory names under the
index root, after one fixed maintenance walk per index kind.

The walk is build → append ``b1`` → empty delete ``d0`` → delete
``d1`` → upsert ``u1`` → compact, at sf0.001.  The pointer is pinned
byte for byte twice: after the upsert (live tombstones and their
cover scopes are still recorded) and after the compaction (which
resets them).  Any drift in pointer keys, key order, values, journal
entries or root names fails here, whatever code path produced it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table

BASE = "{k} % 4 < 3 OR {k} IS NULL"
DEL = "({k} % 4 < 3) AND {k} % 10 = 1"
UP = "{k} % 8 = 3"


def _snapshot(path: str) -> tuple[str, list[str], list[str]]:
    with open(os.path.join(path, "stats", "_CURRENT")) as f:
        ptr = f.read()

    def names(d):
        # dot entries are checksum side files with random part names
        return sorted(n for n in os.listdir(d) if not n.startswith("."))

    return ptr, names(path), names(os.path.join(path, "stats"))


def _walk(spark, sf_dir: str, kind: str, path: str) -> list[tuple]:
    """Run the fixed walk for ``kind`` ("ivf" or "bm25") at ``path``;
    return the (pointer text, root names, stats names) snapshots taken
    before and after the compaction."""
    if kind == "ivf":
        from newspapers_etl_spark.operators.ivf_maintenance import (
            FIT_PREDICATE,
            append_ivf_index,
            build_ivf_index,
            compact_ivf_codes,
            delete_from_ivf_index,
            fit_models,
            upsert_ivf_index,
        )

        k = "vec_id"
        e = load_table(spark, sf_dir, "embeddings").select(k, "embedding")
        models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
        build_ivf_index(
            spark, e.filter(F.expr(BASE.format(k=k))), path, models=models
        )
        append_ivf_index(spark, e.filter(~F.expr(BASE.format(k=k))), path, "b1")
        delete_from_ivf_index(spark, e.limit(0), path, "d0")
        delete_from_ivf_index(spark, e.filter(F.expr(DEL.format(k=k))), path, "d1")
        old = e.filter(F.expr(UP.format(k=k)))
        new = old.select(k, F.reverse("embedding").alias("embedding"))
        upsert_ivf_index(spark, old, new, path, "u1")
        pre = _snapshot(path)
        compact_ivf_codes(spark, path)
    else:
        from newspapers_etl_spark.operators.retrieval import (
            append_bm25_postings,
            compact_bm25_postings,
            delete_bm25_docs,
            upsert_bm25_docs,
            write_bm25_postings,
        )

        k = "doc_id"
        d = load_table(spark, sf_dir, "documents").select(k, "text")
        write_bm25_postings(spark, None, path, docs=d.filter(F.expr(BASE.format(k=k))))
        append_bm25_postings(
            spark, None, path, batch_id="b1", docs=d.filter(~F.expr(BASE.format(k=k)))
        )
        delete_bm25_docs(spark, d.limit(0), path, "d0")
        delete_bm25_docs(spark, d.filter(F.expr(DEL.format(k=k))), path, "d1")
        old = d.filter(F.expr(UP.format(k=k)))
        new = old.select(k, F.concat("text", F.lit(" "), "text").alias("text"))
        upsert_bm25_docs(spark, old, new, path, "u1")
        pre = _snapshot(path)
        compact_bm25_postings(spark, path)
    return [pre, _snapshot(path)]


# Captured from one run of the walk above.
IVF_PRE_PTR = (
    '{"applied_batches": ["b1", "u1.add"], "live_batches": ["b1", '
    '"u1.add"], "ops_log": [{"g": 1, "op": "add", "b": "b1", "r": true,'
    ' "ep": "0.0"}, {"g": 1, "op": "del", "b": "d0", "r": false, "ep": '
    '"0.0"}, {"g": 2, "op": "del", "b": "d1", "r": true, "ep": "0.0"}, '
    '{"g": 3, "op": "del", "b": "u1.del", "r": true, "ep": "0.0"}, '
    '{"g": 4, "op": "add", "b": "u1.add", "r": true, "ep": "0.0"}], '
    '"applied_deletes": ["d0", "d1", "u1.del"], "live_tombstones": '
    '["d1", "u1.del"], "tombstone_covers": {"d1": ["codes", '
    '"codes-batch-b1"], "u1.del": ["codes", "codes-batch-b1"]}, '
    '"generation": 4, "dir": "_gen-00000004"}'
)
IVF_PRE_ROOTS = [
    'codes',
    'codes-batch-b1',
    'codes-batch-u1.add',
    'model',
    'stats',
    'tombs-batch-d1',
    'tombs-batch-u1.del',
]
IVF_PRE_STATS = ['_CURRENT', '_SUCCESS', '_gen-00000004']
IVF_POST_PTR = (
    '{"applied_batches": ["b1", "u1.add"], "live_batches": [], '
    '"ops_log": [{"g": 1, "op": "add", "b": "b1", "r": true, "ep": '
    '"0.0"}, {"g": 1, "op": "del", "b": "d0", "r": false, "ep": "0.0"},'
    ' {"g": 2, "op": "del", "b": "d1", "r": true, "ep": "0.0"}, {"g": '
    '3, "op": "del", "b": "u1.del", "r": true, "ep": "0.0"}, {"g": 4, '
    '"op": "add", "b": "u1.add", "r": true, "ep": "0.0"}], '
    '"applied_deletes": ["d0", "d1", "u1.del"], "live_tombstones": [], '
    '"tombstone_covers": {}, "generation": 4, "dir": "_gen-00000004", '
    '"codes_root": "codes-compact-0001", "compactions": 1, '
    '"reap_roots": []}'
)
IVF_POST_ROOTS = ['codes-compact-0001', 'model', 'stats']
IVF_POST_STATS = ['_CURRENT', '_SUCCESS', '_gen-00000004']

BM25_PRE_PTR = (
    '{"applied_batches": ["b1", "u1.add"], "live_batches": ["b1", '
    '"u1.add"], "ops_log": [{"g": 1, "op": "add", "b": "b1", "r": true,'
    ' "ep": "0.0", "n": 500.0, "sum_dl": 27939.0}, {"g": 1, "op": '
    '"del", "b": "d0", "r": false, "ep": "0.0", "n": null, "sum_dl": '
    'null}, {"g": 2, "op": "del", "b": "d1", "r": true, "ep": "0.0", '
    '"n": 475.0, "sum_dl": 26498.0}, {"g": 3, "op": "del", "b": '
    '"u1.del", "r": true, "ep": "0.0", "n": 412.0, "sum_dl": 22780.0}, '
    '{"g": 4, "op": "add", "b": "u1.add", "r": true, "ep": "0.0", "n": '
    '475.0, "sum_dl": 30216.0}], "applied_deletes": ["d0", "d1", '
    '"u1.del"], "live_tombstones": ["d1", "u1.del"], '
    '"tombstone_covers": {"d1": ["postings", "postings-batch-b1"], '
    '"u1.del": ["postings", "postings-batch-b1"]}, "generation": 4, '
    '"dir": "_gen-00000004"}'
)
BM25_PRE_ROOTS = [
    'postings',
    'postings-batch-b1',
    'postings-batch-u1.add',
    'stats',
    'tombs-batch-d1',
    'tombs-batch-u1.del',
]
BM25_PRE_STATS = ['_CURRENT', '_SUCCESS', '_gen-00000004']
BM25_POST_PTR = (
    '{"applied_batches": ["b1", "u1.add"], "live_batches": [], '
    '"ops_log": [{"g": 1, "op": "add", "b": "b1", "r": true, "ep": '
    '"0.0", "n": 500.0, "sum_dl": 27939.0}, {"g": 1, "op": "del", "b": '
    '"d0", "r": false, "ep": "0.0", "n": null, "sum_dl": null}, {"g": '
    '2, "op": "del", "b": "d1", "r": true, "ep": "0.0", "n": 475.0, '
    '"sum_dl": 26498.0}, {"g": 3, "op": "del", "b": "u1.del", "r": '
    'true, "ep": "0.0", "n": 412.0, "sum_dl": 22780.0}, {"g": 4, "op": '
    '"add", "b": "u1.add", "r": true, "ep": "0.0", "n": 475.0, '
    '"sum_dl": 30216.0}], "applied_deletes": ["d0", "d1", "u1.del"], '
    '"live_tombstones": [], "tombstone_covers": {}, "generation": 4, '
    '"dir": "_gen-00000004", "postings_root": "postings-compact-0001", '
    '"compactions": 1, "reap_roots": []}'
)
BM25_POST_ROOTS = ['postings-compact-0001', 'stats']
BM25_POST_STATS = ['_CURRENT', '_SUCCESS', '_gen-00000004']


@pytest.mark.parametrize("kind", ["ivf", "bm25"])
def test_pointer_and_root_layout_are_pinned(spark, sf_dir, tmp_path, kind):
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("the pins were captured on the sf0.001 fixture")
    want = {
        "ivf": [
            (IVF_PRE_PTR, IVF_PRE_ROOTS, IVF_PRE_STATS),
            (IVF_POST_PTR, IVF_POST_ROOTS, IVF_POST_STATS),
        ],
        "bm25": [
            (BM25_PRE_PTR, BM25_PRE_ROOTS, BM25_PRE_STATS),
            (BM25_POST_PTR, BM25_POST_ROOTS, BM25_POST_STATS),
        ],
    }[kind]
    got = _walk(spark, sf_dir, kind, str(tmp_path / "idx"))
    assert got == want
