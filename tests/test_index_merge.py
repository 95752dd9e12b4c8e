"""Shard-parallel IVF build + merge (operators/index_merge.py):
merged-equals-single-build bit-for-bit, frozen-model mismatch refusal,
pointer-aware shard reads, and composition with maintenance ops on the
merged index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table


def _codes_rows(df):
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )


def _stats_rows(df):
    return sorted(
        (r["cell"], r["n"], tuple(round(x, 9) for x in r["svec"]))
        for r in df.collect()
    )


def _shards(e):
    return e.filter(F.col("vec_id") % 2 == 0), e.filter(
        F.col("vec_id") % 2 != 0
    )


@pytest.mark.heavy
def test_merge_equals_single_build_bit_for_bit(spark, sf_dir, tmp_path):
    """Sharding changes WHERE a row is encoded, never WHAT it encodes
    to: the merged index's codes AND combinable stats pair must equal a
    single-pass build over the undivided corpus exactly."""
    from newspapers_etl_spark.operators.index_merge import merge_ivf_indexes
    from newspapers_etl_spark.operators.ivf_maintenance import (
        FIT_PREDICATE,
        build_ivf_index,
        fit_models,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks.verified import read_current

    e = load_table(spark, sf_dir, "embeddings")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    even, odd = _shards(e)

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(spark, even, pa, models=models)
    build_ivf_index(spark, odd, pb, models=models)
    merged = str(tmp_path / "merged")
    merge_ivf_indexes(spark, [pa, pb], merged)

    full = str(tmp_path / "full")
    build_ivf_index(spark, e, full, models=models)

    assert _codes_rows(read_ivf_codes(spark, merged)) == _codes_rows(
        read_ivf_codes(spark, full)
    )
    assert _stats_rows(read_current(spark, f"{merged}/stats")) == _stats_rows(
        read_current(spark, f"{full}/stats")
    )


@pytest.mark.heavy
def test_merge_refuses_mismatched_frozen_models(spark, sf_dir, tmp_path):
    """Merging code relations encoded under DIFFERENT quantizers would
    produce an index valid under neither model — the merge must refuse,
    not silently union."""
    from newspapers_etl_spark.operators.index_merge import merge_ivf_indexes
    from newspapers_etl_spark.operators.ivf_maintenance import (
        FIT_PREDICATE,
        build_ivf_index,
        fit_models,
    )

    e = load_table(spark, sf_dir, "embeddings")
    even, odd = _shards(e)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    # shard A under the standard fit slice, shard B under a DIFFERENT
    # fit slice -> different frozen models
    build_ivf_index(
        spark, even, pa, models=fit_models(e.filter(F.expr(FIT_PREDICATE)))
    )
    build_ivf_index(
        spark, odd, pb, models=fit_models(e.filter("vec_id % 8 = 1"))
    )
    with pytest.raises(ValueError, match="different frozen model"):
        merge_ivf_indexes(spark, [pa, pb], str(tmp_path / "merged"))


@pytest.mark.heavy
def test_merge_reads_maintained_shards_through_pointer(
    spark, sf_dir, tmp_path
):
    """A shard that has since been APPENDED to is read through its
    generation pointer (base + live batches), so merging maintained
    shards equals a single build over everything they now contain."""
    from newspapers_etl_spark.operators.index_merge import merge_ivf_indexes
    from newspapers_etl_spark.operators.ivf_maintenance import (
        FIT_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        fit_models,
        read_ivf_codes,
    )

    e = load_table(spark, sf_dir, "embeddings")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    even, odd = _shards(e)
    # shard A starts with only vec_id % 4 == 0 and gets the other even
    # half as an append batch
    a0 = even.filter(F.col("vec_id") % 4 == 0)
    a1 = even.filter(F.col("vec_id") % 4 != 0)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(spark, a0, pa, models=models)
    append_ivf_index(spark, a1, pa, batch_id="b1")
    build_ivf_index(spark, odd, pb, models=models)

    merged = str(tmp_path / "merged")
    merge_ivf_indexes(spark, [pa, pb], merged)
    full = str(tmp_path / "full")
    build_ivf_index(spark, e, full, models=models)
    assert _codes_rows(read_ivf_codes(spark, merged)) == _codes_rows(
        read_ivf_codes(spark, full)
    )


@pytest.mark.heavy
def test_merged_index_composes_with_maintenance(spark, sf_dir, tmp_path):
    """The merged layout is a first-class index: a later append lands
    through the standard pointer machinery and the read unions it in."""
    from newspapers_etl_spark.operators.index_merge import merge_ivf_indexes
    from newspapers_etl_spark.operators.ivf_maintenance import (
        FIT_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        fit_models,
        read_ivf_codes,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    held_out = e.filter(F.col("vec_id") % 10 == 9)
    rest = e.filter(F.col("vec_id") % 10 != 9)
    even, odd = _shards(rest)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(spark, even, pa, models=models)
    build_ivf_index(spark, odd, pb, models=models)
    merged = str(tmp_path / "merged")
    merge_ivf_indexes(spark, [pa, pb], merged)

    append_ivf_index(spark, held_out, merged, batch_id="late")
    got = {r["vec_id"] for r in read_ivf_codes(spark, merged).collect()}
    want = {r["vec_id"] for r in e.select("vec_id").collect()}
    assert got == want


# ---------------------------------------------------------------------------
# BM25 twin: merge_bm25_indexes
# ---------------------------------------------------------------------------


def _posting_rows(df):
    return sorted(
        (r["doc_id"], r["term"], r["tf"], r["dl"], r["term_shard"])
        for r in df.collect()
    )


def _read_postings(spark, path):
    from newspapers_etl_spark.functions.ledger import BM25, live_roots
    from newspapers_etl_spark.sinks.verified import (
        current_pointer,
        tombstoned_union,
    )

    ptr = current_pointer(f"{path}/stats")
    return tombstoned_union(
        spark, path, ptr, live_roots(BM25, ptr), "doc_id"
    )


def _doc_halves(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.filter(F.col("doc_id") % 2 == 0), d.filter(
        F.col("doc_id") % 2 != 0
    )


@pytest.mark.heavy
def test_bm25_merge_equals_single_build(spark, sf_dir, tmp_path):
    """Merged postings, merged (n, sum_dl) pair AND the scored top-k
    must equal a single-pass write over the undivided corpus — df needs
    no reconciling because it is derived at query time."""
    from newspapers_etl_spark.operators.index_merge import merge_bm25_indexes
    from newspapers_etl_spark.operators.retrieval import (
        retrieval_bm25_topk_from_postings,
        write_bm25_postings,
    )
    from newspapers_etl_spark.sinks.verified import read_current

    even, odd = _doc_halves(spark, sf_dir)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bm25_postings(spark, None, pa, docs=even)
    write_bm25_postings(spark, None, pb, docs=odd)
    merged = str(tmp_path / "merged")
    merge_bm25_indexes(spark, [pa, pb], merged)

    full = str(tmp_path / "full")
    write_bm25_postings(spark, sf_dir, full)

    assert _posting_rows(_read_postings(spark, merged)) == _posting_rows(
        _read_postings(spark, full)
    )
    assert read_current(spark, f"{merged}/stats").collect() == read_current(
        spark, f"{full}/stats"
    ).collect()
    got = retrieval_bm25_topk_from_postings(spark, merged).collect()
    want = retrieval_bm25_topk_from_postings(spark, full).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.heavy
def test_bm25_merge_normalizes_mixed_shard_counts(spark, sf_dir, tmp_path):
    """term_shard is RECOMPUTED on the way through the merge, so shard
    indexes written with different shard counts still merge into one
    consistent layout — every term's postings in exactly one output
    shard (the invariant query-time df depends on)."""
    from newspapers_etl_spark.operators.index_merge import merge_bm25_indexes
    from newspapers_etl_spark.operators.retrieval import write_bm25_postings

    even, odd = _doc_halves(spark, sf_dir)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bm25_postings(spark, None, pa, docs=even, shards=4)
    write_bm25_postings(spark, None, pb, docs=odd, shards=16)
    merged = str(tmp_path / "merged")
    merge_bm25_indexes(spark, [pa, pb], merged)

    full = str(tmp_path / "full")
    write_bm25_postings(spark, sf_dir, full)
    assert _posting_rows(_read_postings(spark, merged)) == _posting_rows(
        _read_postings(spark, full)
    )
    per_term = (
        _read_postings(spark, merged)
        .groupBy("term")
        .agg(F.countDistinct("term_shard").alias("ns"))
        .agg(F.max("ns"))
        .collect()[0][0]
    )
    assert per_term == 1


@pytest.mark.heavy
def test_bm25_merge_reads_maintained_shard_through_pointer(
    spark, sf_dir, tmp_path
):
    """A shard index that has since taken an append merges through its
    pointer (base + live batch roots) — merged equals a single build
    over everything the shards now contain."""
    from newspapers_etl_spark.operators.index_merge import merge_bm25_indexes
    from newspapers_etl_spark.operators.retrieval import (
        append_bm25_postings,
        write_bm25_postings,
    )

    even, odd = _doc_halves(spark, sf_dir)
    a0 = even.filter(F.col("doc_id") % 4 == 0)
    a1 = even.filter(F.col("doc_id") % 4 != 0)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bm25_postings(spark, None, pa, docs=a0)
    append_bm25_postings(spark, None, pa, batch_id="b1", docs=a1)
    write_bm25_postings(spark, None, pb, docs=odd)

    merged = str(tmp_path / "merged")
    merge_bm25_indexes(spark, [pa, pb], merged)
    full = str(tmp_path / "full")
    write_bm25_postings(spark, sf_dir, full)
    assert _posting_rows(_read_postings(spark, merged)) == _posting_rows(
        _read_postings(spark, full)
    )


@pytest.mark.heavy
def test_bmmrg_registered_query_matches_oracle(spark, sf_dir, oracle):
    """The registered bmmrg roundtrip (shard builds → merge → pruned
    scoring read) must hash-equal the direct undivided-corpus BM25
    replay — the same oracle the bm25 query carries, which is the whole
    claim: merging disjoint-half indexes is invisible to scoring."""
    from conftest import assert_matches_oracle

    from newspapers_etl_spark.operators.index_merge import (
        BMMRG_ORACLE,
        bm25_shard_merge_roundtrip,
    )

    assert_matches_oracle(
        bm25_shard_merge_roundtrip(spark, sf_dir), oracle, BMMRG_ORACLE
    )
