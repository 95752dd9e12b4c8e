"""Point-in-time index reads (operators/index_pit.py): oracle parity,
the three-generation walk reconstructing every intermediate view,
read-at-latest == live read, and the honest history boundary (a
compaction refuses the views it folded)."""

import pytest
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table


def _codes_rows(df):
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )


def test_ivf_pit_matches_oracle(spark, sf_dir, oracle):
    from conftest import assert_matches_oracle

    from newspapers_etl_spark.operators.index_pit import (
        IVF_PIT_ORACLE,
        ivf_point_in_time_roundtrip,
    )

    assert_matches_oracle(
        ivf_point_in_time_roundtrip(spark, sf_dir), oracle, IVF_PIT_ORACLE
    )


def _walk(spark, sf_dir, path):
    from newspapers_etl_spark.operators.index_pit import (
        PIT_B1_PRED,
        PIT_B2_PRED,
        PIT_DEL_PRED,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        FIT_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        fit_models,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    build_ivf_index(
        spark, e.filter(F.expr(BASE_PREDICATE)), path, models=models
    )
    append_ivf_index(spark, e.filter(F.expr(PIT_B1_PRED)), path, batch_id="b1")
    delete_from_ivf_index(
        spark,
        e.filter(F.expr(BASE_PREDICATE)).filter(F.expr(PIT_DEL_PRED)),
        path,
        batch_id="d1",
    )
    append_ivf_index(spark, e.filter(F.expr(PIT_B2_PRED)), path, batch_id="b2")
    return e


@pytest.mark.heavy
def test_three_generation_walk_reconstructs_every_view(
    spark, sf_dir, tmp_path
):
    """Each of the three journaled ops is addressable and returns the
    exact view a live reader saw at that moment; the newest equals the
    current read bit-for-bit."""
    from newspapers_etl_spark.operators.index_pit import (
        PIT_B1_PRED,
        PIT_DEL_PRED,
        read_ivf_codes_at,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        read_ivf_codes,
    )

    path = str(tmp_path / "idx")
    e = _walk(spark, sf_dir, path)

    at_b1 = read_ivf_codes_at(spark, path, "b1")
    at_d1 = read_ivf_codes_at(spark, path, "d1")
    at_b2 = read_ivf_codes_at(spark, path, "b2")

    base_or_b1 = e.filter(
        F.expr(f"({BASE_PREDICATE}) OR ({PIT_B1_PRED})")
    ).filter(F.col("embedding").isNotNull())
    deleted = e.filter(F.expr(BASE_PREDICATE)).filter(F.expr(PIT_DEL_PRED))

    assert at_b1.count() == base_or_b1.count()
    assert at_d1.count() == base_or_b1.count() - deleted.count()
    ids_at_d1 = {r["vec_id"] for r in at_d1.select("vec_id").collect()}
    assert not ids_at_d1 & {
        r["vec_id"] for r in deleted.select("vec_id").collect()
    }
    # the view sequence is strictly ordered: b1 ⊂ b2's corpus minus d1
    assert _codes_rows(at_b2) == _codes_rows(read_ivf_codes(spark, path))


@pytest.mark.heavy
def test_history_boundary_refuses_folded_views(spark, sf_dir, tmp_path):
    """Compaction folds roots; every pre-compaction view must REFUSE
    (clear ValueError), never serve the folded approximation — and an
    unknown batch id refuses too."""
    from newspapers_etl_spark.operators.index_pit import read_ivf_codes_at
    from newspapers_etl_spark.operators.ivf_maintenance import (
        compact_ivf_codes,
    )

    path = str(tmp_path / "idx")
    _walk(spark, sf_dir, path)

    with pytest.raises(ValueError, match="no op journal entry"):
        read_ivf_codes_at(spark, path, "never-applied")

    compact_ivf_codes(spark, path)
    with pytest.raises(ValueError, match="predates the last compaction"):
        read_ivf_codes_at(spark, path, "d1")

    # The journal is bounded: the next publish after a root rewrite
    # trims the closed epoch's entries (they reference folded roots the
    # reader refuses anyway), so pointer size is O(ops since the last
    # compaction), not O(ops ever).  The trimmed batch still refuses —
    # as an unknown journal entry now.
    from newspapers_etl_spark.operators.index_pit import PIT_DEL_PRED
    from newspapers_etl_spark.functions.ledger import root_epoch
    from newspapers_etl_spark.operators.ivf_maintenance import append_ivf_index
    from newspapers_etl_spark.sinks.verified import current_pointer

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fresh = e.filter(F.expr(PIT_DEL_PRED)).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    append_ivf_index(spark, fresh, path, batch_id="b3")
    ptr = current_pointer(f"{path}/stats")
    epoch = root_epoch(ptr)
    assert [o["b"] for o in ptr["ops_log"]] == ["b3"]
    assert all(o["ep"] == epoch for o in ptr["ops_log"])
    with pytest.raises(ValueError, match="no op journal entry"):
        read_ivf_codes_at(spark, path, "d1")
    # and the post-rewrite op is itself addressable
    assert read_ivf_codes_at(spark, path, "b3").count() > 0


def test_bm_pit_matches_oracle(spark, sf_dir, oracle):
    from conftest import assert_matches_oracle

    from newspapers_etl_spark.operators.index_pit import (
        BM_PIT_ORACLE,
        bm25_point_in_time_roundtrip,
    )

    assert_matches_oracle(
        bm25_point_in_time_roundtrip(spark, sf_dir), oracle, BM_PIT_ORACLE
    )


@pytest.mark.heavy
def test_pit_scoping_survives_a_reappend_of_deleted_ids(
    spark, sf_dir, tmp_path
):
    """The subtlest point of the root-scoped algebra: ids deleted at d1
    and RE-APPENDED at b2 (a takedown reversal) must be invisible at
    the d1 view but visible again at the b2 view — the d1 tombstone
    covers only the roots that existed when it published, never b2's
    root, and the PIT reconstruction must reproduce that scoping at
    every generation."""
    from newspapers_etl_spark.operators.index_pit import (
        PIT_B1_PRED,
        PIT_DEL_PRED,
        read_ivf_codes_at,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        FIT_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        fit_models,
        read_ivf_codes,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    path = str(tmp_path / "idx")
    build_ivf_index(
        spark, e.filter(F.expr(BASE_PREDICATE)), path, models=models
    )
    deleted = e.filter(F.expr(BASE_PREDICATE)).filter(F.expr(PIT_DEL_PRED))
    append_ivf_index(spark, e.filter(F.expr(PIT_B1_PRED)), path, batch_id="b1")
    delete_from_ivf_index(spark, deleted, path, batch_id="d1")
    append_ivf_index(spark, deleted, path, batch_id="b2")  # reversal

    del_ids = {r["vec_id"] for r in deleted.select("vec_id").collect()}
    assert del_ids, "fixture must delete something"
    at_b1 = {r["vec_id"] for r in read_ivf_codes_at(spark, path, "b1").collect()}
    at_d1 = {r["vec_id"] for r in read_ivf_codes_at(spark, path, "d1").collect()}
    at_b2 = {r["vec_id"] for r in read_ivf_codes_at(spark, path, "b2").collect()}
    assert del_ids <= at_b1          # indexed before the takedown
    assert not (del_ids & at_d1)     # suppressed at the delete view
    assert del_ids <= at_b2          # visible again after the reversal
    assert at_b2 == at_b1            # the reversal restores the b1 set
    live = {r["vec_id"] for r in read_ivf_codes(spark, path).collect()}
    assert at_b2 == live             # read-at-latest == live


@pytest.mark.heavy
def test_bm25_as_of_read_prunes_like_the_live_read(spark, sf_dir, tmp_path):
    """'An as-of read costs exactly what the live read cost' is a plan
    claim, not just prose: the reconstructed union must still prune the
    scan to the query terms' shards (PartitionFilters on term_shard in
    every branch) with the term predicate pushed."""
    from newspapers_etl_spark.operators.index_pit import (
        BM_PIT_B1_PRED,
        retrieval_bm25_topk_at,
    )
    from newspapers_etl_spark.operators.retrieval import (
        append_bm25_postings,
        write_bm25_postings,
    )

    path = str(tmp_path / "idx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_bm25_postings(
        spark, None, path, docs=docs.filter(~F.expr(BM_PIT_B1_PRED))
    )
    append_bm25_postings(
        spark, None, path,
        batch_id="b1", docs=docs.filter(F.expr(BM_PIT_B1_PRED)),
    )
    df = retrieval_bm25_topk_at(spark, path, "b1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_shard" in plan
    assert "PushedFilters" in plan


@pytest.mark.heavy
def test_bm25_as_of_read_replays_the_live_ranking(spark, sf_dir, tmp_path):
    """The as-of ranking equals the live ranking captured at that
    moment (same roots, same journaled stats), and read-at-latest
    equals the current live read — the scored-query reproducibility
    contract."""
    from newspapers_etl_spark.operators.index_pit import (
        BM_PIT_B1_PRED,
        BM_PIT_B2_PRED,
        BM_PIT_BASE,
        BM_PIT_DEL_PRED,
        retrieval_bm25_topk_at,
    )
    from newspapers_etl_spark.operators.retrieval import (
        append_bm25_postings,
        delete_bm25_docs,
        retrieval_bm25_topk_from_postings,
        write_bm25_postings,
    )

    path = str(tmp_path / "idx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_bm25_postings(
        spark, None, path, docs=docs.filter(F.expr(BM_PIT_BASE))
    )
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
    live_at_d1 = [
        (r["doc_id"], r["score"])
        for r in retrieval_bm25_topk_from_postings(spark, path).collect()
    ]
    append_bm25_postings(
        spark, None, path,
        batch_id="b2", docs=docs.filter(F.expr(BM_PIT_B2_PRED)),
    )
    as_of_d1 = [
        (r["doc_id"], r["score"])
        for r in retrieval_bm25_topk_at(spark, path, "d1").collect()
    ]
    assert as_of_d1 == live_at_d1
    as_of_b2 = [
        (r["doc_id"], r["score"])
        for r in retrieval_bm25_topk_at(spark, path, "b2").collect()
    ]
    live_now = [
        (r["doc_id"], r["score"])
        for r in retrieval_bm25_topk_from_postings(spark, path).collect()
    ]
    assert as_of_b2 == live_now


@pytest.mark.heavy
def test_ambiguous_batch_id_refuses_until_op_named(spark, sf_dir, tmp_path):
    """The append and delete idempotency ledgers are separate, so one
    raw batch id can legally publish BOTH an append and a delete
    (ADVICE r14 #2).  A PIT read of that id must refuse as ambiguous —
    resolving "first journal match" would silently reconstruct the
    wrong op's view — and serve each view once ``op`` names it:
    op='add' sees the appended rows (delete not yet applied), op='del'
    sees them suppressed."""
    from newspapers_etl_spark.operators.index_pit import (
        PIT_B1_PRED,
        read_ivf_codes_at,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        FIT_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        fit_models,
    )

    path = str(tmp_path / "idx")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    models = fit_models(e.filter(F.expr(FIT_PREDICATE)))
    base = e.filter(F.expr(BASE_PREDICATE))
    b1 = e.filter(F.expr(PIT_B1_PRED))
    build_ivf_index(spark, base, path, models=models)
    # Same raw id through both ledgers: append b1, then delete it.
    append_ivf_index(spark, b1, path, batch_id="x")
    delete_from_ivf_index(spark, b1, path, batch_id="x")

    with pytest.raises(ValueError, match="ambiguous"):
        read_ivf_codes_at(spark, path, "x")
    n_base = base.filter(F.col("embedding").isNotNull()).count()
    n_b1 = b1.filter(F.col("embedding").isNotNull()).count()
    assert read_ivf_codes_at(spark, path, "x", op="add").count() == (
        n_base + n_b1
    )
    assert read_ivf_codes_at(spark, path, "x", op="del").count() == n_base
    with pytest.raises(ValueError, match="no op journal entry"):
        read_ivf_codes_at(spark, path, "nope")


@pytest.mark.heavy
def test_retained_compaction_keeps_every_prior_view_readable(
    spark, sf_dir, tmp_path
):
    """keep_old_roots=True retains the epoch a compaction closes
    (VERDICT r14 #5): every pre-compaction view — mid-epoch b1, the
    delete d1 — reconstructs bit-identically to what a live read
    returned at that moment, the live read serves the compacted root,
    and the journal is NOT trimmed by the next publish (the retained
    epoch's entries stay served)."""
    from newspapers_etl_spark.operators.index_pit import (
        PIT_B1_PRED,
        PIT_B2_PRED,
        PIT_DEL_PRED,
        read_ivf_codes_at,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        compact_ivf_codes,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks.verified import current_pointer

    path = str(tmp_path / "idx")
    e = _walk(spark, sf_dir, path)
    # Live snapshots BEFORE the rewrite, collected as sorted id lists.
    at_b1_live = sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "b1").collect()
    )
    at_d1_live = sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "d1").collect()
    )

    compact_ivf_codes(spark, path, keep_old_roots=True)
    append_ivf_index(
        spark,
        e.filter(F.expr(PIT_DEL_PRED)).select(
            (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
        ),
        path,
        batch_id="b3",
    )

    ptr = current_pointer(f"{path}/stats")
    assert list(ptr["retained_epochs"]) == ["0.0"]
    # Journal keeps the retained epoch's entries through the b3 publish.
    assert [o["b"] for o in ptr["ops_log"]] == ["b1", "d1", "b2", "b3"]
    # Pre-rewrite views reconstruct identically.
    assert sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "b1").collect()
    ) == at_b1_live
    assert sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "d1").collect()
    ) == at_d1_live
    # The live read serves the compacted root + b3.
    n_live = read_ivf_codes(spark, path).count()
    base = e.filter(F.expr(BASE_PREDICATE))
    nn = lambda df: df.filter(F.col("embedding").isNotNull()).count()
    expected = (
        nn(base)
        + nn(e.filter(F.expr(PIT_B1_PRED)))
        - nn(base.filter(F.expr(PIT_DEL_PRED)))
        + nn(e.filter(F.expr(PIT_B2_PRED)))
        + nn(e.filter(F.expr(PIT_DEL_PRED)))
    )
    assert n_live == expected


@pytest.mark.heavy
def test_reap_retained_epochs_moves_the_horizon(spark, sf_dir, tmp_path):
    """The GC half of retention: reap(keep=0) drops the retained epoch
    — its batch/tombstone roots and pre-rewrite base leave disk, its
    journal entries truncate in the same pointer write, and a PIT read
    inside it refuses as 'no op journal entry' (the horizon moved) —
    while the live read is untouched."""
    import os

    from newspapers_etl_spark.operators.index_pit import (
        read_ivf_codes_at,
        reap_retained_epochs,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        compact_ivf_codes,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks.verified import current_pointer

    path = str(tmp_path / "idx")
    _walk(spark, sf_dir, path)
    compact_ivf_codes(spark, path, keep_old_roots=True)
    assert read_ivf_codes_at(spark, path, "d1").count() > 0
    live_before = read_ivf_codes(spark, path).count()

    assert reap_retained_epochs(path, keep=1) == []  # inside the window
    assert reap_retained_epochs(path, keep=0) == ["0.0"]

    ptr = current_pointer(f"{path}/stats")
    assert ptr["retained_epochs"] == {}
    assert ptr["ops_log"] == []
    assert ptr["reap_roots"] == []
    for name in ("codes", "codes-batch-b1", "codes-batch-b2",
                 "tombs-batch-d1"):
        assert not os.path.exists(os.path.join(path, name)), name
    with pytest.raises(ValueError, match="no op journal entry"):
        read_ivf_codes_at(spark, path, "d1")
    assert read_ivf_codes(spark, path).count() == live_before
    # Idempotent on an empty retention set.
    assert reap_retained_epochs(path, keep=0) == []


@pytest.mark.heavy
def test_retained_rebuild_serves_pre_rebuild_views(spark, sf_dir, tmp_path):
    """rebuild_ivf_index(keep_old_roots=True) retains the epoch it
    closes exactly like a retained compaction — pre-rebuild views stay
    readable (the OLD codes under the OLD model: bytes are bytes) while
    the live read serves the refit index — and the maintenance heals
    (orphan-rebuild/tombstone reapers) must not eat the retained roots
    on the next maintenance call."""
    from newspapers_etl_spark.operators.index_pit import (
        read_ivf_codes_at,
    )
    from newspapers_etl_spark.operators.ivf_maintenance import (
        compact_ivf_codes,
        read_ivf_codes,
        rebuild_ivf_index,
    )

    path = str(tmp_path / "idx")
    e = _walk(spark, sf_dir, path)
    at_d1 = sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "d1").collect()
    )
    rebuild_ivf_index(spark, e, path, keep_old_roots=True)
    assert sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "d1").collect()
    ) == at_d1
    live = read_ivf_codes(spark, path).count()
    assert live == len(at_d1) + (
        e.filter(F.expr("vec_id % 8 = 7"))
        .filter(F.col("embedding").isNotNull())
        .count()
    )
    # A further maintenance step runs the orphan heals; the retained
    # epoch must survive them (reap_orphan_rebuilds/tombstones consult
    # retained_epochs).
    compact_ivf_codes(spark, path)
    assert sorted(
        r["vec_id"] for r in read_ivf_codes_at(spark, path, "d1").collect()
    ) == at_d1


@pytest.mark.heavy
def test_reap_retained_epochs_bm25_flavor(spark, sf_dir, tmp_path):
    """The reaper detects the posting-index flavor from the pointer's
    root key: after reap(keep=0) the retained BM25 epoch's roots leave
    disk, the as-of read refuses, and the live scored read still
    works."""
    import os

    from newspapers_etl_spark.operators.index_pit import (
        BM_PIT_BASE,
        BM_PIT_DEL_PRED,
        reap_retained_epochs,
        retrieval_bm25_topk_at,
    )
    from newspapers_etl_spark.operators.retrieval import (
        compact_bm25_postings,
        delete_bm25_docs,
        retrieval_bm25_topk_from_postings,
        write_bm25_postings,
    )

    path = str(tmp_path / "idx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_bm25_postings(
        spark, None, path, docs=docs.filter(F.expr(BM_PIT_BASE))
    )
    delete_bm25_docs(
        spark,
        docs.filter(F.expr(BM_PIT_BASE)).filter(F.expr(BM_PIT_DEL_PRED)),
        path,
        batch_id="d1",
    )
    compact_bm25_postings(spark, path, keep_old_roots=True)
    assert retrieval_bm25_topk_at(spark, path, "d1").count() > 0

    assert reap_retained_epochs(path, keep=0) == ["0.0"]
    assert not os.path.exists(os.path.join(path, "tombs-batch-d1"))
    with pytest.raises(ValueError, match="no op journal entry"):
        retrieval_bm25_topk_at(spark, path, "d1")
    assert retrieval_bm25_topk_from_postings(spark, path).count() > 0
