"""IVF index maintenance (operators/ivf_maintenance.py) and
embedding-space drift (operators/embedding_drift.py): append-equals-
rebuild, idempotency, oracle parity, plan pins, planted-shift
sensitivity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table, table_path
from tests.conftest import assert_matches_oracle


def _codes_rows(df):
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )


def _stats_rows(df):
    return sorted(
        (r["cell"], r["n"], tuple(r["svec"])) for r in df.collect()
    )


@pytest.mark.heavy
def test_ivf_append_equals_rebuild_bit_for_bit(spark, sf_dir, tmp_path):
    """The maintenance contract: build-on-base + append-batch must equal
    encode-everything-under-the-same-frozen-model EXACTLY — codes AND
    the combinable per-cell stats pair (integer counts, elementwise
    double sums: merge order cannot move an ulp because addition over
    the (cell, pos) grain is the same set of terms both ways)."""
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks.verified import read_current

    e = load_table(spark, sf_dir, "embeddings")
    base, batch = e.filter(F.expr(BASE_PREDICATE)), e.filter(
        ~F.expr(BASE_PREDICATE)
    )

    incr = str(tmp_path / "incr")
    build_ivf_index(spark, base, incr)
    append_ivf_index(spark, batch, incr, batch_id="b1")

    full = str(tmp_path / "full")
    build_ivf_index(spark, base, full, e_encode=e)

    assert _codes_rows(read_ivf_codes(spark, incr)) == _codes_rows(
        read_ivf_codes(spark, full)
    )
    assert _stats_rows(read_current(spark, f"{incr}/stats")) == _stats_rows(
        spark.read.parquet(f"{full}/stats")
    )


def test_ivf_append_is_idempotent_under_retry(spark, sf_dir, tmp_path):
    """A retry of a fully-applied batch is a no-op (ledger hit): codes
    unchanged, stats unchanged, generation not bumped."""
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks.verified import current_pointer, read_current

    e = load_table(spark, sf_dir, "embeddings")
    base, batch = e.filter(F.expr(BASE_PREDICATE)), e.filter(
        ~F.expr(BASE_PREDICATE)
    )
    path = str(tmp_path / "idx")
    build_ivf_index(spark, base, path)
    append_ivf_index(spark, batch, path, batch_id="b1")

    codes1 = _codes_rows(read_ivf_codes(spark, path))
    stats1 = _stats_rows(read_current(spark, f"{path}/stats"))
    gen1 = current_pointer(f"{path}/stats")["generation"]

    append_ivf_index(spark, batch, path, batch_id="b1")
    assert _codes_rows(read_ivf_codes(spark, path)) == codes1
    assert _stats_rows(read_current(spark, f"{path}/stats")) == stats1
    assert current_pointer(f"{path}/stats")["generation"] == gen1
    assert current_pointer(f"{path}/stats")["applied_batches"] == ["b1"]


@pytest.mark.heavy
def test_ivf_stats_pair_reconstructs_cell_means(spark, sf_dir, tmp_path):
    """The stored (n, svec) pair exists so a centroid REFRESH needs no
    corpus pass: svec/n per cell after the append equals the mean of
    that cell's members computed directly from the union corpus."""
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        _encode,
        _read_model,
        append_ivf_index,
        build_ivf_index,
    )
    from newspapers_etl_spark.sinks.verified import read_current

    e = load_table(spark, sf_dir, "embeddings")
    base, batch = e.filter(F.expr(BASE_PREDICATE)), e.filter(
        ~F.expr(BASE_PREDICATE)
    )
    path = str(tmp_path / "idx")
    build_ivf_index(spark, base, path)
    append_ivf_index(spark, batch, path, batch_id="b1")

    cents, codebook = _read_model(spark, path)
    want = {}
    members = {}
    for r in _encode(e, cents, codebook, with_embedding=True).collect():
        members.setdefault(r["cell"], []).append(
            [float(x) for x in r["embedding"]]
        )
    for cell, vecs in members.items():
        n = len(vecs)
        want[cell] = [sum(col) / n for col in zip(*vecs)]

    for r in read_current(spark, f"{path}/stats").collect():
        got = [s / r["n"] for s in r["svec"]]
        assert got == pytest.approx(want[r["cell"]], rel=1e-12)


def test_ivf_codes_read_prunes_probed_cells(spark, sf_dir, tmp_path):
    """The codes layout exists for the ADC read path: filtering the
    union relation to a probed cell must prune at the PARTITION level
    in every branch (base + batch roots), never list-scan other cells."""
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        read_ivf_codes,
    )

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, e.filter(F.expr(BASE_PREDICATE)), path)
    append_ivf_index(
        spark, e.filter(~F.expr(BASE_PREDICATE)), path, batch_id="b1"
    )
    plan = (
        read_ivf_codes(spark, path)
        .filter(F.col("cell") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("PartitionFilters: [isnotnull(cell#") == 2 or (
        "cell#" in plan and plan.count("PartitionFilters") == 2
    ), plan


def test_ivf_app_matches_oracle(spark, sf_dir, oracle):
    from newspapers_etl_spark.operators.ivf_maintenance import (
        IVF_APP_ORACLE,
        ivf_append_roundtrip,
    )

    assert_matches_oracle(
        ivf_append_roundtrip(spark, sf_dir), oracle, IVF_APP_ORACLE
    )


def test_drift_emb_matches_oracle(spark, sf_dir, oracle):
    from newspapers_etl_spark.operators.embedding_drift import (
        DRIFT_EMB_ORACLE,
        embedding_drift_psi,
    )

    assert_matches_oracle(
        embedding_drift_psi(spark, sf_dir), oracle, DRIFT_EMB_ORACLE
    )


def test_drift_emb_plan_is_single_scan(spark, sf_dir):
    """The monitor's scale contract (the drift_monitor pin, vector
    edition): the RETURNED plan is one corpus scan — the exact fit
    collects its k×d model before plan construction — with window sums
    over the bounded cell histogram, no join back, no document
    shuffle."""
    from newspapers_etl_spark.operators.embedding_drift import (
        embedding_drift_psi,
    )

    plan = (
        embedding_drift_psi(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_drift_emb_detects_planted_shift(spark, tmp_path):
    """Sensitivity: a candidate slice drawn from a DIFFERENT region of
    embedding space must score PSI >> the alert threshold, while an
    identically-distributed split stays near zero (smoothing only)."""
    from newspapers_etl_spark.operators.embedding_drift import (
        embedding_drift_psi,
    )

    dim = 64

    def vec(axis, mag):
        v = [0.0] * dim
        v[axis] = mag
        return v

    # Shifted corpus: even (ref) rows hug axis 0, odd (cand) rows hug
    # axis 1 — after the fit, the two slices occupy disjoint cells.
    shifted = [
        (i, vec(0 if i % 2 == 0 else 1, 1.0 + 0.001 * (i % 7)))
        for i in range(200)
    ]
    sdir = str(tmp_path / "shifted")
    spark.createDataFrame(
        shifted, "vec_id long, embedding array<float>"
    ).write.parquet(table_path(sdir, "embeddings"))
    psi_shift = sum(
        r["psi_part"] for r in embedding_drift_psi(spark, sdir).collect()
    )

    # Control: both slices from the same tight distribution.
    same = [(i, vec(i % 3, 1.0 + 0.001 * (i % 7))) for i in range(200)]
    cdir = str(tmp_path / "same")
    spark.createDataFrame(
        same, "vec_id long, embedding array<float>"
    ).write.parquet(table_path(cdir, "embeddings"))
    psi_same = sum(
        r["psi_part"] for r in embedding_drift_psi(spark, cdir).collect()
    )

    assert psi_shift > 0.25, psi_shift
    assert psi_same < 0.05, psi_same


@pytest.mark.heavy
def test_ivf_codes_compaction_folds_roots_and_keeps_ledger(
    spark, sf_dir, tmp_path
):
    """compact_ivf_codes: the read relation is unchanged, readers flip
    to one cell-partitioned root, live_batches resets while
    applied_batches survives — so a late retry of a folded batch stays
    a no-op (the compact_bm25_postings contract, codes edition)."""
    import os

    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        compact_ivf_codes,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks.verified import current_pointer, read_current

    e = load_table(spark, sf_dir, "embeddings")
    base, batch = e.filter(F.expr(BASE_PREDICATE)), e.filter(
        ~F.expr(BASE_PREDICATE)
    )
    path = str(tmp_path / "idx")
    build_ivf_index(spark, base, path)
    append_ivf_index(spark, batch, path, batch_id="b1")
    before = _codes_rows(read_ivf_codes(spark, path))
    stats_before = _stats_rows(read_current(spark, f"{path}/stats"))

    new_root = compact_ivf_codes(spark, path)
    ptr = current_pointer(f"{path}/stats")
    assert ptr["codes_root"] == new_root
    assert ptr["live_batches"] == []
    assert ptr["applied_batches"] == ["b1"]
    assert not os.path.exists(f"{path}/codes")
    assert not os.path.exists(f"{path}/codes-batch-b1")
    assert _codes_rows(read_ivf_codes(spark, path)) == before
    assert _stats_rows(read_current(spark, f"{path}/stats")) == stats_before

    # Late retry of the folded batch: no-op, no duplicates.
    append_ivf_index(spark, batch, path, batch_id="b1")
    assert _codes_rows(read_ivf_codes(spark, path)) == before
    assert current_pointer(f"{path}/stats")["live_batches"] == []


def test_ivf_rec_matches_oracle(spark, sf_dir, oracle):
    from newspapers_etl_spark.operators.ann_eval import (
        IVF_RECALL_ORACLE,
        ivf_recall_at_k,
    )

    assert_matches_oracle(
        ivf_recall_at_k(spark, sf_dir), oracle, IVF_RECALL_ORACLE
    )


def test_ivf_rec_bounds_and_coverage(spark, sf_dir):
    """recall ∈ [0, 1], hits ≤ truth_k, one row per probe, and the
    metric agrees with a direct Python intersection of the two
    registered rankings (assembly differential, the ndcg pattern)."""
    from newspapers_etl_spark.operators.ann_eval import ivf_recall_at_k
    from newspapers_etl_spark.operators.similarity import (
        N_PROBES,
        sim_ann_ivf_topk,
        sim_topk_bruteforce,
    )

    rows = {r["probe_id"]: r for r in ivf_recall_at_k(spark, sf_dir).collect()}
    assert len(rows) == N_PROBES
    bf, ivf = {}, {}
    for r in sim_topk_bruteforce(spark, sf_dir).collect():
        bf.setdefault(r["probe_id"], set()).add(r["vec_id"])
    for r in sim_ann_ivf_topk(spark, sf_dir).collect():
        ivf.setdefault(r["probe_id"], set()).add(r["vec_id"])
    for pid, r in rows.items():
        assert 0.0 <= r["recall"] <= 1.0
        assert 0 <= r["hits"] <= r["truth_k"]
        assert r["hits"] == len(bf[pid] & ivf.get(pid, set()))
        assert r["truth_k"] == len(bf[pid])


@pytest.mark.heavy
def test_ivf_append_crash_before_stats_publish_leaves_index_readable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Failure injection on the ivf append's one non-atomic seam (the
    bm25 battery's shape): dying AFTER the codes rename but BEFORE the
    stats generation publish must leave the index readable at the
    PREVIOUS state — the renamed-but-unledgered batch root is invisible
    because readers derive roots from the POINTER — and the retry must
    converge to exactly the applied state."""
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks import verified

    e = load_table(spark, sf_dir, "embeddings")
    base, batch = e.filter(F.expr(BASE_PREDICATE)), e.filter(
        ~F.expr(BASE_PREDICATE)
    )
    path = str(tmp_path / "idx")
    build_ivf_index(spark, base, path)
    before = _codes_rows(read_ivf_codes(spark, path))

    def boom(p):
        raise RuntimeError("injected: died before stats generation write")

    monkeypatch.setattr(verified, "allocate_generation", boom)
    try:
        append_ivf_index(spark, batch, path, batch_id="b1")
    except RuntimeError:
        pass
    monkeypatch.undo()
    # batch codes renamed but unledgered -> invisible to readers
    assert _codes_rows(read_ivf_codes(spark, path)) == before

    append_ivf_index(spark, batch, path, batch_id="b1")  # retry converges
    after = _codes_rows(read_ivf_codes(spark, path))
    assert len(after) > len(before)
    assert set(before) <= set(after)


@pytest.mark.heavy
def test_compaction_crash_before_pointer_flip_is_invisible_and_retryable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A compaction that dies AFTER rewriting+renaming the folded root
    but BEFORE the pointer metadata flip must change NOTHING a reader
    sees (old roots still live, old ledger still live), and the retry
    must complete from scratch (the staged root is replaced
    wholesale)."""
    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        compact_ivf_codes,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks import verified

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, e.filter(F.expr(BASE_PREDICATE)), path)
    append_ivf_index(
        spark, e.filter(~F.expr(BASE_PREDICATE)), path, batch_id="b1"
    )
    before = _codes_rows(read_ivf_codes(spark, path))
    ptr_before = verified.current_pointer(f"{path}/stats")

    def boom(p, **meta):
        raise RuntimeError("injected: died before pointer flip")

    monkeypatch.setattr(verified, "update_pointer_meta", boom)
    try:
        compact_ivf_codes(spark, path)
    except RuntimeError:
        pass
    monkeypatch.undo()
    # nothing a reader resolves has changed
    assert verified.current_pointer(f"{path}/stats") == ptr_before
    assert _codes_rows(read_ivf_codes(spark, path)) == before

    new_root = compact_ivf_codes(spark, path)  # retry from scratch
    ptr = verified.current_pointer(f"{path}/stats")
    assert ptr["codes_root"] == new_root and ptr["live_batches"] == []
    assert _codes_rows(read_ivf_codes(spark, path)) == before


@pytest.mark.heavy
def test_compaction_crash_after_flip_heals_instead_of_orphaning(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The OTHER compaction seam (code-review r10): dying after the
    pointer flip but before the old-root reap must not orphan the
    superseded index copy — the flip records the roots as
    ``reap_roots`` in the SAME pointer write, readers are already on
    the folded root, and the next maintenance call deletes the
    leftovers and clears the list."""
    import os

    from newspapers_etl_spark.operators.ivf_maintenance import (
        BASE_PREDICATE,
        append_ivf_index,
        build_ivf_index,
        compact_ivf_codes,
        read_ivf_codes,
    )
    from newspapers_etl_spark.sinks import verified

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, e.filter(F.expr(BASE_PREDICATE)), path)
    append_ivf_index(
        spark, e.filter(~F.expr(BASE_PREDICATE)), path, batch_id="b1"
    )
    before = _codes_rows(read_ivf_codes(spark, path))

    real_reap = verified.reap_pending_roots
    calls = []

    def boom(stats_root, table_root):
        # The compaction calls reap_pending_roots twice: the start-of-run
        # heal (let it through — nothing pending) and the post-flip reap
        # (the injected crash point).
        calls.append(1)
        if len(calls) == 1:
            return real_reap(stats_root, table_root)
        raise RuntimeError("injected: died after flip, before reap")

    monkeypatch.setattr(verified, "reap_pending_roots", boom)
    try:
        compact_ivf_codes(spark, path)
    except RuntimeError:
        pass
    monkeypatch.undo()
    # flip landed: readers already resolve the folded root...
    ptr = verified.current_pointer(f"{path}/stats")
    assert ptr["codes_root"].startswith("codes-compact-")
    assert _codes_rows(read_ivf_codes(spark, path)) == before
    # ...and the superseded roots are still on disk, RECORDED for reap.
    assert os.path.exists(f"{path}/codes")
    assert "codes" in ptr["reap_roots"]

    real_reap(f"{path}/stats", path)  # any next maintenance call heals
    assert not os.path.exists(f"{path}/codes")
    assert not os.path.exists(f"{path}/codes-batch-b1")
    assert verified.current_pointer(f"{path}/stats")["reap_roots"] == []
    assert _codes_rows(read_ivf_codes(spark, path)) == before
