"""BM25 maintenance-policy chain (operators/bm25_policy.py): oracle
parity, the planted-delete path actually compacting, the middle branch
(alert measures but a below-bar verdict never compacts), the null path
staying gated (no decision scan, no compaction), and the
nothing-to-monitor row for a pointer-less index."""

import pytest
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table


def test_bm_pol_matches_oracle(spark, sf_dir, oracle):
    from conftest import assert_matches_oracle

    from newspapers_etl_spark.operators.bm25_policy import (
        BM_POL_ORACLE,
        bm25_policy_roundtrip,
    )

    assert_matches_oracle(
        bm25_policy_roundtrip(spark, sf_dir), oracle, BM_POL_ORACLE
    )


def _build_deleted_index(spark, sf_dir, path):
    from newspapers_etl_spark.operators.index_delete import DOC_DEL_PRED
    from newspapers_etl_spark.operators.retrieval import (
        delete_bm25_docs,
        write_bm25_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    write_bm25_postings(spark, sf_dir, path)
    delete_bm25_docs(
        spark, docs.filter(F.expr(DOC_DEL_PRED)), path, batch_id="d1"
    )
    return docs


@pytest.mark.heavy
def test_planted_delete_alerts_and_compacts(spark, sf_dir, tmp_path):
    """The registered scenario end-to-end on a scratch path: the
    deleted seventh trips the frag alert, the dead-posting share
    crosses the bar, and compaction ACTUALLY runs — pointer flipped to
    a compacted root, tombstone ledger reset, and the surviving posting
    count equal to the never-indexed-them posting relation."""
    from newspapers_etl_spark.operators.bm25_policy import (
        bm25_policy_chain,
    )
    from newspapers_etl_spark.operators.index_delete import DOC_DEL_PRED
    from newspapers_etl_spark.operators.retrieval import _staged_of
    from newspapers_etl_spark.sinks.verified import current_pointer

    path = str(tmp_path / "idx")
    docs = _build_deleted_index(spark, sf_dir, path)

    out = {
        r["stage"]: (r["metric"], r["act"])
        for r in bm25_policy_chain(spark, path).collect()
    }
    assert out["frag"][1] is True and out["frag"][0] > 0.1
    assert out["dead"][1] is True and out["dead"][0] > 0.05
    assert out["compact"][1] is True

    ptr = current_pointer(f"{path}/stats")
    assert ptr["postings_root"].startswith("postings-compact-")
    assert ptr["live_tombstones"] == [] and ptr["compactions"] == 1
    survivors = (
        _staged_of(docs.filter(~F.expr(DOC_DEL_PRED)))
        .select("doc_id", F.explode("ts").alias("term"))
        .distinct()
        .count()
    )
    assert out["compact"][0] == float(survivors)


@pytest.mark.heavy
def test_alert_without_verdict_measures_but_does_not_compact(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The middle branch: frag alerts, the decision scan RUNS and emits
    a real dead-posting share, but a raised bar says don't-compact —
    compaction never executes and the pointer keeps the original
    roots."""
    from newspapers_etl_spark.operators import bm25_policy as bp
    from newspapers_etl_spark.operators.bm25_policy import bm25_policy_chain
    from newspapers_etl_spark.sinks.verified import current_pointer

    path = str(tmp_path / "idx")
    _build_deleted_index(spark, sf_dir, path)

    def exploding_compact(*a, **kw):
        raise AssertionError("compaction ran without a verdict")

    monkeypatch.setattr(bp, "compact_bm25_postings", exploding_compact)
    out = {
        r["stage"]: (r["metric"], r["act"])
        for r in bm25_policy_chain(spark, path, dead_threshold=0.9).collect()
    }
    assert out["frag"][1] is True
    assert out["dead"][1] is False and 0.0 < out["dead"][0] <= 0.9
    assert out["compact"] == (None, False)
    ptr = current_pointer(f"{path}/stats")
    assert "compactions" not in ptr
    assert ptr.get("postings_root", "postings") == "postings"
    assert ptr["live_tombstones"] == ["d1"]


@pytest.mark.heavy
def test_no_deletes_walks_the_null_path(spark, sf_dir, tmp_path, monkeypatch):
    """An index with no tombstones yields frag == 0.0 exactly: no
    alert, the posting scan NEVER RUNS (monkeypatch-asserted — the
    gating is the policy's steady-state cost story), no compaction,
    pointer untouched."""
    from newspapers_etl_spark.operators.bm25_policy import bm25_policy_chain
    from newspapers_etl_spark.operators.retrieval import write_bm25_postings
    from newspapers_etl_spark.sinks import verified

    path = str(tmp_path / "idx")
    write_bm25_postings(spark, sf_dir, path)

    def exploding_union(*a, **kw):
        raise AssertionError("posting scan ran on the null path")

    monkeypatch.setattr(verified, "tombstoned_union", exploding_union)
    out = {
        r["stage"]: (r["metric"], r["act"])
        for r in bm25_policy_chain(spark, path).collect()
    }
    assert out["frag"] == (0.0, False)
    assert out["dead"] == (None, False)
    assert out["compact"] == (None, False)
    ptr = verified.current_pointer(f"{path}/stats")
    assert ptr is None or "compactions" not in ptr


def test_pointerless_index_is_nothing_to_monitor(spark, tmp_path):
    """A path no append ever published to (no generation pointer) is
    nothing-to-monitor: every stage metric NULL / act false — the
    maintenance_policy empty-index posture."""
    from newspapers_etl_spark.operators.bm25_policy import bm25_policy_chain

    out = {
        r["stage"]: (r["metric"], r["act"])
        for r in bm25_policy_chain(spark, str(tmp_path / "no-such")).collect()
    }
    assert out == {
        "frag": (None, False),
        "dead": (None, False),
        "compact": (None, False),
    }


@pytest.mark.heavy
def test_fully_tombstoned_index_alerts_and_compacts(spark, sf_dir, tmp_path):
    """Zero live docs WITH tombstones present is the maximally-
    fragmented state, not nothing-to-monitor (ADVICE r14 #3): frag is
    NULL (dead/live undefined) but alerts unconditionally, the dead
    scan measures 1.0 (every stored posting is suppressed), and the
    compaction actually removes them — pointer flipped to a compacted
    root holding zero rows, tombstone ledger reset."""
    from newspapers_etl_spark.operators.bm25_policy import bm25_policy_chain
    from newspapers_etl_spark.functions.ledger import BM25, live_roots
    from newspapers_etl_spark.operators.retrieval import (
        delete_bm25_docs,
        write_bm25_postings,
    )
    from newspapers_etl_spark.sinks.verified import (
        current_pointer,
        tombstoned_union,
    )

    path = str(tmp_path / "idx")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .limit(20)
        .cache()
    )
    write_bm25_postings(spark, None, path, docs=docs)
    delete_bm25_docs(spark, docs, path, batch_id="d-all")
    out = {
        r["stage"]: (r["metric"], r["act"])
        for r in bm25_policy_chain(spark, path).collect()
    }
    docs.unpersist()
    assert out["frag"] == (None, True)
    assert out["dead"] == (1.0, True)
    assert out["compact"] == (0.0, True)
    ptr = current_pointer(f"{path}/stats")
    assert ptr["postings_root"].startswith("postings-compact-")
    assert ptr["live_tombstones"] == []
    assert (
        tombstoned_union(
            spark, path, ptr, live_roots(BM25, ptr), "doc_id"
        ).count()
        == 0
    )


def test_never_populated_index_is_nothing_to_monitor(spark, tmp_path):
    """Zero live docs WITHOUT tombstones (an index built over an empty
    corpus) stays nothing-to-monitor — the branch ADVICE r14 #3 asked
    to distinguish from fully-deleted."""
    from newspapers_etl_spark.operators.bm25_policy import bm25_policy_chain
    from newspapers_etl_spark.operators.retrieval import write_bm25_postings

    path = str(tmp_path / "idx")
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    write_bm25_postings(spark, None, path, docs=empty)
    out = {
        r["stage"]: (r["metric"], r["act"])
        for r in bm25_policy_chain(spark, path).collect()
    }
    assert out == {
        "frag": (None, False),
        "dead": (None, False),
        "compact": (None, False),
    }
