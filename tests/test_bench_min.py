"""Min-merge protocol guards (ADVICE r6 #1).

A query that failed (negative time) in any stashed capture must refuse
the merge — its best success would otherwise mask the flake — and a
successful merge must be labeled ``wall_min_merged`` so the committed
number cannot be read as a single-run wall time.  ``--check`` must
catch a single capture that overwrote a min-merged lineage.
"""

import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load_bench_min(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "bench_min_under_test", REPO / "tools" / "bench_min.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "REPO", tmp_path)
    monkeypatch.setattr(mod, "STASH_DIR", tmp_path / ".bench_captures")
    # The registry authority check needs the real query names; pin it to
    # the capture's keys so the fixture stays two queries small.
    monkeypatch.setattr(mod, "_registry_names", lambda: {"qa", "qb"})
    return mod


def _stash(mod, *captures):
    mod.STASH_DIR.mkdir(exist_ok=True)
    for i, q in enumerate(captures, 1):
        snap = {
            "metric": "wall",
            "value": round(sum(t for t in q.values() if t >= 0), 3),
            "unit": "sec",
            "queries": q,
            "sf": 0.1,
        }
        (mod.STASH_DIR / f"capture_{i}.json").write_text(json.dumps(snap))


def test_merge_refuses_any_negative_capture(tmp_path, monkeypatch, capsys):
    mod = _load_bench_min(tmp_path, monkeypatch)
    (tmp_path / "BENCH_REF.json").write_text(json.dumps({"qa": 1.0, "qb": 1.0}))
    _stash(mod, {"qa": 1.0, "qb": -1.0}, {"qa": 1.2, "qb": 2.0})
    assert mod.merge() == 1
    err = capsys.readouterr().err
    assert "refusing merge" in err and "qb" in err
    # Captures are NOT consumed on refusal — the flake stays inspectable.
    assert len(list(mod.STASH_DIR.glob("capture_*.json"))) == 2
    assert not (tmp_path / "BENCH_SELF.json").exists()


def test_merge_labels_metric_and_takes_minima(tmp_path, monkeypatch):
    mod = _load_bench_min(tmp_path, monkeypatch)
    (tmp_path / "BENCH_REF.json").write_text(json.dumps({"qa": 1.0, "qb": 1.0}))
    _stash(mod, {"qa": 1.0, "qb": 3.0}, {"qa": 2.0, "qb": 2.5})
    assert mod.merge() == 0
    out = json.loads((tmp_path / "BENCH_SELF.json").read_text())
    assert out["metric"] == "wall_min_merged"
    assert out["queries"] == {"qa": 1.0, "qb": 2.5}
    assert out["value"] == 3.5
    assert out["captures_merged"] == 2
    # Captures consumed on success.
    assert list(mod.STASH_DIR.glob("capture_*.json")) == []


def test_check_refuses_wall_capture_over_min_merged_lineage(
    tmp_path, monkeypatch, capsys
):
    """A single ``wall`` capture over a min-merged lineage (what every
    bench run leaves in the tree) fails --check; --restore brings the
    newest min-merged snapshot back and --check passes again."""
    import subprocess

    mod = _load_bench_min(tmp_path, monkeypatch)

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t",
             "-c", "commit.gpgsign=false", *args],
            cwd=tmp_path, check=True, capture_output=True,
        )

    merged = {"metric": "wall_min_merged", "value": 3.5,
              "queries": {"qa": 1.0, "qb": 2.5}}
    git("init", "-q")
    (tmp_path / "BENCH_SELF.json").write_text(json.dumps(merged))
    git("add", "BENCH_SELF.json")
    git("commit", "-q", "-m", "min-merged snapshot")
    (tmp_path / "BENCH_SELF.json").write_text(
        json.dumps({"metric": "wall", "value": 4.0,
                    "queries": {"qa": 1.5, "qb": 2.5}})
    )
    assert mod.check() == 1
    assert "VIOLATION" in capsys.readouterr().err
    assert mod.restore() == 0
    assert json.loads((tmp_path / "BENCH_SELF.json").read_text()) == merged
    assert mod.check() == 0
