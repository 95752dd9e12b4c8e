"""Keep the committed BENCH_SELF.json a min-merge of bench captures.

The committed snapshot protocol (VERDICT r5 #6): the host shows ~16%
intermittent noise windows, so ONE integrated capture over-reports the
sum even when every query is individually inside the retry-policy bar.
The committed BENCH_SELF is therefore the PER-QUERY MINIMUM across the
round's cold captures — each number something the current code actually
did, the sum no longer dominated by whichever queries ran inside a
noise window.

Usage:
    python bench.py                      # capture 1 (writes BENCH_SELF.json)
    python tools/bench_min.py --stash    # stash it
    python bench.py                      # capture 2
    python tools/bench_min.py --stash
    python tools/bench_min.py --merge    # min-merge stashes -> BENCH_SELF.json
    python tools/bench_min.py --check    # exit 1 if the tree holds a
                                         # single-capture 'wall' snapshot
                                         # over a min-merged lineage
    python tools/bench_min.py --restore  # restore BENCH_SELF.json from the
                                         # newest min-merged commit

Every stashed capture must cover the full registry (a partial capture
would silently drop queries from the min).  --merge REFUSES when any
query failed (negative time) in any capture — an intermittent failure
must be fixed or re-captured, not masked by its best success — and
writes metric="wall_min_merged" so the committed number cannot be read
as a single-run wall time.  --merge also reports any query whose merged
minimum beats its BENCH_REF entry (fold those in deliberately —
BENCH_REF stays the all-time best-known).

Every sf0.1 bench run, the driver's own capture included, overwrites
the working-tree BENCH_SELF.json with a single ``wall`` capture.  Run
--restore at round start and --check before committing bench
artifacts: a ``wall`` file must never replace a ``wall_min_merged``
one.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
NAME = "BENCH_SELF.json"
STASH_DIR = REPO / ".bench_captures"


def _metric(text: str | None) -> str | None:
    """The ``metric`` label of a BENCH_SELF.json text, None if absent."""
    if not text:
        return None
    try:
        return json.loads(text).get("metric")
    except ValueError:
        return None


def stash() -> int:
    snap = json.loads((REPO / NAME).read_text())
    STASH_DIR.mkdir(exist_ok=True)
    # max existing index + 1, NOT the file count: after a capture is
    # hand-deleted (e.g. a known-noisy one), a count-based name would
    # silently overwrite a surviving capture.
    taken = [
        int(p.stem.split("_")[1])
        for p in STASH_DIR.glob("capture_*.json")
        if p.stem.split("_")[1].isdigit()
    ]
    dst = STASH_DIR / f"capture_{max(taken, default=0) + 1}.json"
    dst.write_text(json.dumps(snap, indent=1))
    print(f"[bench_min] stashed {dst.name}: {len(snap['queries'])} queries, "
          f"sum {snap['value']}s")
    return 0


def _registry_names() -> set[str]:
    sys.path.insert(0, str(REPO))
    from newspapers_etl_spark.registry import all_queries

    return set(all_queries())


def merge() -> int:
    captures = sorted(STASH_DIR.glob("capture_*.json"))
    if len(captures) < 2:
        print(f"[bench_min] need >= 2 stashed captures, found {len(captures)}",
              file=sys.stderr)
        return 1
    snaps = [json.loads(p.read_text()) for p in captures]
    # Every capture must span the CURRENT registry — captures taken
    # before a registration (or after a removal) have mutually-equal
    # key sets, so comparing them only against each other cannot catch
    # a stale set; the registry is the authority.
    keys = _registry_names()
    for p, s in zip(captures, snaps):
        if set(s["queries"]) != keys:
            missing = sorted(keys - set(s["queries"]))[:5]
            extra = sorted(set(s["queries"]) - keys)[:5]
            print(f"[bench_min] {p.name} does not span the current registry "
                  f"(missing {missing}, stale {extra}) — re-capture",
                  file=sys.stderr)
            return 1
    # A query that failed (negative time) in ANY capture is intermittent:
    # committing its best success would mask the flake behind a number no
    # honest single run achieved.  Refuse the merge outright — fix or
    # re-capture first (ADVICE r6 #1).
    flaky = sorted(
        q for q in keys if any(s["queries"][q] < 0 for s in snaps)
    )
    if flaky:
        per = {
            q: [s["queries"][q] for s in snaps] for q in flaky
        }
        print(f"[bench_min] refusing merge: {len(flaky)} queries failed in "
              f"at least one capture (times per capture): {per}",
              file=sys.stderr)
        return 1
    merged = {
        q: min(s["queries"][q] for s in snaps) for q in sorted(keys)
    }
    out = dict(snaps[-1])
    # Not a single-run wall time: each entry is the per-query minimum
    # across captures_merged cold runs, and the sum is synthetic.
    out["metric"] = "wall_min_merged"
    out["queries"] = merged
    out["value"] = round(sum(merged.values()), 3)
    out["captures_merged"] = len(snaps)
    (REPO / NAME).write_text(json.dumps(out, indent=1))
    print(f"[bench_min] merged {len(snaps)} captures -> BENCH_SELF.json: "
          f"sum {out['value']}s over {len(merged)} queries")
    ref = json.loads((REPO / "BENCH_REF.json").read_text())
    better = {
        q: (t, ref[q]) for q, t in merged.items()
        if q in ref and 0 <= t < ref[q]
    }
    if better:
        print(f"[bench_min] {len(better)} new best-known minima (fold into "
              f"BENCH_REF deliberately): "
              f"{ {q: f'{t}<{r}' for q, (t, r) in sorted(better.items())} }")
    # Consume the captures: the stash dir survives rounds (gitignored),
    # and a leftover capture from an earlier round's code would
    # min-fold numbers the CURRENT code never achieved into a future
    # merge — exactly the masking the protocol exists to prevent.
    for p in captures:
        p.unlink()
    print(f"[bench_min] consumed {len(captures)} captures (stash cleared)")
    return 0


def _git_show(ref: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "show", f"{ref}:{NAME}"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout
    except subprocess.CalledProcessError:
        return None


def _newest_min_merged() -> str | None:
    """The newest commit whose BENCH_SELF.json is min-merged."""
    revs = subprocess.run(
        ["git", "rev-list", "HEAD", "--", NAME],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    for rev in revs:
        if _metric(_git_show(rev)) == "wall_min_merged":
            return rev
    return None


def _tree_metric() -> str | None:
    path = REPO / NAME
    return _metric(path.read_text() if path.exists() else None)


def check() -> int:
    tree = _tree_metric()
    if tree == "wall_min_merged":
        print("[bench_min] OK: working tree holds the min-merged snapshot")
        return 0
    src = _newest_min_merged()
    if src is None:
        print("[bench_min] OK: no min-merged lineage to protect")
        return 0
    print(
        f"[bench_min] VIOLATION: working-tree {NAME} is metric={tree!r} "
        f"but the lineage is min-merged (e.g. {src[:9]}) — a bench run "
        "overwrote the committed snapshot; run "
        "'python tools/bench_min.py --restore' (or --stash and --merge "
        "fresh captures) before committing",
        file=sys.stderr,
    )
    return 1


def restore() -> int:
    if _tree_metric() == "wall_min_merged":
        print("[bench_min] nothing to do: tree snapshot is min-merged")
        return 0
    src = _newest_min_merged()
    if src is None:
        print("[bench_min] no min-merged snapshot anywhere in history",
              file=sys.stderr)
        return 1
    (REPO / NAME).write_text(_git_show(src))
    print(f"[bench_min] restored {NAME} from {src[:9]} "
          f"(metric wall_min_merged)")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    g = ap.add_mutually_exclusive_group(required=True)
    for flag in ("--stash", "--merge", "--check", "--restore"):
        g.add_argument(flag, action="store_true")
    args = ap.parse_args()
    if args.stash:
        return stash()
    if args.merge:
        return merge()
    return check() if args.check else restore()


if __name__ == "__main__":
    sys.exit(main())
