#!/usr/bin/env python3
"""Count diff between traced results.

    python3 perfbench/diff.py perfbench/results/A.json perfbench/results/B.json

Lists every per-call count that differs between two ``--trace 1`` result
files of the same workload: jobs, stages, tasks, file scans, files
written, generations and streaming batches, and the call sites of the
jobs that differ.  On one seed these counts depend on the program alone,
not on the host, so a difference points at the program: a plan or a
code path that changed, or jobs that race inside one call.  Exit code 1
if any count differs.
"""

from __future__ import annotations

import json
import sys
from collections import Counter

COUNTS = (
    "jobs", "stages", "tasks", "file_scans", "files_written", "generations",
    "streaming_batches",
)  # fmt: skip


def spans(path: str) -> tuple[str, dict]:
    with open(path) as f:
        rec = json.load(f)
    if "traced_pass" not in rec:
        raise SystemExit(f"{path}: not a --trace 1 result")
    return rec["workload"], {
        (s["idx"], s["name"]): s["counts"] for s in rec["traced_pass"]["spans"]
    }


def diff(a: dict, b: dict) -> list[str]:
    out = []
    for key in sorted(set(a) | set(b)):
        ca, cb = a.get(key), b.get(key)
        if ca is None or cb is None:
            out.append(f"call #{key[0]} {key[1]}: only in {'B' if ca is None else 'A'}")
            continue
        for k in COUNTS:
            if ca.get(k, 0) != cb.get(k, 0):
                out.append(f"call #{key[0]} {key[1]}: {k} {ca.get(k, 0)} -> {cb.get(k, 0)}")
        sa, sb = Counter(ca.get("job_sites", [])), Counter(cb.get("job_sites", []))
        for site in sorted((sa - sb) | (sb - sa)):
            out.append(f"call #{key[0]} {key[1]}: jobs at {site}: {sa[site]} -> {sb[site]}")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (wa, a), (wb, b) = spans(argv[0]), spans(argv[1])
    if wa != wb:
        print(f"different workloads: {wa} vs {wb}", file=sys.stderr)
        return 2
    lines = diff(a, b)
    for line in lines:
        print(f"{wa}: {line}")
    print(f"{wa}: {len(a)} calls compared, {len(lines)} differing counts")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
