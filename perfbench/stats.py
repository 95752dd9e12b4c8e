#!/usr/bin/env python3
"""Distribution statistics of the text, vector and event tables.

    python3 perfbench/stats.py DIR [DIR ...]
    python3 perfbench/stats.py --workload dedup_search --seed 1

Run from the repository root.  The first form reads ``documents``,
``embeddings`` and ``events`` parquet files from each directory (a
fixture directory, say); the second generates a workload's tables with
``gen.py`` and reads those.  ``gen.py`` takes its parameters from these
figures on the fixtures; README.md lists both.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]


def _read(d: str, name: str):
    path = os.path.join(d, f"{name}.parquet")
    return pq.read_table(path).to_pandas() if os.path.exists(path) else None


def documents(d: str, df) -> dict:
    import duckdb

    from newspapers_etl_spark.operators.dedup import JACCARD_ORACLE, JACCARD_T

    toks = df.text.str.split()
    n_tok = toks.str.len().to_numpy()
    vocab = {w for t in toks for w in t} - {"dup"}
    con = duckdb.connect()
    path = os.path.join(d, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    pairs = con.sql(f"SELECT count(*) FROM ({JACCARD_ORACLE})").fetchone()[0]
    return {
        "rows": len(df),
        "vocabulary": len(vocab),
        "tokens_p5_p50_p95": np.percentile(n_tok, [5, 50, 95]).tolist(),
        "dup_share": float(df.text.str.endswith(" dup").mean()),
        "lang_share": df.lang.value_counts(normalize=True).round(3).to_dict(),
        f"jaccard_pairs_ge_{JACCARD_T}_per_1k_docs": 1000 * pairs / len(df),
    }


def embeddings(df) -> dict:
    from newspapers_etl_spark.operators.dedup import NEARDUP_COS_THRESHOLD

    v = np.stack(df.embedding.to_numpy()).astype(np.float64)
    norm = np.linalg.norm(v, axis=1)
    u = v / norm[:, None]
    cos = (u @ u.T)[np.triu_indices(len(u), 1)]
    return {
        "rows": len(df),
        "dim": v.shape[1],
        "norm_min_max": [float(norm.min()), float(norm.max())],
        "pairs_cos_ge_0.9_per_1k_rows": 1000 * int((cos >= 0.9).sum()) / len(df),
        f"pairs_cos_ge_{NEARDUP_COS_THRESHOLD}_share": float((cos >= NEARDUP_COS_THRESHOLD).mean()),
    }  # fmt: skip


def events(df) -> dict:
    days = (df.ts.max() - df.ts.min()).total_seconds() / 86400
    return {
        "rows": len(df),
        "events_per_user": len(df) / df.user_id.nunique(),
        "type_share_min_max": [
            float(df.event_type.value_counts(normalize=True).min()),
            float(df.event_type.value_counts(normalize=True).max()),
        ],
        "value_mean_median_std": [
            float(df.value.mean()), float(df.value.median()), float(df.value.std())
        ],
        "days": days,
        "ts_sorted": bool(df.ts.is_monotonic_increasing),
    }  # fmt: skip


def describe(d: str) -> dict:
    out = {}
    if (df := _read(d, "documents")) is not None:
        out["documents"] = documents(d, df)
    if (df := _read(d, "embeddings")) is not None:
        out["embeddings"] = embeddings(df)
    if (df := _read(d, "events")) is not None:
        out["events"] = events(df)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    for d in args.dirs:
        print(json.dumps({"dir": d, **describe(d)}))
    if args.workload:
        import gen
        from workloads import WORKLOADS

        tmp = os.path.join(HERE, ".work", f"stats-{os.getpid()}")
        try:
            gen.generate_tables(tmp, args.seed, WORKLOADS[args.workload].tables)
            print(json.dumps({"workload": args.workload, **describe(tmp)}))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
