"""Seeded input generator.

Each table keeps the fixture schema (``catalog.SCHEMAS``) and the value
distributions measured on the sf0.01 and sf0.1 fixtures (``stats.py``
prints them; README.md lists both side by side):

- ``documents``: 10-100 tokens drawn uniformly from the fixture's
  30-word vocabulary, the fixture's language shares, ``src<id % 20>``
  sources; 5% of the documents are near-duplicates, another document's
  text plus the token ``dup``, as in the fixture.
- ``embeddings``: 64-dimensional unit-norm Gaussian vectors with labels
  0-9.  The fixture has no embedding near-duplicates; 5% are injected
  here (a small perturbation of another vector) so that the embedding
  dedup finds true near-duplicates besides chance pairs.
- ``events``: timestamps uniform over 30 days in id order, one user per
  66.7 events on average, uniform event types, exponential values with
  mean 50, ``{"k": 0..99}`` props.

Rows are drawn from a ``numpy`` generator seeded by ``--seed``, so one
seed always yields byte-identical inputs.  The generator is pure Python
(numpy + pyarrow); it runs before the timed window and never touches
Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
TOKENS = (10, 100)  # tokens per document, uniform, inclusive
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
EVENTS_PER_USER = 66.7
EVENT_VALUE_MEAN = 50.0
DIM = 64
DUP_SHARE = 0.05  # injected near-duplicates among documents and embeddings


def _others(rng, n: int, at: np.ndarray) -> np.ndarray:
    """For each index in ``at``, a uniformly drawn other index below ``n``."""
    j = rng.integers(0, n - 1, len(at))
    return j + (j >= at)


def doc_texts(rng, n: int, dup_share: float) -> list[str]:
    """Texts over the fixture vocabulary; ``dup_share`` of them are
    near-duplicates: another text plus the token ``dup``."""
    lens = rng.integers(TOKENS[0], TOKENS[1] + 1, n)
    texts = [" ".join(rng.choice(WORDS, size=k)) for k in lens]
    at = rng.choice(n, size=int(n * dup_share), replace=False)
    for i, j in zip(at, _others(rng, n, at)):
        texts[i] = texts[j] + " dup"
    return texts


def documents_table(rng, ids, dup_share: float = DUP_SHARE) -> pa.Table:
    texts = doc_texts(rng, len(ids), dup_share)
    ids = np.asarray(ids, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=len(ids), p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(rng, n: int, dup_share: float = 0.0) -> np.ndarray:
    """Unit-norm float32 vectors; ``dup_share`` of them are a small
    perturbation of another vector (embedding near-duplicates)."""
    v = rng.normal(size=(n, DIM))
    at = rng.choice(n, size=int(n * dup_share), replace=False)
    for i, j in zip(at, _others(rng, n, at)):
        v[i] = v[j] + rng.normal(scale=0.01, size=DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings_table(rng, ids, vecs: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(np.asarray(ids, dtype=np.int64), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32()),
        }
    )


def events_table(rng, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    users = max(1, round(n / EVENTS_PER_USER))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
        }
    )


def generate_tables(
    out_dir: str, seed: int, rows: dict[str, int]
) -> dict[str, dict[str, int]]:
    """Write the named tables (``documents``, ``embeddings``, ``events``)
    with the given row counts under ``out_dir`` and return
    ``{table: {"rows": .., "bytes": ..}}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    build = {
        "documents": lambda n: documents_table(rng, range(n)),
        "embeddings": lambda n: embeddings_table(
            rng, range(n), unit_vectors(rng, n, DUP_SHARE)
        ),
        "events": lambda n: events_table(rng, n),
    }
    out = {}
    for name, n in rows.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(build[name](n), path)
        out[name] = {"rows": n, "bytes": os.path.getsize(path)}
    return out
