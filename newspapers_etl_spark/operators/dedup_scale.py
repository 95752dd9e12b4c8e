"""At-scale SimHash instantiation: the 32-bit Manku multi-table
near-dup join, registered so the shape actually used at corpus scale
has a bench number.

The registered ``shprs``/``sh_bkts`` queries run the 16-bit
FIXTURE hash (operators/dedup.py:796) to keep the bench comparable
across rounds; the recall guarantee of the wide construction was until
now verified only in tests/test_dedup_recall.py.  This module
instantiates the same construction at the production width — 32-bit
hash, block widths (6,6,5,5,5,5), C(6,3)=20 tables with 15-17-bit
keys — end-to-end on the documents table.

Two deliberate differences from the fixture query, both scale-true:

* Hamming verification uses ``F.bit_count`` on the XOR (one JVM
  popcount instruction) instead of the 16-term literal-mask sum —
  at 32/64 bits the inlined mask chain stops being free (codegen size
  grows linearly with width; the fixture keeps it for bit-level
  auditability).
* Width parameters flow through ``simhash(bits=)`` /
  ``simhash_table_keys(widths=)`` — the fold cost is linear in bits,
  so this query's bench delta vs ``shprs`` IS the price of the
  production hash width.

Rows-only correctness (hash values are engine-specific, same posture
as ``shprs``); the d<=3 recall guarantee for exactly this
(32, (6,6,5,5,5,5)) instantiation is pytest-proven exhaustively in
tests/test_dedup_recall.py::test_simhash_multitable_guarantees_recall_at_d3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.operators.dedup import manku_neardup_pairs
from newspapers_etl_spark.registry import query

SIMHASH32_BITS = 32
SIMHASH32_BLOCK_WIDTHS = (6, 6, 5, 5, 5, 5)
SIMHASH32_HAMMING_D = 3


@query("sh32")  # rows-only: hash values are engine-specific
def dedup_simhash32_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs at Hamming <= 3 — thin wrapper over
    operators/dedup.py:manku_neardup_pairs, the corpus-scale twin of
    ``shprs`` (see module docstring for the deliberate deltas).
    Verification is ``F.bit_count`` on the XOR (one JVM popcount
    instruction); at 32+ bits the fixture's inlined literal-mask chain
    stops being free (codegen size grows linearly with width)."""
    return manku_neardup_pairs(
        spark,
        sf_dir,
        bits=SIMHASH32_BITS,
        widths=SIMHASH32_BLOCK_WIDTHS,
        hamming_d=SIMHASH32_HAMMING_D,
        hamming_fn=lambda a, b: F.bit_count(a.bitwiseXOR(b)),
    )
