"""SemDeDup-style semantic deduplication and product-quantization codes.

North-star operators with no reference counterpart (the reference's only
identity notion is the md5 content check, reference
src/01-scrape-images.py:78-83); these are the embedding-space curation
steps a training-data pipeline runs after `dd_emb`'s pair-level LSH:

- ``semdd`` — Abbas et al.'s SemDeDup recipe (arXiv:2303.09540):
  assign every vector to its nearest anchor centroid, then search for
  near-duplicates ONLY within a cluster.  Clustering is what makes
  semantic dedup tractable at 100 TB: the pairwise stage is O(sum of
  C(cluster_n, 2)), never corpus-wide O(n^2).
- ``pq_cds`` — product-quantization assignment (Jegou et al., PAMI
  2011): split each vector into M subspaces, encode each subspace as
  the id of its nearest codebook entry.  64 floats (256 B) become M
  small ints (~M bytes) — the compressed representation an IVF-PQ
  index scans instead of raw vectors.

Scale design:
- The anchor/codebook set is O(k) rows and is pulled to the driver ONCE
  and embedded as literal expressions (the `similarity.py` IVF
  discipline), so cluster/code assignment is MAP-SIDE — a single scan,
  zero shuffles, no N x k row blow-up through an exchange.
- At fixture scale the anchors are the first K vectors by vec_id —
  deterministic, so the DuckDB oracle reproduces the exact assignment
  and the whole pipeline stays value-hash-verified.  At 100 TB the
  anchor set comes from a sampled k-means fit (``similarity.py``
  ``_fit_centroids``) with K sized ~sqrt(N); only the anchor SOURCE
  changes, the assignment plan is identical.
- ``semdd``'s one shuffle is the self-join on cluster_id.  The
  fixture's K=16 keeps key cardinality small; at scale K grows with the
  corpus (SemDeDup uses 50k clusters for LAION-440M), so the join key
  is high-cardinality and AQE splits any skewed cluster.
- Argmin/argmax over anchors is an ``array_min``/``array_max`` over a
  literal struct array — whole-stage codegen, no UDF, no window.

Tie-breaks everywhere are (rounded score, anchor id) so results are
bit-stable across engines despite float last-ulp drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.litfast import (
    lit_double_matrix,
    lit_doubles,
    lit_ints,
    sql_doubles,
)
from newspapers_etl_spark.functions.vectors import dot, l2_norm
from newspapers_etl_spark.operators.similarity import _centroids
from newspapers_etl_spark.registry import query

N_ANCHORS = 16          # anchor set: first 16 by vec_id rank (oracle-mirrored)
SEMDEDUP_THRESHOLD = 0.30  # same bar as dd_emb's NEARDUP_COS_THRESHOLD
PQ_SUBSPACES = 8        # 64-dim fixture vectors -> 8 subvectors of 8 dims
PQ_CODEBOOK = 16        # codebook entries per subspace (fixture: anchors)
EMB_DIM = 64

# A zero-norm embedding has no defined cosine to anything; Spark-side
# those rows get this sentinel similarity to EVERY anchor/pair — below
# any real cosine, so they deterministically join the lowest-id anchor
# and are never prune candidates.  The fixtures contain no zero vectors
# (asserted in tests/test_semantic_dedup.py), so the oracles — which
# would hit engine-specific 0/0 semantics — never see the branch.
ZERO_NORM_SIM = -2.0


def _collect_anchors(
    spark: SparkSession, sf_dir: str, k: int = N_ANCHORS
) -> list[tuple[int, list[float]]]:
    """The first k non-null anchors in vec_id order, renumbered 0..k−1
    by that rank and pulled to the driver once (O(k) rows — the same
    legitimate driver pull as similarity.py's centroid fit).  ``k`` is
    explicit so a caller wanting PQ_CODEBOOK entries can never silently
    receive N_ANCHORS instead.

    NULL embeddings are filtered before the pull — a null row is
    routine at corpus scale and a None element would poison the literal
    model seeds.  Seeding by RANK (not ``vec_id < k``) means an empty
    anchor list occurs exactly when the corpus has no non-null
    embeddings (ADVICE r8 #1: ids that don't start at 0, or null first
    rows, seed from the first k usable rows instead of silently
    producing an empty model); only for that truly-empty case do
    callers return a typed empty result (the untyped ``F.array()``
    literal an empty model would produce fails analysis obscurely).
    The rank renumbering also guarantees contiguous 0..k−1 ids — the
    invariant ivfadc's residual centering matrix indexes by."""
    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    anchors = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)
    ]
    for aid, vec in anchors:
        if not any(x != 0.0 for x in vec):
            raise ValueError(f"anchor {aid} has zero norm — cosine undefined")
    return anchors


def fit_anchors(
    spark: SparkSession,
    sf_dir: str,
    k: int = N_ANCHORS,
    iters: int = 2,
    fit_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """The at-scale anchor source: a sampled Lloyd k-means fit (reusing
    similarity.py's ``_centroids`` — seeded sample, literal-embedded
    assignment, only k×dim floats to the driver).  The registered
    ``semdd``/``pq_cds`` queries keep the deterministic first-K
    fixture anchors so the DuckDB oracle can mirror them; production
    callers pass ``anchors=fit_anchors(...)`` for data-adaptive
    clusters with the identical assignment plan.  ``fit_fraction``
    passes through to ``_centroids`` (None keeps its sampled default;
    1.0 is the exact fit the DuckDB Lloyd mirror can replay —
    functions/lloyd_sql.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = (
        _centroids(e, k, iters)
        if fit_fraction is None
        else _centroids(e, k, iters, fit_fraction=fit_fraction)
    )
    for aid, vec in cents:
        if not any(x != 0.0 for x in vec):
            raise ValueError(f"fitted anchor {aid} has zero norm")
    return cents


def _lit_vec(vals: list[float]) -> Column:
    # ONE expr call per vector, not one py4j round-trip per element
    # (functions/litfast.py — bit-exact, ~60x cheaper to construct).
    return lit_doubles(vals)


def _nearest_anchor(anchors: list[tuple[int, list[float]]]) -> Column:
    """Map-side argmax of rounded cosine over the literal anchor set.

    The anchor matrix enters the plan as ONE literal array-of-arrays and
    a single ``transform`` loops over it at runtime — K per-anchor
    ``aggregate`` folds unrolled into the expression tree would make
    whole-stage codegen compile K copies of the dot product (measured:
    the unrolled form of pq_codes ran ~5.5 s at sf0.1, the data-driven
    form ~1 s).  struct(sim, -anchor_id) under array_max picks the
    highest sim and, on ties, the SMALLEST anchor id (largest negated
    id) — matching the oracle's ``ORDER BY sim DESC, anchor``."""
    # NOT converted to the single-F.expr form (_nearest_cell /
    # _nearest_code): semdedup_prune SELF-JOINS the relation carrying
    # this column, and SQL-parsed lambda variables (fixed names, shared
    # ids on both join sides) trip Catalyst's relation dedup into an
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution — the DSL path's
    # fresh per-construction lambda names are what keep the self-join
    # bindable.  Construction cost here is ~100 ms, paid once per
    # query; the litfast array literals below keep the bulk win.
    nrm = l2_norm("embedding")
    mat = lit_double_matrix(vec for _, vec in anchors)
    ids = lit_ints(aid for aid, _ in anchors)
    norms = lit_doubles(sum(x * x for x in vec) ** 0.5 for _, vec in anchors)
    entries = F.transform(
        mat,
        lambda avec, i: F.struct(
            F.when(
                nrm > 0,
                F.round(
                    dot("embedding", avec)
                    / (nrm * F.element_at(norms, i + 1)),
                    6,
                ),
            )
            .otherwise(F.lit(ZERO_NORM_SIM))
            .alias("sim"),
            (-F.element_at(ids, i + 1)).alias("neg_id"),
        ),
    )
    best = F.array_max(entries)
    return (-best["neg_id"]).cast("int")


_ORACLE_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), z -> CAST(z[1] AS DOUBLE)*z[2]))"
)
_ORACLE_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)*x)))"

SEMDEDUP_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, embedding, {_ORACLE_NORM.format(a="embedding")} AS nrm
  FROM embeddings
),
anchors AS (
  -- mirror of _collect_anchors: first k non-null rows in vec_id order,
  -- renumbered 0..k-1 by that rank (identical to vec_id < k on the
  -- dense-0-based fixtures, and to the Spark side on ANY corpus)
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS anchor_id,
         embedding, nrm
  FROM (SELECT vec_id, embedding, nrm FROM norms
        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {N_ANCHORS})
),
assign AS (
  SELECT n.vec_id, n.embedding, n.nrm, a.anchor_id AS cluster_id,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY round({_ORACLE_DOT.format(a="n.embedding", b="a.embedding")}
                          / (n.nrm * a.nrm), 6) DESC, a.anchor_id
         ) AS rk
  FROM norms n CROSS JOIN anchors a
),
mem AS (SELECT vec_id, embedding, nrm, cluster_id FROM assign WHERE rk = 1),
dup_of_lower AS (
  SELECT DISTINCT b.vec_id
  FROM mem a JOIN mem b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round({_ORACLE_DOT.format(a="a.embedding", b="b.embedding")}
              / (a.nrm * b.nrm), 6) >= {SEMDEDUP_THRESHOLD}
)
SELECT m.vec_id, CAST(m.cluster_id AS INTEGER) AS cluster_id,
       (d.vec_id IS NOT NULL) AS is_pruned
FROM mem m LEFT JOIN dup_of_lower d ON m.vec_id = d.vec_id
"""


@query("semdd", oracle=SEMDEDUP_ORACLE)
def semdedup(
    spark: SparkSession,
    sf_dir: str,
    anchors: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup: per-vector verdict (vec_id, cluster_id, is_pruned).

    A vector is pruned when some LOWER-id member of its cluster is
    cosine-similar above SEMDEDUP_THRESHOLD — the deterministic
    keep-lowest-id simplification of the paper's keep-one-per-group
    (chained groups prune every non-minimum member here too; full
    transitive resolution is ``cc_clust`` downstream).

    ``anchors`` defaults to the deterministic first-K fixture set (what
    the oracle mirrors); pass ``fit_anchors(...)`` for the sampled
    k-means source — the assignment plan is identical either way.

    Plan: map-side cluster assignment from literal anchors (no
    shuffle), then ONE shuffle on cluster_id for the bounded
    within-cluster pair join; the prune verdict is a left anti-ish
    join on vec_id only — embeddings never re-shuffle for it."""
    if anchors is None:
        anchors = _collect_anchors(spark, sf_dir)
    if not anchors:
        # Empty corpus -> no anchors to cluster against; typed empty
        # verdict relation (see _collect_anchors).
        return spark.createDataFrame(
            [], "vec_id long, cluster_id int, is_pruned boolean"
        )
    e = load_table(spark, sf_dir, "embeddings")
    mem = e.select(
        "vec_id",
        "embedding",
        l2_norm("embedding").alias("nrm"),
        _nearest_anchor(anchors).alias("cluster_id"),
    )
    a = mem.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = mem.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pair_sim = F.when(
        (F.col("nrm_a") > 0) & (F.col("nrm_b") > 0),
        F.round(dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")), 6),
    ).otherwise(F.lit(ZERO_NORM_SIM))
    pruned = (
        a.join(b, ["cluster_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_sim >= SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        mem.select("vec_id", "cluster_id")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_pruned"),
        )
    )


def _nearest_code(
    sub: int,
    codebook: list[tuple[int, list[float]]],
    vec: Column | str = "embedding",
) -> Column:
    """Map-side argmin of rounded squared L2 distance between this
    subspace's slice and each codebook entry; ties -> smallest code
    (array_min on struct(dist, code)).  The per-subspace codebook is a
    literal array-of-arrays looped by ONE transform — not per-code
    unrolled folds (see _nearest_anchor).  ``vec`` defaults to the raw
    embedding column; the residual-PQ path (operators/ivfadc.py) passes
    the centered x − centroid[cell] expression instead — same plan
    shape, still map-only."""
    lo = sub * (EMB_DIM // PQ_SUBSPACES) + 1  # F.slice is 1-based
    width = EMB_DIM // PQ_SUBSPACES
    if isinstance(vec, str):
        # The name is spliced into SQL text: restrict it to a simple
        # identifier and backtick it, so a quoted/odd column name can
        # neither misparse nor smuggle expression text in (ADVICE r16);
        # anything fancier must come in as a Column (the fallback arm).
        # CAVEAT (the _nearest_anchor lesson, documented below at its
        # reverted conversion): SQL-parsed lambda variables here have
        # FIXED names — a relation carrying this column on BOTH sides
        # of a self-join trips Catalyst's relation dedup
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).  No current consumer
        # self-joins encoded relations; a future one must use the
        # Column path.
        import re as _re

        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", vec):
            raise ValueError(
                f"_nearest_code fast path needs a simple column name, "
                f"got {vec!r}; pass a Column instead"
            )
        vec = f"`{vec}`"
        # Hot path: the WHOLE argmin as ONE F.expr call — the Column-
        # DSL form below costs ~60 ms of py4j round-trips per call and
        # the encoders construct it once per subspace per encode pass
        # (8 x several passes per maintenance roundtrip; measured with
        # cProfile on ivfapp, guide §7.3).  Identical expression tree:
        # same slice bounds, casts, fold order, rounding and
        # struct(dist, code) tie order; literals are repr round-trips,
        # bit-exact.
        mat_sql = ",".join(
            sql_doubles(cv[lo - 1 : lo - 1 + width]) for _, cv in codebook
        )
        codes_sql = ",".join(str(int(code)) for code, _ in codebook)
        entries_sql = (
            f"transform(array({mat_sql}), (cvec, i) -> named_struct("
            f"'dist', round(aggregate(zip_with(slice({vec}, {lo}, {width}),"
            " cvec, (x, y) -> (CAST(x AS DOUBLE) - y)"
            " * (CAST(x AS DOUBLE) - y)), 0.0D, (acc, v) -> acc + v), 6),"
            f" 'code', element_at(array({codes_sql}), i + 1)))"
        )
        return F.expr(
            f"named_struct('code', array_min({entries_sql}).code,"
            f" 'sq_err', array_min({entries_sql}).dist)"
        )
    sl = F.slice(vec, lo, width)
    mat = lit_double_matrix(
        vec[lo - 1 : lo - 1 + width] for _, vec in codebook
    )
    codes = lit_ints(code for code, _ in codebook)
    entries = F.transform(
        mat,
        lambda cvec, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(
                        sl,
                        cvec,
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("dist"),
            F.element_at(codes, i + 1).alias("code"),
        ),
    )
    best = F.array_min(entries)
    return F.struct(best["code"].alias("code"), best["dist"].alias("sq_err"))


PQ_ORACLE = f"""
WITH codebook AS (
  -- mirror of _collect_anchors: first k non-null rows in vec_id order,
  -- renumbered 0..k-1 by that rank (see SEMDEDUP_ORACLE)
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {PQ_CODEBOOK})
),
dists AS (
  SELECT e.vec_id, s.sub, c.code,
         round(list_sum(list_transform(
           list_zip(list_slice(e.embedding, s.sub*8 + 1, s.sub*8 + 8),
                    list_slice(c.embedding, s.sub*8 + 1, s.sub*8 + 8)),
           z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])
         )), 6) AS dist
  FROM embeddings e
  CROSS JOIN (SELECT unnest(range({PQ_SUBSPACES})) AS sub) s
  CROSS JOIN codebook c
),
best AS (
  SELECT vec_id, sub, code, dist,
         row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY dist, code) AS rk
  FROM dists
)
SELECT vec_id, CAST(sub AS INTEGER) AS subspace,
       CAST(code AS INTEGER) AS code, dist AS sq_err
FROM best WHERE rk = 1
"""


@query("pqcds", oracle=PQ_ORACLE)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: one row per (vec_id, subspace)
    with the nearest codebook id and its squared reconstruction error.

    The codebook (PQ_CODEBOOK entries x PQ_SUBSPACES slices) is literal
    in the plan, so encoding is a single map-side scan — the shape that
    encodes 100 TB of embeddings with zero shuffles.  Rows come out
    posexploded to scalars (never an array column — the driver's
    value-hash canonicalizer wants hashable cells, the same lesson as
    agg_pctl_approx in r2).  At scale the codebook comes from per-
    subspace k-means (same sampled fit as similarity.py); the fixture
    uses the first PQ_CODEBOOK vectors so the oracle can mirror it."""
    codebook = _collect_anchors(spark, sf_dir, k=PQ_CODEBOOK)
    if not codebook:
        # Empty corpus -> no codebook; typed empty encoding (see
        # _collect_anchors).
        return spark.createDataFrame(
            [], "vec_id long, subspace int, code int, sq_err double"
        )
    e = load_table(spark, sf_dir, "embeddings")
    per_sub = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"), _nearest_code(s, codebook).alias("best")
            )
            for s in range(PQ_SUBSPACES)
        ]
    )
    return (
        e.select("vec_id", F.explode(per_sub).alias("r"))
        .select(
            "vec_id",
            F.col("r.subspace").cast("int").alias("subspace"),
            F.col("r.best.code").cast("int").alias("code"),
            F.col("r.best.sq_err").alias("sq_err"),
        )
    )
