"""Embedding / similarity-search operators — SURVEY.md §2.5 (MMD) + the
driver-mandated ANN extension.

The reference's only vector math is model-internal tensor ops plus a dead
multi-scale RBF MMD utility (``my_utils.py:12-68``). Here the embedding
column is a first-class ``ARRAY<FLOAT>`` DataFrame column and every operator
is a declarative plan:

- brute-force cosine top-k: the exactness baseline. Query side broadcast,
  corpus side streamed — the full corpus is scanned once per batch of
  queries, never materialized driver-side. Per-row math is JVM higher-order
  functions (``aggregate``/``zip_with``) — no Python in the loop.
- sign-LSH (random hyperplane) bucketing: the scale path. Hyperplanes are
  derived from the portable hash (seeded, engine-independent), so even the
  LSH variant is oracle-checkable — a deliberately deterministic twist on
  Charikar '02 sign-LSH.
- RBF-kernel MMD² (biased, one σ): relational spelling of
  ``my_utils.py:12-35`` (``_mix_rbf_kernel`` / ``_mmd2``): blockable
  cross-join + mean of kernel values. The mapInPandas blocked-Gram variant
  (``mmd_rbf_fast``) is the throughput path for wide data.

Float discipline: float32 embeddings are widened to float64 before any
arithmetic (exact), sums are rounded to 6 dp at the boundary, and ranks are
computed on ROUNDED scores with vec_id tie-breaks so both engines rank
identically.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import PHASH_P, phash_frag, phash_py
from ..sources.io import load_table, spread, spread_by

N_QUERY_VECS = 5  # vec_id < 5 are the demo query set
TOPK = 10
LSH_PLANES = 8
LSH_SEED = 11


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# -- per-label norm statistics ----------------------------------------------

def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count + mean L2 norm (the sanity profile every embedding
    table gets before similarity work)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(norm), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


EMBEDDING_NORMS_ORACLE = """
SELECT label, COUNT(*) AS n,
       ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


# -- brute-force cosine top-k ------------------------------------------------

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for the query set (vec_id < 5).

    Plan: broadcast the queries, stream the corpus once, rank per query.
    At 100 TB this shape survives: |queries| × |corpus| work is distributed
    over corpus partitions and the only shuffle is the final per-query
    top-k (a tiny window over ≤ |queries|·|corpus| scored rows — in
    practice pushed down to per-partition top-k + merge by AQE)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    pairs = spread(emb).crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("embedding")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv")))
        * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


ANN_COSINE_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < {N_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(
             list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))), 6)
               AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
           ) AS INT) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOPK}
"""


# -- deterministic sign-LSH bucketing ----------------------------------------

def _phash_plane(j: int, dim: int, seed: int):
    """Literal ARRAY<DOUBLE> of plane/centroid weights
    w[i] = phash(j, i, seed)/P - 0.5, computed driver-side with the Python
    twin of the SQL fragment (bit-identical doubles: same integer hash, same
    single divide and subtract). Embedding the 64 constants in the plan keeps
    the signature math row-local — no generated-table join, no explode.
    Proper dispersion across adjacent i relies on the hash's final mixing
    round (see functions/hashing.py) — without it each plane degenerates to
    a near-constant vector and all sign bits collapse to sign(Σv)."""
    return F.array(
        *[F.lit(phash_py(j, i, seed=seed) / float(PHASH_P) - 0.5) for i in range(dim)]
    )


def lsh_signature(v, n_planes: int = LSH_PLANES, dim: int = 64, seed: int = LSH_SEED):
    """Row-local sign-LSH bucket id of vector column ``v``:
    bit_j = <v, plane_j> >= 0, bucket = Σ 2^j·bit_j. Narrow expression —
    at 100 TB the signature costs zero shuffle; the only exchange any
    LSH consumer pays is its own bucket-level aggregation/join."""
    bits = [
        F.when(_dot(v, _phash_plane(j, dim, seed)) >= 0, F.lit(1 << j).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        for j in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (Charikar sign-LSH), with
    hyperplanes generated from the portable hash — deterministic across
    engines AND executors (no broadcast of numpy state needed).

    plane_j[i] = phash(j, i, seed)/P - 0.5;  bit_j = <v, plane_j> >= 0.
    Output: per-bucket membership counts (the ANN index profile).

    Plan shape: one narrow pass computing the 8-bit signature per row
    (the planes are plan literals), one map-side-combined count. The
    earlier spelling (posexplode ×64 → plane join → two vec_id shuffles)
    amplified the corpus 64× before its first exchange — unacceptable at
    scale; this one never shuffles vector data at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        spread(emb)
        .select(lsh_signature(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("bucket")
    )


LSH_BUCKETS_ORACLE = f"""
WITH comp AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS i,
           unnest(CAST(embedding AS DOUBLE[])) AS x
    FROM embeddings
),
planes AS (
    SELECT j.j, i.i,
           CAST({phash_frag('j.j', 'i.i', seed=LSH_SEED)} AS DOUBLE)
               / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
    FROM (SELECT unnest(range(0, {LSH_PLANES})) AS j) j
    CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
dots AS (
    SELECT c.vec_id, p.j, SUM(c.x * p.w) AS d
    FROM comp c JOIN planes p ON c.i = p.i
    GROUP BY c.vec_id, p.j
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN d >= 0 THEN CAST(POW(2.0, j) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
)
SELECT bucket, COUNT(*) AS n_vecs FROM buckets GROUP BY bucket ORDER BY bucket
"""


# -- LSH-bucketed ANN: candidate generation + exact rerank -------------------

ANN_LSH_PLANES = 4  # 2^4 buckets -> ~|corpus|/16 candidates per query


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: sign-LSH candidate generation followed
    by exact cosine rerank — the production middle between ``lsh_buckets``
    (index profile only) and ``ann_cosine_topk`` (exact full scan). A query
    compares against only the corpus rows sharing its bucket, cutting scored
    pairs by ~2^planes while the rerank math stays identical to the exact
    baseline — so recall loss is directly measurable by diffing the two
    registered queries' outputs.

    Plan shape: the signature is a row-local codegen expression on BOTH
    sides (planes are plan literals — see ``lsh_signature``); the query side
    (|queries| rows) broadcasts, so candidate generation is a broadcast hash
    join keyed on the bucket — the corpus is scanned ONCE and never
    shuffled. The only exchange is the final per-query top-k window over
    |queries| x |corpus|/2^planes scored rows.

    100 TB posture: more planes shrink candidates geometrically; recall is
    recovered by multi-probe (flip one signature bit per probe — a 1+planes
    array explode on the broadcast side only) or by OR-ing bands as in
    ``dedup_embedding_cosine_lsh``. Both keep this exact plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = lsh_signature(F.col("embedding"), n_planes=ANN_LSH_PLANES)
    corpus = spread(emb).select("vec_id", "embedding", sig.alias("bucket"))
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        sig.alias("bucket"),
    )
    cand = corpus.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("embedding")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv")))
        * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


ANN_LSH_TOPK_ORACLE = f"""
WITH comp AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS i,
           unnest(CAST(embedding AS DOUBLE[])) AS x
    FROM embeddings
),
planes AS (
    SELECT j.j, i.i,
           CAST({phash_frag('j.j', 'i.i', seed=LSH_SEED)} AS DOUBLE)
               / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
    FROM (SELECT unnest(range(0, {ANN_LSH_PLANES})) AS j) j
    CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
dots AS (
    SELECT c.vec_id, p.j, SUM(c.x * p.w) AS d
    FROM comp c JOIN planes p ON c.i = p.i
    GROUP BY c.vec_id, p.j
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN d >= 0 THEN CAST(POW(2.0, j) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
),
vecs AS (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, b.bucket
    FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(
             list_dot_product(q.v, c.v)
             / (sqrt(list_dot_product(q.v, q.v))
                * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
    FROM vecs q
    JOIN vecs c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERY_VECS}
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
           ) AS INT) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOPK}
"""


# -- RBF MMD² ----------------------------------------------------------------

def mmd_rbf(
    spark: SparkSession, sf_dir: str, label_a: int = 0, label_b: int = 1,
    sigma: float = 4.0,
) -> DataFrame:
    """Biased RBF-kernel MMD² between two label groups — the relational
    spelling of the reference's ``MMD`` utility (``my_utils.py:12-68``),
    single σ: MMD² = mean(Kxx) + mean(Kyy) - 2·mean(Kxy),
    K(x,y) = exp(-‖x-y‖² / (2σ²)), ‖x-y‖² = x·x - 2x·y + y·y.

    The all-pairs joins are block-partitioned by Spark automatically; for
    wide embeddings / big groups use ``mmd_rbf_fast`` (BLAS Gram blocks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sides = {}
    for name, lbl in (("a", label_a), ("b", label_b)):
        sides[name] = emb.filter(F.col("label") == lbl).select(
            F.col("vec_id").alias(f"id_{name}"),
            F.col("embedding").alias(f"v_{name}"),
            _dot(F.col("embedding"), F.col("embedding")).alias(f"sq_{name}"),
        )

    gamma = 1.0 / (2.0 * sigma * sigma)

    def kmean(x: DataFrame, y: DataFrame, xn: str, yn: str) -> DataFrame:
        d2 = (
            F.col(f"sq_{xn}")
            - 2 * _dot(F.col(f"v_{xn}"), F.col(f"v_{yn}"))
            + F.col(f"sq_{yn}")
        )
        return x.crossJoin(y).select(F.exp(-F.lit(gamma) * d2).alias("k")).agg(
            F.avg("k").alias("m")
        )

    kxx = kmean(sides["a"], sides["a"].withColumnsRenamed(
        {"id_a": "id_b2", "v_a": "v_b", "sq_a": "sq_b"}), "a", "b")
    kyy = kmean(sides["b"].withColumnsRenamed(
        {"id_b": "id_a", "v_b": "v_a", "sq_b": "sq_a"}), sides["b"], "a", "b")
    kxy = kmean(sides["a"], sides["b"], "a", "b")
    return (
        kxx.select(F.col("m").alias("kxx"))
        .crossJoin(kyy.select(F.col("m").alias("kyy")))
        .crossJoin(kxy.select(F.col("m").alias("kxy")))
        .select(
            F.lit(label_a).alias("label_a"),
            F.lit(label_b).alias("label_b"),
            F.round(F.col("kxx") + F.col("kyy") - 2 * F.col("kxy"), 6).alias(
                "mmd2"
            ),
        )
    )


def mmd_rbf_oracle(label_a: int = 0, label_b: int = 1, sigma: float = 4.0) -> str:
    gamma = 1.0 / (2.0 * sigma * sigma)
    return f"""
WITH side_a AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) AS sq
    FROM embeddings WHERE label = {label_a}
),
side_b AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) AS sq
    FROM embeddings WHERE label = {label_b}
),
kxx AS (
    SELECT AVG(EXP(-{gamma} * (x.sq - 2 * list_dot_product(x.v, y.v) + y.sq))) AS m
    FROM side_a x CROSS JOIN side_a y
),
kyy AS (
    SELECT AVG(EXP(-{gamma} * (x.sq - 2 * list_dot_product(x.v, y.v) + y.sq))) AS m
    FROM side_b x CROSS JOIN side_b y
),
kxy AS (
    SELECT AVG(EXP(-{gamma} * (x.sq - 2 * list_dot_product(x.v, y.v) + y.sq))) AS m
    FROM side_a x CROSS JOIN side_b y
)
SELECT {label_a} AS label_a, {label_b} AS label_b,
       ROUND(kxx.m + kyy.m - 2 * kxy.m, 6) AS mmd2
FROM kxx, kyy, kxy
"""


MMD_SIGMAS = [1.0, 2.0, 4.0, 8.0]  # reference uses a multi-σ list (my_utils.py:15)


def mmd_rbf_multiscale(
    spark: SparkSession, sf_dir: str, label_a: int = 0, label_b: int = 1
) -> DataFrame:
    """Multi-scale RBF MMD² — the reference's actual kernel is a SUM of RBF
    kernels over a σ list (``my_utils.py:12-35`` ``_mix_rbf_kernel``); one
    cross-join pass computes every σ simultaneously (same ‖x−y‖², k scalar
    exps per pair)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def side(name: str, lbl: int) -> DataFrame:
        return emb.filter(F.col("label") == lbl).select(
            F.col("vec_id").alias(f"id_{name}"),
            F.col("embedding").alias(f"v_{name}"),
            _dot(F.col("embedding"), F.col("embedding")).alias(f"sq_{name}"),
        )

    a = side("a", label_a)
    b = side("b", label_b)
    a2 = a.withColumnsRenamed({"id_a": "id_b", "v_a": "v_b", "sq_a": "sq_b"})
    b2 = b.withColumnsRenamed({"id_b": "id_a", "v_b": "v_a", "sq_b": "sq_a"})
    d2 = (
        F.col("sq_a") - 2 * _dot(F.col("v_a"), F.col("v_b")) + F.col("sq_b")
    )
    ksum = sum(
        F.exp(-d2 / F.lit(2.0 * s * s)) for s in MMD_SIGMAS
    )
    kxx = a.crossJoin(a2).select(ksum.alias("k")).agg(F.avg("k").alias("kxx"))
    kyy = b2.crossJoin(b).select(ksum.alias("k")).agg(F.avg("k").alias("kyy"))
    kxy = a.crossJoin(b).select(ksum.alias("k")).agg(F.avg("k").alias("kxy"))
    return (
        kxx.crossJoin(kyy)
        .crossJoin(kxy)
        .select(
            F.lit(label_a).alias("label_a"),
            F.lit(label_b).alias("label_b"),
            F.round(F.col("kxx") + F.col("kyy") - 2 * F.col("kxy"), 6).alias("mmd2"),
        )
    )


def mmd_rbf_multiscale_oracle(label_a: int = 0, label_b: int = 1) -> str:
    ks = " + ".join(
        f"EXP(-(x.sq - 2 * list_dot_product(x.v, y.v) + y.sq) / {2.0 * s * s!r})"
        for s in MMD_SIGMAS
    )
    side = (
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sq "
        "FROM embeddings WHERE label = {lbl}"
    )
    return f"""
WITH side_a AS ({side.format(lbl=label_a)}),
side_b AS ({side.format(lbl=label_b)}),
kxx AS (SELECT AVG({ks}) AS m FROM side_a x CROSS JOIN side_a y),
kyy AS (SELECT AVG({ks}) AS m FROM side_b x CROSS JOIN side_b y),
kxy AS (SELECT AVG({ks}) AS m FROM side_a x CROSS JOIN side_b y)
SELECT {label_a} AS label_a, {label_b} AS label_b,
       ROUND(kxx.m + kyy.m - 2 * kxy.m, 6) AS mmd2
FROM kxx, kyy, kxy
"""


# -- embedding-cosine near-duplicate detection -------------------------------

COSINE_DUP_THRESHOLD = 0.99  # production default; synthetic testdata has no
# planted near-dups (max pairwise cosine ≈ 0.51 at sf0.01), so the registry
# binds 0.4 to exercise real output through the gate.


COSINE_EXACT_MAX_ROWS = 100_000  # ~5·10⁹ candidate pairs — the ceiling of sane


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_DUP_THRESHOLD,
    max_rows: int = COSINE_EXACT_MAX_ROWS,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold — the embedding-space
    member of the dedup family (exact / Jaccard / MinHash / SimHash /
    cosine). All-pairs here (exact, oracle-checkable); the scale path is
    ``dedup_embedding_cosine_lsh`` — banded sign-LSH candidate join, then
    the same exact cosine verification.

    Deliberately guarded: the O(n²) product is a demo/verification tool,
    and pointing it at a real corpus by accident must fail loudly rather
    than melt the cluster — inputs over ``max_rows`` raise with a pointer
    to the LSH twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"dedup_embedding_cosine is the exact all-pairs demo (O(n²)): "
            f"input has {n} rows > max_rows={max_rows}. Use "
            f"dedup_embedding_cosine_lsh (banded sign-LSH candidates + "
            f"exact verify) for corpus-scale dedup."
        )
    # norms once per VECTOR, not per pair — the pairwise work drops from 3
    # 64-dim dot products to 1 (identical doubles: same ops, same order)
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    lhs = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
        norm.alias("n_a"),
    )
    rhs = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"),
        norm.alias("n_b"),
    )
    cos = _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        spread(lhs)
        .join(rhs, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def dedup_embedding_cosine_oracle(threshold: float = COSINE_DUP_THRESHOLD) -> str:
    return f"""
SELECT id_a, id_b, cosine FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
               AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
)
WHERE cosine >= {threshold!r}
ORDER BY id_a, id_b
"""


# banded sign-LSH (OR-construction): b bands of r planes each. A pair
# collides iff it agrees on ALL r bits of SOME band; for angle θ that is
# 1-(1-(1-θ/π)^r)^b — the classic S-curve, steep around the gate cosine
# (1/b)^(1/r) expressed as a bit-agreement probability. Band shape is an
# OPERATING-POINT decision, not a constant:
# - 8×4 (gate cos ≈ 0.35): permissive — needed so the registry's 0.4 demo
#   threshold (synthetic data has no near-dups) keeps recall ~0.75. On
#   uniform random vectors it passes ~1/16 of ALL pairs per band, so the
#   candidate stage is near-quadratic — the price of a low gate.
# - 4×8 (gate cos ≈ 0.88): the PRODUCTION shape for the 0.99 dedup
#   threshold — recall 0.991 there, while random pairs (bit-agreement
#   ≈ 0.54) collide at 0.54⁸ ≈ 0.7% per band: ~12× fewer candidates from
#   the same 32 planes, just grouped into deeper bands.
DEDUP_LSH_BANDS = 8
DEDUP_LSH_ROWS = 4  # planes per band
P99_LSH_BANDS = 4
P99_LSH_ROWS = 8

# Occupancy-adaptive banding: with a FIXED (b, r), expected bucket
# occupancy is n/2^r, so candidate pairs grow b·n²/2^(r+1) — quadratic in
# corpus size. (Measured, not theoretical: a ×100 corpus replica sent the
# fixed-shape pair stage from seconds into minutes — the bucket-occupancy
# blowup a ×10 test hides.) The fix: one extra row per corpus DOUBLING
# past LSH_OCC_BASE keeps occupancy at its anchored value, making the
# candidate volume ~linear in n; one extra band per TWO extra rows holds
# recall at the tuned threshold (p≈0.955 at cos 0.99: r 8→14 drops
# per-band hit to 0.52, b 4→7 restores ≥0.99 overall). Below the base —
# every gate/test scale — the tuned shapes are byte-identical to before,
# and the oracle computes the SAME shape from COUNT(*) in pure integer
# SQL, so both engines adapt in lockstep at any scale.
LSH_OCC_BASE = 4096

# Graduated bucket splitting: occupancy adaptation above keeps the AVERAGE
# bucket at its anchored size, but real embedding corpora are directionally
# clustered — measured at a ×100 replica (200k vectors, adapted 7×14
# shape), the largest sign-buckets held ~1,800 vectors (~1% of the corpus)
# against a uniform expectation of 12, and collisions totalled 251M. The
# fix mirrors production LSH dedup systems: any bucket above LSH_OCC_CAP is
# split by k extra sign planes, k = bit_length((cnt-1)//CAP) (graduated —
# a 2·CAP bucket splits in 2, a 1,800 bucket into 32), which bounds
# candidate volume by bands·n·CAP/2 — LINEAR in n regardless of skew.
# Split keys come from LSH_XBITS dedicated planes per band (plane index
# bands·rows + band·XBITS + t, disjoint from the signature planes), so a
# near-dup pair in an oversized bucket still agrees on each extra plane
# with the same per-plane probability (0.955 at cos 0.99 — a 5-bit split
# retains 0.79 of that band's hits; other bands are split independently).
# Buckets at or under the cap are byte-identical to the unsplit spelling —
# every gate/test scale except the permissive demo shape at sf≥0.01 stays
# unchanged — and the oracle computes the SAME split from a window count
# in pure integer SQL, so both engines split in lockstep at any scale.
LSH_OCC_CAP = 64
LSH_XBITS = 12


def _occ_split_bits(cnt_col, cap: int = LSH_OCC_CAP, xbits: int = LSH_XBITS):
    """k = min(xbits, bit_length((cnt-1) // cap)) as an integer-exact
    column expression (descending WHEN chain — no float log)."""
    q = F.expr(f"(cnt - 1) div {cap}")
    k = F.lit(0)
    for e in range(xbits):
        k = F.when(q >= (1 << e), F.lit(e + 1)).otherwise(k)
    return k


def _occ_split_sql(cap: int = LSH_OCC_CAP, xbits: int = LSH_XBITS) -> str:
    """The SAME graduated split width in DuckDB SQL, over a column ``cnt``."""
    q = f"((cnt - 1) // {cap})"
    return (
        "CASE "
        + " ".join(
            f"WHEN {q} >= {1 << e} THEN {e + 1}"
            for e in range(xbits - 1, -1, -1)
        )
        + " ELSE 0 END"
    )


def _lsh_adaptive_shape(n: int, bands: int, rows: int) -> tuple[int, int]:
    """(bands, rows) scaled to corpus size n: +1 row per doubling past
    LSH_OCC_BASE, +1 band per two extra rows. Identity below the base.
    Capped at 20 doublings to stay in EXACT lockstep with the oracle's
    unrolled CASE chain (`_lsh_shape_sql` enumerates e in 0..19) — the
    cap binds only past LSH_OCC_BASE·2¹⁹ rows, where 20 extra signature
    rows already push collision probability to the floor."""
    extra = min((n // LSH_OCC_BASE).bit_length(), 20)
    if extra == 0:
        return bands, rows
    return bands + (extra + 1) // 2, rows + extra


def _lsh_shape_sql(bands: int, rows: int) -> str:
    """The SAME adaptation as a pure-integer SQL fragment: a CTE ``sh``
    with columns nb (bands) and nr (rows), derived from
    ``(SELECT COUNT(*) FROM embeddings)``. bit_length is an unrolled
    exact CASE chain — no float log anywhere."""
    q = f"((SELECT COUNT(*) FROM embeddings) // {LSH_OCC_BASE})"
    bitlen = "CASE " + " ".join(
        f"WHEN {q} >= {1 << e} THEN {e + 1}" for e in range(19, -1, -1)
    ) + " ELSE 0 END"
    return f"""sh AS (
    SELECT {bands} + (CASE WHEN x.extra = 0 THEN 0
                           ELSE (x.extra + 1) // 2 END) AS nb,
           {rows} + x.extra AS nr
    FROM (SELECT {bitlen} AS extra) x
)"""


def dedup_embedding_cosine_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    bands: int = DEDUP_LSH_BANDS,
    rows: int = DEDUP_LSH_ROWS,
) -> DataFrame:
    """Scale path of ``dedup_embedding_cosine``: candidate pairs come from a
    banded sign-LSH equi-join instead of the all-pairs product, then the
    exact cosine filter verifies them. Band shape (b×r) is tuned to the
    threshold — see the S-curve note above.

    Plan shape at 100 TB: the band signature is row-local (an Arrow
    mapInPandas kernel, bit-identical to the literal-plane fold it
    replaced — see the note in ``_dedup_lsh_pairs``), the only wide
    operations are the occupancy window and the bucket hash-join, both
    keyed on (band, sig[, sub]) — candidate volume is bounded
    bands·n·CAP/2 by the graduated bucket split, LINEAR in the corpus.
    Versus the exact spelling's |corpus|² nested loop, this is the
    difference between feasible and not; the trade is bounded,
    S-curve-quantified recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _dedup_lsh_pairs(spark, emb, threshold, bands, rows)


def dedup_embedding_cosine_lsh_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production operating point of the banded-LSH dedup: threshold 0.99
    with the 4×8 band shape. On a clean corpus (no near-dups) this is the
    common case a 100 TB dedup pass actually runs — the cost is the
    signature + candidate machinery, and deep bands keep that ~12× below
    the permissive 8×4 demo shape."""
    return dedup_embedding_cosine_lsh(
        spark, sf_dir, COSINE_DUP_THRESHOLD, P99_LSH_BANDS, P99_LSH_ROWS
    )


def _dedup_lsh_pairs(
    spark: SparkSession,
    emb: DataFrame,
    threshold: float,
    bands: int,
    rows: int,
) -> DataFrame:
    """Core of the banded-LSH dedup over any (vec_id, embedding) frame —
    split out so tests can plant known near-duplicates and assert recall.
    ``bands``/``rows`` are the TUNED base shape; the effective shape is
    occupancy-adapted to the corpus size (see ``_lsh_adaptive_shape``) so
    candidate volume stays ~linear in n instead of quadratic."""
    bands, rows = _lsh_adaptive_shape(emb.count(), bands, rows)
    # Signature + split planes as ONE Arrow-batched mapInPandas kernel.
    # The earlier spelling embedded every plane as a 64-double literal
    # array and folded it with F.aggregate — row-local and JVM-side, but
    # at b×(r+XBITS) ≈ 180 plane arrays the measured cost was ~5 s of
    # Catalyst analysis + codegen PER QUERY BUILD, fixed and
    # data-independent (the same literal-plan lesson as the PQ encode
    # rework at _pq_assign). The kernel keeps the arithmetic BIT-IDENTICAL
    # to that fold and to the DuckDB oracle: planes are the same phash_py
    # doubles, and the dot/norm accumulate with one vectorized add per
    # component index i = 0..63 — the exact sequential fold order of
    # F.aggregate and of DuckDB's grouped SUM — so sign bits never differ.
    # Row-local, zero shuffle, BLAS-free inner loop: the 100 TB posture is
    # unchanged, minus the fixed planning cost.
    n_sig, n_all = bands * rows, bands * (rows + LSH_XBITS)
    planes = np.array(
        [
            [phash_py(p, i, seed=LSH_SEED) / float(PHASH_P) - 0.5 for i in range(64)]
            for p in range(n_all)
        ]
    )
    sig_w = 1 << np.arange(rows, dtype=np.int64)
    xsig_w = 1 << np.arange(LSH_XBITS, dtype=np.int64)
    out_schema = (
        "vec_id bigint, embedding array<float>, n double, "
        "band int, sig bigint, xsig bigint"
    )
    n_bands = bands

    def _tag_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            acc = np.zeros((len(X), n_all))
            nacc = np.zeros(len(X))
            for i in range(64):  # sequential in i — the fold's add order
                acc += X[:, i : i + 1] * planes[None, :, i]
                nacc += X[:, i] * X[:, i]
            bits = (acc >= 0).astype(np.int64)
            norm = np.sqrt(nacc)
            for j in range(n_bands):
                sig = bits[:, j * rows : (j + 1) * rows] @ sig_w
                xsig = (
                    bits[:, n_sig + j * LSH_XBITS : n_sig + (j + 1) * LSH_XBITS]
                    @ xsig_w
                )
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].values,
                        "embedding": pdf["embedding"].values,
                        "n": norm,
                        "band": np.full(len(X), j, dtype=np.int32),
                        "sig": sig,
                        "xsig": xsig,
                    }
                )

    tagged = spread(emb).select("vec_id", "embedding").mapInPandas(
        _tag_kernel, out_schema
    )
    # graduated bucket split (see LSH_OCC_CAP note): the window count costs
    # one exchange of the index frame on (band, sig) — the same key the
    # join used to shuffle on — and turns every oversized bucket into
    # ~CAP-sized sub-buckets keyed by the low k bits of the split planes.
    occ_w = Window.partitionBy("band", "sig")
    tagged = (
        tagged.withColumn("cnt", F.count(F.lit(1)).over(occ_w))
        .withColumn("k", _occ_split_bits(F.col("cnt")))
        .withColumn(
            "sub",
            F.expr("xsig & (shiftleft(CAST(1 AS BIGINT), k) - 1)"),
        )
        .drop("xsig", "cnt", "k")
    )
    # the signature frame feeds BOTH sides of the self-join; without
    # materialization Spark plans the scan + the plane dots twice. It
    # carries the vector + precomputed norm (b× replication of the
    # embedding column — linear in the corpus, the standard "materialize
    # the index" trade) so the join can VERIFY IN PLACE below.
    # localCheckpoint, not cache: blocks are reference-GC'd after the
    # query's frames drop, instead of pinning in the session cache forever
    tagged = tagged.localCheckpoint()
    # Verify-in-place: cosine is computed AT THE COLLISION SITE, inside the
    # bucket join's output stream, and only SURVIVORS (candidates ≥
    # threshold) reach the pair-dedup shuffle. The earlier spelling carried
    # bare ids, deduped the full candidate volume, then re-attached the
    # 64-float vectors with two shuffle joins — measured at a ×100 corpus
    # replica (200k vectors, skewed real-data signatures → 251M collisions)
    # that vector re-attach spilled ~70 GB and filled the disk. Collisions
    # are quadratic in bucket occupancy; survivors are the true output.
    # Re-computing the dot per duplicate collision is row-local arithmetic
    # (no exchange), the canonical trade of redundant local compute for
    # eliminated shuffle volume. Output set is IDENTICAL (round-then-filter
    # order preserved), so the oracle is unchanged.
    #
    # Parallelism is decided by |keys| = bands×2^rows vs the cluster:
    # when keys are FEWER than ~8× the core count, a plain equi-join
    # serializes pair generation into a handful of hot reducers — and AQE
    # makes it WORSE: it coalesces by shuffle bytes (tiny here) and cannot
    # see the quadratic expansion on the reduce side. That regime gets
    # (a) a salt splitting each signature's pair work 16 ways and (b)
    # explicit repartition-by-key, which AQE's coalescer leaves alone
    # (measured 3× on the candidate stage). With a large key space the
    # salt is pure overhead (16× duplicated build side + two forced
    # exchanges, ~2 s of fixed cost locally) and the plain join is both
    # parallel and cheaper. The SAME code adapts either way — on a
    # 1000-executor cluster defaultParallelism grows and deep-band key
    # spaces drop back into the salted regime, which is again correct.
    n_keys = bands * (1 << rows)
    a = tagged.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
        F.col("n").alias("n_a"),
        "band",
        "sig",
        "sub",
    )
    b = tagged.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"),
        F.col("n").alias("n_b"),
        "band",
        "sig",
        "sub",
    )
    if n_keys < 8 * spark.sparkContext.defaultParallelism:
        n_salt = 16
        n_part = 2 * spark.sparkContext.defaultParallelism
        a = a.withColumn("_salt", (F.abs(F.xxhash64("id_a")) % n_salt).cast("long"))
        b = b.withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(n_salt - 1).cast("long"))
            ),
        )
        joined = a.repartition(n_part, "band", "sig", "sub", "_salt").join(
            b.repartition(n_part, "band", "sig", "sub", "_salt"),
            ["band", "sig", "sub", "_salt"],
        )
    else:
        joined = a.join(b, ["band", "sig", "sub"])
    cos = _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def dedup_embedding_cosine_lsh_oracle(
    threshold: float = COSINE_DUP_THRESHOLD,
    bands: int = DEDUP_LSH_BANDS,
    rows: int = DEDUP_LSH_ROWS,
) -> str:
    # self-adapting structure: plane count / band grouping / graduated
    # bucket split all derive from the SAME occupancy formulas as the
    # engine (sh CTE + _occ_split_sql), in pure integer SQL — the oracle
    # stays valid at ANY corpus size. MAXP bounds the static plane table
    # at the 20-doubling cap of the bit_length chain, signature + split
    # planes included.
    maxp = (bands + 10) * (rows + 20 + LSH_XBITS)
    return f"""
WITH {_lsh_shape_sql(bands, rows)},
comp AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS i,
           unnest(CAST(embedding AS DOUBLE[])) AS x
    FROM embeddings
),
planes AS (
    SELECT j.j, i.i,
           CAST({phash_frag('j.j', 'i.i', seed=LSH_SEED)} AS DOUBLE)
               / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
    FROM (SELECT unnest(range(0, {maxp})) AS j) j
    CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
    CROSS JOIN sh
    WHERE j.j < sh.nb * (sh.nr + {LSH_XBITS})
),
bits AS (
    SELECT c.vec_id, p.j,
           CASE WHEN SUM(c.x * p.w) >= 0 THEN 1 ELSE 0 END AS b
    FROM comp c JOIN planes p ON c.i = p.i
    GROUP BY c.vec_id, p.j
),
bands AS (
    SELECT t.vec_id, t.j // sh.nr AS band,
           SUM(t.b * CAST(POW(2, t.j % sh.nr) AS BIGINT)) AS sig
    FROM bits t CROSS JOIN sh
    WHERE t.j < sh.nb * sh.nr
    GROUP BY t.vec_id, t.j // sh.nr
),
xbands AS (
    SELECT t.vec_id, (t.j - sh.nb * sh.nr) // {LSH_XBITS} AS band,
           SUM(t.b * CAST(POW(2, (t.j - sh.nb * sh.nr) % {LSH_XBITS}) AS BIGINT)) AS xsig
    FROM bits t CROSS JOIN sh
    WHERE t.j >= sh.nb * sh.nr
    GROUP BY t.vec_id, (t.j - sh.nb * sh.nr) // {LSH_XBITS}
),
tag AS (
    SELECT s.vec_id, s.band, s.sig, x.xsig,
           COUNT(*) OVER (PARTITION BY s.band, s.sig) AS cnt
    FROM bands s JOIN xbands x
      ON s.vec_id = x.vec_id AND s.band = x.band
),
tag2 AS (
    SELECT vec_id, band, sig,
           xsig & ((CAST(1 AS BIGINT) << ({_occ_split_sql()})) - 1) AS sub
    FROM tag
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM tag2 a JOIN tag2 b
      ON a.band = b.band AND a.sig = b.sig AND a.sub = b.sub
     AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM (
    SELECT c.id_a, c.id_b,
           ROUND(
             list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))), 6)
               AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
)
WHERE cosine >= {threshold!r}
ORDER BY id_a, id_b
"""


def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup endgame: connected components over the banded-LSH
    near-duplicate pairs (demo 0.4 gate — the registered pair query), every
    vector labeled with its component's min vec_id. The embedding-space twin
    of the text family's ``dedup_clusters``: candidate pairs come from sign
    LSH instead of MinHash bands, the component kernel is SHARED
    (``text._connected_components`` — iterative hash-min propagation, one
    edge shuffle per round, localCheckpoint lineage truncation), and "keep
    one per semantic cluster" is then ``filter(vec_id == cluster)``.

    Scale: pair volume is bucket-bounded by the LSH stage (never all-pairs);
    the propagation loop moves only (id, label) rows — embeddings never
    enter the iteration. The pair stage runs the production 4×8 deep-band
    shape (same 32 signature planes as the permissive 8×4 demo, 16× finer
    buckets) plus the graduated occupancy split: at the demo shape
    candidate volume grows ~|corpus|²/buckets and already dominates at
    sf0.1 — banding depth IS the candidate-volume knob, and a clustering
    pass wants the deep end of it."""
    from .text import _connected_components

    pairs = dedup_embedding_cosine_lsh(
        spark, sf_dir, 0.4, P99_LSH_BANDS, P99_LSH_ROWS
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        _connected_components(nodes, pairs)
        .select(F.col("doc_id").alias("vec_id"), "cluster")
        # no output sort: per-vector label table (event_gaps contract)
    )


def embedding_dedup_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
    SELECT id_a, id_b
    FROM ({dedup_embedding_cosine_lsh_oracle(0.4, P99_LSH_BANDS, P99_LSH_ROWS)})
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS vec_id, MIN(root) AS cluster
FROM reach GROUP BY node ORDER BY vec_id
"""


# -- IVF (coarse-quantized) ANN ----------------------------------------------

IVF_CELLS = 8
IVF_SEED = 23


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of ``IVF_CELLS``
    deterministic coarse centroids (portable-hash-derived, so the oracle
    replays them); each query searches ONLY its own cell — the classic
    inverted-file trade of recall for a |corpus|/cells scan reduction.
    Output: per query (vec_id < 5), top-5 same-cell neighbors by cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    # centroid c[j][i] = phash(j,i)/P - 0.5 — same construction as lsh
    # planes, embedded as plan literals so cell assignment is row-local
    # (argmax over 8 dots per row; no generated-table cross join, no
    # per-vec_id window shuffle — the old spelling amplified the corpus
    # 8× and shuffled it before its first useful operator)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    _dot(F.col("embedding"), _phash_plane(c, dim, IVF_SEED)).alias(
                        "dot"
                    ),
                    # negated so struct-max ties (equal dot) pick the LOWEST cell
                    F.lit(-c).cast("int").alias("negcell"),
                )
                for c in range(IVF_CELLS)
            ]
        )
    )
    with_cell = spread(emb).select(
        "vec_id", "embedding", (-best["negcell"]).cast("int").alias("cell")
    )
    q = with_cell.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "cell",
    )
    pairs = with_cell.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("embedding")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv")))
        * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def ann_ivf_oracle() -> str:
    return f"""
WITH cent AS (
    SELECT c.cell, list(p.w ORDER BY p.i) AS c
    FROM (SELECT unnest(range(0, {IVF_CELLS})) AS cell) c,
         LATERAL (
             SELECT i.i,
                    CAST({phash_frag('c.cell', 'i.i', seed=IVF_SEED)} AS DOUBLE)
                        / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
             FROM (SELECT unnest(range(0, 64)) AS i) i
         ) p
    GROUP BY c.cell
),
assigned AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c) DESC,
                            c.cell ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
),
q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, cell
    FROM assigned WHERE vec_id < {N_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, a.vec_id AS neighbor_id,
           ROUND(
             list_dot_product(q.qv, CAST(a.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))), 6)
               AS cosine
    FROM assigned a JOIN q ON a.cell = q.cell
    WHERE a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
           ) AS INT) AS rnk
    FROM scored
) WHERE rnk <= 5
"""


def mmd_rbf_fast(
    spark: SparkSession, sf_dir: str, label_a: int = 0, label_b: int = 1,
    sigma: float = 4.0, block: int = 2048,
) -> DataFrame:
    """Throughput path for MMD²: block-tiled numpy BLAS Gram, fully
    distributed — NO side is ever materialized on the driver.

    Each side is hash-bucketed into ≤``block``-row tiles, the tiles are
    aggregated with ``collect_list`` (bounded: block × dim doubles ≈ 1 MB
    per tile row), and every (i-tile × j-tile) pair of the three Gram
    grids (XX / YY / XY) is one row of a tile cross-join whose kernel sum
    is computed by an Arrow-batched pandas UDF at BLAS speed. Per-task
    memory is O(block·dim); shuffle volume is the block-nested-loop
    replication |X|·(|Y|/block) — the canonical distributed spelling of
    an O(n²) kernel, and the same grid a 1000-executor cluster would
    spread evenly. The only driver-side values are the two side COUNTS
    (1-row bounds, needed to size the tile grid and normalize the means).

    Returns the same (label_a, label_b, mmd2) shape as ``mmd_rbf`` and is
    hash-checked against the SAME oracle: both engines round to 6 dp and
    the true numpy-vs-relational |Δ| is pinned <1e-6 in
    tests/test_text_vectors.py, so the rounded digit agrees on any fixed
    dataset (verified at sf0.01 and sf0.1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    gamma = 1.0 / (2.0 * sigma * sigma)

    @F.pandas_udf("double")
    def _tile_ksum(vx: pd.Series, vy: pd.Series) -> pd.Series:
        out = []
        for xs, ys in zip(vx, vy):
            x = np.array([np.asarray(v, dtype=np.float64) for v in xs])
            y = np.array([np.asarray(v, dtype=np.float64) for v in ys])
            d2 = (
                (x * x).sum(axis=1)[:, None]
                - 2.0 * (x @ y.T)
                + (y * y).sum(axis=1)[None, :]
            )
            out.append(float(np.exp(-gamma * d2).sum()))
        return pd.Series(out, dtype="float64")

    def tiles(lbl: int, n: int) -> DataFrame:
        n_tiles = max(1, -(-n // block))
        return (
            emb.filter(F.col("label") == lbl)
            .groupBy(
                F.pmod(F.xxhash64("vec_id"), F.lit(n_tiles)).alias("tile")
            )
            .agg(F.collect_list("embedding").alias("vs"))
        )

    # the two counts are the only driver-side values — 1-row bounds
    counts = {
        r["label"]: r["n"]
        for r in emb.filter(F.col("label").isin(label_a, label_b))
        .groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_a, n_b = counts.get(label_a, 0), counts.get(label_b, 0)

    # each tile frame feeds TWO grids (XX+XY / YY+XY); without
    # materialization Spark re-runs the scan + bucketing per grid.
    # cache(), NOT localCheckpoint: checkpointing truncates lineage and
    # hides the label pushdown from the executed plan (test_plans gates
    # it). The session keeps ONE plan-keyed entry per label pair — a
    # bounded, intentional residency, re-used (not re-added) across runs
    ta = tiles(label_a, n_a).cache()
    tb = tiles(label_b, n_b).cache()

    def grid_sum(tx: DataFrame, ty: DataFrame, name: str) -> DataFrame:
        g = tx.select(F.col("vs").alias("vx")).crossJoin(
            ty.select(F.col("vs").alias("vy"))
        )
        return g.select(_tile_ksum("vx", "vy").alias("s")).agg(
            F.sum("s").alias(name)
        )

    sums = (
        grid_sum(ta, ta, "sxx")
        .crossJoin(grid_sum(tb, tb, "syy"))
        .crossJoin(grid_sum(ta, tb, "sxy"))
    )
    return sums.select(
        F.lit(label_a).alias("label_a"),
        F.lit(label_b).alias("label_b"),
        F.round(
            F.col("sxx") / F.lit(float(n_a * n_a))
            + F.col("syy") / F.lit(float(n_b * n_b))
            - 2.0 * F.col("sxy") / F.lit(float(n_a * n_b)),
            6,
        ).alias("mmd2"),
    )


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of each approximate ANN path against the exact scan, as ONE
    registered query: the quality contract of the similarity-search family,
    continuously checkable instead of a one-off notebook claim. For each
    method the truth set is the exact top-k at the SAME cutoff the method
    returns (LSH k=10, IVF k=5); recall = |method ∩ exact| / |exact|.

    Plan shape: three broadcast-query scans (each method is itself a
    single-corpus-scan plan) collapsing to per-method 1-row aggregates —
    the joins are on (query_id, neighbor_id) over ≤ |queries|·k rows, so
    the audit's own cost is the methods' cost, not a new quadratic term.
    (PQ and IVF-PQ recall are pinned separately by their planted-cluster
    tests — the unrolled-codebook oracles are too heavy to replay inside
    additional CTEs, and uniform-random testdata is their worst case.)"""

    def recall_of(method_df: DataFrame, method: str, k: int) -> DataFrame:
        truth = (
            ann_cosine_topk(spark, sf_dir)
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id")
        )
        hits = method_df.select("query_id", "neighbor_id").join(
            truth, ["query_id", "neighbor_id"]
        )
        return (
            hits.agg(F.count(F.lit(1)).alias("n_hits"))
            .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
            .select(
                F.lit(method).alias("method"),
                F.lit(k).cast("int").alias("k"),
                "n_hits",
                "n_truth",
                F.round(
                    F.col("n_hits").cast("double") / F.col("n_truth"), 6
                ).alias("recall"),
            )
        )

    return (
        recall_of(ann_lsh_topk(spark, sf_dir), "lsh", TOPK)
        .unionByName(recall_of(ann_ivf_topk(spark, sf_dir), "ivf", 5))
        .orderBy("method")
    )


def ann_recall_audit_oracle() -> str:
    return f"""
WITH exact AS (
    SELECT query_id, neighbor_id, rnk FROM ({ANN_COSINE_TOPK_ORACLE})
),
lsh AS (SELECT query_id, neighbor_id FROM ({ANN_LSH_TOPK_ORACLE})),
ivf AS (SELECT query_id, neighbor_id FROM ({ann_ivf_oracle()})),
audit AS (
    SELECT 'lsh' AS method, CAST({TOPK} AS INT) AS k,
           CAST((SELECT COUNT(*) FROM lsh l
                 JOIN exact e ON e.query_id = l.query_id
                  AND e.neighbor_id = l.neighbor_id AND e.rnk <= {TOPK})
               AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM exact WHERE rnk <= {TOPK})
               AS BIGINT) AS n_truth
    UNION ALL
    SELECT 'ivf' AS method, CAST(5 AS INT) AS k,
           CAST((SELECT COUNT(*) FROM ivf v
                 JOIN exact e ON e.query_id = v.query_id
                  AND e.neighbor_id = v.neighbor_id AND e.rnk <= 5)
               AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM exact WHERE rnk <= 5)
               AS BIGINT) AS n_truth
)
SELECT method, k, n_hits, n_truth,
       ROUND(CAST(n_hits AS DOUBLE) / n_truth, 6) AS recall
FROM audit ORDER BY method
"""


# -- product-quantized ANN (ADC over a deterministic codebook) ----------------

PQ_M = 4  # subvector count
PQ_SUBDIM = 16  # dims per subvector (PQ_M × PQ_SUBDIM = 64)
PQ_K = 16  # centroids per subspace
PQ_SEED = 31


def _pq_centroid_py(m: int, k: int) -> list[float]:
    """Deterministic codebook entry: centroid (m,k)[j] = phash(m·K+k, j)/P − ½
    — the same portable-hash construction as the LSH planes / IVF
    centroids, so the oracle replays the codebook exactly."""
    return [
        phash_py(m * PQ_K + k, j, seed=PQ_SEED) / float(PHASH_P) - 0.5
        for j in range(PQ_SUBDIM)
    ]


PQ_ROUNDS = 2  # per-subspace Lloyd refinement rounds on the phash init


def _dot_unrolled(a: str, b: str, n: int = PQ_SUBDIM):
    """Fold-left dot over a FIXED dimension, unrolled into a plain
    left-associated expression chain. Bit-equal to ``_dot`` (same IEEE
    add order; the aggregate's leading ``0.0 +`` cannot change any
    double) but whole-stage-codegen'd — the lambda-based higher-order
    functions evaluate interpreted, which costs ~1 s per million rows
    in the PQ hot path. Takes COLUMN NAMES and parses ONE SQL string:
    building the same chain as Column operators costs ~2n py4j
    round-trips per instantiation, which (multiplied by the PQ plan's
    ~10 instantiations) was ~2 s of pure driver-side plan construction
    per query build. SQL's ``*``/``+`` are left-associative, so the
    parsed tree is the identical fold."""
    terms = " + ".join(
        f"CAST({a}[{j}] AS DOUBLE) * CAST({b}[{j}] AS DOUBLE)"
        for j in range(n)
    )
    return F.expr(terms)


def _pq_vsub(emb: DataFrame, keys: tuple[str, ...] = ("vec_id",)) -> DataFrame:
    """(keys…, embedding) → (keys…, m, v, vv): one row-local explode
    into PQ_M subvectors, with the fold-left self-dot ``vv`` computed
    ONCE per subvector here so every downstream distance costs a single
    cross-dot. ``keys`` carries extra identity columns through (the
    IVF-PQ path threads the coarse cell alongside vec_id)."""
    # one parsed SQL string for the whole subvector array — the Column-
    # operator spelling cost ~0.9 s of py4j round-trips per query build
    subs = ", ".join(
        f"named_struct('m', CAST({m} AS INT), "
        f"'v', slice(embedding, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM}))"
        for m in range(PQ_M)
    )
    return (
        emb.select(*keys, F.expr(f"explode(array({subs}))").alias("s"))
        .select(*keys, F.col("s.m").alias("m"), F.col("s.v").alias("v"))
        .withColumn("vv", _dot_unrolled("v", "v"))
    )


def _pq_cdf(spark: SparkSession, cents: list[list[list[float]]]) -> DataFrame:
    """Codebook as a 64-row broadcastable frame (m, k, c, cc). ``cc`` is
    the Python fold-left ``sum(w*w)`` — the exact spelling the retired
    literal codebook embedded as ``F.lit``, bit-equal to the engine's
    fold-left ``_dot(c, c)`` and the oracle's ``list_dot_product``."""
    return spark.createDataFrame(
        [
            (m, k, cents[m][k], float(sum(w * w for w in cents[m][k])))
            for m in range(PQ_M)
            for k in range(PQ_K)
        ],
        "m int, k int, c array<double>, cc double",
    )


def _pq_d2():
    """Squared distance ``vv − 2·v·c + cc`` over a vsub⋈cdf join row,
    with both self-dots precomputed (``_pq_vsub`` / ``_pq_cdf``). The
    remaining cross-dot is fold-left in index order, so the value is
    bit-equal to the retired literal-codebook spelling and to the
    oracle's ``list_dot_product`` terms."""
    return F.col("vv") - 2 * _dot_unrolled("v", "c") + F.col("cc")


def _pq_assign(
    vsub: DataFrame, cdf: DataFrame, keys: tuple[str, ...] = ("vec_id",)
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the 64-row codebook frame
    (1:PQ_K join on m), then argmin via ``min(struct(d2, k))`` with
    map-side partial aggregation (lowest k wins ties). Returns
    (vec_id, m, k, v).  Used by BOTH training rounds and final encode.

    Why this spelling: a literal-codebook argmin costs seconds of
    Catalyst analysis per instantiation regardless of data size
    (measured ~13.8 s of an 18.7 s query at sf0.1). A window argmin
    over the same join shuffles corpus×K rows through a sort. Here each
    (vec_id, m) group's K candidate rows are all generated from ONE
    input row of the broadcast join, so the hash aggregate's map-side
    combine collapses them to a single row before the exchange — the
    shuffle carries corpus×PQ_M rows, K-free, and codes stay bit-equal
    (see ``_pq_d2``)."""
    d2 = _pq_d2()
    return (
        vsub.join(F.broadcast(cdf), "m")
        .groupBy(*keys, "m")
        .agg(
            F.min(
                F.struct(d2.alias("d2"), F.col("k").alias("k"))
            )["k"].alias("k"),
            F.first("v").alias("v"),
        )
        .select(*keys, "m", "k", "v")
    )


def _pq_train_cdf(spark: SparkSession, vsub: DataFrame) -> DataFrame:
    """Per-subspace Lloyd as ONE lazy plan: phash-deterministic init
    codebook (literal 64-row frame), then PQ_ROUNDS rounds of
    broadcast-codebook assignment (``_pq_assign``) → per-(m, code)
    ROUND(avg, 9) centroid update → COALESCE empty codes to the previous
    round's centroid. Returns the FINAL codebook frame (m, k, c, cc) —
    centroids never touch the driver. The earlier spelling collected the
    K×SUBDIM centroids per round and re-embedded them as the next round's
    literal frame; the per-round job launch + plan analysis was a fixed
    ~1.2 s regardless of data size, and at bench scale those round-trips
    were ~70% of the whole query. With PQ_ROUNDS bounded the unrolled
    plan stays shallow (the iterative-lineage trap starts at ~10 rounds —
    kmeans keeps the per-round checkpoint loop for exactly that reason).
    Rounding moves in-plan (F.round, 9 dp) — the oracle applies the same
    ROUND at each round, so embedded values agree exactly as before."""
    cents0 = [
        [_pq_centroid_py(m, k) for k in range(PQ_K)] for m in range(PQ_M)
    ]
    cdf = _pq_cdf(spark, cents0)
    for _ in range(PQ_ROUNDS):
        assigned = _pq_assign(vsub, cdf).select(
            "m", F.col("k").alias("code"), "v"
        )
        upd = ", ".join(
            f"round(avg(CAST(v[{j}] AS DOUBLE)), 9)"
            for j in range(PQ_SUBDIM)
        )
        newc = assigned.groupBy("m", "code").agg(
            F.expr(f"array({upd})").alias("c_new")
        )
        cdf = (
            cdf.select("m", "k", F.col("c").alias("c_prev"))
            .join(
                F.broadcast(newc.withColumnRenamed("code", "k")),
                ["m", "k"],
                "left",
            )
            .select("m", "k", F.coalesce("c_new", "c_prev").alias("c"))
            .withColumn("cc", _dot_unrolled("c", "c"))
        )
    return cdf


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation — the
    memory-compression member of the ANN family (exact / sign-LSH / IVF /
    PQ): 64 floats per vector compress to PQ_M=4 codes (one byte each,
    16× memory); queries score codes through a per-query lookup table.
    The codebook is per-subspace Lloyd-trained from the deterministic
    phash init, so the whole trajectory is oracle-replayable (unrolled
    CTEs, like ``kmeans_embeddings``).

    True ADC plan shape (what makes PQ work at 100 TB):
    1. TRAIN: per subspace, broadcast-codebook assign + one K×SUBDIM
       aggregation per round — driver traffic is codebook-sized only.
    2. ENCODE: argmin over the 64-row broadcast codebook frame — one
       broadcast hash join + map-side-combined min(struct); the shuffle
       carries corpus×PQ_M combined rows, never the ×K candidates.
    3. LUT: |queries|×PQ_M×PQ_K partial distances via the same broadcast
       join over the query subvectors — tiny (5×4×16).
    4. SCORE: corpus codes exploded to (vec_id, m, code) join the
       broadcast LUT, sum the PQ_M parts per (query, vector). The 64-dim
       math happens ONLY in 1-3; scoring touches 4 small ints per corpus
       vector — never the embedding.

    On near-equidistant uniform-random corpora (this testdata) PQ recall
    is inherently poor — the operator's EFFECTIVENESS is pinned by the
    planted-cluster recall test (tests/test_text_vectors.py), the same
    honesty split the banded-LSH dedup family uses."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return _ann_pq_core(spark, emb)


def _ann_pq_core(spark: SparkSession, emb: DataFrame, topk: int = 5) -> DataFrame:
    """PQ train/encode/LUT/score over any (vec_id, embedding) frame —
    split out so tests can plant clustered corpora."""
    # keyed spread of EMB instead of a checkpoint: HashPartitioning
    # (vec_id) satisfies every (vec_id, m) argmin's clustering, so the
    # train and encode groupBys lose their exchange barriers entirely;
    # the parquet scan subtree is shallow enough that re-reading beats
    # materializing (measured 3.8 -> 2.7 s; checkpointing emb bare would
    # erase the partitioning metadata and bring the shuffles back — the
    # vsub checkpoint below therefore re-keys itself via spread_by)
    emb = spread_by(emb, "vec_id")
    # materialize the subvector frame ONCE and re-key it (r10
    # optimization, guide §5): four consumers (both Lloyd rounds, the
    # encode argmin, the query LUT) each re-ran the explode + self-dot
    # from the scan; the checkpoint computes it once, and the spread_by
    # on top restores the HashPartitioning(vec_id) the checkpoint erases
    # so the train/encode argmins stay exchange-free (one narrow 4-rows-
    # per-vector reshuffle per consuming plan, shared by ReusedExchange
    # inside the train plan). A/B min-of-4: 3.48 -> 3.13 s.
    vsub = spread_by(_pq_vsub(emb).localCheckpoint(), "vec_id")
    # the trained codebook feeds BOTH encode and LUT; checkpoint the
    # 64-row frame so the two training rounds execute exactly once
    cdf = _pq_train_cdf(spark, vsub).localCheckpoint()

    # encode: 4 codes per vector — broadcast-codebook join + map-side
    # combined argmin; bit-equal to the literal argmin but milliseconds
    # (not seconds) of plan analysis
    code_long = _pq_assign(vsub, cdf).select(
        "vec_id", "m", F.col("k").alias("code")
    )

    # per-query LUT: query subvectors × full codebook (|Q|·PQ_M·PQ_K rows,
    # tiny) through the 64-row broadcast join — no literal centroids
    lut = (
        vsub.filter(F.col("vec_id") < N_QUERY_VECS)
        .join(F.broadcast(cdf), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("k").alias("code"),
            _pq_d2().alias("dpart"),
        )
    )

    scored = (
        code_long.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("dpart"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "approx_d2",
            "rnk",
        )
    )


def _pq_oracle_traj_parts(
    keys: tuple[str, ...] = ("vec_id",)
) -> tuple[str, list[str], str, str]:
    """Shared unrolled-CTE replay of the PQ codebook trajectory over an
    existing ``vsub`` CTE with columns (keys…, m, v): returns
    (cent0_part, round_parts, codes_part, last_cent_name). ``keys``
    threads extra identity columns (the IVF-PQ path carries the coarse
    cell) — they ride the per-subvector argmin partition unchanged."""
    kl = ", ".join(keys)
    skl = ", ".join(f"s.{k}" for k in keys)
    d2 = (
        "list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    cent0 = f"""
cent0 AS (
    SELECT m.m, k.k, list(p.w ORDER BY p.j) AS c
    FROM (SELECT unnest(range(0, {PQ_M})) AS m) m
    CROSS JOIN (SELECT unnest(range(0, {PQ_K})) AS k) k,
    LATERAL (
        SELECT j.j,
               CAST({phash_frag('(m.m * ' + str(PQ_K) + ' + k.k)', 'j.j', seed=PQ_SEED)} AS DOUBLE)
                   / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
        FROM (SELECT unnest(range(0, {PQ_SUBDIM})) AS j) j
    ) p
    GROUP BY m.m, k.k
)""".strip()
    rounds: list[str] = []
    for t in range(PQ_ROUNDS):
        rounds.append(f"""
a{t} AS (
    SELECT {kl}, m, v, k AS code FROM (
        SELECT {skl}, s.m, s.v, c.k,
               ROW_NUMBER() OVER (
                   PARTITION BY {skl}, s.m
                   ORDER BY {d2} ASC, c.k ASC
               ) AS rn
        FROM vsub s JOIN cent{t} c ON s.m = c.m
    ) WHERE rn = 1
)""".strip())
        rounds.append(f"""
cent{t + 1} AS (
    SELECT p.m, p.k, COALESCE(n.c, p.c) AS c
    FROM cent{t} p LEFT JOIN (
        SELECT m, code AS k, list(w ORDER BY j) AS c FROM (
            SELECT a.m, a.code, j.j, ROUND(AVG(a.v[j.j + 1]), 9) AS w
            FROM a{t} a, (SELECT unnest(range(0, {PQ_SUBDIM})) AS j) j
            GROUP BY a.m, a.code, j.j
        ) GROUP BY m, code
    ) n ON p.m = n.m AND p.k = n.k
)""".strip())
    last = f"cent{PQ_ROUNDS}"
    codes = f"""
codes AS (
    SELECT {kl}, m, k AS code FROM (
        SELECT {skl}, s.m, c.k,
               ROW_NUMBER() OVER (
                   PARTITION BY {skl}, s.m
                   ORDER BY {d2} ASC, c.k ASC
               ) AS rn
        FROM vsub s JOIN {last} c ON s.m = c.m
    ) WHERE rn = 1
)""".strip()
    return cent0, rounds, codes, last


def ann_pq_oracle() -> str:
    """Unrolled-CTE replay of the full PQ trajectory: phash cent0, then
    PQ_ROUNDS (assign → per-component ROUND(avg,9) → COALESCE empty)
    rounds per subspace, then encode/LUT/ADC with the final codebook —
    the ``kmeans_oracle`` pattern with a subspace axis. Centroid
    components are rounded to 9 dp in BOTH engines so the embedded
    literals are exactly equal; cc is a list_dot_product over the
    j-ordered list (deterministic order) in both."""
    d2 = (
        "list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    cent0, rounds, codes, last = _pq_oracle_traj_parts()
    vsub = f"""
vsub AS (
    SELECT vec_id, m.m,
           list_slice(CAST(embedding AS DOUBLE[]),
                      m.m * {PQ_SUBDIM} + 1, (m.m + 1) * {PQ_SUBDIM}) AS v
    FROM embeddings CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) m
)""".strip()
    parts = [cent0, vsub, *rounds, codes]
    parts.append(f"""
lut AS (
    SELECT s.vec_id AS query_id, s.m, c.k AS code, {d2} AS dpart
    FROM vsub s JOIN {last} c ON s.m = c.m
    WHERE s.vec_id < {N_QUERY_VECS}
)""".strip())
    parts.append("""
scored AS (
    SELECT l.query_id, cd.vec_id, ROUND(SUM(l.dpart), 6) AS approx_d2
    FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
    WHERE cd.vec_id <> l.query_id
    GROUP BY l.query_id, cd.vec_id
)""".strip())
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT query_id, neighbor_id, approx_d2, rnk FROM (
    SELECT query_id, vec_id AS neighbor_id, approx_d2,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY approx_d2 ASC, vec_id ASC
           ) AS INT) AS rnk
    FROM scored
) WHERE rnk <= 5
"""
    )


# -- distributed k-means (Lloyd refinement of the IVF coarse quantizer) ------

KM_ITERS = 3


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus: refine the
    same ``IVF_CELLS`` phash-plane centroids ``ann_ivf_topk`` quantizes
    with, for ``KM_ITERS`` assignment/update rounds. The deterministic
    init is what makes the whole trajectory oracle-replayable — no
    kmeans|| randomness to reproduce.

    Per TRAINING round: assignment joins a broadcast k-row centroid
    frame and takes the window argmin over dist² (ties → lowest cluster
    id) — the oracle's own CROSS JOIN shape, chosen over per-round
    literal centroids because a fresh k×dim-literal expression tree
    costs Catalyst-analysis seconds regardless of data size (the PQ
    lesson); the update is a single k-key aggregation of per-component
    means — never an explode before the reduce. The k×dim result is
    collected to the driver (tiny, by construction) and fed to the next
    round's centroid frame, so rounds never grow the lineage over the
    corpus — each round re-reads the keyed-spread scan (a shallow,
    pruned subtree; the former checkpoint materialized once but erased
    the partitioning that now deletes the argmin exchange every round). The FINAL assignment (once per query) keeps the row-local
    literal-argmin form, which is right at scale.

    Output: per-cluster size + inertia (sum of squared distance to the
    final centroids) — the convergence surface a corpus-clustering job
    monitors. Empty clusters keep their previous centroid (guarded
    identically in the oracle via COALESCE).
    """
    # keyed spread instead of a checkpoint (the _ann_pq_core lesson): the
    # per-round window argmin clusters by vec_id, so HashPartitioning
    # (vec_id) deletes its exchange every Lloyd round; the scan subtree
    # is shallow enough that re-reading beats materializing (measured
    # 2.2 -> 2.0 s min-of-3). Training is session-memoized across the
    # corpus-clustering family (`_km_corpus_train`).
    emb, cent_vals, _ = _km_corpus_train(spark, sf_dir)
    return (
        _km_literal_assign(emb, cent_vals)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.round(F.sum("d2"), 3).alias("inertia"),
        )
        .orderBy("cluster")
    )


# expression builders emit SQL TEXT parsed in one py4j call each — the
# Column-operator spelling of the literal argmin (8 clusters × 64 F.lit +
# lambda chains) cost ~1.5 s of driver-side plan construction per query
# build (the same py4j lesson as _dot_unrolled). Double literals carry the
# D suffix, so Double.parseDouble round-trips repr() exactly.
def _km_dist2_sql(cent_sql: str) -> str:
    return (
        f"aggregate(transform(zip_with(embedding, {cent_sql}, "
        "(x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE)), d -> d * d), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _km_literal_assign(emb: DataFrame, cent_vals: list[list[float]]) -> DataFrame:
    """Row-local literal-argmin assignment against a trained codebook —
    the once-per-query FINAL assignment shape (no join, right at scale).
    Output: (vec_id, embedding, cluster, d2)."""
    structs = ", ".join(
        "named_struct('d2', "
        + _km_dist2_sql("array(" + ", ".join(f"{x!r}D" for x in cv) + ")")
        + f", 'cluster', CAST({c} AS INT))"
        for c, cv in enumerate(cent_vals)
    )
    best = F.expr(f"array_min(array({structs}))")
    return emb.select(
        "vec_id",
        "embedding",
        best["cluster"].alias("cluster"),
        best["d2"].alias("d2"),
    )


# four registered faces (kmeans_embeddings, semantic_dedup,
# semantic_dedup_scaled, cluster_label_purity) train the IDENTICAL
# deterministic Lloyd trajectory, a pure function of (corpus, k): the
# driver-side centroids are a session memo instead of KM_ITERS-1
# replayed assignment rounds per face.
def _km_corpus_train(
    spark: SparkSession, sf_dir: str, k: int = IVF_CELLS
) -> tuple[DataFrame, list[list[float]], dict[int, int]]:
    """Canonical corpus frame + its (session-memoized) trained centroids:
    the shared front half of every corpus-clustering face. Returns
    (emb, cent_vals, last_counts) where emb is the keyed-spread
    (vec_id, embedding) frame the callers also assign through."""
    from ..memo import session_memo

    emb = spread_by(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        ),
        "vec_id",
    )
    cent_vals, last_counts = session_memo(
        spark, "kmeans_train", lambda: _km_train(spark, emb, k=k),
        (k,), [(sf_dir, "embeddings")],
    )
    return emb, cent_vals, last_counts


def _km_train(
    spark: SparkSession, emb: DataFrame, dim: int = 64, k: int = IVF_CELLS
) -> tuple[list[list[float]], dict[int, int]]:
    """KM_ITERS−1 Lloyd refinement rounds from the deterministic phash
    init; returns (trained k×dim centroid list, last-round cluster
    counts) — both tiny driver-side artifacts. The counts come from the
    LAST refinement round's aggregate (free — same agg), so they lag the
    final assignment by one Lloyd step: exact enough for budget guards,
    not for reporting (`kmeans_embeddings` reports exact sizes).

    Training rounds assign through a broadcast k-row centroid frame +
    window argmin (the oracle's own CROSS JOIN shape) instead of the
    literal-centroid struct argmin: a fresh k×dim-literal expression per
    round costs Catalyst-analysis seconds regardless of data size (the
    PQ lesson, see _pq_train_cdf). dist2 keeps the identical zip-with
    Σ(x−c)² fold, so assignments — and the trajectory — are unchanged."""
    cent_vals: list[list[float]] = [
        [
            phash_py(c, i, seed=IVF_SEED) / float(PHASH_P) - 0.5
            for i in range(dim)
        ]
        for c in range(k)
    ]
    last_counts: dict[int, int] = {}
    d2_col = F.expr(_km_dist2_sql("c"))
    for _ in range(KM_ITERS - 1):
        cdf = spark.createDataFrame(
            [(c, cent_vals[c]) for c in range(k)],
            "cluster int, c array<double>",
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("cluster").asc()
        )
        assigned = (
            emb.crossJoin(F.broadcast(cdf))
            .withColumn("d2", d2_col)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        # update = dim per-component avgs per cluster in ONE agg — k keys
        # × dim columns, pure map-side combine (the posexplode spelling
        # shuffles n·dim skinny rows instead; never explode before reduce)
        upd = ", ".join(
            f"avg(CAST(embedding[{i}] AS DOUBLE))" for i in range(dim)
        )
        rows = (
            assigned.groupBy("cluster")
            # the count rides the SAME agg for free — semantic_dedup's
            # skew guard reads it instead of launching an extra job
            .agg(
                F.expr(f"array({upd})").alias("cw"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        new_vals = {r["cluster"]: r["cw"] for r in rows}
        last_counts = {r["cluster"]: r["cnt"] for r in rows}
        cent_vals = [
            [float(x) for x in new_vals[c]] if c in new_vals else cent_vals[c]
            for c in range(k)
        ]
    return cent_vals, last_counts


def kmeans_oracle() -> str:
    """Unrolled-CTE replay of the full Lloyd trajectory: cent0 from the
    phash planes, then KM_ITERS−1 (assign → per-dim avg → COALESCE empty)
    rounds, final assignment aggregated to (cluster, size, inertia)."""
    parts, last = _km_oracle_parts()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT cluster, COUNT(*) AS size, ROUND(SUM(d2), 3) AS inertia
FROM a{last}
GROUP BY cluster
ORDER BY cluster
"""
    )


def _km_oracle_parts(dim: int = 64) -> tuple[list[str], int]:
    """Shared unrolled-CTE replay of the Lloyd trajectory (phash init →
    KM_ITERS−1 assign/update rounds → final assignment CTE ``a{last}``
    with per-vector (vec_id, e, cluster, d2)). `kmeans_oracle` aggregates
    it; `semantic_dedup_oracle` prunes within its clusters."""
    cent0 = f"""
cent0 AS (
    SELECT c.cell AS cluster, list(p.w ORDER BY p.i) AS c
    FROM (SELECT unnest(range(0, {IVF_CELLS})) AS cell) c,
         LATERAL (
             SELECT i.i,
                    CAST({phash_frag('c.cell', 'i.i', seed=IVF_SEED)} AS DOUBLE)
                        / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
             FROM (SELECT unnest(range(0, {dim})) AS i) i
         ) p
    GROUP BY c.cell
)"""
    parts = [cent0.strip()]
    for t in range(KM_ITERS):
        assign = f"""
a{t} AS (
    SELECT vec_id, e, cluster, d2 FROM (
        SELECT x.vec_id, x.e, c.cluster,
               list_dot_product(x.e, x.e)
                 - 2 * list_dot_product(x.e, c.c)
                 + list_dot_product(c.c, c.c) AS d2,
               ROW_NUMBER() OVER (
                   PARTITION BY x.vec_id
                   ORDER BY list_dot_product(x.e, x.e)
                              - 2 * list_dot_product(x.e, c.c)
                              + list_dot_product(c.c, c.c) ASC,
                            c.cluster ASC
               ) AS rn
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) x
        CROSS JOIN cent{t} c
    ) WHERE rn = 1
)"""
        parts.append(assign.strip())
        if t < KM_ITERS - 1:
            update = f"""
cent{t + 1} AS (
    SELECT p.cluster, COALESCE(n.c, p.c) AS c
    FROM cent{t} p LEFT JOIN (
        SELECT cluster, list(w ORDER BY i) AS c FROM (
            SELECT a.cluster, i.i, AVG(a.e[i.i + 1]) AS w
            FROM a{t} a, (SELECT unnest(range(0, {dim})) AS i) i
            GROUP BY a.cluster, i.i
        ) GROUP BY cluster
    ) n ON p.cluster = n.cluster
)"""
            parts.append(update.strip())
    return parts, KM_ITERS - 1


# -- SemDeDup: cluster-then-prune semantic deduplication ---------------------

# Production SemDeDup runs τ ≈ 0.95+ against real (correlated) embeddings;
# this synthetic corpus is near-isotropic (pairwise cosines ~N(0, 1/64),
# σ = 0.125), so 0.3 ≈ +2.4σ is the threshold that actually exercises the
# prune path at test scale. The planted-cluster test pins the operator's
# effectiveness at a production-like τ.
SEMDEDUP_TAU = 0.3

# loud-fail ceilings: the prune stream is Σ sizeᵢ² cosines, so a corpus
# that outgrows its cluster count must raise k (re-cluster finer), not
# silently melt the stage — the same guard idiom as COSINE_EXACT_MAX_ROWS.
# MEAN (n / IVF_CELLS, checked from parquet metadata BEFORE any
# materialization) catches the oversized corpus cheaply; MAX (checked from
# the trained assignment, whose blocks the join needs anyway) catches the
# skew case a mean bound misses — Lloyd can legally collapse most of a
# correlated corpus into one cell, and one 70k-member cluster is ~2.4e9
# cosines on a single join key no matter how healthy the mean looks.
SEMDEDUP_MAX_AVG_CLUSTER = 10_000
SEMDEDUP_MAX_CLUSTER = 20_000
# the SCALED face's operating point: cluster count grows with the corpus
# so the mean population — and the O(n·mean) intra-cluster pair stream —
# stays pinned here regardless of corpus size (the SemDeDup scaling rule
# the demo face's guard error prescribes). At the sf0.01 gate
# n <= IVF_CELLS·TARGET, so k = IVF_CELLS and the scaled face IS the demo
# face — one oracle certifies both operating points.
SEMDEDUP_TARGET_CELL = 500


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding corpus, then prune near-duplicates WITHIN each cluster by
    exact cosine — the semantic member of the dedup family (exact /
    Jaccard / MinHash-LSH / SimHash / cosine-LSH / semantic). Clustering
    bounds the quadratic: all-pairs cosine runs per cluster, O(n²/k)
    total, and k scales with the corpus so cluster populations stay
    bounded (the paper's own scaling story — at 100 TB you raise k, not
    the pair budget; cluster sizes are also exactly the `kmeans_embeddings`
    output, so the budget is observable before committing to the join).

    Reuses the deterministic Lloyd trajectory of `kmeans_embeddings`
    (`_km_train` — phash init, broadcast-frame training assignment) and
    its literal-argmin final assignment, so the full pipeline is
    oracle-replayable. The prune rule is deterministic and ONE-PASS: a
    vector is dropped iff ANY same-cluster peer with a lower vec_id
    matches at cosine ≥ τ (rounded 6dp in both engines) — dropped peers
    included, so a similarity CHAIN a–b–c collapses even when cos(a,c)
    < τ (pinned by the chain test). This is a superset of greedy
    keep-against-kept (which is inherently sequential — not one SQL
    pass); the group-exact alternative, connected components over the
    τ-edge graph, is exactly what `embedding_dedup_clusters` computes
    through the shared CC kernel when chain fidelity matters.

    Plan shape: one equi-join on `cluster` (k keys — the per-key work is
    the point: it IS the bounded intra-cluster pair stream), norms
    computed once per SIDE not per pair, map-side-combined per-victim
    count, then a left join back onto the full corpus so kept vectors
    emerge with n_dups = 0."""
    # mean-population guard BEFORE any materialization: this count
    # resolves from parquet row-group metadata, so an oversized corpus is
    # refused without paying the spread + checkpoint it is about to skip
    n = load_table(spark, sf_dir, "embeddings").count()
    if n > SEMDEDUP_MAX_AVG_CLUSTER * IVF_CELLS:
        raise ValueError(
            f"semantic_dedup: {n} vectors over IVF_CELLS={IVF_CELLS} "
            f"clusters exceeds the mean-population ceiling "
            f"{SEMDEDUP_MAX_AVG_CLUSTER} — the intra-cluster cosine "
            "stream is quadratic per cluster. Raise the cluster count in "
            "step with the corpus (the SemDeDup scaling rule) instead of "
            "melting this stage."
        )
    # keyed spread instead of a checkpoint — same trade as
    # kmeans_embeddings (measured 2.4 -> 2.1 s min-of-3); the prune join
    # itself is cluster-keyed and indifferent to this layout. Training is
    # session-memoized across the family (`_km_corpus_train`).
    emb, cent_vals, last_counts = _km_corpus_train(spark, sf_dir)
    # skew guard from the LAST training round's cluster counts (free —
    # they ride the training aggregate; exact sizes lag the final
    # assignment by one Lloyd step, which a budget ceiling absorbs): a
    # mean-healthy corpus can still collapse into one cell, and per-key
    # pair volume is size², not mean²
    max_sz = max(last_counts.values(), default=0)
    if max_sz > SEMDEDUP_MAX_CLUSTER:
        raise ValueError(
            f"semantic_dedup: largest cluster holds ~{max_sz} vectors "
            f"(> {SEMDEDUP_MAX_CLUSTER}) — ~{max_sz * (max_sz - 1) // 2:,}"
            " intra-cluster cosine pairs would land on one join key. "
            "Raise the cluster count (finer k-means) before pruning."
        )
    # the assignment feeds both self-join sides plus the final output
    # select; materialize it once instead of evaluating the k×dim literal
    # argmin three times (this is the "persist the assignments" step a
    # production SemDeDup pass writes to parquet anyway)
    assigned = (
        _km_literal_assign(emb, cent_vals)
        .select("vec_id", "embedding", "cluster")
        .localCheckpoint()
    )
    return _semantic_dedup_core(assigned, n_rows=n)


def _km_frame_assign(
    spark: SparkSession, emb: DataFrame, cent_vals: list[list[float]]
) -> DataFrame:
    """Final assignment through a broadcast k-row centroid frame + window
    argmin — the train loop's own shape, for codebooks too large to
    inline as a literal expression (a k×dim literal costs Catalyst
    analysis seconds once k reaches the hundreds — the PQ lesson).
    Tie-break (d2 asc, cluster asc) matches ``_km_literal_assign``'s
    struct-min exactly, and dist2 is the identical fold over the
    identical doubles, so the two spellings assign every vector the same
    cluster. Output: (vec_id, embedding, cluster, d2)."""
    cdf = spark.createDataFrame(
        [(c, cv) for c, cv in enumerate(cent_vals)],
        "cluster int, c array<double>",
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("cluster").asc()
    )
    return (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn("d2", F.expr(_km_dist2_sql("c")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cluster", "d2")
    )


def semantic_dedup_scaled(
    spark: SparkSession,
    sf_dir: str,
    target_cell: int = SEMDEDUP_TARGET_CELL,
) -> DataFrame:
    """SemDeDup at the paper's own scaling rule (Abbas et al. 2023 §3:
    "the number of clusters is scaled with the dataset size"): cluster
    count k = max(IVF_CELLS, ⌈n / target_cell⌉), so the mean cluster
    population — and with it the intra-cluster pair stream, Σ sizeᵢ² ≈
    n·target_cell — stays bounded at ANY corpus size. This is the
    registered spelling the demo face's loud-fail guard points at: where
    ``semantic_dedup`` refuses a corpus that outgrew IVF_CELLS=8, this
    face re-clusters finer and proceeds.

    Certification: at the sf0.01 gate n ≤ IVF_CELLS·target_cell, so
    k = IVF_CELLS and the trajectory, assignment, and prune are
    IDENTICAL to ``semantic_dedup`` — the shared oracle hash-certifies
    this face at its gate operating point (the
    ``stratified_sample_threshold`` pattern: one oracle, the scale
    behavior additionally pytest-pinned — below-threshold equality to
    the demo face, and a forced-fine-k run where planted identical
    vectors still collapse because identical embeddings share an argmin
    cluster under ANY codebook).

    Plan: training assigns through a broadcast k-row frame per round
    (k-agnostic), and the FINAL assignment does too
    (``_km_frame_assign`` — a k×dim literal argmin would pay Catalyst
    seconds at k in the hundreds); the skew guard on the largest trained
    cluster stays, because Lloyd can collapse a correlated corpus into
    one cell no matter how fine k is."""
    n = load_table(spark, sf_dir, "embeddings").count()
    k = max(IVF_CELLS, -(-n // target_cell))
    emb, cent_vals, last_counts = _km_corpus_train(spark, sf_dir, k=k)
    max_sz = max(last_counts.values(), default=0)
    if max_sz > SEMDEDUP_MAX_CLUSTER:
        raise ValueError(
            f"semantic_dedup_scaled: largest cluster holds ~{max_sz} "
            f"vectors (> {SEMDEDUP_MAX_CLUSTER}) even at k={k} — the "
            "corpus is degenerately correlated; raise target resolution "
            "or pre-split by a coarse key before pruning."
        )
    assigned = (
        _km_frame_assign(spark, emb, cent_vals)
        .select("vec_id", "embedding", "cluster")
        .localCheckpoint()
    )
    return _semantic_dedup_core(assigned, n_rows=n)


SEMDEDUP_BROADCAST_MAX = 200_000  # rows; ~64-dim vectors ≈ 110 MB built


def _semantic_dedup_core(
    assigned: DataFrame, tau: float = SEMDEDUP_TAU, n_rows: int | None = None
) -> DataFrame:
    """Intra-cluster cosine prune over any (vec_id, embedding, cluster)
    frame — split out so tests can plant clustered near-duplicates and
    check the keep/drop decisions at a production-like τ.

    ``n_rows`` (the corpus count the callers already hold for their
    budget guards) gates a broadcast hint on the self-join's build side:
    a checkpointed RDD carries no catalog stats, and the two faces'
    different checkpoint provenance made the planner give the IDENTICAL
    2000-row frame a BroadcastHashJoin in one face and a SortMergeJoin
    (two extra exchanges + sorts, measured exec 0.49 vs 2.07 s) in the
    other. The gate is an ACTUAL row count, never an estimate, so a
    corpus-sized frame keeps the shuffle join (the CC_BROADCAST_LABELS_MAX
    discipline)."""
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    lhs = assigned.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
        norm.alias("n_a"),
    )
    rhs = assigned.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"),
        norm.alias("n_b"),
    )
    if n_rows is not None and n_rows <= SEMDEDUP_BROADCAST_MAX:
        rhs = F.broadcast(rhs)
    cos = F.round(
        _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6
    )
    dup_counts = (
        lhs.join(rhs, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= F.lit(tau))
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dups"))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            (F.coalesce("n_dups", F.lit(0)) == 0).alias("keep"),
        )
        # no output sort: per-vector keep table (event_gaps contract)
    )


def semantic_dedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    parts, last = _km_oracle_parts()
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
sd_dups AS (
    SELECT b.vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM a{last} a JOIN a{last} b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE ROUND(
            list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))), 6) >= {tau!r}
    GROUP BY b.vec_id
)
SELECT s.vec_id, s.cluster,
       CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
       COALESCE(d.n_dups, 0) = 0 AS keep
FROM a{last} s LEFT JOIN sd_dups d ON s.vec_id = d.vec_id
ORDER BY s.vec_id
"""
    )


# -- nearest-class-centroid classifier (domain/quality tagging pass) ---------

# The cheap embedding-space classifier every corpus pipeline runs before the
# expensive ones: per-class mean embedding ("Rocchio" / nearest-class-mean),
# assign by max dot product. Used in production to tag documents with a
# domain/quality label from a small labeled slice, at a broadcast-join cost.
NCM_SEED = 47
NCM_TEST_MOD = 5  # portable-hash fold: ~1/5 of vectors held out as test


def centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean classifier over the embedding corpus with a
    deterministic ~20% holdout; output is the confusion matrix
    (label, pred_label, n, share) on the holdout.

    Plan shape: TRAIN is one aggregation — 10 label keys × 64 per-dim
    ROUND(avg, 9) means, pure map-side combine (never an explode before
    the reduce — the kmeans lesson). PREDICT broadcasts the 10-row
    centroid frame and takes the per-vector argmax as a map-side-combined
    ``min(struct(-dot, label))`` (the ``_pq_assign`` spelling) — the
    shuffle carries one combined row per test vector, K-free. At 100 TB
    both sides stay a single corpus scan each; the centroid frame is
    classes×dim no matter the corpus.

    Rounding discipline: centroid components round to 9 dp in BOTH
    engines (the PQ/kmeans precedent) so the broadcast frames are exactly
    equal; the dot-product argmax then compares bit-identical doubles
    (fold-left ``_dot_unrolled`` ≡ DuckDB ``list_dot_product``)."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "label"
    )
    return _centroid_classify_core(emb)


def _centroid_classify_core(emb: DataFrame) -> DataFrame:
    """NCM train/predict/confusion over any (vec_id, embedding, label)
    frame — split out so tests can plant separable classes."""
    h = F.expr(phash_frag("vec_id", seed=NCM_SEED))
    base = emb.withColumn("is_test", (h % NCM_TEST_MOD) == 0)
    avgs = ", ".join(
        f"round(avg(CAST(embedding[{j}] AS DOUBLE)), 9)" for j in range(64)
    )
    cdf = (
        base.filter(~F.col("is_test"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(F.expr(f"array({avgs})").alias("c"))
    )
    negdot = -_dot_unrolled("embedding", "c", 64)
    pred = (
        base.filter(F.col("is_test"))
        .crossJoin(F.broadcast(cdf))
        .groupBy("vec_id", "label")
        .agg(
            F.min(
                F.struct(negdot.alias("nd"), F.col("clabel").alias("clabel"))
            )["clabel"].alias("pred_label")
        )
    )
    tot = Window.partitionBy("label")
    return (
        pred.groupBy("label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "share",
            F.round(F.col("n") / F.sum("n").over(tot), 6),
        )
        .orderBy("label", "pred_label")
    )


def centroid_classify_oracle() -> str:
    return f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label,
           ({phash_frag('vec_id', seed=NCM_SEED)} % {NCM_TEST_MOD} = 0) AS is_test
    FROM embeddings
),
cent AS (
    SELECT label AS clabel, list(w ORDER BY j) AS c FROM (
        SELECT b.label, j.j, ROUND(AVG(b.e[j.j + 1]), 9) AS w
        FROM base b, (SELECT unnest(range(0, 64)) AS j) j
        WHERE NOT b.is_test
        GROUP BY b.label, j.j
    ) GROUP BY label
),
pred AS (
    SELECT vec_id, label, clabel AS pred_label FROM (
        SELECT b.vec_id, b.label, c.clabel,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.e, c.c) DESC, c.clabel ASC
               ) AS rn
        FROM base b CROSS JOIN cent c
        WHERE b.is_test
    ) WHERE rn = 1
)
SELECT label, pred_label, COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY label), 6) AS share
FROM pred
GROUP BY label, pred_label
ORDER BY label, pred_label
"""


# -- greedy k-center coreset (farthest-point traversal) ----------------------

# Diversity-maximizing coreset selection (Gonzalez '85 2-approximation for
# k-center): repeatedly add the point FARTHEST from every chosen center.
# The data-curation counterpart of semantic_dedup — instead of dropping
# near-duplicates, pick the k most mutually-distant exemplars (coverage
# radius is the quality surface). Inherently k-sequential; each round is
# one corpus scan, so the barrier count is k, data-independent.
KC_K = 8


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center over the embedding corpus, reported as per-center
    coverage: (step, center_id, n_assigned, max_d2) — which exemplar was
    picked at each step, how many corpus vectors it covers, and the cell's
    coverage radius² after the final assignment.

    Plan shape: round t RECOMPUTES every row's distance-to-chosen-set
    from the one localCheckpointed base frame against the centers-so-far
    array (left fold of ``least`` over t centers), then TakeOrders the
    argmax — ONE job per round, the algorithm's sequential floor, and
    ZERO intermediate materializations. Two rejected spellings, both
    measured: carrying a running ``mind2`` column costs a persist call
    per round (~0.5 s data-independent each — and at 100 TB re-writing
    the corpus k times loses outright to recomputing k×64 multiply-adds
    per row); joining a broadcast centers frame pays a fresh broadcast
    exchange per round (~0.4 s latency each). The centers land in the
    plan as ONE parsed SQL literal array instead (~0.3 s/round, the
    ``_km_literal_assign`` lesson) — at k×(dim+1) ≈ 520 doubles the
    literal tree stays well under the Catalyst-analysis blowup that
    retired the per-round literal codebooks in PQ (k×K×dim ≈ 8× larger).
    The chosen center is a single collected row per round (driver
    traffic is center-sized, the ``_km_train`` precedent). The FINAL
    assignment is row-local too: ``array_min`` over the per-center
    struct(d2, step) transform — no join, one 8-key aggregation, the
    once-per-query literal-assign shape that is right at scale.

    Cross-engine determinism: d2 is spelled ``vv − 2·v·c + cc`` with
    fold-left dots in BOTH engines (``_dot_unrolled`` ≡ DuckDB
    ``list_dot_product``), ``cc`` is the Python fold ``sum(w*w)`` (the
    ``_pq_cdf`` precedent), and LEAST/argmin chains compare bit-identical
    doubles — the whole trajectory replays exactly; output rounds to 6 dp
    at the boundary only."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    return _kcenter_core(spark, emb)


def _kcenter_core(
    spark: SparkSession, emb: DataFrame, k: int = KC_K
) -> DataFrame:
    """Farthest-point traversal + final assignment over any
    (vec_id, embedding) frame — split out so tests can plant clusters."""
    d = emb.withColumn(
        "vv", _dot_unrolled("embedding", "embedding", 64)
    ).localCheckpoint()

    seed = d.orderBy(F.col("vec_id").asc()).limit(1).collect()[0]
    centers: list[tuple[int, int, list[float], float]] = []

    def _push(step: int, row) -> None:
        cv = [float(x) for x in row.embedding]
        # Python fold-left sum — bit-equal to list_dot_product (see _pq_cdf)
        centers.append((step, int(row.vec_id), cv, float(sum(w * w for w in cv))))

    def _cents_sql() -> str:
        # centers-so-far as ONE parsed literal array; D-suffixed doubles
        # round-trip repr() exactly (the _km_literal_assign discipline)
        return "array(" + ", ".join(
            f"named_struct('step', CAST({s} AS INT), 'c', array("
            + ", ".join(f"{x!r}D" for x in cv)
            + f"), 'cc', {cc!r}D)"
            for s, _, cv, cc in centers
        ) + ")"

    # d2 of a row against one centers-array element s, fold-left dot in
    # index order — bit-equal to the oracle's list_dot_product spelling
    _d2 = (
        "vv - 2 * aggregate(zip_with(embedding, s.c,"
        " (x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE),"
        " (a, v) -> a + v) + s.cc"
    )
    _push(0, seed)
    for step in range(1, k):
        # distance to the chosen set: left fold of least() over the
        # literal centers array — matches the oracle's LEAST chain
        mind2 = F.expr(
            f"aggregate({_cents_sql()}, CAST('Infinity' AS DOUBLE),"
            f" (acc, s) -> least(acc, {_d2}))"
        ).alias("mind2")
        _push(
            step,
            d.select("vec_id", "embedding", mind2)
            .orderBy(F.col("mind2").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0],
        )

    # final assignment: row-local argmin over the k-center literal array —
    # struct(d2, step) ordering breaks ties toward the earlier center,
    # matching the oracle's ORDER BY d2 ASC, step ASC
    best = F.expr(
        f"array_min(transform({_cents_sql()},"
        f" s -> named_struct('d2', {_d2}, 'step', s.step)))"
    ).alias("b")
    assigned = d.select(best).select(
        F.col("b.step").alias("step"), F.col("b.d2").alias("d2")
    )
    cent = spark.createDataFrame(
        [(s, cid) for s, cid, _, _ in centers], "step int, center_id bigint"
    )
    return (
        assigned.groupBy("step")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(F.max("d2"), 6).alias("max_d2"),
        )
        .join(F.broadcast(cent), "step")
        .select("step", "center_id", "n_assigned", "max_d2")
        .orderBy("step")
    )


def kcenter_coreset_oracle(k: int = KC_K) -> str:
    """Unrolled-CTE replay of the farthest-point traversal: c0 = lowest
    vec_id, then k−1 (argmax mind2 → LEAST update) rounds, then the final
    nearest-center assignment aggregated per center — the kmeans_oracle
    pattern with a LIMIT 1 selection per round."""
    d2 = "(d.vv - 2 * list_dot_product(d.e, c.e) + list_dot_product(c.e, c.e))"
    parts = [
        """
base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) AS vv
    FROM embeddings
)""".strip(),
        "c0 AS (SELECT vec_id, e FROM base ORDER BY vec_id ASC LIMIT 1)",
        f"""
d1 AS (
    SELECT d.vec_id, d.e, d.vv, {d2} AS mind2
    FROM base d CROSS JOIN c0 c
)""".strip(),
    ]
    for t in range(1, k):
        parts.append(
            f"c{t} AS (SELECT vec_id, e FROM d{t} "
            "ORDER BY mind2 DESC, vec_id ASC LIMIT 1)"
        )
        if t < k - 1:
            parts.append(
                f"""
d{t + 1} AS (
    SELECT d.vec_id, d.e, d.vv, LEAST(d.mind2, {d2}) AS mind2
    FROM d{t} d CROSS JOIN c{t} c
)""".strip()
            )
    union = "\n    UNION ALL ".join(
        f"SELECT {t} AS step, vec_id, e FROM c{t}" for t in range(k)
    )
    parts.append(f"cent AS (\n    {union}\n)")
    parts.append(
        """
assign AS (
    SELECT vec_id, step, d2 FROM (
        SELECT d.vec_id, c.step,
               (d.vv - 2 * list_dot_product(d.e, c.e)
                + list_dot_product(c.e, c.e)) AS d2,
               ROW_NUMBER() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY (d.vv - 2 * list_dot_product(d.e, c.e)
                             + list_dot_product(c.e, c.e)) ASC,
                            c.step ASC
               ) AS rn
        FROM base d CROSS JOIN cent c
    ) WHERE rn = 1
)""".strip()
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT a.step, c.vec_id AS center_id, COUNT(*) AS n_assigned,
       ROUND(MAX(a.d2), 6) AS max_d2
FROM assign a JOIN cent c ON a.step = c.step
GROUP BY a.step, c.vec_id
ORDER BY a.step
"""
    )


# -- IVF-PQ (IVFADC): coarse cells + PQ residual codes -----------------------

# The composition that actually serves billion-vector ANN (Jégou et al.
# 2011, the Faiss IVFADC default): an inverted-file coarse quantizer prunes
# the corpus to nprobe cells per query, and product-quantized RESIDUALS
# (vector − coarse centroid) give the in-cell distance estimate from codes
# alone. Reuses this module's IVF coarse centroids (phash planes, IVF_SEED)
# and the whole PQ train/encode/LUT machinery over the residual frame.
IVFPQ_NPROBE = 2


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: per query, probe the ``IVFPQ_NPROBE`` nearest coarse
    cells and score ONLY their members by asymmetric distance over PQ
    residual codes — never touching a raw corpus vector at query time.

    Plan shape (what makes this THE 100 TB ANN architecture):
    1. ASSIGN: row-local literal argmax over the 8 coarse phash planes
       (the ``ann_ivf_topk`` spelling — no join, no corpus amplification).
    2. RESIDUAL: one broadcast join against the 8-row centroid frame +
       row-local ``zip_with`` subtraction; localCheckpointed because
       train/encode re-read it (the index build materializes codes at
       scale anyway).
    3. TRAIN/ENCODE: the shared PQ trajectory (``_pq_train_cdf`` /
       ``_pq_assign``) over residual subvectors — broadcast codebook,
       map-side-combined argmin, codebook-sized driver traffic only.
    4. PROBE: per query, row-local ``sort_array`` of (−dot, cell) structs
       sliced to nprobe — ties break toward the lower cell in both
       engines.
    5. SCORE: corpus codes equi-join the broadcast per-(query, cell) LUT
       on (cell, m, code) — the shuffle carries code rows, never vectors,
       and the IVF prune bounds it to nprobe/cells of the corpus.

    Recall on near-isotropic synthetic data is poor BY NATURE (same
    honesty note as ``ann_pq_topk``); the planted-cluster test pins
    effectiveness, the registry entry pins machinery + oracle."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    return _ann_ivfpq_core(spark, emb)


def _ann_ivfpq_core(
    spark: SparkSession, emb: DataFrame, topk: int = 5
) -> DataFrame:
    # emb stays lazy (r11): its two consumers (the coarse-assign chain,
    # which vsub's checkpoint cuts off, and the tiny query-probe filter)
    # each re-read a shallow column-pruned scan — cheaper than an eager
    # corpus materialization job (the _ann_pq_core lesson; jobs 21→19,
    # A/B flat-to-better under host noise)
    # coarse centroids as data (cell, c): Python-computed phash values,
    # identical doubles to the plan-literal planes and the oracle's SQL
    # fragment (the _pq_cdf precedent)
    cents = [
        [
            phash_py(c, j, seed=IVF_SEED) / float(PHASH_P) - 0.5
            for j in range(64)
        ]
        for c in range(IVF_CELLS)
    ]
    coarse = spark.createDataFrame(
        [(c, cents[c]) for c in range(IVF_CELLS)], "cell int, c array<double>"
    )

    best = F.array_max(
        F.array(
            *[
                F.struct(
                    _dot(F.col("embedding"), _phash_plane(c, 64, IVF_SEED)).alias(
                        "dot"
                    ),
                    F.lit(-c).cast("int").alias("negcell"),
                )
                for c in range(IVF_CELLS)
            ]
        )
    )
    with_cell = emb.select(
        "vec_id", "embedding", (-best["negcell"]).cast("int").alias("cell")
    )
    # resid has exactly ONE consumer (the vsub frame, itself checkpointed
    # right below), so it stays LAZY (r11): its former eager checkpoint
    # added a serial materialization job whose only reader was the next
    # checkpoint's job. The coarse-assign + residual subtraction now runs
    # inside vsub's materialization.
    # (r10 note, still true: a spread_by(vec_id) at THIS level wins on
    # the isolated train+encode sub-DAG but LOSES on the full query —
    # the probe/LUT/score stages don't reuse the keyed layout, 4.9 vs
    # 5.1 s min-of-3. The vsub frame below is a different trade: its
    # four consumers are all (vec_id, ...) argmins, hence its re-key.)
    resid = with_cell.join(F.broadcast(coarse), "cell").select(
        "vec_id",
        "cell",
        F.expr(
            "zip_with(embedding, c, (x, w) -> CAST(x AS DOUBLE) - w)"
        ).alias("embedding"),
    )
    # same vsub materialize-once + re-key as _ann_pq_core (r10, guide
    # §5); HashPartitioning(vec_id) satisfies the (vec_id, cell, m)
    # argmins' clustering. A/B min-of-4: 5.98 -> 5.71 s.
    vsub = spread_by(
        _pq_vsub(resid, keys=("vec_id", "cell")).localCheckpoint(), "vec_id"
    )
    cdf = _pq_train_cdf(spark, vsub).localCheckpoint()
    codes = _pq_assign(vsub, cdf, keys=("vec_id", "cell")).select(
        "vec_id", "cell", "m", F.col("k").alias("code")
    )

    # probe: nprobe nearest cells per query, row-local
    parr = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-_dot(F.col("embedding"), _phash_plane(c, 64, IVF_SEED))).alias(
                        "negdot"
                    ),
                    F.lit(c).cast("int").alias("cell"),
                )
                for c in range(IVF_CELLS)
            ]
        )
    )
    q = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            "embedding",
            F.explode(F.slice(parr, 1, IVFPQ_NPROBE)).alias("p"),
        )
        .select("query_id", "embedding", F.col("p.cell").alias("cell"))
    )
    qresid = q.join(F.broadcast(coarse), "cell").select(
        "query_id",
        "cell",
        F.expr("zip_with(embedding, c, (x, w) -> CAST(x AS DOUBLE) - w)").alias(
            "embedding"
        ),
    )
    qsub = _pq_vsub(qresid, keys=("query_id", "cell"))
    lut = qsub.join(F.broadcast(cdf), "m").select(
        "query_id", "cell", "m", F.col("k").alias("code"), _pq_d2().alias("dpart")
    )

    scored = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("dpart"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "approx_d2",
            "rnk",
        )
    )


def ann_ivfpq_oracle() -> str:
    """Coarse-assign + residual + the shared PQ trajectory
    (``_pq_oracle_traj_parts`` with the cell threaded through) + probe +
    per-(query, cell) LUT + ADC, all as unrolled CTEs."""
    ivfcent = f"""
ivfcent AS (
    SELECT c.cell, list(p.w ORDER BY p.i) AS c
    FROM (SELECT unnest(range(0, {IVF_CELLS})) AS cell) c,
         LATERAL (
             SELECT i.i,
                    CAST({phash_frag('c.cell', 'i.i', seed=IVF_SEED)} AS DOUBLE)
                        / CAST({PHASH_P} AS DOUBLE) - 0.5 AS w
             FROM (SELECT unnest(range(0, 64)) AS i) i
         ) p
    GROUP BY c.cell
)""".strip()
    assigned = f"""
assigned AS (
    SELECT vec_id, e, cell FROM (
        SELECT x.vec_id, x.e, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY x.vec_id
                   ORDER BY list_dot_product(x.e, c.c) DESC, c.cell ASC
               ) AS rn
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) x
        CROSS JOIN ivfcent c
    ) WHERE rn = 1
)""".strip()
    resid = """
resid AS (
    SELECT a.vec_id, a.cell, list(a.e[j.j + 1] - c.c[j.j + 1] ORDER BY j.j) AS r
    FROM assigned a JOIN ivfcent c ON a.cell = c.cell,
         (SELECT unnest(range(0, 64)) AS j) j
    GROUP BY a.vec_id, a.cell
)""".strip()
    vsub = f"""
vsub AS (
    SELECT vec_id, cell, m.m,
           list_slice(r, m.m * {PQ_SUBDIM} + 1, (m.m + 1) * {PQ_SUBDIM}) AS v
    FROM resid CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) m
)""".strip()
    cent0, rounds, codes, last = _pq_oracle_traj_parts(keys=("vec_id", "cell"))
    probe = f"""
probe AS (
    SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.e, c.c) DESC, c.cell ASC
               ) AS rn
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < {N_QUERY_VECS}) q
        CROSS JOIN ivfcent c
    ) WHERE rn <= {IVFPQ_NPROBE}
)""".strip()
    qresid = """
qresid AS (
    SELECT p.query_id, p.cell,
           list(q.e[j.j + 1] - c.c[j.j + 1] ORDER BY j.j) AS r
    FROM probe p
    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) q
      ON q.vec_id = p.query_id
    JOIN ivfcent c ON c.cell = p.cell,
         (SELECT unnest(range(0, 64)) AS j) j
    GROUP BY p.query_id, p.cell
)""".strip()
    qsub = f"""
qsub AS (
    SELECT query_id, cell, m.m,
           list_slice(r, m.m * {PQ_SUBDIM} + 1, (m.m + 1) * {PQ_SUBDIM}) AS v
    FROM qresid CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) m
)""".strip()
    lut = f"""
lut AS (
    SELECT s.query_id, s.cell, s.m, c.k AS code,
           list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.c)
             + list_dot_product(c.c, c.c) AS dpart
    FROM qsub s JOIN {last} c ON s.m = c.m
)""".strip()
    scored = """
scored AS (
    SELECT l.query_id, cd.vec_id, ROUND(SUM(l.dpart), 6) AS approx_d2
    FROM codes cd
    JOIN lut l ON cd.cell = l.cell AND cd.m = l.m AND cd.code = l.code
    WHERE cd.vec_id <> l.query_id
    GROUP BY l.query_id, cd.vec_id
)""".strip()
    parts = [
        ivfcent, assigned, resid, vsub, cent0, *rounds, codes,
        probe, qresid, qsub, lut, scored,
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT query_id, neighbor_id, approx_d2, rnk FROM (
    SELECT query_id, vec_id AS neighbor_id, approx_d2,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY approx_d2 ASC, vec_id ASC
           ) AS INT) AS rnk
    FROM scored
) WHERE rnk <= 5
"""
    )


# -- MMR diversified reranking (Carbonell & Goldstein '98) -------------------

# Retrieval endgame for dense-retrieval pipelines: rerank the exact top-k
# so results cover the query's neighborhood instead of repeating one tight
# cluster — score = λ·relevance − (1−λ)·max-similarity-to-already-selected,
# greedy. Inherently per-query sequential over a k-bounded candidate set:
# the textbook case for the Arrow `applyInPandas` escape hatch (group state
# is ≤ TOPK rows no matter the corpus size).
MMR_LAMBDA = 0.7
MMR_K = 5


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-rerank each query's exact cosine top-``TOPK`` down to
    ``MMR_K`` diversified results. Output: (query_id, neighbor_id,
    relevance, mmr_score, rnk) — rnk is the selection order; step 1's
    score is λ·relevance (empty-set similarity term = 0, documented
    convention, mirrored in the oracle).

    Plan shape: candidates come from the single-corpus-scan exact top-k;
    their vectors re-attach through ONE broadcast hash join (the
    candidate table is |queries|·k rows — always the small side); the
    greedy loop runs per query group in an Arrow kernel whose state is
    k vectors, so parallelism scales with |queries| and NO step touches
    the corpus again. At 100 TB only the candidate generator upgrades
    (exact scan → IVF-PQ); the rerank stage is unchanged.

    Cross-engine determinism: candidate relevances arrive 6-dp-rounded
    from ``ann_cosine_topk``; pairwise sims are fold-left dots over
    float64 (Python index-order loop ≡ DuckDB ``list_dot_product``)
    rounded to 6 dp; scores are λ/(1−λ) products of those rounded values
    (identical doubles both engines); ties break toward the lower
    neighbor_id."""
    cand = ann_cosine_topk(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    withv = emb.join(F.broadcast(cand), "neighbor_id").select(
        "query_id", "neighbor_id", "cosine", "embedding"
    )
    return _mmr_core(withv)


def _mmr_core(withv: DataFrame) -> DataFrame:
    """Greedy MMR over any (query_id, neighbor_id, cosine, embedding)
    candidate frame — split out so tests can plant redundant top-k sets."""

    def _mmr_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = [
            (
                int(r.neighbor_id),
                float(r.cosine),
                [float(x) for x in r.embedding],
            )
            for r in pdf.itertuples()
        ]
        rows.sort(key=lambda t: t[0])

        def dot(a: list, b: list) -> float:
            acc = 0.0
            for x, y in zip(a, b):  # index-order fold == list_dot_product
                acc = acc + x * y
            return acc

        import math

        # math.sqrt, not ** 0.5: IEEE correctly-rounded sqrt matches the
        # oracle's sqrt(); pow(x, 0.5) may differ by 1 ulp on some libms
        norm = {i: math.sqrt(dot(v, v)) for i, _, v in rows}
        vec = {i: v for i, _, v in rows}
        rel = {i: c for i, c, _ in rows}

        def round6(x: float) -> float:
            # DuckDB's double ROUND is scaled std::round (half AWAY from
            # zero on x·1e6); Python's round() is banker's — and MMR
            # scores land on EXACT decimal halves by construction
            # (0.7·a − 0.3·b over 6-dp inputs), so the two disagree on
            # real rows (caught by the sf0.001 parity sweep). This
            # emulation matched DuckDB on 40k samples incl. exact-half
            # constructions.
            return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

        def sim(i: int, j: int) -> float:
            return round6(dot(vec[i], vec[j]) / (norm[i] * norm[j]))

        selected: list[tuple[int, float]] = []
        remaining = [i for i, _, _ in rows]
        while remaining and len(selected) < MMR_K:
            best_id, best_score = None, None
            for i in remaining:
                maxsim = max(
                    (sim(i, j) for j, _ in selected), default=0.0
                )
                score = MMR_LAMBDA * rel[i] - (1.0 - MMR_LAMBDA) * maxsim
                # strict > keeps the LOWEST id on ties (remaining is sorted)
                if best_score is None or score > best_score:
                    best_id, best_score = i, score
            selected.append((best_id, best_score))
            remaining.remove(best_id)
        qid = int(pdf["query_id"].iloc[0])
        return pd.DataFrame(
            {
                "query_id": [qid] * len(selected),
                "neighbor_id": [i for i, _ in selected],
                "relevance": [rel[i] for i, _ in selected],
                "mmr_score": [round6(s) for _, s in selected],
                "rnk": list(range(1, len(selected) + 1)),
            }
        )

    out_schema = (
        "query_id long, neighbor_id long, relevance double,"
        " mmr_score double, rnk int"
    )
    return (
        withv.groupBy("query_id")
        .applyInPandas(_mmr_kernel, out_schema)
        .orderBy("query_id", "rnk")
    )


def mmr_rerank_oracle(k: int = MMR_K) -> str:
    """Unrolled greedy replay: candidate top-k + pairwise-sim CTEs, then
    k (score against selected-so-far → per-query argmax) rounds."""
    lam, one_m = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    parts = [
        f"cand AS (SELECT query_id, neighbor_id, cosine FROM ({ANN_COSINE_TOPK_ORACLE}))",
        """
cemb AS (
    SELECT c.query_id, c.neighbor_id, c.cosine,
           CAST(e.embedding AS DOUBLE[]) AS v
    FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
)""".strip(),
        """
sim AS (
    SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS s
    FROM cemb a JOIN cemb b
      ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
)""".strip(),
        f"""
sel1 AS (
    SELECT query_id, neighbor_id, cosine, {lam!r} * cosine AS score,
           1 AS rnk
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC
               ) AS rn
        FROM cand
    ) WHERE rn = 1
)""".strip(),
        "prev1 AS (SELECT * FROM sel1)",
    ]
    for t in range(2, k + 1):
        parts.append(f"""
sel{t} AS (
    SELECT query_id, neighbor_id, cosine, score, {t} AS rnk FROM (
        SELECT x.query_id, x.neighbor_id, x.cosine, x.score,
               ROW_NUMBER() OVER (
                   PARTITION BY x.query_id
                   ORDER BY x.score DESC, x.neighbor_id ASC
               ) AS rn
        FROM (
            SELECT c.query_id, c.neighbor_id, c.cosine,
                   {lam!r} * c.cosine - {one_m!r} * MAX(p.s) AS score
            FROM cand c
            JOIN prev{t - 1} v ON v.query_id = c.query_id
            JOIN sim p ON p.query_id = c.query_id
                      AND p.i = c.neighbor_id AND p.j = v.neighbor_id
            WHERE NOT EXISTS (
                SELECT 1 FROM prev{t - 1} z
                WHERE z.query_id = c.query_id
                  AND z.neighbor_id = c.neighbor_id
            )
            GROUP BY c.query_id, c.neighbor_id, c.cosine
        ) x
    ) WHERE rn = 1
)""".strip())
        if t < k:
            parts.append(
                f"prev{t} AS (SELECT * FROM prev{t - 1} UNION ALL"
                f" SELECT * FROM sel{t})"
            )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM sel{t}" for t in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, cosine AS relevance,
       ROUND(score, 6) AS mmr_score, CAST(rnk AS INT) AS rnk
FROM ({union})
ORDER BY query_id, rnk
"""
    )


# -- incremental index maintenance: frozen-codebook batch append -------------

# The production counterpart of dedup_incremental for the ANN index: new
# vectors arrive, the PQ codebook stays FROZEN (retraining would invalidate
# every stored code), the batch is encoded against it, and the operator
# reports per-code occupancy + quantization error — the drift audit that
# tells an index owner when a retrain is actually due.
IDX_SEED = 59
IDX_OLD_MOD = 10  # portable-hash fold: ~8/10 old corpus, ~2/10 new batch
IDX_OLD_LT = 8

def frozen_append_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ codebook trained once on the historical (~80%) slice —
    the shared 'version 0' artifact of the append family: the batch
    audit face (``pq_index_append``) and the streaming processor
    (``streaming.ann_stream``) freeze the same trajectory, so they
    share one driver-side session memo (``memo.py``) of its centroids;
    each call rebuilds the 64-row frame with ``_pq_cdf``, whose ``cc``
    is bit-equal to the trained frame's."""
    from ..memo import session_memo

    def train() -> list[list[list[float]]]:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        h = F.expr(phash_frag("vec_id", seed=IDX_SEED))
        old = spread_by(
            emb.filter((h % IDX_OLD_MOD) < IDX_OLD_LT), "vec_id"
        )
        cents = [[None] * PQ_K for _ in range(PQ_M)]
        for r in _pq_train_cdf(spark, _pq_vsub(old)).collect():
            cents[r["m"]][r["k"]] = list(r["c"])
        return cents

    cents = session_memo(
        spark, "pq_append_codebook", train, tables=[(sf_dir, "embeddings")]
    )
    return _pq_cdf(spark, cents)


def pq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freeze a PQ codebook on the ~80% "old" corpus slice (deterministic
    hash split), encode the ~20% "new" batch against it WITHOUT
    retraining, and report per-(subspace, code) occupancy and mean
    quantization error of the appended batch:
    (m, code, n_new, avg_qerr).

    Plan shape: training sees only the old slice (the shared
    ``_pq_train_cdf`` broadcast-codebook trajectory); the append is ONE
    scan of the new batch — broadcast-codebook argmin keeping the chosen
    d2 — plus a 64-key aggregation. At 100 TB this is the shape that
    matters: the historical corpus is NEVER rescanned to admit a batch,
    and the audit output is codebook-sized. Rising ``avg_qerr`` against
    the training-time distortion is the retrain signal.

    Determinism: the trajectory/encode reuse the PQ fragments (bit-equal
    fold-left dots both engines); ``avg_qerr`` rounds AVG over bit-equal
    d2 values to 6 dp (the kmeans AVG precedent)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    h = F.expr(phash_frag("vec_id", seed=IDX_SEED))
    # keyed spread, no checkpoint: the subtree is scan + one hash, and
    # the (vec_id)-partitioning makes the append argmin exchange-free
    # (the _ann_pq_core lesson). Training lives in the session-memoized
    # frozen_append_codebook — the codebook is a pure function of the
    # corpus, so repeated appends in one session reuse the version-0
    # artifact instead of replaying the Lloyd rounds (r11).
    emb = spread_by(emb.withColumn("is_old", (h % IDX_OLD_MOD) < IDX_OLD_LT), "vec_id")
    cdf = frozen_append_codebook(spark, sf_dir)

    vsub_new = _pq_vsub(emb.filter(~F.col("is_old")))
    d2 = _pq_d2()
    best = F.min(
        F.struct(d2.alias("d2"), F.col("k").alias("k"))
    ).alias("b")
    codes = (
        vsub_new.join(F.broadcast(cdf), "m")
        .groupBy("vec_id", "m")
        .agg(best)
        .select("m", F.col("b.k").alias("code"), F.col("b.d2").alias("qerr"))
    )
    return (
        codes.groupBy("m", "code")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.round(F.avg("qerr"), 6).alias("avg_qerr"),
        )
        .orderBy("m", "code")
    )


def pq_index_append_oracle() -> str:
    d2 = (
        "list_dot_product(s.v, s.v) - 2 * list_dot_product(s.v, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    cent0, rounds, _codes, last = _pq_oracle_traj_parts()
    split = f"""
base AS (
    SELECT vec_id, embedding,
           ({phash_frag('vec_id', seed=IDX_SEED)} % {IDX_OLD_MOD})
               < {IDX_OLD_LT} AS is_old
    FROM embeddings
)""".strip()
    vsub = f"""
vsub AS (
    SELECT vec_id, m.m,
           list_slice(CAST(embedding AS DOUBLE[]),
                      m.m * {PQ_SUBDIM} + 1, (m.m + 1) * {PQ_SUBDIM}) AS v
    FROM base CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) m
    WHERE is_old
)""".strip()
    nvsub = f"""
nvsub AS (
    SELECT vec_id, m.m,
           list_slice(CAST(embedding AS DOUBLE[]),
                      m.m * {PQ_SUBDIM} + 1, (m.m + 1) * {PQ_SUBDIM}) AS v
    FROM base CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) m
    WHERE NOT is_old
)""".strip()
    ncodes = f"""
ncodes AS (
    SELECT m, k AS code, d2 AS qerr FROM (
        SELECT s.vec_id, s.m, c.k, {d2} AS d2,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {d2} ASC, c.k ASC
               ) AS rn
        FROM nvsub s JOIN {last} c ON s.m = c.m
    ) WHERE rn = 1
)""".strip()
    parts = [split, vsub, nvsub, cent0, *rounds, ncodes]
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT m, code, COUNT(*) AS n_new, ROUND(AVG(qerr), 6) AS avg_qerr
FROM ncodes
GROUP BY m, code
ORDER BY m, code
"""
    )


# -- embedding second moments / PCA whitening --------------------------------

# The statistics pass before geometric dedup/ANN actually works on real
# embeddings: raw model embeddings are anisotropic (dominant directions
# swamp cosine), so production pipelines estimate the covariance and
# whiten before LSH/IVF/kmeans. The covariance estimate is the
# oracle-checked half; the eigendecomposition-based whitening transform is
# the rows-only half (no SQL eigensolver), pinned by identity-covariance
# and determinism tests.
COV_ROUND = 9


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second moments of the embedding corpus: for every dimension pair
    (i ≤ j), the raw moment E[x_i·x_j] and the centered covariance
    E[x_i·x_j] − E[x_i]·E[x_j], both rounded to 9 dp — (i, j, exy, cov),
    64·65/2 rows.

    Plan shape: ONE Arrow pass computes per-batch partial Gram matrices
    (numpy ``X.T @ X`` — BLAS, dim²-sized regardless of rows) plus
    per-batch component sums; one dim²-key aggregation merges them. The
    corpus is never exploded into (row × dim²) pairs — the shuffle
    carries |partitions|·dim² partial rows, the two-level-reduce shape
    ``mmd_rbf_fast`` uses. Centering happens on the ROUNDED moments in
    both engines, so cov derives deterministically from oracle-checked
    quantities."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select("embedding")
    return _cov_core(emb)


def _cov_core(emb: DataFrame) -> DataFrame:
    """Moment/covariance aggregation over any (embedding) frame — split
    out so tests can plant anisotropic corpora."""
    tot = _cov_tot(emb)
    moments = tot.filter(F.col("j") >= 0).select(
        "i", "j", F.round(F.col("s") / F.col("n"), COV_ROUND).alias("exy")
    )
    means = tot.filter(F.col("j") < 0).select(
        F.col("i").alias("mi_dim"),
        F.round(F.col("s") / F.col("n"), COV_ROUND).alias("mean"),
    )
    return (
        moments.join(
            F.broadcast(means), moments.i == means.mi_dim
        )
        .drop("mi_dim")
        .withColumnRenamed("mean", "mean_i")
        .join(
            F.broadcast(means.withColumnRenamed("mean", "mean_j")),
            moments.j == F.col("mi_dim"),
        )
        .select(
            "i",
            "j",
            "exy",
            F.round(
                F.col("exy") - F.col("mean_i") * F.col("mean_j"), COV_ROUND
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def _cov_tot(emb: DataFrame) -> DataFrame:
    """Partial-Gram totals (i, j, s, n) with j = −1 rows carrying the
    per-dimension component sums — ONE corpus pass shared by the
    covariance query and the whitening path (which also needs the mean
    vector; reading it here saves a second full scan)."""

    def _gram_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            g = X.T @ X
            s = X.sum(axis=0)
            iu, ju = np.triu_indices(X.shape[1])
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(X.shape[1])]),
                    "j": np.concatenate([ju, np.full(X.shape[1], -1)]),
                    "s": np.concatenate([g[iu, ju], s]),
                    "n": np.full(len(iu) + X.shape[1], len(X), dtype=np.int64),
                }
            )

    parts = emb.mapInPandas(_gram_kernel, "i int, j int, s double, n long")
    return parts.groupBy("i", "j").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    ).localCheckpoint()


def embedding_covariance_oracle() -> str:
    return f"""
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
moments AS (
    SELECT i.i, j.j, ROUND(AVG(e.v[i.i + 1] * e.v[j.j + 1]), {COV_ROUND}) AS exy
    FROM e, (SELECT unnest(range(0, 64)) AS i) i,
         (SELECT unnest(range(0, 64)) AS j) j
    WHERE i.i <= j.j
    GROUP BY i.i, j.j
),
means AS (
    SELECT i.i, ROUND(AVG(e.v[i.i + 1]), {COV_ROUND}) AS mean
    FROM e, (SELECT unnest(range(0, 64)) AS i) i
    GROUP BY i.i
)
SELECT m.i, m.j, m.exy,
       ROUND(m.exy - a.mean * b.mean, {COV_ROUND}) AS cov
FROM moments m
JOIN means a ON a.i = m.i
JOIN means b ON b.i = m.j
ORDER BY m.i, m.j
"""


def pca_whiten(spark: SparkSession, sf_dir: str, k: int = 16) -> DataFrame:
    """PCA-whitening projection: eigendecompose the (collected, dim² ≈
    driver-trivial) covariance, project every embedding onto the top-k
    eigenvectors scaled by λ^-1/2 — REGISTERED FACE in long scalar form
    (vec_id, dim_idx, w): array-typed output columns crash every pandas
    value-hash comparator (the driver's rows-only canonicalizer
    included — ``sort_values`` → unhashable ``list``), so the registered
    query posexplodes, the same trade ``media_features_long`` makes.
    Rows-only by design (no SQL eigensolver); the MATH is hash-certified
    by the ``pca_whiten_audit`` companion (whitened covariance ≈ I_k,
    zero mean, variance ordering) and the contract tests additionally
    pin ≈ I_k on anisotropic planted data.

    Plan shape: the covariance collect is dim²-sized (the `_km_train`
    driver-traffic rule); the projection is one broadcast of a k×dim
    matrix into an Arrow kernel — a single corpus scan, embarrassingly
    parallel; the posexplode multiplies rows ×k AFTER the kernel, no
    extra shuffle (orderBy is the only exchange, same as before)."""
    return (
        pca_whiten_vectors(spark, sf_dir, k)
        .select("vec_id", F.posexplode("wemb").alias("dim_idx", "w"))
        .select("vec_id", "dim_idx", F.round("w", 9).alias("w"))
        .orderBy("vec_id", "dim_idx")
    )


def pca_whiten_vectors(spark: SparkSession, sf_dir: str, k: int = 16) -> DataFrame:
    """The array-typed face of the whitening projection — (vec_id, wemb
    array<double>), what downstream vector consumers actually want.
    Library-only (see ``pca_whiten`` for why arrays can't be a
    registered output)."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    return _pca_whiten_core(spark, emb, k)


def _pca_whiten_fit(emb: DataFrame, k: int = 16):
    """Fit the whitening model from one corpus pass: returns (W k×dim,
    mu dim, lam k descending). Shared by the projection and the audit."""
    # ONE corpus pass: the partial-Gram totals carry both the moment
    # matrix and (as the j = −1 rows) the component sums — collecting
    # them yields cov AND the centering mean with no second scan, and
    # the dimensionality comes from the data, not a constant
    tot_rows = _cov_tot(emb.select("embedding")).collect()
    dim = max(r["i"] for r in tot_rows) + 1
    mu = np.zeros(dim)
    C = np.zeros((dim, dim))
    exy = np.zeros((dim, dim))
    for r in tot_rows:
        if r["j"] < 0:
            mu[r["i"]] = r["s"] / r["n"]
        else:
            exy[r["i"], r["j"]] = round(r["s"] / r["n"], COV_ROUND)
    for i in range(dim):
        for j in range(i, dim):
            # the _cov_core spelling: centered on ROUNDED moments
            c = round(
                exy[i, j] - round(mu[i], COV_ROUND) * round(mu[j], COV_ROUND),
                COV_ROUND,
            )
            C[i, j] = C[j, i] = c
    vals, vecs = np.linalg.eigh(C)  # ascending; deterministic for fixed C
    order = np.argsort(vals)[::-1][:k]
    lam = np.maximum(vals[order], 1e-12)
    W = (vecs[:, order] / np.sqrt(lam)[None, :]).T  # k × dim
    # sign convention: force the largest-|component| entry of each
    # eigenvector positive so the output is reproducible across LAPACK
    # builds (eigenvectors are sign-ambiguous)
    for r in range(W.shape[0]):
        mx = np.argmax(np.abs(W[r]))
        if W[r, mx] < 0:
            W[r] = -W[r]
    return W, mu, lam


def _pca_whiten_core(
    spark: SparkSession, emb: DataFrame, k: int = 16, ordered: bool = True
) -> DataFrame:
    W, mu, _ = _pca_whiten_fit(emb, k)
    return _pca_whiten_project(spark, emb, W, mu, ordered)


def _pca_whiten_project(
    spark: SparkSession, emb: DataFrame, W, mu, ordered: bool = True
) -> DataFrame:
    Wb = spark.sparkContext.broadcast((W, mu))

    def _proj_kernel(batches):
        Wm, mu_v = Wb.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Y = (X - mu_v[None, :]) @ Wm.T
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "wemb": list(Y)}
            )

    out = emb.mapInPandas(_proj_kernel, "vec_id long, wemb array<double>")
    # the audit's covariance re-measure is order-free: skip the sort there
    return out.orderBy("vec_id") if ordered else out


PCA_AUDIT_TOL = 1e-3  # |cov(Y) − I|, |mean(Y)| ceiling; COV_ROUND=9 noise ≪ this
PCA_AUDIT_K = 16


def pca_whiten_audit(spark: SparkSession, sf_dir: str, k: int = PCA_AUDIT_K) -> DataFrame:
    """Hash-checkable invariants companion for ``pca_whiten`` (the
    ``negatives_reject_invariants`` pattern): the projection itself is
    rows-only by design (no SQL eigensolver can replay eigh), but its
    CONTRACT is checkable — whitening means the projected corpus has
    zero mean, identity covariance, and variance-ordered components.
    This query re-measures the ACTUAL projected output (same ``_cov_tot``
    partial-Gram kernel, second corpus pass) and emits one row per
    component with the contract as booleans plus the data-derived corpus
    size; the DuckDB oracle derives the expected values from the
    embeddings table alone (n from the data, booleans structurally TRUE),
    so a hash match certifies the whole contract simultaneously.

    Plan: fit (one pass) → project (broadcast k×dim, one pass) →
    partial-Gram of the projection (map-side combined to k² rows) →
    k-row driver assembly. All corpus traffic is the two Arrow scans;
    nothing dim²-sized ever shuffles."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    W, mu, lam = _pca_whiten_fit(emb, k)
    proj = _pca_whiten_project(spark, emb, W, mu, ordered=False).select(
        F.col("wemb").alias("embedding")
    )
    tot = _cov_tot(proj).collect()
    kk = max(r["i"] for r in tot) + 1
    n = max(r["n"] for r in tot)
    mean = np.zeros(kk)
    cov = np.zeros((kk, kk))
    exy = np.zeros((kk, kk))
    for r in tot:
        if r["j"] < 0:
            mean[r["i"]] = r["s"] / r["n"]
        else:
            exy[r["i"], r["j"]] = r["s"] / r["n"]
    for i in range(kk):
        for j in range(i, kk):
            cov[i, j] = cov[j, i] = exy[i, j] - mean[i] * mean[j]
    eye = np.eye(kk)
    rows = [
        (
            int(i),
            int(n),
            bool(abs(mean[i]) <= PCA_AUDIT_TOL),
            bool(abs(cov[i, i] - 1.0) <= PCA_AUDIT_TOL),
            bool(
                max(abs(cov[i, j] - eye[i, j]) for j in range(kk) if j != i)
                <= PCA_AUDIT_TOL
            ) if kk > 1 else True,
            bool(i == 0 or lam[i] <= lam[i - 1]),
        )
        for i in range(kk)
    ]
    return spark.createDataFrame(
        rows,
        "component int, n_vectors bigint, mean_ok boolean, var_ok boolean, "
        "offdiag_ok boolean, ordered_ok boolean",
    ).orderBy("component")


def pca_whiten_audit_oracle(k: int = PCA_AUDIT_K) -> str:
    """Expected contract values derived from the embeddings table alone —
    the oracle never sees the projection; n_vectors ties the hash to the
    data, the booleans to the whitening definition."""
    return f"""
SELECT CAST(t.i AS INT) AS component,
       (SELECT COUNT(*) FROM embeddings) AS n_vectors,
       TRUE AS mean_ok, TRUE AS var_ok, TRUE AS offdiag_ok, TRUE AS ordered_ok
FROM (SELECT unnest(range(0, {k})) AS i) t
ORDER BY component
"""


# -- int8 scalar quantization audit --------------------------------------------

SQ8_LEVELS = 127  # symmetric int8 range


def sq8_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization (the FAISS
    ``ScalarQuantizer`` QT_8bit shape every embedding store ships before
    PQ): scale = max|x|/127, code_j = round(x_j/scale), plus the
    reconstruction audit — relative L2 error and the quantized-dot-product
    self-similarity drift — so compression loss is measured, not assumed.

    4x memory compression is the first lever at 100 TB of embeddings:
    int8 codes keep brute-force and IVF scans in cache. The whole operator
    is row-local higher-order functions (transform/aggregate) inside the
    scan projection — zero shuffles, zero Python, no output sort (per-
    vector feature table, the event_gaps contract; the compare is
    order-insensitive). Float32 inputs are widened to float64 before any
    arithmetic and both engines evaluate the identical expression tree, so
    the 6-dp rounds agree (round() is half-away-from-zero on doubles in
    BOTH engines — the banker's-rounding trap lives only in Python).

    The intermediates (xs, scale, codes) are STAGED as projected columns,
    not inlined expressions: higher-order functions evaluate interpreted
    (outside codegen's subexpression elimination), so an inlined `codes`
    re-derives xs→mx→scale at every one of its three references — the
    whole tree re-evaluated multiplicatively. Staging computes each once
    per row (measured at sf0.1: 4.1 s inlined → 0.7 s staged)."""
    emb = load_table(spark, sf_dir, "embeddings")
    staged = (
        emb.select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            F.transform("embedding", lambda x: x.cast("double")).alias("xs"),
        )
        .withColumn("mx", F.array_max(F.transform("xs", lambda x: F.abs(x))))
        .withColumn("scale", F.col("mx") / F.lit(float(SQ8_LEVELS)))
        .withColumn(
            "codes",
            F.when(
                F.col("mx") == 0.0, F.transform("xs", lambda x: F.lit(0.0))
            ).otherwise(
                F.transform("xs", lambda x: F.round(x / F.col("scale"), 0))
            ),
        )
        .withColumn(
            "err",
            F.aggregate(
                F.zip_with("xs", "codes", lambda x, c: x - c * F.col("scale")),
                F.lit(0.0),
                lambda acc, d: acc + d * d,
            ),
        )
        .withColumn(
            "norm2", F.aggregate("xs", F.lit(0.0), lambda acc, v: acc + v * v)
        )
        .withColumn(
            "dot_q",
            # grouped (scale*scale) multiply — the oracle computes
            # list_sum * (scale*scale), and IEEE (a*s)*s != a*(s*s) at
            # the 1-ulp level, which a 6-dp boundary row would expose
            F.aggregate("codes", F.lit(0.0), lambda acc, c: acc + c * c)
            * (F.col("scale") * F.col("scale")),
        )
    )
    return (
        staged.select(
            "vec_id",
            "n_dims",
            F.round("scale", 6).alias("scale"),
            F.array_max(F.transform("codes", lambda c: F.abs(c)))
            .cast("int")
            .alias("max_abs_code"),
            F.round(F.sqrt(F.col("err") / F.col("norm2")), 6).alias(
                "l2_rel_err"
            ),
            F.round(
                (F.col("dot_q") - F.col("norm2")) / F.col("norm2"), 6
            ).alias("self_dot_drift"),
        )
    )


SQ8_QUANTIZE_AUDIT_ORACLE = f"""
WITH base AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS xs,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
               / {float(SQ8_LEVELS)!r} AS scale
    FROM embeddings
),
coded AS (
    SELECT vec_id, xs, scale,
           CASE WHEN scale = 0.0 THEN list_transform(xs, x -> 0.0)
                ELSE list_transform(xs, x -> round(x / scale, 0)) END AS codes
    FROM base
)
SELECT vec_id,
       CAST(len(xs) AS INT) AS n_dims,
       ROUND(scale, 6) AS scale,
       CAST(list_max(list_transform(codes, c -> abs(c))) AS INT)
           AS max_abs_code,
       ROUND(sqrt(list_sum(list_transform(range(1, len(xs) + 1),
                       i -> (xs[i] - codes[i] * scale)
                            * (xs[i] - codes[i] * scale)))
                  / list_sum(list_transform(xs, x -> x * x))), 6)
           AS l2_rel_err,
       ROUND((list_sum(list_transform(codes, c -> c * c)) * (scale * scale)
              - list_sum(list_transform(xs, x -> x * x)))
             / list_sum(list_transform(xs, x -> x * x)), 6)
           AS self_dot_drift
FROM coded
ORDER BY vec_id
"""


# -- Mahalanobis outlier scores ---------------------------------------------------

MAHAL_TOPK = 20


def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by diagonal-covariance Mahalanobis
    distance: per-dimension corpus mean/variance, then per-vector
    Σ (x_j − μ_j)²/σ²_j — the standard cheap outlier prune before
    clustering / dedup (full-covariance whitening lives in
    ``pca_whiten``; the diagonal form is the one that stays a pure
    aggregation at any scale).

    Plan: one posexplode feeds BOTH the 64-row per-dimension moment
    aggregate and the scoring join — the stats side reduces to |dims|
    rows (broadcast), the scoring side is a map-side-combined per-vector
    aggregate. Moments are spelled sum/count (not var_pop) so DuckDB
    replays the identical arithmetic. Ranks are computed on the ROUNDED
    score with vec_id tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("dim", "v"),
    )
    st = (
        x.groupBy("dim")
        .agg(
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ss"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
        .select(
            "dim",
            (F.col("s") / F.col("n")).alias("mu"),
            (
                F.col("ss") / F.col("n")
                - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
            ).alias("s2"),
        )
    )
    scored = (
        x.join(F.broadcast(st), "dim")
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(
                    (F.col("v") - F.col("mu"))
                    * (F.col("v") - F.col("mu"))
                    / F.col("s2")
                ),
                6,
            ).alias("mahal2")
        )
    )
    # top-K via orderBy+limit (TakeOrderedAndProject — per-partition heaps,
    # no single-partition global window over |vectors| rows), then rank
    # only the 20 survivors.
    top = scored.orderBy(
        F.col("mahal2").desc(), F.col("vec_id").asc()
    ).limit(MAHAL_TOPK)
    w = Window.orderBy(F.col("mahal2").desc(), F.col("vec_id").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "vec_id", "mahal2", "rnk"
    )


MAHALANOBIS_OUTLIERS_ORACLE = f"""
WITH x AS (
    SELECT vec_id,
           generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
),
st AS (
    SELECT dim, SUM(v) / CAST(COUNT(*) AS DOUBLE) AS mu,
           SUM(v * v) / CAST(COUNT(*) AS DOUBLE)
           - (SUM(v) / CAST(COUNT(*) AS DOUBLE))
             * (SUM(v) / CAST(COUNT(*) AS DOUBLE)) AS s2
    FROM x GROUP BY dim
),
scored AS (
    SELECT vec_id, ROUND(SUM((v - mu) * (v - mu) / s2), 6) AS mahal2
    FROM x JOIN st USING (dim) GROUP BY vec_id
)
SELECT vec_id, mahal2,
       CAST(ROW_NUMBER() OVER (ORDER BY mahal2 DESC, vec_id ASC) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {MAHAL_TOPK}
"""


# -- Johnson–Lindenstrauss random-projection audit ---------------------------------

JL_K = 16  # target dimensionality
JL_DIM = 64  # corpus embedding width
JL_SEED = 33


def _jl_signs() -> list[list[int]]:
    """±1 projection matrix (k × dim), derived row-by-row from the portable
    hash so Spark, DuckDB, and tests all inline the SAME literal matrix —
    the deterministic twist that makes a 'random' projection
    oracle-checkable (Achlioptas 2003: ±1 entries satisfy the JL lemma)."""
    return [
        [1 if phash_py(j * JL_DIM + i, seed=JL_SEED) % 2 == 0 else -1
         for i in range(JL_DIM)]
        for j in range(JL_K)
    ]


def jl_project_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection 64 → 16 dims (Johnson–Lindenstrauss with ±1
    entries, scaled 1/√k) with the distance-preservation audit attached:
    per vector, the original norm, the projected norm, and their ratio —
    the cheap dimensionality-reduction step ahead of LSH/clustering, with
    its distortion MEASURED per row rather than assumed from the lemma.

    Scale: entirely row-local — the k×dim sign matrix is 1024 literals
    folded into whole-stage codegen (k·dim multiply-adds per row, zero
    shuffles, zero Python, no output sort: per-vector feature table, the
    event_gaps contract). This is the projection shape that survives any
    corpus size: no stats pass, no broadcast, no state."""
    emb = load_table(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    signs = _jl_signs()
    dots = [
        F.aggregate(
            F.zip_with(
                xs,
                F.array(*[F.lit(float(s)) for s in signs[j]]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for j in range(JL_K)
    ]
    scale = F.lit(1.0 / math.sqrt(JL_K))
    proj_sq = F.lit(0.0)
    for d in dots:
        proj_sq = proj_sq + (d * scale) * (d * scale)
    proj_norm = F.sqrt(proj_sq)
    orig_norm = F.sqrt(
        F.aggregate(xs, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return emb.select(
        "vec_id",
        F.round(orig_norm, 6).alias("orig_norm"),
        F.round(proj_norm, 6).alias("proj_norm"),
        F.round(proj_norm / orig_norm, 6).alias("norm_ratio"),
    )


def jl_project_audit_oracle() -> str:
    signs = _jl_signs()
    scale = 1.0 / math.sqrt(JL_K)
    dot_terms = " + ".join(
        f"pow(list_dot_product(xs, {[float(s) for s in signs[j]]})"
        f" * {scale!r}, 2)"
        for j in range(JL_K)
    )
    return f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs FROM embeddings
)
SELECT vec_id,
       ROUND(sqrt(list_dot_product(xs, xs)), 6) AS orig_norm,
       ROUND(sqrt({dot_terms}), 6) AS proj_norm,
       ROUND(sqrt({dot_terms}) / sqrt(list_dot_product(xs, xs)), 6)
           AS norm_ratio
FROM base
ORDER BY vec_id
"""


# -- k-NN holdout label audit -------------------------------------------------------

KNN_K = 5
KNN_EXACT_MAX_ROWS = 100_000  # same ceiling idiom as COSINE_EXACT_MAX_ROWS


def knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5, cosine) classification audit on the same deterministic
    holdout as ``centroid_classify``: per held-out vector, majority label
    of its 5 nearest TRAIN vectors; output the confusion matrix
    (label, pred_label, n, share). The non-parametric companion to the
    nearest-class-mean pass — together they say whether embedding space
    separates the classes locally as well as globally.

    Scale honesty: the exact test×train scoring here is the audit twin
    (the ``dedup_embedding_cosine`` precedent) — quadratic and meant for
    samples/gates; the production path generates neighbors with the ANN
    family (``ann_lsh_topk`` / ``ann_ivfpq_topk``) and only the vote is
    new. Top-5 is a per-vector window on the ROUNDED cosine with
    neighbor-id tie-break; the majority vote is a count aggregate with a
    min-label tie-break — both engines rank identically."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "label"
    )
    n = emb.count()
    if n > KNN_EXACT_MAX_ROWS:
        raise ValueError(
            f"knn_label_audit: input has {n} rows > "
            f"max_rows={KNN_EXACT_MAX_ROWS}. Generate neighbors with the "
            f"ANN family (ann_lsh_topk / ann_ivfpq_topk) and reuse the "
            f"vote aggregate for corpus-scale k-NN."
        )
    h = F.expr(phash_frag("vec_id", seed=NCM_SEED))
    base = emb.withColumn("is_test", (h % NCM_TEST_MOD) == 0)
    # norms are computed ONCE PER ROW before the quadratic join (not once
    # per pair — 2/3 of the pair math deleted), and the pair dot is the
    # unrolled whole-stage-codegen chain (see _dot_unrolled: bit-equal to
    # the fold, ~4-6× faster than interpreted higher-order lambdas here —
    # measured 6.2 → 4.2 s at sf0.1, window-sort bound after). sqrt-once-
    # per-row yields the same
    # doubles as sqrt-per-pair, so the oracle's per-pair spelling matches.
    test = base.filter(F.col("is_test")).select(
        F.col("vec_id").alias("tid"),
        F.col("embedding").alias("te"),
        F.col("label").alias("tlabel"),
        F.sqrt(_dot_unrolled("embedding", "embedding", 64)).alias("tnorm"),
    )
    train = base.filter(~F.col("is_test")).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        F.col("label").alias("nlabel"),
        F.sqrt(_dot_unrolled("embedding", "embedding", 64)).alias("nnorm"),
    )
    cos = _dot_unrolled("te", "ne", 64) / (
        F.col("tnorm") * F.col("nnorm")
    )
    w = Window.partitionBy("tid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    topk = (
        train.crossJoin(F.broadcast(test))
        .select(
            "tid", "tlabel", "nid", "nlabel", F.round(cos, 6).alias("cosine")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
    )
    pred = (
        topk.groupBy("tid", "tlabel", "nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
        .groupBy("tid", "tlabel")
        .agg(
            F.min(
                F.struct(
                    (-F.col("votes")).alias("nv"), F.col("nlabel").alias("nl")
                )
            )["nl"].alias("pred_label")
        )
    )
    tot = Window.partitionBy("label")
    return (
        pred.groupBy(F.col("tlabel").alias("label"), "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", F.round(F.col("n") / F.sum("n").over(tot), 6))
        .orderBy("label", "pred_label")
    )


def knn_label_audit_oracle() -> str:
    return f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label,
           ({phash_frag('vec_id', seed=NCM_SEED)} % {NCM_TEST_MOD} = 0)
               AS is_test
    FROM embeddings
),
topk AS (
    SELECT tid, tlabel, nlabel FROM (
        SELECT t.vec_id AS tid, t.label AS tlabel, n.label AS nlabel,
               ROW_NUMBER() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY ROUND(list_dot_product(t.e, n.e)
                                  / (sqrt(list_dot_product(t.e, t.e))
                                     * sqrt(list_dot_product(n.e, n.e))), 6)
                                DESC,
                            n.vec_id ASC
               ) AS rn
        FROM base t JOIN base n ON t.is_test AND NOT n.is_test
    ) WHERE rn <= {KNN_K}
),
pred AS (
    SELECT tid, tlabel, nlabel AS pred_label FROM (
        SELECT tid, tlabel, nlabel, COUNT(*) AS votes,
               ROW_NUMBER() OVER (
                   PARTITION BY tid
                   ORDER BY COUNT(*) DESC, nlabel ASC
               ) AS rn
        FROM topk GROUP BY tid, tlabel, nlabel
    ) WHERE rn = 1
)
SELECT tlabel AS label, pred_label, COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY tlabel), 6) AS share
FROM pred
GROUP BY tlabel, pred_label
ORDER BY label, pred_label
"""


# -- hard-negative mining -----------------------------------------------------------

HARDNEG_TOPK = 10


def hard_negatives_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector (the ann family's vec_id < 5 demo set), the top-10 most
    similar vectors with a DIFFERENT label — the near-miss negatives
    that make embedding/reranker training data effective (random
    negatives are trivially separable; the hard ones sit just across the
    class boundary).

    Same plan as ``ann_cosine_topk`` — queries broadcast, corpus
    streamed once, per-query top-k window on the rounded cosine — with a
    label anti-filter on the scored stream. At 100 TB the mining pass
    swaps the exact scan for an ANN candidate generator and keeps the
    label filter + window unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    pairs = (
        spread(emb)
        .crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
    )
    cos = _dot(F.col("qv"), F.col("embedding")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv")))
        * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    scored = pairs.select(
        "query_id",
        "qlabel",
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= HARDNEG_TOPK)
        .select("query_id", "qlabel", "neg_id", "neg_label", "cosine", "rnk")
    )


HARD_NEGATIVES_MINE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
           label AS qlabel
    FROM embeddings WHERE vec_id < {N_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, q.qlabel, e.vec_id AS neg_id, e.label AS neg_label,
           ROUND(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))),
                 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.label <> q.qlabel
)
SELECT query_id, qlabel, neg_id, neg_label, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neg_id ASC
       ) AS INT) AS rnk
FROM scored
QUALIFY rnk <= {HARDNEG_TOPK}
ORDER BY query_id, rnk
"""


# -- cluster-label purity audit ------------------------------------------------------

def cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit: run the deterministic Lloyd trajectory
    (``kmeans_embeddings``'s training, unchanged) and score every final
    cluster against the ground-truth labels — size, majority label, and
    purity (majority share). The companion to ``ann_recall_audit``:
    recall measures the INDEX against exact search, purity measures the
    CLUSTERING against labels — both keep approximation quality a
    continuously-checked number instead of a claim.

    Plan: training is the shared ``_km_train`` loop (k×dim driver
    traffic only); the final assignment is the row-local literal-argmin
    form; labels join back on vec_id (near-unique key); the vote +
    size reduce to ONE k-key aggregate over the (cluster, label) counts
    — min(struct(-count, label)) picks the majority with the smallest-
    label tie-break both engines replay."""
    emb, cent_vals, _ = _km_corpus_train(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        _km_literal_assign(emb, cent_vals)
        .select("vec_id", "cluster")
        .join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = votes.groupBy("cluster").agg(
        F.min(
            F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
        ).alias("best"),
        F.sum("c").alias("size"),
    )
    return top.select(
        "cluster",
        "size",
        F.col("best")["l"].alias("top_label"),
        F.round((-F.col("best")["nc"]) / F.col("size").cast("double"), 6).alias(
            "purity"
        ),
    ).orderBy("cluster")


def cluster_label_purity_oracle() -> str:
    parts, last = _km_oracle_parts()
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
lab AS (
    SELECT a.cluster, e.label
    FROM a{last} a JOIN embeddings e ON a.vec_id = e.vec_id
),
votes AS (SELECT cluster, label, COUNT(*) AS c FROM lab GROUP BY 1, 2),
top AS (
    SELECT cluster, label AS top_label, c FROM (
        SELECT cluster, label, c,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster ORDER BY c DESC, label ASC
               ) AS rn
        FROM votes
    ) WHERE rn = 1
),
sz AS (SELECT cluster, CAST(SUM(c) AS BIGINT) AS size FROM votes GROUP BY 1)
SELECT t.cluster, s.size, t.top_label,
       ROUND(t.c / CAST(s.size AS DOUBLE), 6) AS purity
FROM top t JOIN sz s ON t.cluster = s.cluster
ORDER BY t.cluster
"""
    )


# -- embedding distribution drift -----------------------------------------------------

DRIFT_Z_FLAG = 3.0


def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-distribution drift between an incoming
    batch and the reference corpus (the same 90/10 portable-hash split
    as the text-side ``corpus_drift_psi``): reference mean/variance,
    batch mean, and the standard-error z-score of the mean shift, with
    the |z| > 3 alarm flag — the vector-side drift gate that catches an
    encoder/version change before it poisons an index or a dedup pass.

    Plan: ONE posexplode feeds a single (dim, side) aggregate — 128
    output rows however large the corpus, map-side combined. Moments are
    spelled sum/count (the ``mahalanobis_outliers`` discipline) so the
    oracle replays the identical arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.expr(phash_frag("vec_id")) % 10 == 0).alias("is_batch"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("dim", "v"),
    )
    agg = x.groupBy("dim").agg(
        F.sum(F.when(~F.col("is_batch"), F.col("v"))).alias("sr"),
        F.sum(F.when(~F.col("is_batch"), F.col("v") * F.col("v"))).alias(
            "ssr"
        ),
        F.count(F.when(~F.col("is_batch"), 1)).cast("double").alias("nr"),
        F.sum(F.when(F.col("is_batch"), F.col("v"))).alias("sb"),
        F.count(F.when(F.col("is_batch"), 1)).cast("double").alias("nb"),
    )
    mu_r = F.col("sr") / F.col("nr")
    mu_b = F.col("sb") / F.col("nb")
    var_r = F.col("ssr") / F.col("nr") - mu_r * mu_r
    z = (mu_b - mu_r) / F.sqrt(var_r / F.col("nb"))
    return (
        agg.select(
            "dim",
            F.round(mu_r, 6).alias("mu_ref"),
            F.round(mu_b, 6).alias("mu_batch"),
            F.round(z, 6).alias("z_shift"),
            (F.abs(z) > DRIFT_Z_FLAG).alias("is_drifted"),
        )
        .orderBy("dim")
    )


def embedding_drift_audit_oracle() -> str:
    return f"""
WITH x AS (
    SELECT ({phash_frag('vec_id')}) % 10 = 0 AS is_batch,
           generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
),
agg AS (
    SELECT dim,
           SUM(CASE WHEN NOT is_batch THEN v END) AS sr,
           SUM(CASE WHEN NOT is_batch THEN v * v END) AS ssr,
           CAST(COUNT(CASE WHEN NOT is_batch THEN 1 END) AS DOUBLE) AS nr,
           SUM(CASE WHEN is_batch THEN v END) AS sb,
           CAST(COUNT(CASE WHEN is_batch THEN 1 END) AS DOUBLE) AS nb
    FROM x GROUP BY dim
)
SELECT dim,
       ROUND(sr / nr, 6) AS mu_ref,
       ROUND(sb / nb, 6) AS mu_batch,
       ROUND((sb / nb - sr / nr)
             / sqrt((ssr / nr - (sr / nr) * (sr / nr)) / nb), 6) AS z_shift,
       abs((sb / nb - sr / nr)
           / sqrt((ssr / nr - (sr / nr) * (sr / nr)) / nb)) > {DRIFT_Z_FLAG!r}
           AS is_drifted
FROM agg
ORDER BY dim
"""


# -- Matryoshka dimension-truncation recall audit -----------------------------

TRUNC_DIM = 16  # leading-dim prefix scored against the full 64-dim rank


def dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style retrieval audit: rank the query set's top-10 by
    cosine over only the LEADING 16 dimensions and measure recall against
    the full 64-dim exact top-10 — the measurement that decides whether a
    truncated (4× cheaper) index serves first-stage retrieval, exactly as
    ``ann_recall_audit`` does for the LSH index (Kusupati et al. '22 is
    the public reference for why leading-dim prefixes work).

    Both ranks reuse the broadcast-queries × corpus-scan shape of
    ``ann_cosine_topk`` (scored rows shuffle once for the per-query
    window top-k); the overlap join is TOPK² per query. At 100 TB the
    truncated leg is the point: a prefix slice scans the same rows but
    0.25× the arithmetic, and recall is continuously measured instead of
    assumed."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    pairs = spread(emb).crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )

    def topk_by(vec_q, vec_e, tag):
        cos = _dot(vec_q, vec_e) / (
            F.sqrt(_dot(vec_q, vec_q)) * F.sqrt(_dot(vec_e, vec_e))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.round(cos, 6).desc(), F.col("vec_id").asc()
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOPK)
            .select("query_id", F.col("vec_id").alias(f"nbr_{tag}"))
        )

    full = topk_by(F.col("qv"), F.col("embedding"), "full")
    trunc = topk_by(
        F.slice(F.col("qv"), 1, TRUNC_DIM),
        F.slice(F.col("embedding"), 1, TRUNC_DIM),
        "trunc",
    )
    hits = full.join(
        trunc,
        (full.query_id == trunc.query_id)
        & (full.nbr_full == trunc.nbr_trunc),
    ).groupBy(full.query_id.alias("qid")).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        full.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, F.col("query_id") == F.col("qid"), "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("k"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


DIM_TRUNCATION_RECALL_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < {N_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, e.vec_id,
           ROUND(
             list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))), 6)
               AS cos_full,
           ROUND(
             list_dot_product(q.qv[1:{TRUNC_DIM}],
                              CAST(e.embedding AS DOUBLE[])[1:{TRUNC_DIM}])
             / (sqrt(list_dot_product(q.qv[1:{TRUNC_DIM}],
                                      q.qv[1:{TRUNC_DIM}]))
                * sqrt(list_dot_product(
                      CAST(e.embedding AS DOUBLE[])[1:{TRUNC_DIM}],
                      CAST(e.embedding AS DOUBLE[])[1:{TRUNC_DIM}]))), 6)
               AS cos_trunc
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id
),
full_k AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_full DESC, vec_id ASC) AS rnk
        FROM scored) WHERE rnk <= {TOPK}
),
trunc_k AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_trunc DESC, vec_id ASC) AS rnk
        FROM scored) WHERE rnk <= {TOPK}
)
SELECT f.query_id,
       CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
       ROUND(CAST(COUNT(t.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM full_k f
LEFT JOIN trunc_k t
  ON t.query_id = f.query_id AND t.vec_id = f.vec_id
GROUP BY f.query_id
ORDER BY f.query_id
"""


# -- per-dimension clipping audit ---------------------------------------------


def embedding_dim_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension winsorization audit for the embedding table: each of
    the 64 dimensions' p1/p99 clip bounds and how many values a clip
    would touch — the feature-hygiene pass run before quantization or
    whitening (a single blown-out dimension dominates L2 distances and
    SQ8 ranges; ``sq8_quantize_audit`` consumes exactly these bounds).

    One posexplode (64× row fan-out, the unavoidable shape for per-dim
    stats), then a 64-group percentile aggregate and a conditional
    recount against the broadcast bounds. Values widen float→double
    (exact) so both engines interpolate identical doubles. At 100 TB
    this is two linear passes; swap exact percentiles for
    ``approx_percentile`` per value_percentiles' documented trade."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    bounds = vals.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(v, 0.01)").alias("p1"),
        F.expr("percentile(v, 0.99)").alias("p99"),
    )
    return (
        vals.join(F.broadcast(bounds), "dim")
        .groupBy("dim", "n")
        .agg(
            F.round(F.max("p1"), 6).alias("p1"),
            F.round(F.max("p99"), 6).alias("p99"),
            F.sum(F.when(F.col("v") < F.col("p1"), 1).otherwise(0)).alias(
                "n_below"
            ),
            F.sum(F.when(F.col("v") > F.col("p99"), 1).otherwise(0)).alias(
                "n_above"
            ),
        )
        .select(
            "dim",
            "n",
            "p1",
            "p99",
            "n_below",
            "n_above",
            F.round(
                (F.col("n_below") + F.col("n_above")) / F.col("n"), 6
            ).alias("clipped_share"),
        )
        .orderBy("dim")
    )


EMBEDDING_DIM_CLIP_STATS_ORACLE = """
WITH vals AS (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
),
bounds AS (
    SELECT dim, COUNT(*) AS n,
           quantile_cont(v, 0.01) AS p1,
           quantile_cont(v, 0.99) AS p99
    FROM vals GROUP BY 1
)
SELECT v.dim AS dim, b.n AS n,
       ROUND(MAX(b.p1), 6) AS p1,
       ROUND(MAX(b.p99), 6) AS p99,
       CAST(SUM(CASE WHEN v.v < b.p1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_below,
       CAST(SUM(CASE WHEN v.v > b.p99 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above,
       ROUND(CAST(SUM(CASE WHEN v.v < b.p1 THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN v.v > b.p99 THEN 1 ELSE 0 END) AS DOUBLE)
             / b.n, 6) AS clipped_share
FROM vals v JOIN bounds b ON b.dim = v.dim
GROUP BY 1, 2
ORDER BY v.dim
"""
