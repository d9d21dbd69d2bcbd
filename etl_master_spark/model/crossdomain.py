"""Cross-domain preference transfer — the reference's core contribution
(the "equivalent transformation" of ETL, arXiv:2009.06884), re-expressed as
a strategy-parameterized linear-map fit over distributed embeddings.

The reference couples two domain autoencoders with a (near-orthogonal)
linear map W trained adversarially (``model_my.py:41-50,62-70``), with
ablation variants: shared W/Wᵀ, independent W1/W2, and a 2-layer MLP
(SURVEY.md §2.7 — three near-copied codebases in the reference, ONE strategy
enum here).

Spark-first fit: the closed-form ridge solution W = (XᵀX + λI)⁻¹ XᵀY needs
only the E×E Gram matrices — computed DISTRIBUTEDLY by summing per-batch
outer products in one ``reduce.batch_sums`` pass (numpy BLAS per Arrow
batch), then a tiny E×E solve on the driver. No row data ever leaves the
executors; driver traffic is O(E²), independent of user count — the
pattern that scales to 100 TB of embeddings.

Inverse-consistency metric (reference T7, ``model_my.py:67-70``):
mean ‖zx − (zx·W)·Wᵀ‖₁ as a one-pass DataFrame aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .reduce import batch_sums

Strategy = Literal["shared", "two_maps", "mlp"]


def _gram_batch(pdf: pd.DataFrame, _: None) -> dict:
    x = np.array(pdf["x"].tolist(), dtype=np.float64)
    y = np.array(pdf["y"].tolist(), dtype=np.float64)
    return {"xtx": x.T @ x, "xty": x.T @ y}


def _gram_sums(pairs: DataFrame, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Distributed XᵀX and XᵀY over a DataFrame of (x ARRAY, y ARRAY) rows:
    per-batch BLAS partial sums, driver-side reduce of E×E blocks. No rows
    give zero blocks."""
    sums = batch_sums(pairs, _gram_batch)
    zero = np.zeros((dim, dim))
    return sums.get("xtx", zero), sums.get("xty", zero)


def fit_linear_map(
    emb_x: DataFrame,
    emb_y: DataFrame,
    strategy: Strategy = "shared",
    reg: float = 1.0,
) -> dict[str, np.ndarray]:
    """Fit the cross-domain map on users shared between domains.

    - 'shared': one W with ẑy = zx·W and ẑx = zy·Wᵀ (reference full ETL) —
      fit W on x→y, reuse its transpose for the reverse direction.
    - 'two_maps': independent W1 (x→y), W2 (y→x) (variant2).
    - 'mlp': the 2-layer nonlinear variant (variant3) — distributed
      gradient descent, see ``fit_mlp_map``.
    """
    dim = len(emb_x.select("embedding").first()["embedding"])
    pairs = emb_x.alias("a").join(emb_y.alias("b"), "user_id").select(
        F.col("a.embedding").cast("array<double>").alias("x"),
        F.col("b.embedding").cast("array<double>").alias("y"),
    )
    xtx, xty = _gram_sums(pairs, dim)
    ridge = xtx + reg * np.eye(dim)
    w_xy = np.linalg.solve(ridge, xty)
    if strategy == "shared":
        return {"W": w_xy}
    if strategy == "two_maps":
        pairs_rev = pairs.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ytx, ytyx = _gram_sums(pairs_rev, dim)
        w_yx = np.linalg.solve(ytx + reg * np.eye(dim), ytyx)
        return {"W1": w_xy, "W2": w_yx}
    if strategy == "mlp":
        return fit_mlp_map(pairs, dim)
    raise ValueError(f"unknown strategy {strategy!r}")


def fit_mlp_map(
    pairs: DataFrame,
    dim: int,
    hidden: int | None = None,
    epochs: int = 30,
    lr: float = 0.05,
    seed: int = 72,
) -> dict[str, np.ndarray]:
    """Variant3's 2-layer bias-free nonlinear map
    (``model_my_variant3.py:41-45,57-69``): ŷ = relu(x·W1)·W2, fit by
    full-batch gradient descent.

    Distribution pattern: each epoch is one ``reduce.batch_sums`` pass:
    executors compute PARTIAL gradient sums over their Arrow batches
    (numpy BLAS), the driver sums the O(E·H)-sized partials and takes the
    step, then re-broadcasts the weights. Row data never moves; per-epoch
    driver traffic is |partitions| × E×H — the standard data-parallel loop
    (parameter averaging degenerate case: exact full-batch gradient), and
    the same shape `mapInPandas` training takes at 100 TB.
    """
    hidden = hidden or dim
    rng = np.random.default_rng(seed)
    w1 = rng.normal(0.0, 0.1, (dim, hidden))
    w2 = rng.normal(0.0, 0.1, (hidden, dim))

    def batch(pdf: pd.DataFrame, params: tuple) -> dict:
        p1, p2 = params
        x = np.array(pdf["x"].tolist(), dtype=np.float64)
        y = np.array(pdf["y"].tolist(), dtype=np.float64)
        h_pre = x @ p1
        h = np.maximum(h_pre, 0.0)
        r = h @ p2 - y
        gh = r @ p2.T
        gh[h_pre <= 0.0] = 0.0
        return {"g1": x.T @ gh, "g2": h.T @ r}

    pairs = pairs.persist()
    try:
        n_rows = pairs.count()  # also materializes the persist
        if n_rows == 0:  # no gradient: the weights stay at their init
            return {"W1": w1, "W2": w2}
        scale = 2.0 / n_rows
        for _ in range(epochs):
            sums = batch_sums(pairs, batch, (w1, w2))
            w1 -= lr * scale * sums["g1"]
            w2 -= lr * scale * sums["g2"]
    finally:
        pairs.unpersist()
    return {"W1": w1, "W2": w2}


def transform_embeddings(emb: DataFrame, w: np.ndarray) -> DataFrame:
    """Apply the fitted map to an embedding DataFrame (z·W) via an
    Arrow-batched matmul — stays distributed, one batch at a time."""
    spark = emb.sparkSession
    bw = spark.sparkContext.broadcast(w)

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            z = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = z @ bw.value if len(z) else np.zeros((0, bw.value.shape[1]))
            yield pd.DataFrame(
                {"user_id": pdf["user_id"], "embedding": out.tolist()}
            )

    return emb.select(
        "user_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(apply, "user_id long, embedding array<double>")


def inverse_consistency(emb_x: DataFrame, w: np.ndarray) -> float:
    """Reference T7 regularizer as a metric: mean L1 of zx − (zx·W)·Wᵀ,
    one distributed pass."""
    spark = emb_x.sparkSession
    bw = spark.sparkContext.broadcast(w)

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            z = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if len(z):
                resid = np.abs(z - (z @ bw.value) @ bw.value.T).sum(axis=1)
            else:
                resid = np.zeros(0)
            yield pd.DataFrame({"l1": resid})

    res = (
        emb_x.select(F.col("embedding").cast("array<double>").alias("embedding"))
        .mapInPandas(apply, "l1 double")
        .agg(F.avg("l1").alias("m"))
        .collect()
    )
    return float(res[0]["m"])


def transform_embeddings_mlp(
    emb: DataFrame, w1: np.ndarray, w2: np.ndarray
) -> DataFrame:
    """Apply the variant3 nonlinear map: relu(z·W1)·W2, Arrow-batched."""
    spark = emb.sparkSession
    bw = spark.sparkContext.broadcast((w1, w2))

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p1, p2 = bw.value
        for pdf in batches:
            z = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = (
                np.maximum(z @ p1, 0.0) @ p2
                if len(z)
                else np.zeros((0, p2.shape[1]))
            )
            yield pd.DataFrame(
                {"user_id": pdf["user_id"], "embedding": out.tolist()}
            )

    return emb.select(
        "user_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(apply, "user_id long, embedding array<double>")
