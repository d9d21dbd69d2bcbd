"""Adversarially-coupled cross-domain autoencoder — the reference's core
training contribution (T8/T10/T12), re-expressed as the engine's standard
driver-loop of mapInPandas partial-gradient passes.

Reference semantics (``main_my.py:152-252``, ``model_my.py:52-109``):

- two domain autoencoders produce latent features f_x, f_y; z = relu(f)
- a SHARED map M couples the domains: x→y = z_x·M, y→x = z_y·Mᵀ
  (``model_my.py:46-50`` ``orthogonal_map``)
- L1 inverse-consistency regularizer ‖z − (z·M)·Mᵀ‖₁ (``model_my.py:66-70``)
- two discriminator MLPs (Linear E→E/2 → ReLU → Linear E/2→1,
  ``model_my.py:94-109``) judge the PRE-ReLU features against a Gaussian
  prior (``main_my.py:168,189-198`` — the forward's feature_x/feature_y
  positions feed disc1/disc2)
- alternating schedule: every (d_epoch+1)-th step trains D, the rest train
  G with the GAN-weighted total objective
  ``G_loss + self·(recon) + cross·(transfer recon) + reg·consistency``
  (``main_my.py:164,240-246``)

Spark-first translation (same pattern as ``cdae.train`` /
``crossdomain.fit_mlp_map``):

- nothing user×item-shaped ever materializes globally: each Arrow batch
  rebuilds its users' multi-hot rows from item-index arrays
- each pass, executors compute exact partial gradients over their batches
  (numpy BLAS); the driver sums O(params)-sized blocks and steps, then
  re-broadcasts — full-batch GD, deterministic on any partitioning
- the Gaussian prior and denoising dropout are DETERMINISTIC integer-hash
  functions of (user, dim, pass) — splitmix64 finalizer → Box–Muller — so
  no executor RNG state and the trajectory is replayable
- encoders/decoders are the engine's 1-layer CDAE spelling (cdae.py); the
  adversarial coupling, shared map, schedule, and objective weights follow
  the reference exactly

All forward/gradient math lives in pure numpy functions (`_g_forward`,
`_g_grads`, `_d_grads`) that tests pin with finite-difference gradchecks.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.recsplit import SplitData, split_data
from .cdae import DROPOUT_DEN, DROPOUT_NUM, _train_frame
from .reduce import tree_collect
from .scoring import (
    DOMAINS, decoder_frame, dot_scores, evaluate, load_params, save_params,
)

EMB = 16
PASSES = 9  # pass schedule G,G,D ×3 — d_epoch=2 (main_my.py:47,164)
D_EVERY = 3  # every 3rd pass is a discriminator pass
LR = 0.3
LR_D = 0.1
SEED = 72
A_SELF = 1.0  # args.self (main_my.py:44)
A_CROSS = 1.0  # args.cross (main_my.py:45)
A_REG = 1.0  # args.reg (main_my.py:42)

# T11 — the reference's optimizer pair (main_my.py:113-114):
# optim.Adam(model.parameters(), lr, weight_decay) for the generator,
# optim.SGD(disc.parameters(), lr, weight_decay) for the discriminators.
# torch defaults for the Adam moments:
ADAM_B1 = 0.9
ADAM_B2 = 0.999
ADAM_EPS = 1e-8
WEIGHT_DECAY = 1e-3  # args.weight_decay default (main_my.py:40)
A_GAN = 1.0  # args.gan (main_my.py:46)


# -- deterministic randomness (splitmix64 finalizer) --------------------------

_SM1 = np.uint64(0xBF58476D1CE4E5B9)
_SM2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _hash_uniform(users: np.ndarray, dim: int, tick: int, salt: int) -> np.ndarray:
    """(n_users × dim) uniforms in (0,1), a pure function of
    (user, dim-index, tick, salt) — identical on any partitioning."""
    with np.errstate(over="ignore"):
        a = (
            users.astype(np.uint64)[:, None] * _GOLD
            + np.arange(dim, dtype=np.uint64)[None, :] * _SM1
            + np.uint64(tick) * _SM2
            + np.uint64(salt)
        )
        a ^= a >> np.uint64(30)
        a *= _SM1
        a ^= a >> np.uint64(27)
        a *= _SM2
        a ^= a >> np.uint64(31)
    return ((a >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def _prior(
    users: np.ndarray, dim: int, tick: int, salt: int,
    kind: str = "gaussian",
) -> np.ndarray:
    """Deterministic prior rows over hash uniforms — the reference's
    prior menu (main_my.py:167-175: live ``np.random.normal`` plus the
    commented-out laplace / uniform / two-Gaussian-mixture options) made
    partition-independent. All four share the same uniform streams, so
    every kind is replayable on any partitioning."""
    u1 = _hash_uniform(users, dim, tick, salt)
    u2 = _hash_uniform(users, dim, tick, salt + 1)
    if kind == "uniform":  # np.random.uniform(0, 1) (main_my.py:172)
        return u1
    if kind == "laplace":  # np.random.laplace(0, 1) via inverse CDF
        return -np.sign(u1 - 0.5) * np.log(1.0 - 2.0 * np.abs(u1 - 0.5))
    z1 = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    if kind == "mixture":
        # FAITHFUL to the reference's dead code (main_my.py:174-175,
        # labeled "multi-variate Gaussian"): 0.5·(N(0,1) + N(3,1)) — an
        # AVERAGED SUM of two independent normals, i.e. the unimodal
        # N(1.5, sqrt(0.5)), NOT a bimodal 50/50 mixture density (that
        # would pick one component per sample). We reproduce the
        # reference's arithmetic, quirk included; prior_family_stats and
        # its oracle encode the same averaged spelling.
        z2 = np.sqrt(-2.0 * np.log(u1)) * np.sin(2.0 * np.pi * u2)
        return 0.5 * (z1 + (z2 + 3.0))
    if kind != "gaussian":
        raise ValueError(f"unknown prior kind {kind!r}")
    return z1


def _dropout_mask(users: np.ndarray, n_items: int, tick: int) -> np.ndarray:
    """cdae.py's deterministic denoising mask, keyed by pass tick."""
    h = (
        users[:, None].astype(np.int64) * 2654435761
        + np.arange(n_items)[None, :] * 40503
        + tick * 97
    ) % DROPOUT_DEN
    return h < DROPOUT_NUM  # True = dropped


# -- parameters ---------------------------------------------------------------

def init_params(
    n_items_x: int, n_items_y: int, emb: int = EMB, seed: int = SEED,
    strategy: str = "shared",
):
    """Parameter set for a map strategy (SURVEY §2.7 — the reference's
    three near-copied variant codebases as one enum, like
    ``crossdomain.fit_linear_map``):

    - 'shared': ONE map M, x→y = z·M, y→x = z·Mᵀ (model_my.py:41-50)
    - 'two_maps': independent M1 (x→y), M2 (y→x) with the cross-inverse
      L1 reg ‖z_x − (z_x·M1)·M2‖₁ (model_my_variant2.py:41-54,70-74)
    """
    rng = np.random.default_rng(seed)
    half = max(1, emb // 2)
    g = {
        "w1x": rng.normal(0.0, 0.01, (n_items_x, emb)),
        "w2x": rng.normal(0.0, 0.01, (emb, n_items_x)),
        "w1y": rng.normal(0.0, 0.01, (n_items_y, emb)),
        "w2y": rng.normal(0.0, 0.01, (emb, n_items_y)),
    }
    scale = float(np.sqrt(2.0 / emb))
    if strategy == "shared":
        g["m"] = rng.normal(0.0, scale, (emb, emb))
    elif strategy == "two_maps":
        g["m1"] = rng.normal(0.0, scale, (emb, emb))
        g["m2"] = rng.normal(0.0, scale, (emb, emb))
    else:
        raise ValueError(f"unknown map strategy {strategy!r}")
    d = {}
    for s in ("x", "y"):
        d[f"v1{s}"] = rng.normal(0.0, 0.1, (emb, half))
        d[f"b1{s}"] = np.zeros(half)
        d[f"v2{s}"] = rng.normal(0.0, 0.1, (half, 1))
        d[f"b2{s}"] = np.zeros(1)
    return g, d


def _sigmoid(a: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(a, -60.0, 60.0)))


def _bce_logits_sum(s: np.ndarray, t: np.ndarray | float) -> float:
    """Σ softplus(s) − t·s — BCE-with-logits, sum reduction (stable)."""
    return float((np.logaddexp(0.0, s) - t * s).sum())


def _disc_forward(a: np.ndarray, d: dict, side: str):
    hpre = a @ d[f"v1{side}"] + d[f"b1{side}"]
    h = np.maximum(hpre, 0.0)
    s = h @ d[f"v2{side}"] + d[f"b2{side}"]
    return s, h, hpre


# -- generator pass (pure numpy; gradcheck-pinned) ----------------------------

def _maps(g: dict) -> tuple[np.ndarray, np.ndarray]:
    """(A, B) = (x→y map, y→x map): shared strategy folds B = Aᵀ."""
    if "m" in g:
        return g["m"], g["m"].T
    return g["m1"], g["m2"]


def _g_forward(
    xn: np.ndarray, x: np.ndarray, yn: np.ndarray, y: np.ndarray,
    g: dict, d: dict,
) -> dict:
    """Forward pass → loss components (sum reduction over the batch)."""
    a, b = _maps(g)
    fx = xn @ g["w1x"]
    zx = np.maximum(fx, 0.0)
    fy = yn @ g["w1y"]
    zy = np.maximum(fy, 0.0)
    ux = zx @ a
    uy = zy @ b
    l_self = _bce_logits_sum(zx @ g["w2x"], x) + _bce_logits_sum(zy @ g["w2y"], y)
    l_cross = _bce_logits_sum(ux @ g["w2y"], y) + _bce_logits_sum(uy @ g["w2x"], x)
    ex = zx - ux @ b
    ey = zy - uy @ a
    l_reg = float(np.abs(ex).sum() + np.abs(ey).sum())
    sx, _, _ = _disc_forward(fx, d, "x")
    sy, _, _ = _disc_forward(fy, d, "y")
    l_gan = _bce_logits_sum(sx, 1.0) + _bce_logits_sum(sy, 1.0)
    total = (
        A_GAN * l_gan + A_SELF * l_self + A_CROSS * l_cross + A_REG * l_reg
    )
    return {
        "total": total, "self": l_self, "cross": l_cross,
        "reg": l_reg, "gan": l_gan,
    }


def _g_grads(
    xn: np.ndarray, x: np.ndarray, yn: np.ndarray, y: np.ndarray,
    g: dict, d: dict,
) -> tuple[dict, dict]:
    """Exact gradients of the GAN-weighted total objective w.r.t. the
    generator parameters (D frozen — main_my.py:219-246). Derived for
    independent maps (A, B); the shared strategy folds gM = gA + gBᵀ.
    Both strategies are FD-gradcheck-pinned in tests/test_model.py."""
    a, b = _maps(g)
    fx = xn @ g["w1x"]
    zx = np.maximum(fx, 0.0)
    fy = yn @ g["w1y"]
    zy = np.maximum(fy, 0.0)
    ux = zx @ a
    uy = zy @ b

    rxx = _sigmoid(zx @ g["w2x"]) - x
    ryy = _sigmoid(zy @ g["w2y"]) - y
    r_x2y = _sigmoid(ux @ g["w2y"]) - y
    r_y2x = _sigmoid(uy @ g["w2x"]) - x

    ex = zx - ux @ b  # = zx - zx·A·B
    sgx = np.sign(ex)
    ey = zy - uy @ a  # = zy - zy·B·A
    sgy = np.sign(ey)

    gw2x = zx.T @ (A_SELF * rxx) + uy.T @ (A_CROSS * r_y2x)
    gw2y = zy.T @ (A_SELF * ryy) + ux.T @ (A_CROSS * r_x2y)
    gux = (A_CROSS * r_x2y) @ g["w2y"].T
    guy = (A_CROSS * r_y2x) @ g["w2x"].T

    gzx = (
        A_SELF * rxx @ g["w2x"].T
        + gux @ a.T
        + A_REG * (sgx - sgx @ b.T @ a.T)
    )
    gzy = (
        A_SELF * ryy @ g["w2y"].T
        + guy @ b.T
        + A_REG * (sgy - sgy @ a.T @ b.T)
    )
    gfx = np.where(fx > 0, gzx, 0.0)
    gfy = np.where(fy > 0, gzy, 0.0)

    # adversarial term pulls the PRE-ReLU features toward the prior
    for side, f, gf in (("x", fx, gfx), ("y", fy, gfy)):
        s, _, hpre = _disc_forward(f, d, side)
        gs = _sigmoid(s) - 1.0
        gh = np.where(hpre > 0, gs @ d[f"v2{side}"].T, 0.0)
        gf += A_GAN * (gh @ d[f"v1{side}"].T)

    gw1x = xn.T @ gfx
    gw1y = yn.T @ gfy

    # map gradients, independent (A, B) form:
    #   gA = α_c·zxᵀgux + α_r·(zxᵀ(−Sx)·Bᵀ + uyᵀ(−Sy))
    #   gB = α_c·zyᵀguy + α_r·(zyᵀ(−Sy)·Aᵀ + uxᵀ(−Sx))
    ga = zx.T @ gux + A_REG * ((zx.T @ -sgx) @ b.T + uy.T @ -sgy)
    gb = zy.T @ guy + A_REG * ((zy.T @ -sgy) @ a.T + ux.T @ -sgx)
    grads = {"w1x": gw1x, "w2x": gw2x, "w1y": gw1y, "w2y": gw2y}
    if "m" in g:
        grads["m"] = ga + gb.T
    else:
        grads["m1"] = ga
        grads["m2"] = gb
    return grads, _g_forward(xn, x, yn, y, g, d)


# -- discriminator pass -------------------------------------------------------

def _d_grads(
    users: np.ndarray, xn: np.ndarray, yn: np.ndarray,
    g: dict, d: dict, tick: int, prior_kind: str = "gaussian",
) -> tuple[dict, float]:
    """Gradients of D_loss = Σ_side BCE(D(prior),1) + BCE(D(f),0) w.r.t.
    discriminator parameters (G frozen — main_my.py:165-206)."""
    grads = {k: np.zeros_like(v) for k, v in d.items()}
    d_loss = 0.0
    feats = {"x": xn @ g["w1x"], "y": yn @ g["w1y"]}
    for salt, side in ((101, "x"), (211, "y")):
        prior = _prior(users, feats[side].shape[1], tick, salt, kind=prior_kind)
        for a, t in ((prior, 1.0), (feats[side], 0.0)):
            s, h, hpre = _disc_forward(a, d, side)
            d_loss += _bce_logits_sum(s, t)
            ds = _sigmoid(s) - t
            grads[f"v2{side}"] += h.T @ ds
            grads[f"b2{side}"] += ds.sum(axis=0)
            gh = np.where(hpre > 0, ds @ d[f"v2{side}"].T, 0.0)
            grads[f"v1{side}"] += a.T @ gh
            grads[f"b1{side}"] += gh.sum(axis=0)
    return grads, d_loss


# -- distributed training loop ------------------------------------------------

def _joined_frame(data: SplitData) -> dict:
    """The data half of a model dict: ``joined`` (user_id, idxs_x, idxs_y)
    over the union of both domains' train users (full outer join — a user
    absent from one domain has an empty row there, exactly a zero
    multi-hot), both item indices and their sizes, and ``data`` itself."""
    fx, fy = _train_frame(data, "x"), _train_frame(data, "y")
    empty = F.array().cast("array<int>")
    joined = (
        fx["per_user"].withColumnsRenamed({"idxs": "idxs_x"})
        .join(
            fy["per_user"].withColumnsRenamed({"idxs": "idxs_y"}),
            "user_id", "full_outer",
        )
        .select(
            "user_id",
            F.coalesce("idxs_x", empty).alias("idxs_x"),
            F.coalesce("idxs_y", empty).alias("idxs_y"),
        )
    )
    return {
        "data": data, "joined": joined,
        "items_x": fx["items"], "items_y": fy["items"],
        "n_items_x": fx["n_items"], "n_items_y": fy["n_items"],
    }


def _two_hot(
    pdf: pd.DataFrame, n_x: int, n_y: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    users = pdf["user_id"].to_numpy(dtype="int64")
    x = np.zeros((len(pdf), n_x), dtype=np.float64)
    y = np.zeros((len(pdf), n_y), dtype=np.float64)
    for row, (ix, iy) in enumerate(zip(pdf["idxs_x"], pdf["idxs_y"])):
        x[row, np.asarray(ix, dtype="int64")] = 1.0
        y[row, np.asarray(iy, dtype="int64")] = 1.0
    return users, x, y


def _g_schema(g: dict) -> str:
    """Partial-gradient transport schema — one array column per G param
    (the param set depends on the map strategy) + the loss scalars."""
    return ", ".join(f"{k} array<double>" for k in g) + ", loss double, gan double"


_D_SCHEMA = (
    "v1x array<double>, b1x array<double>, v2x array<double>, b2x array<double>, "
    "v1y array<double>, b1y array<double>, v2y array<double>, b2y array<double>, "
    "loss double"
)


def train(
    spark: SparkSession,
    data: SplitData,
    emb: int = EMB,
    passes: int = PASSES,
    lr: float = LR,
    lr_d: float = LR_D,
    seed: int = SEED,
    strategy: str = "shared",
    optimizer: str = "gd",
    wd: float = WEIGHT_DECAY,
    prior: str = "gaussian",
) -> dict:
    """Train the coupled model on ``data``; the model value holds
    ``_joined_frame``'s frames (``data`` among them), the ``g``/``d``
    parameter dicts and the per-pass losses.

    ``optimizer``: "gd" (default) is plain full-batch gradient descent
    with split G/D rates — chosen for the engine's short pass budget,
    same fixed point as the reference. "adam" reproduces the reference's
    T11 pair exactly (main_my.py:113-114): Adam moments + weight decay
    for the generator, SGD + weight decay for the discriminators, all
    state driver-side over the collected partial gradients — equally
    deterministic (full-batch, seeded)."""
    frames = _joined_frame(data)
    joined = frames["joined"].persist()
    n_x, n_y = frames["n_items_x"], frames["n_items_y"]
    n_users = joined.count()
    g, d = init_params(n_x, n_y, emb, seed, strategy=strategy)
    if optimizer == "adam":
        adam_m = {k: np.zeros_like(v) for k, v in g.items()}
        adam_v = {k: np.zeros_like(v) for k, v in g.items()}
        adam_t = 0
    g_losses: list[float] = []
    gan_losses: list[float] = []
    d_losses: list[float] = []
    try:
        for p in range(passes):
            is_d = (p + 1) % D_EVERY == 0  # G,G,D — d_epoch=2 schedule
            bp = spark.sparkContext.broadcast({"g": g, "d": d})

            if is_d:
                def dpart(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    bg, bd = bp.value["g"], bp.value["d"]
                    acc = {k: np.zeros_like(v) for k, v in bd.items()}
                    loss = 0.0
                    for pdf in batches:
                        if not len(pdf):
                            continue
                        users, x, y = _two_hot(pdf, n_x, n_y)
                        xn = np.where(_dropout_mask(users, n_x, p), 0.0, x)
                        yn = np.where(_dropout_mask(users, n_y, p), 0.0, y)
                        gr, ls = _d_grads(users, xn, yn, bg, bd, p, prior_kind=prior)
                        for k in acc:
                            acc[k] += gr[k]
                        loss += ls
                    yield pd.DataFrame(
                        {**{k: [v.ravel().tolist()] for k, v in acc.items()},
                         "loss": [loss]}
                    )

                parts = tree_collect(joined.mapInPandas(dpart, _D_SCHEMA))
                for k in d:
                    tot = sum(np.array(r[k]) for r in parts).reshape(d[k].shape)
                    grad = tot / n_users
                    if optimizer == "adam":  # reference D: SGD + weight decay
                        grad = grad + wd * d[k]
                    d[k] -= lr_d * grad
                d_losses.append(sum(r["loss"] for r in parts) / n_users)
            else:
                def gpart(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    bg, bd = bp.value["g"], bp.value["d"]
                    acc = {k: np.zeros_like(v) for k, v in bg.items()}
                    loss = 0.0
                    gan = 0.0
                    for pdf in batches:
                        if not len(pdf):
                            continue
                        users, x, y = _two_hot(pdf, n_x, n_y)
                        xn = np.where(_dropout_mask(users, n_x, p), 0.0, x)
                        yn = np.where(_dropout_mask(users, n_y, p), 0.0, y)
                        gr, ls = _g_grads(xn, x, yn, y, bg, bd)
                        for k in acc:
                            acc[k] += gr[k]
                        loss += ls["total"]
                        gan += ls["gan"]
                    yield pd.DataFrame(
                        {**{k: [v.ravel().tolist()] for k, v in acc.items()},
                         "loss": [loss], "gan": [gan]}
                    )

                parts = tree_collect(joined.mapInPandas(gpart, _g_schema(g)))
                if optimizer == "adam":
                    adam_t += 1
                for k in g:
                    tot = sum(np.array(r[k]) for r in parts).reshape(g[k].shape)
                    grad = tot / n_users
                    if optimizer == "adam":  # torch Adam, decoupled nothing:
                        # L2 folds into the gradient like torch's
                        # weight_decay (not AdamW)
                        grad = grad + wd * g[k]
                        adam_m[k] = ADAM_B1 * adam_m[k] + (1 - ADAM_B1) * grad
                        adam_v[k] = (
                            ADAM_B2 * adam_v[k] + (1 - ADAM_B2) * grad * grad
                        )
                        mh = adam_m[k] / (1 - ADAM_B1**adam_t)
                        vh = adam_v[k] / (1 - ADAM_B2**adam_t)
                        g[k] -= lr * mh / (np.sqrt(vh) + ADAM_EPS)
                    else:
                        g[k] -= lr * grad
                g_losses.append(sum(r["loss"] for r in parts) / n_users)
                gan_losses.append(sum(r["gan"] for r in parts) / n_users)
            bp.unpersist()
    finally:
        joined.unpersist()
    return {
        **frames, "g": g, "d": d,
        "g_losses": g_losses, "gan_losses": gan_losses, "d_losses": d_losses,
    }


# -- scoring / evaluation -----------------------------------------------------

def scores(spark: SparkSession, model: dict) -> DataFrame:
    """(user_id, item_id, domain, score) for candidate pairs only —
    ``scoring.dot_scores`` per domain, from ONE coupled model covering
    both domains."""
    z_df = _latent(spark, model)
    x, y = (
        dot_scores(
            model["data"], d, z_df.select("user_id", f"z{d}"),
            decoder_frame(spark, model[f"items_{d}"], model["g"][f"w2{d}"]),
        )
        for d in DOMAINS
    )
    return x.unionByName(y)


def user_embeddings(spark: SparkSession, model: dict, domain: str) -> DataFrame:
    """S5/S6 export with the GAN-trained latent z for one domain —
    (user_id, embedding ARRAY<DOUBLE>), Arrow-batched, never a driver
    matrix (reference ``save_embedding_process``, model_my.py:111-145)."""
    return _latent(spark, model).select(
        "user_id", F.col(f"z{domain}").alias("embedding")
    )


def _latent(spark: SparkSession, model: dict) -> DataFrame:
    """(user_id, zx, zy): every train user's latent z in both domains,
    computed per Arrow batch from the rebuilt multi-hot rows."""
    n_x, n_y = model["n_items_x"], model["n_items_y"]
    bw = spark.sparkContext.broadcast((model["g"]["w1x"], model["g"]["w1y"]))

    def latent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w1x, w1y = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            users, x, y = _two_hot(pdf, n_x, n_y)
            zx = np.maximum(x @ w1x, 0.0)
            zy = np.maximum(y @ w1y, 0.0)
            yield pd.DataFrame(
                {"user_id": users, "zx": zx.tolist(), "zy": zy.tolist()}
            )

    return model["joined"].mapInPandas(
        latent, "user_id long, zx array<double>, zy array<double>"
    )


# -- checkpoint lifecycle (S4/R7 — reference torch.save/load of the best
# model, main_my.py:322-346,350-375) ----------------------------------------

def save_checkpoint(spark: SparkSession, model: dict, ckpt_dir: str) -> None:
    """Persist every trained numpy parameter (generator + discriminators)
    as one ``scoring.save_params`` parquet, names prefixed ``g.``/``d.``."""
    save_params(
        spark,
        {f"{side}.{k}": v for side in ("g", "d") for k, v in model[side].items()},
        f"{ckpt_dir}/gan_params",
    )


def load_checkpoint(spark: SparkSession, data: SplitData, ckpt_dir: str) -> dict:
    """Rebuild a scoring-ready model value from a saved checkpoint: numpy
    params from parquet, item-index frames re-derived from ``data`` (they
    are data, not model state)."""
    params = load_params(spark, f"{ckpt_dir}/gan_params")
    g, d = (
        {k.split(".", 1)[1]: v for k, v in params.items() if k[0] == side}
        for side in ("g", "d")
    )
    return {**_joined_frame(data), "g": g, "d": d}


def gan_eval(spark: SparkSession, sf_dir: str, mode: str = "test") -> DataFrame:
    """Reference protocol end-to-end with the adversarially-trained scorer
    (rows-only — training is not SQL-expressible)."""
    return gan_eval_with(spark, sf_dir, modes=(mode,))[mode]


def gan_eval_frozen(
    spark: SparkSession, sf_dir: str, mode: str = "test"
) -> DataFrame:
    """Hash-checkable split of ``gan_eval``: training stays outside SQL,
    but the trained scorer's (scores, holdout, negatives) freeze to
    parquet and the eval half — the same rank→HR/NDCG/MRR pipeline as
    ``eval_metrics`` — runs FROM the frozen copies, which the DuckDB
    oracle replays byte-identically (``frozen_eval_oracle('gan_test')``).
    Training is seeded full-batch GD, so the artifacts are stable."""
    from ..operators.ranking import freeze_and_eval

    data = split_data(spark, sf_dir)
    return freeze_and_eval(
        scores(spark, train(spark, data)), data.holdout(mode), data.negatives,
        f"gan_{mode}", sf_dir,
        fingerprint=(
            f"gan:v1:emb={EMB},passes={PASSES},lr={LR},lr_d={LR_D},"
            f"seed={SEED},optimizer=gd,prior=gaussian"
        ),
    )


def gan_eval_with(
    spark: SparkSession,
    sf_dir: str,
    modes: tuple[str, ...] = ("vali", "test"),
    emb: int = EMB,
    passes: int = PASSES,
    lr: float = LR,
    seed: int = SEED,
    ks: list[int] | None = None,
    optimizer: str = "gd",
    prior: str = "gaussian",
) -> dict[str, DataFrame]:
    """Train the coupled model ONCE, evaluate every requested mode (one
    training run for vali+test, like the reference's single loop
    evaluating both). ``optimizer``/``prior`` select the T11 pair and the
    prior menu."""
    data = split_data(spark, sf_dir)
    model = train(spark, data, emb=emb, passes=passes, lr=lr, seed=seed,
                  optimizer=optimizer, prior=prior)
    return evaluate(scores(spark, model), data, modes, ks)
