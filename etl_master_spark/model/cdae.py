"""Denoising-autoencoder collaborative filter — the reference's actual model
family (encoder ``Linear→ReLU``, decoder to per-item logits, BCE
reconstruction with input dropout: ``model_my.py:20-59``,
``main_my.py:225-237``) trained distributively.

Spark-first translation of the training loop:

- The reference densifies the whole user×item matrix up front
  (``main_my.py:81-88`` — its scalability wall). Here a user's multi-hot row
  exists ONLY inside an Arrow batch, rebuilt on the fly from item-index
  arrays; nothing user×item-shaped ever materializes globally.
- Each epoch, executors compute BCE partial gradients over their batches
  (numpy BLAS), the driver sums O(n_items×emb) blocks and steps, then
  re-broadcasts — the same partial-gradient loop as
  ``crossdomain.fit_mlp_map``. Weight size bounds the method at
  n_items ≈ 10⁶ per domain (W broadcast); past that, shard the decoder by
  item range (same loop, per-shard blocks).
- Denoising dropout (reference p=0.5, ``model_my.py:44``) uses a
  deterministic integer-hash mask over (user, item-index, epoch) — same
  regularization effect, replayable on any partitioning, no RNG state on
  executors.

Scoring is ``scoring.dot_scores``, the one candidate scorer of every model
here: z_u · W2[:, i] for CANDIDATE pairs only, the user-latent table joined
with the item-decoder table (``scoring.decoder_frame``) — the full logits
matrix (reference ``my_utils.py:121-129``) is never formed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranking import eval_from_scores
from ..operators.recsplit import SplitData, split_data
from .reduce import tree_collect
from .scoring import decoder_frame, dot_scores, load_params, save_params

EMB_SIZE = 16
EPOCHS = 15
LR = 0.3
SEED = 72
DROPOUT_NUM = 1  # keep prob = 1 - DROPOUT_NUM/DROPOUT_DEN
DROPOUT_DEN = 4


def _train_frame(data: SplitData, domain: str) -> dict:
    """The data half of a model dict: ``per_user`` (user_id, idxs
    ARRAY<INT>) over the train split, the dense item index ``items``
    (item_id ↔ idx) that addresses decoder columns, its size ``n_items``
    (the one eager count), and ``data`` itself for scoring."""
    tr = data.train(domain)
    items = (
        tr.select("item_id")
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("item_id")).cast("int") - 1,
        )
    )
    per_user = (
        tr.join(F.broadcast(items), "item_id")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("idx")).alias("idxs"))
    )
    return {
        "data": data, "per_user": per_user, "items": items,
        "n_items": items.count(),
    }


def _multi_hot(pdf: pd.DataFrame, n_items: int) -> tuple[np.ndarray, np.ndarray]:
    users = pdf["user_id"].to_numpy(dtype="int64")
    x = np.zeros((len(pdf), n_items), dtype=np.float64)
    for row, idxs in enumerate(pdf["idxs"]):
        x[row, np.asarray(idxs, dtype="int64")] = 1.0
    return users, x


def train_cdae(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
) -> dict:
    return _train(
        spark, _train_frame(split_data(spark, sf_dir), domain),
        emb, epochs, lr, seed,
    )


def _train(
    spark: SparkSession, frames: dict, emb: int, epochs: int, lr: float,
    seed: int,
) -> dict:
    n_items = frames["n_items"]
    per_user = frames["per_user"].persist()
    n_users = per_user.count()
    rng = np.random.default_rng(seed)
    w1 = rng.normal(0.0, 0.01, (n_items, emb))
    w2 = rng.normal(0.0, 0.01, (emb, n_items))
    losses: list[float] = []
    try:
        for epoch in range(epochs):
            bw = spark.sparkContext.broadcast({"w1": w1, "w2": w2})

            def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                p1, p2 = bw.value["w1"], bw.value["w2"]
                g1 = np.zeros_like(p1)
                g2 = np.zeros_like(p2)
                loss = 0.0
                for pdf in batches:
                    if not len(pdf):
                        continue
                    users, x = _multi_hot(pdf, n_items)
                    # deterministic denoising mask: drop DROPOUT_NUM/DEN of
                    # each user's live inputs, independent of partitioning
                    h = (
                        users[:, None] * 2654435761
                        + np.arange(n_items)[None, :] * 40503
                        + epoch * 97
                    ) % DROPOUT_DEN
                    x_noisy = np.where(h < DROPOUT_NUM, 0.0, x)
                    z_pre = x_noisy @ p1
                    z = np.maximum(z_pre, 0.0)
                    logits = z @ p2
                    p = 1.0 / (1.0 + np.exp(-logits))
                    # BCE against the CLEAN row (denoising objective)
                    loss += float(
                        -(
                            x * np.log(np.clip(p, 1e-12, None))
                            + (1.0 - x) * np.log(np.clip(1.0 - p, 1e-12, None))
                        ).sum()
                    )
                    r = p - x
                    g2 += z.T @ r
                    gz = r @ p2.T
                    gz[z_pre <= 0.0] = 0.0
                    g1 += x_noisy.T @ gz
                yield pd.DataFrame(
                    {
                        "g1": [g1.ravel().tolist()],
                        "g2": [g2.ravel().tolist()],
                        "loss": [loss],
                    }
                )

            partials = tree_collect(
                per_user.mapInPandas(
                    part, "g1 array<double>, g2 array<double>, loss double"
                )
            )
            bw.unpersist()
            g1 = sum(np.array(p["g1"]) for p in partials).reshape(w1.shape)
            g2 = sum(np.array(p["g2"]) for p in partials).reshape(w2.shape)
            w1 -= lr * g1 / n_users
            w2 -= lr * g2 / n_users
            losses.append(sum(p["loss"] for p in partials) / n_users)
    finally:
        per_user.unpersist()
    return {**frames, "W1": w1, "W2": w2, "losses": losses}


def cdae_user_embeddings(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
) -> DataFrame:
    """S5 export with the CDAE's OWN latent z (reference exports the
    trained model's embeddings, ``model_my.py:111-145``): one training
    run, then (user_id, embedding ARRAY<DOUBLE>) via the Arrow latent
    pass — never a driver-side matrix."""
    model = train_cdae(spark, sf_dir, domain, emb=emb, epochs=epochs, lr=lr,
                       seed=seed)
    return _latent(spark, model, "embedding")


def _latent(spark: SparkSession, model: dict, col: str) -> DataFrame:
    """(user_id, ``col`` ARRAY<DOUBLE>): each train user's latent z,
    computed per Arrow batch from the user's rebuilt multi-hot row."""
    n_items = model["n_items"]
    bw = spark.sparkContext.broadcast(model["W1"])

    def latent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p1 = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            users, x = _multi_hot(pdf, n_items)
            z = np.maximum(x @ p1, 0.0)
            yield pd.DataFrame({"user_id": users, col: z.tolist()})

    return model["per_user"].mapInPandas(
        latent, f"user_id long, {col} array<double>"
    )


def cdae_scores(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
) -> DataFrame:
    """(user_id, item_id, domain, score) for candidate pairs only."""
    model = train_cdae(spark, sf_dir, domain, emb=emb, epochs=epochs, lr=lr,
                       seed=seed)
    return cdae_scores_with(spark, sf_dir, domain, model)


def cdae_scores_with(
    spark: SparkSession, sf_dir: str, domain: str, model: dict
) -> DataFrame:
    """Score candidate pairs from an in-hand model dict (live-trained or
    checkpoint-reloaded) — the shared scoring half of ``cdae_scores``.
    The candidates come from the dict's own ``data``."""
    return dot_scores(
        model["data"], domain, _latent(spark, model, "z"),
        decoder_frame(spark, model["items"], model["W2"]),
    )


def cdae_eval(
    spark: SparkSession,
    sf_dir: str,
    modes: tuple[str, ...] = ("vali", "test"),
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
    ks: list[int] | None = None,
) -> dict[str, DataFrame]:
    """Reference protocol end-to-end with the CDAE scorer (rows-only —
    training is not SQL-expressible), for every mode in ``modes`` off ONE
    training per domain. Hyperparameters thread through to the trainer —
    the CLI's --epochs/--lr/--emb_size/--seed land here."""
    scores, data = _scores_xy(
        spark, sf_dir, lambda _, f: _train(spark, f, emb, epochs, lr, seed)
    )
    return {
        mode: eval_from_scores(scores, data.holdout(mode), data.negatives, ks=ks)
        for mode in modes
    }


def _scores_xy(
    spark: SparkSession, sf_dir: str, model_of
) -> tuple[DataFrame, SplitData]:
    """Both domains' candidate scores over ONE ``split_data``, plus that
    data; ``model_of(domain, frames)`` turns a domain's ``_train_frame``
    dict into a scoring-ready model dict."""
    data = split_data(spark, sf_dir)
    x, y = (
        cdae_scores_with(spark, sf_dir, d, model_of(d, _train_frame(data, d)))
        for d in ("x", "y")
    )
    return x.unionByName(y), data


# -- checkpoint lifecycle (S4/R7 — reference torch.save/load of the best
# model, main_my.py:322-346,350-375) ----------------------------------------

def save_cdae_checkpoint(
    spark: SparkSession, model: dict, domain: str, ckpt_dir: str
) -> None:
    """Persist the trained weight matrices (``scoring.save_params``)."""
    save_params(
        spark, {k: model[k] for k in ("W1", "W2")}, f"{ckpt_dir}/cdae_{domain}"
    )


def load_cdae_checkpoint(
    spark: SparkSession, sf_dir: str, domain: str, ckpt_dir: str
) -> dict:
    """Rebuild a scoring-ready model dict: weights from parquet, item
    index and per-user frames re-derived from the tables."""
    return {
        **_train_frame(split_data(spark, sf_dir), domain),
        **load_params(spark, f"{ckpt_dir}/cdae_{domain}"),
    }


def cdae_reeval_from_checkpoint(
    spark: SparkSession,
    sf_dir: str,
    ckpt_dir: str,
    mode: str = "test",
    ks: list[int] | None = None,
) -> DataFrame:
    """R7 for the CDAE family: reload both domains' saved weights and
    re-run the eval protocol — must reproduce the live metrics exactly
    (pinned in tests/test_model.py)."""
    scores, data = _scores_xy(
        spark, sf_dir,
        lambda d, f: {**f, **load_params(spark, f"{ckpt_dir}/cdae_{d}")},
    )
    return eval_from_scores(scores, data.holdout(mode), data.negatives, ks=ks)


def cdae_eval_frozen(
    spark: SparkSession, sf_dir: str, mode: str = "test"
) -> DataFrame:
    """Hash-checkable split of ``cdae_eval``: freeze the trained scorer's
    (scores, holdout, negatives) to parquet and evaluate FROM the frozen
    copies, which ``frozen_eval_oracle('cdae_test')`` replays in DuckDB.
    Training (seeded, full-batch) stays outside SQL but everything
    downstream of it is hash-checked."""
    from ..operators.ranking import freeze_and_eval

    scores, data = _scores_xy(
        spark, sf_dir, lambda _, f: _train(spark, f, EMB_SIZE, EPOCHS, LR, SEED)
    )
    return freeze_and_eval(
        scores, data.holdout(mode), data.negatives, f"cdae_{mode}", sf_dir,
        fingerprint=(
            f"cdae:v1:emb={EMB_SIZE},epochs={EPOCHS},lr={LR},seed={SEED},"
            f"drop={DROPOUT_NUM}/{DROPOUT_DEN}"
        ),
    )
