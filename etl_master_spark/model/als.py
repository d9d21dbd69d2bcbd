"""Collaborative-filtering model path — Spark-idiomatic replacement for the
reference's dual denoising autoencoder (``model_my.py``, trained in
``main_my.py``).

SURVEY.md §7.2 M6: exact CDAE fidelity is out of the oracle-checked surface
by design (training is not relational); the engine instead ships
``pyspark.ml.recommendation.ALS`` — the built-in distributed implicit-MF —
wired into the SAME split/negatives/eval pipeline the reference uses. That
preserves the reference's experimental protocol (leave-two-out, 99
negatives, HR/NDCG/MRR@{5,10}) while the model itself is cluster-native:
ALS's block-wise alternating solve is the canonical 100 TB-scale CF trainer.

The model value ``train`` returns keeps each domain's factor frames, so
scoring, checkpointing and embedding export (reference S5/S6,
``model_my.py:111-181``: the user factors as (user_id, embedding
ARRAY<FLOAT>)) all read the one fit — no driver-side ndarray ever
materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.recsplit import SplitData, split_data
from .scoring import DOMAINS, dot_scores, evaluate

EMB_SIZE = 16  # reference uses 200 (main_my.py:35); small here for test speed
SEED = 72  # reference --seed default (main_my.py:32)
_SIDES = ("user", "item")  # factor frames, one parquet dir each


def _fit(data: SplitData, domain: str, rank: int):
    from pyspark.ml.recommendation import ALS

    train = data.train(domain).select(
        F.col("user_id").cast("int").alias("user"),
        F.col("item_id").cast("int").alias("item"),
        F.lit(1.0).alias("rating"),
    )
    als = ALS(
        rank=rank,
        maxIter=10,
        regParam=0.1,
        implicitPrefs=True,
        alpha=10.0,
        seed=SEED,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
        nonnegative=False,
    )
    return als.fit(train)


def train(spark: SparkSession, data: SplitData, rank: int = EMB_SIZE) -> dict:
    """Fit implicit-feedback ALS on each domain's train split. The model
    value holds ``data`` and, per domain, the ``user`` and ``item``
    factor frames (id INT, features ARRAY<FLOAT>)."""
    model: dict = {"data": data}
    for domain in DOMAINS:
        fit = _fit(data, domain, rank)
        model[domain] = {"user": fit.userFactors, "item": fit.itemFactors}
    return model


def scores(spark: SparkSession, model: dict) -> DataFrame:
    """(user_id, item_id, domain, score) for both domains' candidate pairs:
    ``scoring.dot_scores`` over the factor frames, never a full user×item
    materialization. Its float32 sum equals ALS ``transform``'s
    prediction bit for bit, so a live and a reloaded model score alike."""
    x, y = (
        dot_scores(
            model["data"], d,
            *(model[d][side].select(F.col("id").cast("bigint"), "features")
              for side in _SIDES),
        )
        for d in DOMAINS
    )
    return x.unionByName(y)


def user_embeddings(spark: SparkSession, model: dict, domain: str) -> DataFrame:
    """S5/S6 embedding export shape (``model_my.py:111-181``):
    (user_id, embedding ARRAY<FLOAT>). Distributed end-to-end — the factor
    matrix stays a DataFrame."""
    return model[domain]["user"].select(
        F.col("id").cast("bigint").alias("user_id"),
        F.col("features").cast("array<float>").alias("embedding"),
    )


def save_checkpoint(spark: SparkSession, model: dict, ckpt_dir: str) -> None:
    """S4 checkpoint save (reference ``torch.save`` per best metric,
    ``main_my.py:322-346``): both domains' factor matrices as parquet
    under ``{ckpt_dir}/{domain}/{user,item}_factors`` — splittable,
    schema'd, reloadable by ANY engine, no driver materialization."""
    for domain in DOMAINS:
        for side in _SIDES:
            model[domain][side].write.mode("overwrite").parquet(
                f"{ckpt_dir}/{domain}/{side}_factors"
            )


def load_checkpoint(spark: SparkSession, data: SplitData, ckpt_dir: str) -> dict:
    """The model value back from ``save_checkpoint``'s factor parquet."""
    return {
        "data": data,
        **{
            domain: {
                side: spark.read.parquet(f"{ckpt_dir}/{domain}/{side}_factors")
                for side in _SIDES
            }
            for domain in DOMAINS
        },
    }


def als_eval(
    spark: SparkSession,
    sf_dir: str,
    modes: tuple[str, ...] = ("vali", "test"),
    rank: int = EMB_SIZE,
    ks: list[int] | None = None,
) -> dict[str, DataFrame]:
    """Reference protocol end-to-end with the ALS model: rank 99 negatives +
    held-out positive per user per domain, HR/NDCG/MRR@{5,10}, for every
    mode in ``modes`` off ONE fit per domain. Rows-only check (model
    training is not SQL-expressible — SURVEY.md §7.4)."""
    data = split_data(spark, sf_dir)
    return evaluate(scores(spark, train(spark, data, rank)), data, modes, ks)


def als_eval_frozen(
    spark: SparkSession, sf_dir: str, mode: str = "test"
) -> DataFrame:
    """Hash-checkable split of ``als_eval``: the trained scorer's
    (scores, holdout, negatives) freeze to parquet and the eval half runs
    FROM the frozen copies, replayed by ``frozen_eval_oracle('als_test')``
    in DuckDB. Spark ML ALS with a fixed seed is bit-deterministic on a
    fixed input layout (verified run-to-run), so the committed gate-scale
    artifacts stay valid."""
    from ..operators.ranking import freeze_and_eval

    data = split_data(spark, sf_dir)
    return freeze_and_eval(
        scores(spark, train(spark, data)), data.holdout(mode), data.negatives,
        f"als_{mode}", sf_dir,
        # training-config fingerprint: a hyperparameter change invalidates
        # the committed freeze instead of silently serving stale metrics
        fingerprint=f"als:v1:rank={EMB_SIZE},seed={SEED},maxIter=10,reg=0.1",
    )
