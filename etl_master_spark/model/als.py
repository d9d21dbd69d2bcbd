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

Embedding export (reference S5/S6, ``model_my.py:111-181``) falls out of
``model.userFactors`` as a (user_id, embedding ARRAY<FLOAT>) DataFrame
written to parquet — no driver-side ndarray ever materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import eval_from_scores
from ..operators.recsplit import SplitData, split_data
from .scoring import dot_scores

EMB_SIZE = 16  # reference uses 200 (main_my.py:35); small here for test speed
SEED = 72  # reference --seed default (main_my.py:32)


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


def train_als(
    spark: SparkSession, sf_dir: str, domain: str, rank: int = EMB_SIZE
):
    """Fit implicit-feedback ALS on one domain's train split."""
    return _fit(split_data(spark, sf_dir), domain, rank)


def _scores(data: SplitData, domain: str, rank: int) -> DataFrame:
    cand = data.candidates(domain).select(
        F.col("user_id").cast("int").alias("user"),
        F.col("item_id").cast("int").alias("item"),
    )
    return _fit(data, domain, rank).transform(cand).select(
        F.col("user").cast("bigint").alias("user_id"),
        F.col("item").cast("bigint").alias("item_id"),
        F.lit(domain).alias("domain"),
        F.col("prediction").cast("double").alias("score"),
    )


def als_scores(
    spark: SparkSession, sf_dir: str, domain: str, rank: int = EMB_SIZE
) -> DataFrame:
    """Score every (user, candidate-item) pair for one domain via the model's
    dot products — computed as a transform over the candidate pairs, never a
    full user×item materialization."""
    return _scores(split_data(spark, sf_dir), domain, rank)


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
    training is not SQL-expressible — SURVEY.md §7.4). ``rank``
    (--emb_size) and ``ks`` (--topk) thread from the CLI."""
    data = split_data(spark, sf_dir)
    scores = _scores(data, "x", rank).unionByName(_scores(data, "y", rank))
    return {
        mode: eval_from_scores(scores, data.holdout(mode), data.negatives, ks=ks)
        for mode in modes
    }


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
    scores = _scores(data, "x", EMB_SIZE).unionByName(_scores(data, "y", EMB_SIZE))
    return freeze_and_eval(
        scores, data.holdout(mode), data.negatives, f"als_{mode}", sf_dir,
        # training-config fingerprint: a hyperparameter change invalidates
        # the committed freeze instead of silently serving stale metrics
        fingerprint=f"als:v1:rank={EMB_SIZE},seed={SEED},maxIter=10,reg=0.1",
    )


def export_user_embeddings(
    spark: SparkSession, sf_dir: str, domain: str = "x"
) -> DataFrame:
    """S5/S6 embedding export shape (``model_my.py:111-181``):
    (user_id, embedding ARRAY<FLOAT>). Distributed end-to-end — the factor
    matrix stays a DataFrame."""
    model = train_als(spark, sf_dir, domain)
    return model.userFactors.select(
        F.col("id").cast("bigint").alias("user_id"),
        F.col("features").cast("array<float>").alias("embedding"),
    )


# -- R7 second half: checkpoint save → reload → re-evaluate ------------------

def save_checkpoint(
    spark: SparkSession, sf_dir: str, domain: str, ckpt_dir: str
) -> None:
    """S4 checkpoint save (reference ``torch.save`` per best metric,
    ``main_my.py:322-346``): both factor matrices as parquet — splittable,
    schema'd, reloadable by ANY engine, no driver materialization."""
    model = train_als(spark, sf_dir, domain)
    model.userFactors.write.mode("overwrite").parquet(
        f"{ckpt_dir}/{domain}/user_factors"
    )
    model.itemFactors.write.mode("overwrite").parquet(
        f"{ckpt_dir}/{domain}/item_factors"
    )


def _checkpoint_scores(
    spark: SparkSession, data: SplitData, domain: str, ckpt_dir: str
) -> DataFrame:
    uf, itf = (
        spark.read.parquet(f"{ckpt_dir}/{domain}/{side}_factors").select(
            F.col("id").cast("bigint"), F.col("features").cast("array<float>")
        )
        for side in ("user", "item")
    )
    return dot_scores(data, domain, uf, itf)


def scores_from_checkpoint(
    spark: SparkSession, sf_dir: str, domain: str, ckpt_dir: str
) -> DataFrame:
    """Score candidate pairs from RELOADED factors — ``scoring.dot_scores``
    over the candidate pairs, no model object and no user×item
    materialization. The reloaded path must reproduce the live model's
    ranking (pinned in tests/test_model.py)."""
    return _checkpoint_scores(spark, split_data(spark, sf_dir), domain, ckpt_dir)


def reeval_from_checkpoint(
    spark: SparkSession,
    sf_dir: str,
    ckpt_dir: str,
    mode: str = "test",
    ks: list[int] | None = None,
) -> DataFrame:
    """The full R7 lifecycle (reference ``main_my.py:350-375``): reload the
    saved best checkpoints for both domains and re-run the evaluation
    protocol at K∈{5,10}. Assumes ``save_checkpoint`` ran for 'x' and 'y'
    under ``ckpt_dir``."""
    data = split_data(spark, sf_dir)
    scores = _checkpoint_scores(spark, data, "x", ckpt_dir).unionByName(
        _checkpoint_scores(spark, data, "y", ckpt_dir)
    )
    return eval_from_scores(
        scores, data.holdout(mode), data.negatives, ks=ks or [5, 10]
    )
