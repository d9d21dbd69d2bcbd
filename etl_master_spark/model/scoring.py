"""What the ALS, CDAE and GAN families share. Each family module exposes
one lifecycle over the model value its ``train`` returns:

- ``train(spark, data, **hp) -> model``: both domains, carrying ``data``
- ``scores(spark, model)``: both domains' candidate scores
- ``user_embeddings(spark, model, domain)``
- ``save_checkpoint(spark, model, ckpt_dir)`` and
  ``load_checkpoint(spark, data, ckpt_dir) -> model``

so evaluation is ``evaluate(fam.scores(spark, model), data)`` for a live
or a reloaded model alike (reference ``main_my.py:322-375``). This module
holds that ``evaluate``, the one candidate dot-product scorer (candidate
pairs only, never the full user×item logits of reference
``my_utils.py:121-129``) and the one (name, shape, flat data) parquet
checkpoint format (reference ``torch.save``/``load``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import eval_from_scores
from ..operators.recsplit import SplitData

DOMAINS = ("x", "y")
_PARAMS_SCHEMA = "name string, shape array<int>, data array<double>"


def evaluate(
    scores: DataFrame,
    data: SplitData,
    modes: tuple[str, ...] = ("vali", "test"),
    ks: list[int] | None = None,
) -> dict[str, DataFrame]:
    """{mode: HR/NDCG/MRR@K rows} of one both-domain scores frame against
    ``data``'s holdout for each mode and its 99 negatives per user."""
    return {
        mode: eval_from_scores(scores, data.holdout(mode), data.negatives, ks=ks)
        for mode in modes
    }


def dot_scores(
    data: SplitData, domain: str, users: DataFrame, items: DataFrame
) -> DataFrame:
    """(user_id, item_id, domain, score) for one domain's candidate pairs:
    ``users`` (user_id, vector) dotted with ``items`` (item_id, vector),
    joined first against the broadcast item frame. The sum accumulates in
    the vectors' element type — float32 for ALS factors, like ALS
    ``transform``'s BLAS ``sdot`` — and widens to double once."""
    users = users.toDF("user_id", "u")
    items = items.toDF("item_id", "v")
    dot = F.aggregate(
        F.zip_with("u", "v", lambda a, b: a * b),
        F.lit(0.0).cast(users.schema["u"].dataType.elementType),
        lambda acc, x: acc + x,
    ).cast("double")
    return (
        data.candidates(domain)
        .join(users, "user_id")
        .join(F.broadcast(items), "item_id")
        .select(
            "user_id", "item_id", F.lit(domain).alias("domain"),
            dot.alias("score"),
        )
    )


def decoder_frame(
    spark: SparkSession, items: DataFrame, w2: np.ndarray
) -> DataFrame:
    """(item_id, w_out ARRAY<DOUBLE>): each item's decoder column
    ``w2[:, idx]``, addressed by the (item_id, idx) index ``items``."""
    return spark.createDataFrame(
        [(int(r["item_id"]), w2[:, int(r["idx"])].tolist())
         for r in items.collect()],
        "item_id long, w_out array<double>",
    )


def save_params(
    spark: SparkSession, params: dict[str, np.ndarray], path: str
) -> None:
    """Persist numpy parameters as (name, shape, flat data) parquet rows —
    engine-agnostic, schema'd, no pickles."""
    rows = [(k, list(v.shape), v.ravel().tolist()) for k, v in params.items()]
    spark.createDataFrame(rows, _PARAMS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_params(spark: SparkSession, path: str) -> dict[str, np.ndarray]:
    """The ``save_params`` dict back, as float64 arrays of their shapes."""
    return {
        r["name"]: np.array(r["data"], dtype=np.float64).reshape(
            tuple(r["shape"])
        )
        for r in spark.read.parquet(path).collect()
    }
