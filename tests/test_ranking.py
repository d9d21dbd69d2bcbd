"""Metric micro-fixtures from FIXTURES.md §3 — hand-computed HR/NDCG/MRR
cases matching the reference semantics (``my_utils.py:70-80``)."""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_master_spark.operators.ranking import eval_from_scores


def _eval_one(spark, positive_rank: int, n_candidates: int = 100, ks=(5, 10)):
    """One user whose positive lands at ``positive_rank`` among
    ``n_candidates`` scored candidates (higher score = better)."""
    rows = []
    for i in range(n_candidates):
        # candidate i gets rank i+1 (descending scores)
        rows.append((0, i, "x", float(n_candidates - i)))
    scores = spark.createDataFrame(
        rows, "user_id long, item_id long, domain string, score double"
    )
    pos_item = positive_rank - 1
    holdout = spark.createDataFrame(
        [(0, pos_item, "x")], "user_id long, item_id long, domain string"
    )
    negs = spark.createDataFrame(
        [(0, i, "x") for i in range(n_candidates) if i != pos_item],
        "user_id long, item_id long, domain string",
    )
    out = eval_from_scores(scores, holdout, negs, ks=list(ks))
    return {r["k"]: r for r in out.collect()}


def test_rank1(spark):
    m = _eval_one(spark, positive_rank=1)
    assert m[10]["hr"] == 1.0 and m[10]["ndcg"] == 1.0 and m[10]["mrr"] == 1.0


def test_rank3(spark):
    m = _eval_one(spark, positive_rank=3)
    assert m[10]["hr"] == 1.0
    assert m[10]["ndcg"] == pytest.approx(math.log(2) / math.log(4), abs=1e-6)
    assert m[10]["mrr"] == pytest.approx(1 / 3, abs=1e-6)


def test_rank11_truncated(spark):
    m = _eval_one(spark, positive_rank=11)
    assert m[10]["hr"] == 0.0 and m[10]["ndcg"] == 0.0 and m[10]["mrr"] == 0.0
    # but K-insensitive below the cut
    assert m[5]["hr"] == 0.0


def test_two_user_average(spark):
    # user 0 hits at rank 1, user 1 misses (rank 20), K=5
    rows = []
    for u in (0, 1):
        for i in range(30):
            rows.append((u, i, "x", float(30 - i)))
    scores = spark.createDataFrame(
        rows, "user_id long, item_id long, domain string, score double"
    )
    holdout = spark.createDataFrame(
        [(0, 0, "x"), (1, 19, "x")], "user_id long, item_id long, domain string"
    )
    negs = spark.createDataFrame(
        [(u, i, "x") for u in (0, 1) for i in range(30) if (u, i) not in ((0, 0), (1, 19))],
        "user_id long, item_id long, domain string",
    )
    m = {r["k"]: r for r in eval_from_scores(scores, holdout, negs, ks=[5]).collect()}
    assert m[5]["hr"] == 0.5 and m[5]["ndcg"] == 0.5 and m[5]["mrr"] == 0.5
    assert m[5]["n_users"] == 2


def test_hr_monotone_in_k(spark, sf_dir):
    from etl_master_spark.operators.ranking import eval_metrics

    rows = eval_metrics(spark, sf_dir, "test", ks=[5, 10]).collect()
    by = {(r["domain"], r["k"]): r for r in rows}
    for d in ("x", "y"):
        assert by[(d, 10)]["hr"] >= by[(d, 5)]["hr"]
        for k in (5, 10):
            for metric in ("hr", "ndcg", "mrr"):
                assert 0.0 <= by[(d, k)][metric] <= 1.0


def test_frozen_eval_dir_follows_the_importing_tree():
    """The frozen-score artifacts live in the checkout the engine is
    imported from — a copy of the tree freezes into and replays from its
    own ``.artifacts``, never another checkout's."""
    from etl_master_spark.operators import ranking

    repo = Path(__file__).resolve().parent.parent
    assert Path(ranking.__file__).resolve().is_relative_to(repo)
    assert Path(ranking.FROZEN_EVAL_DIR) == repo / ".artifacts" / "frozen_eval"
