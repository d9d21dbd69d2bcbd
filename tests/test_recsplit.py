"""Recsplit invariants (FIXTURES.md §4) + the reference's edge-case quirks
(``Dataset_CDAE.py:73-77,106-108``) on injected synthetic ratings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_master_spark.operators.recsplit import (
    N_NEGATIVES,
    negatives,
    negatives_of,
    splits,
    splits_of,
)
from etl_master_spark.sources.io import ratings


@pytest.fixture(scope="module")
def synth(spark):
    """users: 1 item (singleton), 2 items (leak quirk), 5 items (normal)."""
    rows = (
        [(1, 10, "x")]
        + [(2, i, "x") for i in (10, 11)]
        + [(3, i, "x") for i in (10, 11, 12, 13, 14)]
    )
    return spark.createDataFrame(rows, "user_id long, item_id long, domain string")


def test_singleton_vali_equals_test(synth):
    sp = splits_of(synth).filter(F.col("user_id") == 1).collect()
    by_split = {r["split"]: r["item_id"] for r in sp}
    assert by_split["vali"] == 10 and by_split["test"] == 10
    assert "train" not in {r["split"] for r in sp} or not [
        r for r in sp if r["split"] == "train"
    ]


def test_two_item_user_test_leaks_into_train(synth):
    sp = splits_of(synth).filter(F.col("user_id") == 2).collect()
    test_item = [r["item_id"] for r in sp if r["split"] == "test"]
    train_items = [r["item_id"] for r in sp if r["split"] == "train"]
    # reference quirk: for exactly-2-item users the test item stays in train
    assert train_items == test_item


def test_normal_user_partition(synth):
    sp = splits_of(synth).filter(F.col("user_id") == 3).collect()
    items = sorted(r["item_id"] for r in sp)
    assert items == [10, 11, 12, 13, 14]  # exact partition, no dup, no loss
    counts = {s: sum(1 for r in sp if r["split"] == s) for s in ("vali", "test", "train")}
    assert counts == {"vali": 1, "test": 1, "train": 3}


def test_negatives_disjoint_and_capped(synth):
    neg = negatives_of(synth)
    overlap = neg.join(synth, ["user_id", "item_id", "domain"]).count()
    assert overlap == 0
    per_user = neg.groupBy("user_id").count().collect()
    for r in per_user:
        assert r["count"] <= N_NEGATIVES
    # universe has 5 items; user 3 interacted with all -> no negatives
    assert neg.filter(F.col("user_id") == 3).count() == 0
    # user 1 interacted with 1 of 5 -> 4 negatives, ranks 1..4
    u1 = neg.filter(F.col("user_id") == 1).orderBy("rank").collect()
    assert [r["rank"] for r in u1] == [1, 2, 3, 4]


def test_splits_partition_real_data(spark, sf_dir):
    r = ratings(spark, sf_dir)
    sp = splits(spark, sf_dir)
    # every (user, domain) has exactly one vali and one test
    per = (
        sp.groupBy("user_id", "domain")
        .agg(
            F.sum(F.when(F.col("split") == "vali", 1).otherwise(0)).alias("v"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("t"),
        )
        .collect()
    )
    assert all(row["v"] == 1 and row["t"] == 1 for row in per)
    # split items are a subset of the user's rated items
    assert sp.join(r, ["user_id", "item_id", "domain"], "left_anti").count() == 0


def test_determinism(spark, sf_dir):
    a = sorted(map(tuple, splits(spark, sf_dir).collect()))
    b = sorted(map(tuple, splits(spark, sf_dir).collect()))
    assert a == b
    na = sorted(map(tuple, negatives(spark, sf_dir).collect()))
    nb = sorted(map(tuple, negatives(spark, sf_dir).collect()))
    assert na == nb


def test_sample_reject_negatives_contract(spark, sf_dir):
    """The scale-path sampler must satisfy the same contract as the
    array-based one: deterministic, seen-disjoint, dense 1..n ranks, and
    exactly min(99, catalog−seen) rows per (user, domain). It is one
    lazy plan, so building it launches no Spark job."""
    import uuid
    from collections import defaultdict

    from etl_master_spark.operators.recsplit import negatives_sample_reject

    r = ratings(spark, sf_dir)
    rows = r.collect()
    seen = defaultdict(set)
    universe = defaultdict(set)
    for x in rows:
        seen[(x["user_id"], x["domain"])].add(x["item_id"])
        universe[x["domain"]].add(x["item_id"])

    sc = spark.sparkContext
    group = f"reject_construct_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "negatives_sample_reject construction")
    try:
        lazy = negatives_sample_reject(r)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    got = lazy.collect()
    by_user = defaultdict(list)
    for x in got:
        by_user[(x["user_id"], x["domain"])].append((x["rank"], x["item_id"]))
    assert set(by_user) == set(seen)
    for key, ranked in by_user.items():
        items = {i for _, i in ranked}
        assert not (items & seen[key])
        assert items <= universe[key[1]]
        want = min(N_NEGATIVES, len(universe[key[1]] - seen[key]))
        assert len(ranked) == want, (key, len(ranked), want)
        assert sorted(rk for rk, _ in ranked) == list(range(1, want + 1))

    again = sorted(
        (x["user_id"], x["domain"], x["rank"], x["item_id"])
        for x in negatives_sample_reject(r).collect()
    )
    assert again == sorted(
        (x["user_id"], x["domain"], x["rank"], x["item_id"]) for x in got
    )


@pytest.mark.slow
def test_sample_reject_exhausted_user_yields_zero_rows(spark):
    """A (user, domain) that has interacted with the WHOLE catalog legally
    samples nothing — and the invariants companion must still emit its
    n_negs = 0 row (the round-5 oracle asymmetry)."""
    from etl_master_spark.operators.recsplit import (
        negatives_reject_invariants,
        negatives_sample_reject,
    )

    r = spark.createDataFrame(
        [(1, i, "d") for i in (10, 11, 12)] + [(2, 10, "d")],
        "user_id long, item_id long, domain string",
    )
    got = negatives_sample_reject(r).collect()
    by_user = {}
    for x in got:
        by_user.setdefault(x["user_id"], set()).add(x["item_id"])
    assert 1 not in by_user  # exhausted: no negatives exist
    assert by_user[2] == {11, 12}
    inv = {
        (x["user_id"], x["domain"]): x
        for x in negatives_reject_invariants(r).collect()
    }
    assert set(inv) == {(1, "d"), (2, "d")}
    assert inv[(1, "d")]["n_negs"] == 0
    assert inv[(1, "d")]["rank_dense"] is True
    assert inv[(2, "d")]["n_negs"] == 2


@pytest.mark.slow
def test_sample_reject_exact_topup_fills_sliver_remainder(spark):
    """Adversarial underfill: a user who has seen all but 3 items of a
    2000-item catalog — 12n hash trials expect ~1.8 hits on the sliver,
    so without the exact top-up stage the fill contract breaks. With it,
    n_negs = 3 exactly, seen-disjoint, dense ranks."""
    from etl_master_spark.operators.recsplit import (
        negatives_reject_invariants,
        negatives_sample_reject,
    )

    unseen = {7, 1234, 1777}
    rows = [(1, i, "d") for i in range(2000) if i not in unseen]
    rows += [(2, i, "d") for i in unseen]  # keeps the sliver in-catalog
    r = spark.createDataFrame(rows, "user_id long, item_id long, domain string")
    got = [x for x in negatives_sample_reject(r).collect() if x["user_id"] == 1]
    assert {x["item_id"] for x in got} == unseen
    assert sorted(x["rank"] for x in got) == [1, 2, 3]
    inv = {
        x["user_id"]: x for x in negatives_reject_invariants(r).collect()
    }
    assert inv[1]["n_negs"] == 3
    assert inv[1]["n_overlap"] == 0 and inv[1]["n_dup"] == 0
    assert inv[1]["rank_dense"] is True
    assert inv[2]["n_negs"] == 99  # plenty unseen: normal fill


# -- golden files (SURVEY.md §5.4) -------------------------------------------
# The reference caches its split/negative pickles and silently trusts them
# forever (Dataset_CDAE.py:92-143); the engine's twin discipline is a frozen
# content hash — any change to the seeded-hash shuffle, the leave-two-out
# rule, or the 99-negative draw breaks these constants loudly.

GOLDEN = {
    "splits_leave_two_out": (
        860,
        "266e39a699af6fe7454739f7d460a4c47bba74a3e980f33dacb969de2c5d0afd",
    ),
    "negatives_sample": (
        2110,
        "747be9af47d734b44b39ae4c2ba0b274e8b3971e1c94ef77fe86ddedac113e78",
    ),
}


def test_recsplit_golden_hashes(spark, sf_dir):
    import hashlib

    from etl_master_spark.plans.registry import QUERIES

    for name, (n_rows, digest) in GOLDEN.items():
        rows = QUERIES[name](spark, sf_dir).collect()
        canon = sorted(tuple(str(v) for v in r) for r in rows)
        h = hashlib.sha256("\n".join(",".join(t) for t in canon).encode()).hexdigest()
        assert (len(rows), h) == (n_rows, digest), name


@pytest.mark.slow
def test_sample_reject_oracle_replays_topup_on_adversarial_ratings(spark):
    """The round-6 full hash oracle must replay the sampler EXACTLY on
    inputs that exercise the exact top-up stage and the exhausted-user
    path — the two regimes gate-scale data never reaches. Injects a
    VALUES-based ratings frame into both engines and compares the full
    (user, item, domain, rank) set."""
    import duckdb

    from etl_master_spark.operators.recsplit import (
        negatives_sample_reject,
        negatives_sample_reject_oracle,
    )

    unseen = {7, 1234, 1777}
    # user 1 is the sliver user (1997 seen / 3 unseen): forces the top-up
    rows = [(1, i, "d") for i in range(2000) if i not in unseen]
    rows += [(2, i, "d") for i in unseen]      # keeps the sliver in-catalog
    rows += [(3, i, "e") for i in (50, 51)]    # exhausted in domain e
    rows += [(4, 50, "e")]                     # one unseen item in e
    r = spark.createDataFrame(rows, "user_id long, item_id long, domain string")
    got = sorted(
        (x["user_id"], x["item_id"], x["domain"], x["rank"])
        for x in negatives_sample_reject(r).collect()
    )
    values = ", ".join(f"({u}, {i}, '{d}')" for u, i, d in rows)
    ratings_sql = (
        f"SELECT * FROM (VALUES {values}) AS v(user_id, item_id, domain)"
    )
    want = sorted(
        tuple(x)
        for x in duckdb.connect()
        .execute(negatives_sample_reject_oracle(ratings_sql))
        .fetchall()
    )
    # oracle emits (user_id, item_id, domain, rank) in that column order
    want = sorted((u, i, d, rk) for u, i, d, rk in want)
    assert got == want
    by_user = {}
    for u, i, d, rk in got:
        by_user.setdefault((u, d), []).append(i)
    assert set(by_user[(1, "d")]) == unseen      # top-up filled the sliver
    assert (3, "e") not in by_user               # exhausted: zero rows
    assert len(by_user[(4, "e")]) == 1           # the one unseen item


@pytest.mark.parametrize("n,max_rounds", [(5, 4), (20, 2), (99, 1)])
def test_sample_reject_oracle_parity_across_params(spark, n, max_rounds):
    """The unrolled oracle must replay the kernel for ANY (n, max_rounds),
    not just the registered defaults — the unrolling depth, the t-offset
    arithmetic, the skipped final seen update, and the top-up seed shift
    all derive from the parameters."""
    import duckdb

    from etl_master_spark.operators.recsplit import (
        negatives_sample_reject,
        negatives_sample_reject_oracle,
    )

    rows = [(u, i, "d") for u in range(1, 7) for i in range(40) if (u * 7 + i) % 3]
    rows += [(u, i, "e") for u in range(1, 4) for i in range(8) if (u + i) % 2]
    r = spark.createDataFrame(rows, "user_id long, item_id long, domain string")
    got = sorted(
        (x["user_id"], x["item_id"], x["domain"], x["rank"])
        for x in negatives_sample_reject(r, n=n, max_rounds=max_rounds).collect()
    )
    values = ", ".join(f"({u}, {i}, '{d}')" for u, i, d in rows)
    ratings_sql = f"SELECT * FROM (VALUES {values}) AS v(user_id, item_id, domain)"
    want = sorted(
        tuple(x)
        for x in duckdb.connect()
        .execute(
            negatives_sample_reject_oracle(ratings_sql, n=n, max_rounds=max_rounds)
        )
        .fetchall()
    )
    assert got == want, (n, max_rounds)
