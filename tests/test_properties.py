"""Property-based pipeline invariants (SURVEY.md §5.3) over
hypothesis-generated interaction tables — the quirk rules must hold for ANY
input shape, not just the handcrafted fixtures."""

from __future__ import annotations

import pytest

from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_master_spark.operators.recsplit import N_NEGATIVES, negatives_of, splits_of

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from etl_master_spark.session import get_spark

        _spark = get_spark(app_name="etl_master_spark_props", shuffle_partitions=4)
    return _spark


ratings_tables = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # user_id
        st.integers(min_value=0, max_value=20),  # item_id
        st.sampled_from(["x", "y"]),  # domain
    ),
    min_size=1,
    max_size=60,
    unique=True,
)


def _df(rows):
    return _get_spark().createDataFrame(
        rows, "user_id long, item_id long, domain string"
    )


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(ratings_tables)
def test_split_invariants(rows):
    ratings = defaultdict(set)
    for u, i, d in rows:
        ratings[(u, d)].add(i)
    got = defaultdict(lambda: defaultdict(list))
    for r in splits_of(_df(rows)).collect():
        got[(r["user_id"], r["domain"])][r["split"]].append(r["item_id"])
    assert set(got) == set(ratings)
    for key, items in ratings.items():
        by_split = got[key]
        # exactly one vali and one test, both real interactions
        assert len(by_split["vali"]) == 1 and len(by_split["test"]) == 1
        assert set(by_split["vali"]) <= items and set(by_split["test"]) <= items
        n, train = len(items), set(by_split["train"])
        assert len(by_split["train"]) == len(train)  # no dup train rows
        if n == 1:  # singleton: vali == test, no train
            assert by_split["vali"] == by_split["test"] and not train
        elif n == 2:  # leak quirk: test item stays in train
            assert train == {by_split["test"][0]}
        else:  # normal: train = items minus both holdouts
            assert train == items - {by_split["vali"][0], by_split["test"][0]}


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(ratings_tables)
def test_negative_invariants(rows):
    seen = defaultdict(set)
    universe = defaultdict(set)
    for u, i, d in rows:
        seen[(u, d)].add(i)
        universe[d].add(i)
    got = defaultdict(list)
    for r in negatives_of(_df(rows)).collect():
        got[(r["user_id"], r["domain"])].append((r["rank"], r["item_id"]))
    assert set(got) <= set(seen)
    for key, ranked in got.items():
        u, d = key
        items = {i for _, i in ranked}
        assert not (items & seen[key])  # never a seen item
        assert items <= universe[d]  # only catalog items
        want_n = min(N_NEGATIVES, len(universe[d] - seen[key]))
        assert len(ranked) == want_n
        assert sorted(r for r, _ in ranked) == list(range(1, want_n + 1))
    # users with an exhausted catalog legitimately get zero rows
    for key in seen:
        if key not in got:
            assert not (universe[key[1]] - seen[key])


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(ratings_tables, st.sampled_from([(5, 2), (8, 3)]))
def test_sample_reject_matches_round_oracle(rows, params):
    """The flat reject sampler equals the round-chained DuckDB oracle on
    ANY ratings table. Small n and few rounds over a ≤ 21-item catalog
    reach later rounds, the exact top-up and exhausted users."""
    import duckdb

    from etl_master_spark.operators.recsplit import (
        negatives_sample_reject,
        negatives_sample_reject_oracle,
    )

    n, max_rounds = params
    got = sorted(
        (x["user_id"], x["item_id"], x["domain"], x["rank"])
        for x in negatives_sample_reject(
            _df(rows), n=n, max_rounds=max_rounds
        ).collect()
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
    assert got == want


# one (user, domain) group per case: each candidate item's score (None =
# the model scored no row for it) from a 3-value menu, so ties are forced
# both between scored items and between 0.0 and a missing score
eval_groups = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.sampled_from(["x", "y"]),  # domain
        st.lists(st.sampled_from([None, 0.0, 1.0]), min_size=1, max_size=8),
        st.integers(min_value=0, max_value=7),  # positive's index (mod len)
        st.booleans(),  # also score a non-candidate item
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda g: (g[0], g[1]),
)


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(eval_groups, st.sampled_from([[1], [1, 3], [2, 5, 10]]))
def test_eval_from_scores_matches_sql_on_ties_and_missing(groups, ks):
    """``eval_from_scores`` equals the frozen-eval oracle's SQL (candidate
    assembly + the shared ROW_NUMBER metrics tail) in DuckDB over the same
    frames, on score ties (item_id breaks them) and unscored candidates
    (scored 0.0)."""
    import duckdb
    import pandas as pd

    from etl_master_spark.operators.ranking import _scored_sql, eval_from_scores
    from tools.strict_check import compare

    rows = {"sc": [], "hold": [], "negs": []}
    for user, domain, scores, pos, extra in groups:
        for item, score in enumerate(scores):
            if score is not None:
                rows["sc"].append((user, item, domain, score))
            key = "hold" if item == pos % len(scores) else "negs"
            rows[key].append((user, item, domain))
        if extra:
            rows["sc"].append((user, 99, domain, 2.0))
    cols = ["user_id", "item_id", "domain"]
    frames = {
        "sc": pd.DataFrame(rows["sc"], columns=cols + ["score"]).astype(
            {"user_id": "int64", "item_id": "int64", "score": "float64"}
        ),
        **{
            k: pd.DataFrame(rows[k], columns=cols).astype(
                {"user_id": "int64", "item_id": "int64"}
            )
            for k in ("hold", "negs")
        },
    }
    spark = _get_spark()
    sdf = {
        k: spark.createDataFrame(
            rows[k], "user_id long, item_id long, domain string"
            + (", score double" if k == "sc" else "")
        )
        for k in frames
    }
    got = eval_from_scores(sdf["sc"], sdf["hold"], sdf["negs"], ks=ks).toPandas()
    con = duckdb.connect()
    for k, pdf in frames.items():
        con.register(k, pdf)
    want = con.execute("WITH " + _scored_sql(ks)).df()
    assert compare(got, want) == []


def test_semantic_dedup_partitioning_invariance(spark):
    """The dominated-by-lower-id prune is a pure function of the
    (vec_id, embedding, cluster) SET: row order and partitioning must not
    change a single keep/drop decision (the join + agg spelling could
    silently pick arbitrary winners if the rule were order-sensitive)."""
    import numpy as np

    from etl_master_spark.operators.vectors import _semantic_dedup_core

    rng = np.random.default_rng(97)
    rows = []
    for vid in range(40):
        base = rng.normal(0.0, 1.0, 16)
        rows.append((vid, [float(x) for x in base], int(vid % 3)))
        if vid % 5 == 0:  # plant near-copies to exercise the prune
            rows.append(
                (100 + vid, [float(x) for x in base + rng.normal(0, 1e-3, 16)], int(vid % 3))
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cluster int")
    ref = sorted(
        (r["vec_id"], r["n_dups"], r["keep"])
        for r in _semantic_dedup_core(df, tau=0.95).collect()
    )
    for layout in (df.repartition(13), df.repartition(1), df.sort("cluster")):
        got = sorted(
            (r["vec_id"], r["n_dups"], r["keep"])
            for r in _semantic_dedup_core(layout, tau=0.95).collect()
        )
        assert got == ref


@pytest.mark.slow
def test_kcenter_partitioning_invariance(spark):
    """Farthest-point traversal is a pure function of the (vec_id,
    embedding) SET: the per-round TakeOrdered argmax and the final
    array_min argmin both carry vec_id/step tie-breaks, so layout must
    not change a single selection or assignment."""
    import numpy as np

    from etl_master_spark.operators.vectors import _kcenter_core

    rng = np.random.default_rng(41)
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 1.0, 64)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ref = sorted(tuple(r) for r in _kcenter_core(spark, df).collect())
    for layout in (df.repartition(17), df.coalesce(1), df.sort(df.vec_id.desc())):
        got = sorted(tuple(r) for r in _kcenter_core(spark, layout).collect())
        assert got == ref


@pytest.mark.slow
def test_centroid_classify_partitioning_invariance(spark):
    """Centroid means round to 9 dp before the argmax and ties break on
    the class id, so the confusion matrix must be layout-independent."""
    import numpy as np

    from etl_master_spark.operators.vectors import _centroid_classify_core

    rng = np.random.default_rng(43)
    rows = [
        (
            i,
            [float(x) for x in rng.normal(0.0, 1.0, 64)],
            int(rng.integers(0, 5)),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    ref = sorted(tuple(r) for r in _centroid_classify_core(df).collect())
    for layout in (df.repartition(23), df.coalesce(1)):
        got = sorted(tuple(r) for r in _centroid_classify_core(layout).collect())
        assert got == ref


def test_winnow_partitioning_invariance(spark):
    """Winnowing is a pure function of the (doc_id, text) SET: per-doc
    fingerprints are row-local and the df bound + pair counts are
    set-aggregates, so layout must not change a single match."""
    import random

    from etl_master_spark.operators.text import _winnow_core

    rng = random.Random(83)

    def junk(n):
        return "".join(rng.choice("abcdef ghij") for _ in range(n))

    shared = junk(120)
    rows = [(i, junk(150) + (shared if i % 3 == 0 else "") + junk(150)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = sorted(tuple(r) for r in _winnow_core(df, min_shared=1).collect())
    assert ref, "planted shared runs must match"
    for layout in (df.repartition(11), df.coalesce(1), df.sort(df.doc_id.desc())):
        got = sorted(tuple(r) for r in _winnow_core(layout, min_shared=1).collect())
        assert got == ref


def test_mmr_partitioning_invariance(spark):
    """The MMR kernel sorts its candidate rows by id before the greedy
    loop and every score derives from 6-dp-rounded values, so the
    selection must be layout-independent."""
    import numpy as np

    from etl_master_spark.operators.vectors import _mmr_core

    rng = np.random.default_rng(89)
    rows = []
    for q in range(3):
        for i in range(10):
            rows.append(
                (
                    q,
                    q * 100 + i,
                    round(float(rng.uniform(0.3, 0.99)), 6),
                    [float(x) for x in rng.normal(0.0, 1.0, 64)],
                )
            )
    df = spark.createDataFrame(
        rows,
        "query_id long, neighbor_id long, cosine double, embedding array<float>",
    )
    ref = sorted(tuple(r) for r in _mmr_core(df).collect())
    for layout in (df.repartition(7), df.coalesce(1)):
        got = sorted(tuple(r) for r in _mmr_core(layout).collect())
        assert got == ref


# -- native PNG decode round-trip (no Spark) ----------------------------------
# The golden tests pin fixed patterns per filter type; this drives the
# decoder with arbitrary pixel bytes, dimensions, color types, and
# per-row filter choices — the reconstructed luminance must equal the
# BT.601 of the raw pixels for EVERY legal 8-bit non-interlaced PNG.

png_cases = st.tuples(
    st.integers(min_value=1, max_value=9),   # width
    st.integers(min_value=1, max_value=7),   # height
    st.sampled_from([0, 2, 4, 6]),           # color type
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=7),
)


@given(png_cases)
@settings(max_examples=120, deadline=None)
def test_png_decode_reconstructs_any_filtered_image(case):
    from tests.test_model import _png_bytes

    from etl_master_spark.operators.multimodal import _decode_png

    width, height, color_type, seed, filters = case
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    rows = [
        bytes(
            (seed + 37 * y + 101 * i + (i * y) % 13) % 256
            for i in range(width * ch)
        )
        for y in range(height)
    ]
    png = _png_bytes(width, height, color_type, rows, filters)
    got = _decode_png(png)
    assert got is not None
    if ch >= 3:
        expect = [
            0.299 * r[x * ch] + 0.587 * r[x * ch + 1] + 0.114 * r[x * ch + 2]
            for r in rows
            for x in range(width)
        ]
    else:
        expect = [float(r[x * ch]) for r in rows for x in range(width)]
    assert len(got) == len(expect)
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, expect))


def test_capped_topk_partitioning_invariance(spark, tmp_path):
    """The capped top-k dedup face is a pure function of the document
    SET: minhash signatures are row-local, shared-band counts are
    set-aggregates, and both the candidate cap and the final rank break
    ties deterministically (band count desc / jaccard desc, then
    neighbor id) — so file layout and row order must not change a
    single output row."""
    import random

    from etl_master_spark.operators.text import dedup_ngram_jaccard_topk

    rng = random.Random(91)
    words = [f"w{i}" for i in range(50)]
    base = " ".join(rng.choice(words) for _ in range(25))
    rows = []
    for i in range(24):
        if i % 4 == 0:  # a planted 6-member near-dup group
            rows.append((i, f"{base} tail{i}", "en", "s"))
        else:
            rows.append(
                (i, " ".join(rng.choice(words) for _ in range(25)), "en", "s")
            )
    df = spark.createDataFrame(
        [(i, t, lang, s, len(t)) for i, t, lang, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    layouts = [
        df.repartition(1),
        df.repartition(7),
        df.orderBy(df.doc_id.desc()).coalesce(1),
    ]
    ref = None
    for j, layout in enumerate(layouts):
        d = tmp_path / f"layout{j}"
        layout.write.parquet(f"{d}/documents.parquet")
        got = sorted(
            tuple(r)
            for r in dedup_ngram_jaccard_topk(spark, str(d), 0.1).collect()
        )
        if ref is None:
            ref = got
            assert ref, "the planted dup group must emit top-k rows"
        else:
            assert got == ref, f"layout {j} changed the output"
