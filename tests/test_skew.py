"""Salting helpers must be result-identical to their unsalted spellings."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_master_spark.functions.skew import salted_count_distinct, salted_join


def test_salted_join_equals_plain_join(spark):
    # zipfian hot key: key 0 carries half the rows
    hot = spark.range(2000).select(
        F.when(F.col("id") < 1000, 0).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("attr")
    )
    want = sorted(tuple(r) for r in hot.join(dim, ["k"]).collect())
    got = sorted(tuple(r) for r in salted_join(hot, dim, ["k"]).collect())
    assert got == want


def test_salted_count_distinct_exact(spark):
    df = spark.range(5000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 417).alias("v")
    )
    want = {
        (r["g"], r["n"])
        for r in df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()
    }
    got = {
        (r["g"], r["n_distinct"])
        for r in salted_count_distinct(df, "g", "v").collect()
    }
    assert got == want


def test_planted_hot_user_sessions_exact_and_one_hash_exchange(spark):
    """Skew posture of the per-user windows (round-2 verdict item 8): a
    session chain is irreducibly sequential per user, so a hot user's rows
    must meet one task — the guarantee to pin is that (a) results stay
    exact under a planted hot user owning 10% of all rows, and (b) the
    whole operator pays exactly ONE hash exchange on user_id (both windows
    and both aggregations reuse it), so the hot key costs one sort of its
    own rows and nothing else re-shuffles."""
    from etl_master_spark.streaming.windows import user_sessions_of

    n, hot = 20_000, 2_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < hot, F.lit(7))
        .otherwise(F.col("id") % 997 + 100)
        .alias("user_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT) * 3,"
            " TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        ).alias("ts"),
    )
    out = user_sessions_of(ev)
    rows = {r["user_id"]: r for r in out.collect()}
    # hot user: consecutive events 3 min apart -> ONE 2000-event session
    assert rows[7]["n_sessions"] == 1
    assert rows[7]["avg_events_per_session"] == 2000.0
    assert rows[7]["avg_session_seconds"] == (hot - 1) * 180.0
    # cold users: same-user events are 997*3 min apart -> all singletons
    cold = rows[100]
    assert cold["avg_events_per_session"] == 1.0
    assert cold["avg_session_seconds"] == 0.0
    assert len(rows) == 1 + 997
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]  # AQE prints both; count the final
    )
    assert final.count("Exchange hashpartitioning") == 1, final


def test_planted_hot_user_event_gaps_exact(spark):
    """Same planted hot user through the offset-function window
    (event_gaps core): lag/lead/first stay exact and the plan still pays a
    single user_id hash exchange for all four window functions."""
    from etl_master_spark.operators.relational import event_gaps_of

    n, hot = 10_000, 1_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < hot, F.lit(7))
        .otherwise(F.col("id") % 499 + 100)
        .alias("user_id"),
        F.expr(
            "timestampadd(SECOND, CAST(id AS INT) * 60,"
            " TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
    )
    out = event_gaps_of(ev)
    hot_rows = sorted(
        (r for r in out.collect() if r["user_id"] == 7),
        key=lambda r: r["event_id"],
    )
    assert len(hot_rows) == hot
    assert hot_rows[0]["gap_us"] is None and hot_rows[0]["session_start"]
    assert all(r["gap_us"] == 60_000_000 for r in hot_rows[1:])
    assert all(not r["session_start"] for r in hot_rows[1:])
    assert all(r["first_type"] == "t0" for r in hot_rows)
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("Exchange hashpartitioning") == 1, final


def test_bucketed_sessions_equal_naive_on_adversarial_boundaries(spark):
    """The two-level sessionizer must equal the naive per-user window on
    exactly the shapes the bucket split can break: a session RUNNING
    THROUGH several bucket boundaries (continuous sub-threshold gaps), a
    gap of exactly the threshold (NOT a new session — the rule is
    strictly greater), a break landing exactly ON a bucket boundary, a
    user skipping whole buckets, and a hot user owning most rows."""
    import pandas as pd

    from etl_master_spark.streaming.windows import (
        user_sessions_bucketed_of,
        user_sessions_of,
    )

    B = 3600  # 1-hour buckets via bucket_hours=1
    rows = []
    # user 1: events every 20 min for 5 hours -> ONE session spanning 5
    # hourly buckets (every inter-bucket stitch merges)
    rows += [(1, i, i * 1200) for i in range(16)]
    # user 2: a gap of exactly 1800 s (the threshold) -> still ONE
    # session; then a 1801 s gap -> a second session
    rows += [(2, 100, 0), (2, 101, 1800), (2, 102, 1800 + 1801)]
    # user 3: break exactly at a bucket boundary (last event at B-1,
    # next at B + 2000 -> gap 2001 > threshold -> two sessions)
    rows += [(3, 200, B - 1), (3, 201, B + 2000)]
    # user 4: skips three whole buckets between singleton sessions
    rows += [(4, 300, 0), (4, 301, 4 * B)]
    # user 5 (hot): every 10 min across 8 hours, with one 31-min hole
    hot_ts = [i * 600 for i in range(48)]
    hot_ts = hot_ts[:20] + [t + 1260 for t in hot_ts[20:]]  # 31-min hole
    rows += [(5, 400 + i, t) for i, t in enumerate(hot_ts)]

    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "off"])
    pdf["ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        pdf.pop("off"), unit="s"
    )
    ev = spark.createDataFrame(pdf)

    want = {r["user_id"]: r for r in user_sessions_of(ev).collect()}
    got = {
        r["user_id"]: r
        for r in user_sessions_bucketed_of(ev, bucket_hours=1).collect()
    }
    assert set(got) == set(want)
    for u in want:
        for c in ("n_sessions", "avg_events_per_session", "avg_session_seconds"):
            assert got[u][c] == want[u][c], (u, c, got[u][c], want[u][c])
    assert want[1]["n_sessions"] == 1  # the 5-bucket chain really merged
    assert want[2]["n_sessions"] == 2
    assert want[4]["n_sessions"] == 2
    assert want[5]["n_sessions"] == 2


def test_bucketed_event_gaps_equal_naive_on_adversarial_boundaries(spark):
    """The two-level offsets twin must equal the naive per-user window on
    the shapes the bucket split can break: consecutive events straddling
    a bucket boundary (lag/lead must cross), a user skipping whole
    buckets, single-event buckets (first == last row), a user whose
    whole history is one bucket, and a hot user with a mid-stream gap."""
    import pandas as pd

    from etl_master_spark.operators.relational import (
        event_gaps_bucketed_of,
        event_gaps_of,
    )

    B = 3600  # 1-hour buckets
    rows = []
    # user 1: events 10 min apart straddling 3 boundaries
    rows += [(1, i, 50 * 60 + i * 600) for i in range(20)]
    # user 2: skips two whole buckets between events
    rows += [(2, 100, 10), (2, 101, 3 * B + 10)]
    # user 3: one event exactly ON a boundary, next exactly B later
    rows += [(3, 200, B), (3, 201, 2 * B)]
    # user 4: entire history inside one bucket
    rows += [(4, 300, 5), (4, 301, 100), (4, 302, 2000)]
    # user 5 (hot): every 5 min for 6 hours with a 40-min hole
    ts5 = [i * 300 for i in range(72)]
    ts5 = ts5[:30] + [t + 2400 for t in ts5[30:]]
    rows += [(5, 400 + i, t) for i, t in enumerate(ts5)]

    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "off"])
    pdf["event_type"] = "t" + (pdf["event_id"] % 3).astype(str)
    pdf["ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        pdf.pop("off"), unit="s"
    )
    ev = spark.createDataFrame(pdf)

    def key(r):
        return r["event_id"]

    want = {key(r): r for r in event_gaps_of(ev).collect()}
    got = {
        key(r): r for r in event_gaps_bucketed_of(ev, bucket_hours=1).collect()
    }
    assert set(got) == set(want)
    cols = ["user_id", "gap_us", "prev_type", "next_type", "first_type",
            "session_start"]
    for k in want:
        for c in cols:
            assert got[k][c] == want[k][c], (k, c, got[k][c], want[k][c])


def test_skew_router_picks_bucketed_on_planted_bot_and_naive_on_uniform(spark):
    """The auto-switchover contract (r7 verdict item 4): a planted
    30%-bot input must route to the bucketed twin, a uniform input to
    the naive spelling, and BOTH routed outputs must equal the naive
    face exactly — the router changes the plan, never the result."""
    from etl_master_spark.functions.skew import skew_route
    from etl_master_spark.operators.relational import (
        event_gaps_of,
        event_gaps_routed_of,
    )
    from etl_master_spark.streaming.windows import (
        user_sessions_of,
        user_sessions_routed_of,
    )

    def events(bot_share: float):
        n = 10_000
        bot = int(n * bot_share)
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") < bot, F.lit(7))
            .otherwise(F.col("id") % 997 + 100)
            .alias("user_id"),
            F.expr(
                "timestampadd(MINUTE, CAST(id AS INT) * 3,"
                " TIMESTAMP_NTZ '2024-01-01 00:00:00')"
            ).alias("ts"),
            F.concat(F.lit("t"), (F.col("id") % 5)).alias("event_type"),
        )

    skewed, uniform = events(0.30), events(0.0)
    assert skew_route(skewed, "user_id") == "bucketed"
    assert skew_route(uniform, "user_id") == "naive"

    for ev in (skewed, uniform):
        want = sorted(
            tuple(r) for r in user_sessions_of(ev).collect()
        )
        got = sorted(
            tuple(r) for r in user_sessions_routed_of(ev).collect()
        )
        assert got == want
        want_g = sorted(tuple(r) for r in event_gaps_of(ev).collect())
        got_g = sorted(
            tuple(r) for r in event_gaps_routed_of(ev).collect()
        )
        assert got_g == want_g


def test_skew_router_empty_frame_routes_naive(spark):
    from etl_master_spark.functions.skew import max_key_share, skew_route

    empty = spark.range(0).select(
        F.col("id").alias("user_id"), F.col("id").alias("x")
    )
    assert max_key_share(empty, "user_id") == 0.0
    assert skew_route(empty, "user_id") == "naive"


def test_skew_router_supplied_share_skips_probe_entirely(spark, monkeypatch):
    """Stats path (r8 verdict item 3): a caller-supplied share must route
    with ZERO probe scans — max_key_share is patched to explode, so any
    scan would fail the test — and a mis-supplied share may flip the
    plan but never the result (twins already share one oracle)."""
    from etl_master_spark.functions import skew
    from etl_master_spark.operators.relational import (
        event_gaps_of,
        event_gaps_routed_of,
    )

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("probe scan ran despite supplied share")

    monkeypatch.setattr(skew, "max_key_share", boom)
    assert skew.skew_route(spark.range(1), "id", share=0.9) == "bucketed"
    assert skew.skew_route(spark.range(1), "id", share=0.0) == "naive"

    ev = spark.range(300).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT) * 3,"
            " TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("t"), (F.col("id") % 5)).alias("event_type"),
    )
    want = sorted(tuple(r) for r in event_gaps_of(ev).collect())
    # deliberately WRONG share (input is uniform): plan flips to the
    # bucketed twin, output must still be identical
    got = sorted(
        tuple(r) for r in event_gaps_routed_of(ev, share=0.9).collect()
    )
    assert got == want


def test_skew_router_memoizes_probe_per_table(spark, monkeypatch, tmp_path):
    """With a table the exact probe is paid once per session: the
    second routed construction over the same (table, key) must not
    re-scan (probe counted)."""
    from etl_master_spark import memo
    from etl_master_spark.functions import skew

    memo.clear("skew_share")
    spark.range(100).select((F.col("id") % 3).alias("user_id")).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    df = spark.read.parquet(f"{tmp_path}/events.parquet")
    calls = {"n": 0}
    real = skew.max_key_share

    def counting(frame, key):
        calls["n"] += 1
        return real(frame, key)

    monkeypatch.setattr(skew, "max_key_share", counting)
    table = (str(tmp_path), "events")
    r1 = skew.skew_route(df, "user_id", table=table)
    r2 = skew.skew_route(df, "user_id", table=table)
    assert r1 == r2
    assert calls["n"] == 1
    memo.clear("skew_share")


def test_sampled_key_share_routes_planted_bot(spark):
    """The sampled probe must still detect a planted 30% hot key (the
    estimate's variance is tiny relative to a 30-point share) and read
    only the sample. Mis-routing near the cutoff is acceptable by
    contract; gross skew must not be missed."""
    from etl_master_spark.functions.skew import (
        max_key_share,
        sampled_key_share,
    )

    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") < int(n * 0.3), F.lit(7))
        .otherwise(F.col("id") % 997 + 100)
        .alias("user_id")
    )
    exact = max_key_share(df, "user_id")
    est = sampled_key_share(df, "user_id", fraction=0.1, seed=9)
    assert abs(est - exact) < 0.05
    uniform = spark.range(n).select((F.col("id") % 997).alias("user_id"))
    assert sampled_key_share(uniform, "user_id", fraction=0.1, seed=9) < 0.01


def test_skew_router_auto_picks_sampled_probe_above_row_threshold(
    spark, monkeypatch
):
    """r9 verdict item 4: with a footer-metadata row count at or above
    SAMPLED_PROBE_MIN_ROWS the router probes via the O(sample)
    estimator (exact probe patched to explode — any full pre-pass fails
    the test); below the threshold the exact probe runs as before. The
    estimate only gates a plan choice between oracle-equal twins."""
    from etl_master_spark.functions import skew

    df = spark.range(10_000).select(
        F.when(F.col("id") < 3_000, F.lit(7))
        .otherwise(F.col("id") % 997 + 100)
        .alias("user_id")
    )

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("exact probe ran despite large approx_rows")

    monkeypatch.setattr(skew, "max_key_share", boom)
    # sampled_key_share calls the module-level max_key_share on the
    # sample — give it the real one via its default path
    monkeypatch.setattr(
        skew, "sampled_key_share",
        lambda frame, key, **kw: 0.3,
    )
    assert (
        skew.skew_route(
            df, "user_id", approx_rows=skew.SAMPLED_PROBE_MIN_ROWS
        )
        == "bucketed"
    )

    monkeypatch.undo()
    calls = {"exact": 0, "sampled": 0}
    real_exact, real_sampled = skew.max_key_share, skew.sampled_key_share

    def count_exact(frame, key):
        calls["exact"] += 1
        return real_exact(frame, key)

    def count_sampled(frame, key, **kw):
        calls["sampled"] += 1
        return real_sampled(frame, key, **kw)

    monkeypatch.setattr(skew, "max_key_share", count_exact)
    monkeypatch.setattr(skew, "sampled_key_share", count_sampled)
    # below threshold -> exact; the sampled tier untouched
    assert skew.skew_route(
        df, "user_id", approx_rows=skew.SAMPLED_PROBE_MIN_ROWS - 1
    ) == "bucketed"
    assert calls == {"exact": 1, "sampled": 0}
    # above threshold with the REAL estimator: the 30%-bot share survives
    # a 5% Bernoulli sample by a wide margin, so the route agrees
    assert skew.skew_route(
        df, "user_id", approx_rows=skew.SAMPLED_PROBE_MIN_ROWS
    ) == "bucketed"
    assert calls["sampled"] == 1
    # count_sampled delegates to the real estimator, which calls the
    # (patched, counting) max_key_share on the SAMPLE — one more exact
    # call on sample-sized data is the estimator's contract, not a
    # full-input pre-pass
    assert calls["exact"] == 2


def test_share_cache_invalidates_on_table_rewrite(spark, tmp_path, monkeypatch):
    """r9 verdict item 6: the probe memo key carries the table's footer
    fingerprint (``memo.session_memo``), so rewriting the table re-probes
    instead of serving a stale share. First call probes, second call
    hits the memo, a rewrite with different data probes again and the
    route follows the NEW data. The rejection-negatives memo over the
    same ``events`` table follows the same rule: a mid-session rewrite
    rebuilds the sample instead of serving stale negatives."""
    from etl_master_spark import memo
    from etl_master_spark.functions import skew
    from etl_master_spark.operators import recsplit
    from etl_master_spark.streaming.windows import user_sessions_routed

    memo.clear("skew_share")
    calls = {"n": 0}
    real = skew.max_key_share

    def counting(frame, key):
        calls["n"] += 1
        return real(frame, key)

    monkeypatch.setattr(skew, "max_key_share", counting)
    samples = {"n": 0}

    def counting_sampler(r, n, max_rounds):
        samples["n"] += 1
        return r

    monkeypatch.setattr(recsplit, "negatives_sample_reject", counting_sampler)

    def write_events(bot_share: float, n: int = 2_000) -> None:
        bot = int(n * bot_share)
        spark.range(n).select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") < bot, F.lit(7))
            .otherwise(F.col("id") % 499 + 100)
            .alias("user_id"),
            F.expr(
                "timestampadd(MINUTE, CAST(id AS INT) * 3,"
                " TIMESTAMP_NTZ '2024-01-01 00:00:00')"
            ).alias("ts"),
            F.concat(F.lit("t"), (F.col("id") % 5)).alias("event_type"),
            F.concat(F.lit("item "), (F.col("id") % 37)).alias("props"),
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/events.parquet"
        )

    write_events(0.0)
    user_sessions_routed(spark, str(tmp_path))
    assert calls["n"] == 1
    user_sessions_routed(spark, str(tmp_path))
    assert calls["n"] == 1  # memo hit: same fingerprint, no re-probe
    negs = recsplit.negatives_sample_reject_cached(spark, str(tmp_path))
    assert recsplit.negatives_sample_reject_cached(spark, str(tmp_path)) is negs
    assert samples["n"] == 1

    # rewrite with a planted bot: different rows -> different byte total
    # -> new fingerprint -> fresh probe, and the route must flip with it
    write_events(0.4, n=2_100)
    df = user_sessions_routed(spark, str(tmp_path))
    assert calls["n"] == 2
    recsplit.negatives_sample_reject_cached(spark, str(tmp_path))
    assert samples["n"] == 2  # rewritten events -> rebuilt sample
    # bucketed and naive twins agree on output; sanity: rows exist
    assert df.count() > 0
