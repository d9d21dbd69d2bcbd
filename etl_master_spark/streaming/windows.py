"""Structured Streaming spellings of the event pipeline.

The reference is pure batch (SURVEY.md §1.3 — epoch loops over in-memory
tensors), but the engine's `events` surface is a stream in production; these
operators exist in BOTH forms:

- a batch DataFrame form (oracle-checked against DuckDB), and
- a ``readStream`` form with watermarking, verified in tests via
  ``trigger(availableNow=True)`` over the same parquet, asserting the final
  state equals the batch result.

The batch/stream duality is free because both are the same unresolved plan —
Catalyst compiles the windowed aggregation to an incremental stateful
operator under streaming and to a hash aggregate under batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table, ts_s, ts_us

SESSION_GAP_MIN = 30


# -- tumbling-window counts (batch form) -------------------------------------

def _normalize_stream_ts(ev):
    """Bring a streamed events frame's ``ts`` to TIMESTAMP (with-tz) under
    every reader behavior (INT64 nanos via nanosAsLong, native NTZ
    inference, or already-TIMESTAMP) — the streaming twin of
    ``io.load_table``, EXCEPT it targets TIMESTAMP because
    ``withWatermark`` rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_
    TIMESTAMP_TYPE). The streaming twins always run under this engine's
    UTC sessions (session.py), where the NTZ→TZ reinterpretation is the
    epoch identity, keeping stream and batch bucket boundaries equal."""
    dt = dict(ev.dtypes).get("ts")
    if dt == "bigint":
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    elif dt == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour, per-type event counts + value sums. Batch spelling of the
    canonical streaming windowed aggregation. Window start is exported as
    epoch seconds (BIGINT) — timestamp-encoding-neutral across engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            ts_s(F.col("w.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


EVENTS_HOURLY_ORACLE = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""


HOURLY_TOPK = 3


def events_hourly_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items shape: the top-``HOURLY_TOPK`` event types per hour
    by count (count desc, type asc tiebreak) with their share of the
    hour's traffic — the per-window leaderboard every monitoring rollup
    ships.

    Plan: one hourly grouped aggregation (map-side combined), then a
    rank window partitioned by hour over the ALREADY-AGGREGATED
    |hours|×|types| rows — the window never sees raw events, so the
    shuffle after the rollup is negligible at any scale."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w_rank = Window.partitionBy("hour").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    w_tot = Window.partitionBy("hour")
    return (
        hourly.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .withColumn("hour_total", F.sum("n_events").over(w_tot))
        .filter(F.col("rnk") <= HOURLY_TOPK)
        .select(
            ts_s(F.col("hour")).alias("hour_start"),
            "event_type",
            "n_events",
            "rnk",
            F.round(
                F.col("n_events").cast("double") / F.col("hour_total"), 6
            ).alias("share"),
        )
        .orderBy("hour_start", "rnk")
    )


EVENTS_HOURLY_TOPK_ORACLE = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT hour, event_type, n_events,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY hour ORDER BY n_events DESC, event_type ASC
           ) AS INT) AS rnk,
           SUM(n_events) OVER (PARTITION BY hour) AS hour_total
    FROM hourly
)
SELECT CAST(epoch(hour) AS BIGINT) AS hour_start, event_type, n_events, rnk,
       ROUND(CAST(n_events AS DOUBLE) / hour_total, 6) AS share
FROM ranked WHERE rnk <= {HOURLY_TOPK}
ORDER BY hour_start, rnk
"""


def events_hourly_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``events_hourly``: parquet stream source, 2-hour
    watermark for late data, windowed aggregation compatible with update
    AND append sinks (append is where the watermark actually DROPS late
    rows — state for a window is evicted once the watermark passes its
    end, so a later row for it never aggregates; the drop accounting is
    pinned against a batch replay in tests/test_streaming.py). Caller
    attaches the sink (tests use a memory sink + availableNow);
    ``stream_dir``/``max_files_per_trigger`` feed controlled one-file
    micro-batches exactly like ``events_dedup_stream``."""
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(stream_dir or sf_dir)
    ev = _normalize_stream_ts(ev)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            ts_s(F.col("w.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# -- gap-filled hourly series --------------------------------------------------

def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse→dense time series: the hourly rollup LEFT-joined onto the
    complete (hour × event_type) grid between the stream's min and max
    hour, zero-filling silent hours — what every downstream
    anomaly-detector / charting consumer wants instead of missing rows.

    The grid is generated, not scanned: ``sequence(min_hour, max_hour,
    1h)`` exploded from a 1-row bounds aggregate, crossed with the
    |event types| dimension — both sides tiny forever (the grid grows
    with TIME, not data volume), so the cross join and the broadcast
    left join cost nothing at any corpus size. One scan of events total."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    return (
        grid.join(hourly, ["hour", "event_type"], "left")
        .select(
            ts_s("hour").alias("hour_start"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


EVENTS_HOURLY_GAPFILL_ORACLE = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
    FROM events
),
hours AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
grid AS (SELECT hour, event_type FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events))
SELECT CAST(epoch(g.hour) AS BIGINT) AS hour_start,
       g.event_type,
       COALESCE(h.n_events, 0) AS n_events,
       COALESCE(h.sum_value, 0.0) AS sum_value
FROM grid g LEFT JOIN hourly h ON g.hour = h.hour AND g.event_type = h.event_type
ORDER BY 1, 2
"""


# -- sessionization ----------------------------------------------------------

def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap): per user, session
    count, avg events/session, avg session seconds. Batch spelling is the
    classic lag+cumsum window pair; the streaming twin would be
    ``session_window``/``applyInPandasWithState`` — the batch form is the
    oracle-checkable one.

    Scale: both windows partition by user_id (high cardinality); one shuffle
    total since the second window reuses the first's partitioning. Skew
    posture: a per-user session chain is irreducibly sequential, so a hot
    user's rows MUST meet one task — the design keeps that cost to exactly
    one sort of that user's own rows (single exchange, second window reuses
    it), pinned by tests/test_skew.py's planted-hot-user test."""
    return user_sessions_of(load_table(spark, sf_dir, "events"))


def user_sessions_of(ev: DataFrame) -> DataFrame:
    """Core of ``user_sessions`` over any (user_id, event_id, ts) frame —
    split out so tests can plant skewed inputs."""
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ts_s("ts") - ts_s(F.lag("ts").over(w_user))
    with_new = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    with_sess = with_new.withColumn(
        "session_id", F.sum("is_new").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    per_session = with_sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(ts_s("ts")) - F.min(ts_s("ts"))
        ).alias("dur_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
            F.round(F.avg("dur_s"), 6).alias("avg_session_seconds"),
        )
        .orderBy("user_id")
    )


USER_SESSIONS_ORACLE = f"""
WITH with_gap AS (
    SELECT user_id, event_id, ts,
           CAST(FLOOR(epoch(ts)) AS BIGINT)
             - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap
    FROM events
),
with_new AS (
    SELECT user_id, event_id, ts,
           CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MIN * 60} THEN 1 ELSE 0 END
               AS is_new
    FROM with_gap
),
with_sess AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM with_new
),
per_session AS (
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS dur_s
    FROM with_sess GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       ROUND(AVG(n_events), 6) AS avg_events_per_session,
       ROUND(AVG(dur_s), 6) AS avg_session_seconds
FROM per_session GROUP BY user_id ORDER BY user_id
"""


# Two-level sessionizer bucket width. Must be ≫ the session gap; beyond
# that, size it so a HOT user's rows per bucket ≈ one partition's volume
# — too fine and the per-(user, bucket) summary frame approaches the
# input size for sparse users (measured ×100: B=6 h cost 13.9 s uniform
# vs the naive 4.15 s; B=72 h is at parity uniform, 4.7 s vs 12.2 s on
# the 30%-bot replica).
SESSION_BUCKET_HOURS = 72


def user_sessions_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-path twin of ``user_sessions``: identical output (same DuckDB
    oracle hash-checks both), different plan for the hot-user regime.

    The naive spelling's per-user window is irreducibly sequential — one
    task sorts the hot user's entire history, and AQE cannot split a
    window partition (measured, skewed ×100 replica with a 30%% bot
    user: 3.4 s uniform → 13.9 s zipf, a 4× single-task straggler;
    SCALE.md round 7). This twin is the standard two-level fix:

    1. bucket events into ``SESSION_BUCKET_HOURS`` time buckets and
       sessionize WITHIN (user, bucket) — the windows partition by
       (user_id, bucket), so the bot user's rows spread over
       range/bucket tasks instead of one;
    2. collapse each (user, bucket) to a constant-size summary — first/
       last session (count, start, end) plus interior session sums;
    3. stitch per user with one row-local ``aggregate`` over the
       time-ordered summaries (≤ range/bucket structs per user):
       a bucket's first session merges into the running chain when the
       inter-session gap ≤ the threshold — the same rule the naive
       lag() applies, so the result is EXACTLY equal (no bucket-
       adjacency special case needed: a skipped bucket implies a gap
       > the bucket width ≫ the threshold).

    Switchover contract (the E3-catalog pattern): prefer the naive
    spelling while every user's history fits one task comfortably;
    switch here when any single user's row share approaches a
    partition's volume (the bot regime). Measured on the ×100 replicas
    at B=72 h (SCALE.md round 7): uniform 4.2 s vs naive 4.2 s (parity),
    30%-bot 4.7 s vs naive 12.2 s (2.6×) — the extra shuffles are narrow
    and the bucket width keeps the summary frame ≪ the input."""
    return user_sessions_bucketed_of(load_table(spark, sf_dir, "events"))


def user_sessions_bucketed_of(
    ev: DataFrame, bucket_hours: int | None = None
) -> DataFrame:
    """Core of ``user_sessions_bucketed`` over any (user_id, event_id, ts)
    frame — split out so tests can plant boundary-crossing sessions and
    hot users at a controlled bucket width."""
    bucket_hours = bucket_hours or SESSION_BUCKET_HOURS
    gap_s = F.lit(SESSION_GAP_MIN * 60).cast("long")
    bucket = F.floor(ts_s("ts") / F.lit(bucket_hours * 3600)).alias("bucket")
    w_ub = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    gap = ts_s("ts") - ts_s(F.lag("ts").over(w_ub))
    with_sess = (
        ev.select("user_id", "event_id", "ts", bucket)
        .withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(
                w_ub.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per_session = with_sess.groupBy("user_id", "bucket", "sid").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(ts_s("ts")).alias("t0"),
        F.max(ts_s("ts")).alias("t1"),
    )
    sess_struct = F.struct("sid", "n", "t0", "t1")
    per_bucket = per_session.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_loc"),
        F.min(sess_struct).alias("first"),
        F.max(sess_struct).alias("last"),
        F.sum("n").alias("tot_n"),
        F.sum(F.col("t1") - F.col("t0")).alias("tot_dur"),
    )
    summary = F.struct(
        F.col("bucket"),
        F.col("n_loc"),
        F.col("first.n").alias("f_n"),
        F.col("first.t0").alias("f_t0"),
        F.col("first.t1").alias("f_t1"),
        F.col("last.n").alias("l_n"),
        F.col("last.t0").alias("l_t0"),
        F.col("last.t1").alias("l_t1"),
        # interior sessions = everything but the first and last (empty
        # when n_loc <= 2; when n_loc == 1 first IS last, subtract once)
        F.when(F.col("n_loc") >= 2, F.col("n_loc") - 2)
        .otherwise(F.lit(0))
        .alias("i_cnt"),
        F.when(
            F.col("n_loc") >= 2,
            F.col("tot_n") - F.col("first.n") - F.col("last.n"),
        )
        .otherwise(F.lit(0))
        .alias("i_n"),
        F.when(
            F.col("n_loc") >= 2,
            F.col("tot_dur")
            - (F.col("first.t1") - F.col("first.t0"))
            - (F.col("last.t1") - F.col("last.t0")),
        )
        .otherwise(F.lit(0))
        .alias("i_dur"),
    )
    per_user = per_bucket.groupBy("user_id").agg(
        F.array_sort(F.collect_list(summary)).alias("bs")
    )
    # row-local stitch: fold the time-ordered bucket summaries, carrying
    # an OPEN chain (n, start, end) and the closed-session totals
    zero = F.struct(
        F.lit(0).cast("bigint").alias("open_n"),
        F.lit(0).cast("bigint").alias("open_t0"),
        F.lit(0).cast("bigint").alias("open_t1"),
        F.lit(False).alias("has_open"),
        F.lit(0).cast("bigint").alias("d_cnt"),
        F.lit(0).cast("bigint").alias("d_n"),
        F.lit(0).cast("bigint").alias("d_dur"),
    )

    def step(acc, s):
        merge = acc["has_open"] & ((s["f_t0"] - acc["open_t1"]) <= gap_s)
        # the chain after absorbing (or being replaced by) s's first session
        o_n = F.when(merge, acc["open_n"] + s["f_n"]).otherwise(s["f_n"])
        o_t0 = F.when(merge, acc["open_t0"]).otherwise(s["f_t0"])
        o_t1 = s["f_t1"]
        # the previous chain closes when it exists and did not merge
        closed_prev = F.when(acc["has_open"] & ~merge, 1).otherwise(0)
        d_cnt = acc["d_cnt"] + closed_prev + s["i_cnt"]
        d_n = (
            acc["d_n"]
            + F.when(closed_prev == 1, acc["open_n"]).otherwise(0)
            + s["i_n"]
        )
        d_dur = (
            acc["d_dur"]
            + F.when(closed_prev == 1, acc["open_t1"] - acc["open_t0"]).otherwise(0)
            + s["i_dur"]
        )
        multi = s["n_loc"] >= 2  # first session ends inside the bucket
        return F.struct(
            F.when(multi, s["l_n"]).otherwise(o_n).alias("open_n"),
            F.when(multi, s["l_t0"]).otherwise(o_t0).alias("open_t0"),
            F.when(multi, s["l_t1"]).otherwise(o_t1).alias("open_t1"),
            F.lit(True).alias("has_open"),
            F.when(multi, d_cnt + 1).otherwise(d_cnt).alias("d_cnt"),
            F.when(multi, d_n + o_n).otherwise(d_n).alias("d_n"),
            F.when(multi, d_dur + (o_t1 - o_t0)).otherwise(d_dur).alias("d_dur"),
        )

    def fin(acc):
        return F.struct(
            (acc["d_cnt"] + F.when(acc["has_open"], 1).otherwise(0)).alias(
                "n_sessions"
            ),
            (
                acc["d_n"] + F.when(acc["has_open"], acc["open_n"]).otherwise(0)
            ).alias("sum_n"),
            (
                acc["d_dur"]
                + F.when(
                    acc["has_open"], acc["open_t1"] - acc["open_t0"]
                ).otherwise(0)
            ).alias("sum_dur"),
        )

    folded = per_user.select(
        "user_id", F.aggregate("bs", zero, step, fin).alias("r")
    )
    return folded.select(
        "user_id",
        F.col("r.n_sessions").alias("n_sessions"),
        F.round(
            F.col("r.sum_n").cast("double") / F.col("r.n_sessions"), 6
        ).alias("avg_events_per_session"),
        F.round(
            F.col("r.sum_dur").cast("double") / F.col("r.n_sessions"), 6
        ).alias("avg_session_seconds"),
    ).orderBy("user_id")


def user_sessions_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-switchover face of the sessionizer twins: one cheap exact
    skew probe (``functions.skew.skew_route`` — max per-user row share
    vs half a shuffle partition's volume, the documented SCALE.md
    switchover contract) picks the naive single-window spelling on
    uniform inputs and the two-level bucketed twin in the hot-user
    regime. Both spellings hash-check equal on the same oracle, so the
    router changes the plan, never the result; the choice is logged.
    The probed faces stay registered unrouted so the driver keeps
    hash-certifying each plan individually. The probe is a session memo
    per (table, key) (``memo.py``) — the sibling ``event_gaps_routed``
    reuses this face's probe within a session instead of re-scanning,
    and above SAMPLED_PROBE_MIN_ROWS (footer row count, no scan) the
    probe itself is the O(sample) estimator (r9 verdict items 4/6)."""
    return user_sessions_routed_of(
        load_table(spark, sf_dir, "events"), table=(sf_dir, "events")
    )


def user_sessions_routed_of(
    ev: DataFrame,
    bucket_hours: int | None = None,
    share: float | None = None,
    table: tuple[str, str] | None = None,
) -> DataFrame:
    """Core of ``user_sessions_routed`` — split out for planted-skew
    routing tests. ``share`` lets a caller with table statistics skip
    the probe scan entirely; a mis-supplied share can flip the plan,
    never the result (the twins share one oracle)."""
    from ..functions.skew import skew_route

    route = skew_route(ev, "user_id", "user_sessions", share, table)
    if route == "bucketed":
        return user_sessions_bucketed_of(ev, bucket_hours)
    return user_sessions_of(ev)


# -- custom stateful operator: incremental sessionization ---------------------

SESSION_STATE_SCHEMA = "last_ts LONG, n_sessions INT, n_events LONG, total_dur LONG"
SESSION_OUTPUT_SCHEMA = "user_id LONG, n_sessions INT, n_events LONG, total_dur LONG"


def user_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` operator (the one the streaming
    form uses): per-(user, session) event count and value sum, session =
    maximal chain of events with inter-event gap < 30 min.

    Semantics differ from the lag+cumsum spelling at boundaries — native
    windows are microsecond-exact and a gap of EXACTLY 30:00.000000 starts
    a new session (next window [ts, ts+30m) doesn't overlap), while the
    lag spelling compares second-truncated gaps with '>'. The oracle
    replays the native rule precisely (epoch_us, >=) — engine parity over
    a rule this sharp is exactly what the gate is for.

    Scale: one shuffle on user_id; window merging is per-key streaming
    state under ``readStream``, a sort-based merge in batch."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            ts_us(F.col("sw.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start_us")
    )


USER_SESSIONS_NATIVE_ORACLE = f"""
WITH with_gap AS (
    SELECT user_id, ts, value,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts
           ) AS gap_us
    FROM events
),
with_new AS (
    SELECT user_id, ts, value,
           CASE WHEN gap_us IS NULL OR gap_us >= {SESSION_GAP_MIN * 60 * 1000000}
                THEN 1 ELSE 0 END AS is_new
    FROM with_gap
),
with_sess AS (
    SELECT user_id, ts, value,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM with_new
)
SELECT user_id,
       MIN(epoch_us(ts)) AS session_start_us,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM with_sess
GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
"""


def user_session_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful sessionizer: per user, total sessions /
    events / in-session seconds. Same lag+cumsum pipeline as
    ``user_sessions`` but additive outputs, so the incremental stream can be
    checked for exact equality."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ts_s("ts") - ts_s(F.lag("ts").over(w_user))
    return (
        ev.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("gap").isNull() | (F.col("gap") > SESSION_GAP_MIN * 60), 1
                ).otherwise(0)
            )
            .cast("int")
            .alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("gap") <= SESSION_GAP_MIN * 60, F.col("gap")).otherwise(
                    F.lit(0)
                )
            ).alias("total_dur"),
        )
        .orderBy("user_id")
    )


USER_SESSION_TOTALS_ORACLE = f"""
WITH with_gap AS (
    SELECT user_id,
           CAST(FLOOR(epoch(ts)) AS BIGINT)
             - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap
    FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MIN * 60}
                THEN 1 ELSE 0 END) AS INT) AS n_sessions,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN gap <= {SESSION_GAP_MIN * 60} THEN gap ELSE 0 END) AS BIGINT) AS total_dur
FROM with_gap GROUP BY user_id ORDER BY user_id
"""


def user_sessions_stateful(spark: SparkSession, sf_dir: str, stream_dir: str | None = None) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    incremental gap sessionization. Spark has no built-in "running session
    totals in update mode" — this is the engine's template for operators the
    built-ins can't express (SURVEY.md §7.3 last resort tier).

    State per user is four scalars (last_ts, n_sessions, n_events,
    total_dur); each micro-batch folds its sorted new events into the state
    vectorized (numpy gap arithmetic, no per-row Python loop). Requires
    event-time-ordered arrival per user across batches — the file-stream
    chunking in production (and the test) provides it. At 100 TB the state
    store shards by user_id across executors; per-key state is O(1)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir or sf_dir)
    )
    ev = _normalize_stream_ts(ev)
    ev = ev.select(
        "user_id",
        (ts_us("ts") / F.lit(1_000_000))
        .cast("bigint")
        .alias("ts_s"),
    )
    gap_s = SESSION_GAP_MIN * 60

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        ts = np.sort(
            np.concatenate([p["ts_s"].to_numpy(dtype="int64") for p in pdfs])
        )
        if state.exists:
            last_ts, n_sessions, n_events, total_dur = state.get
        else:
            last_ts, n_sessions, n_events, total_dur = -(10**15), 0, 0, 0
        prev = np.concatenate(([last_ts], ts[:-1]))
        gaps = ts - prev
        n_sessions += int((gaps > gap_s).sum())
        total_dur += int(gaps[gaps <= gap_s].sum())
        n_events += int(len(ts))
        state.update((int(ts[-1]), n_sessions, n_events, total_dur))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_sessions": n_sessions,
                    "n_events": n_events,
                    "total_dur": total_dur,
                }
            ]
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- exactly-once dedup (at-least-once delivery repair) -----------------------

def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch spelling of delivery dedup: one row per event_id (first by ts),
    profiled per event type. The fixture events are already unique, so this
    is deterministic; the operator's real job is the streaming twin below,
    which repairs at-least-once redelivery across micro-batches."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy("ts")
    dd = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        dd.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


EVENTS_DEDUP_ORACLE = """
WITH dd AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        FROM events
    ) WHERE rn = 1
)
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM dd GROUP BY event_type ORDER BY event_type
"""


def events_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin: ``dropDuplicatesWithinWatermark`` on event_id — the
    state-store-backed exactly-once repair for an at-least-once source.
    Duplicate events arriving in ANY later micro-batch (within the
    watermark horizon) are dropped; state for ids older than the watermark
    is evicted, so state size tracks the horizon, not the stream history.
    Tests feed the same file twice and assert the batch counts come back;
    the long-run test drives 50 one-file micro-batches
    (``max_files_per_trigger=1``) and asserts per-batch state rows stay
    inside the watermark-horizon bound — the eviction property that lets
    this query run forever at production volume."""
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(stream_dir or sf_dir)
    ev = _normalize_stream_ts(ev)
    return ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def docs_dedup_incremental_stream(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """Streaming twin of ``text.dedup_incremental`` — the production
    ingest shape as a STREAM-STATIC join (the one streaming join class
    the stream-stream interval join above doesn't cover): documents
    arrive as a file stream, each micro-batch is LEFT-ANTI joined
    against the static corpus fingerprint table (yesterday's corpus on
    disk; the static side re-probes per micro-batch with no state), then
    within-stream duplicates collapse via ``dropDuplicates`` on the
    content fingerprint (state-store-backed; documents carry no event
    time, so the state has no watermark horizon — a production stream
    would bound it with ``dropDuplicatesWithinWatermark`` on ingest
    time, exactly like ``events_dedup_stream``).

    Emits surviving (doc_id, lang, fp) rows in append mode. The batch
    twin keeps min-doc_id per within-batch dup group; a stream keeps the
    FIRST-SEEN (arrival order) — tests therefore compare fingerprint
    SETS and per-lang counts, which the two spellings must agree on."""
    from ..functions.hashing import phash_frag
    from ..operators.text import INCR_BATCH_MOD

    is_new = F.expr(phash_frag("doc_id", seed=59)) % INCR_BATCH_MOD == 0
    corpus_fps = (
        load_table(spark, sf_dir, "documents")
        .filter(~is_new)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir or sf_dir)
    return (
        stream.filter(is_new)
        .select("doc_id", "lang", F.md5("text").alias("fp"))
        .join(corpus_fps, "fp", "left_anti")
        .dropDuplicates(["fp"])
    )


# -- stream-stream interval join ----------------------------------------------

def purchase_click_stream_join(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """Stream-stream INTERVAL join — the streaming twin of
    ``relational.purchase_click_attribution``'s range join: purchases
    joined to the same user's clicks from the preceding hour, both sides
    live streams. Emits (purchase_id, click_id) attribution pairs in
    append mode; the consumer aggregates (tests verify the pair set equals
    the batch inner join exactly).

    The watermark + the two-sided time constraint are what make this
    bounded: Spark derives from them how long each side's rows must be
    buffered (clicks: 1 h behind the purchase watermark; purchases: until
    their own watermark passes), so join state is a sliding horizon, not
    the stream history — the property that lets the same query run forever
    at production volume."""
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = stream_dir or sf_dir
    ev = spark.readStream.schema(batch_schema).parquet(src)
    ev = _normalize_stream_ts(ev)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts < p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR"
        ),
    ).select("purchase_id", "click_id")


# -- streaming sink: foreachBatch upsert-to-parquet ---------------------------

def stream_hourly_to_parquet(
    spark: SparkSession, sf_dir: str, out_path: str, checkpoint: str
):
    """Land the streaming hourly rollup in parquet via ``foreachBatch`` —
    the standard sink pattern when the target needs overwrite/upsert
    semantics a file sink's append mode can't express. Checkpointed, so a
    restarted query resumes from the last committed micro-batch. Returns
    the started query (caller awaits)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_path)

    return (
        events_hourly_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# -- sliding (overlapping) window aggregation ---------------------------------

def events_sliding_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6-hour / 1-hour-slide windowed counts per event type — the
    overlapping-window shape (`F.window(ts, "6 hours", "1 hour")`) every
    rate-limiter / rolling-KPI streaming job uses; each event lands in 6
    windows. Window starts are epoch-aligned (Spark's slide grid), so the
    oracle replays membership with a generate_series over the 6 grid
    starts covering each event.

    Scale: the 6× row expansion happens INSIDE the aggregation (Spark
    expands then map-side combines before the shuffle); the shuffled key
    space is |windows|×|types| — calendar-sized, not data-sized."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            ts_s(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


EVENTS_SLIDING_6H_ORACLE = """
SELECT w.window_start, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events,
     LATERAL (
         SELECT unnest(generate_series(
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 5 * 3600,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT),
             3600
         )) AS window_start
     ) w
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def events_sliding_6h_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_sliding_6h``: same overlapping-window
    aggregation incrementally maintained with a 2-hour watermark — each
    event updates 6 window states; expired windows age out of the state
    store once the watermark passes their end."""
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = spark.readStream.schema(batch_schema).parquet(f"{sf_dir}")
    ev = _normalize_stream_ts(ev)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            ts_s(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# -- streaming drift monitor (PSI bins over a static reference) -----------------

def docs_drift_psi_stream(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """Streaming twin of ``text.corpus_drift_psi``'s batch side: incoming
    documents arrive as a file stream, each row is binned against the
    STATIC reference-corpus deciles (computed once, broadcast — the
    stream never touches the reference again), and the running per-bin
    histogram aggregates in complete mode. The consumer (or the test)
    joins the bin counts to the reference shares for the PSI terms —
    splitting histogram (streaming, cheap, exact) from scoring (tiny,
    bins-sized) is the production drift-monitor shape: the alert job
    reads 10 rows per trigger, not the stream.

    State is |bins| rows — bounded forever, no watermark needed; the
    identical bin-assignment expression (count of reference cuts below
    the length) is what ``corpus_drift_psi`` oracle-checks, so the
    streaming histogram provably matches the batch one once all files
    are processed (test-pinned)."""
    from ..functions.hashing import phash_frag
    from ..operators.text import PSI_PCTS_SQL, psi_bin_col

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.expr(phash_frag("doc_id")) % 10 == 0
    cuts_row = (
        docs.filter(~is_batch)
        .agg(
            F.expr(f"percentile(length(text), array({PSI_PCTS_SQL}))").alias(
                "c"
            )
        )
        .select(F.transform("c", lambda x: F.round(x, 6)).alias("c"))
        .collect()[0]["c"]
    )
    cuts = F.array(*[F.lit(float(c)) for c in cuts_row])
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir or sf_dir)
    return (
        stream.filter(is_batch)
        .select(psi_bin_col(cuts, F.length(F.col("text"))).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
