"""Skew-mitigation helpers for power-law keys.

AQE's skew-join splitting (on in session.py) handles most sort-merge skew at
runtime; these helpers cover the cases AQE can't re-plan:

- ``salted_join``: an inner equi-join where ONE side carries hot keys and the
  other side is small-per-key but too big to broadcast. The hot side gets a
  deterministic salt in [0, n); the other side is replicated n ways. The
  shuffle key becomes (key, salt), splitting each hot key's rows across n
  reducers. Classic MapReduce-era salting, expressed declaratively.
- ``salted_count_distinct``: two-phase distinct-count for a single
  low-cardinality grouping key (the worst distinct-agg skew shape): phase 1
  dedups (group, salt, value) partitions, phase 2 merges per-group partial
  distinct counts. Exact, two small shuffles instead of one hot one.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

# A key is "hot" when its rows approach this share of one shuffle
# partition's volume — the regime where a per-key window becomes a
# single-task straggler (SCALE.md: the manual switchover contract the
# router automates).
HOT_KEY_PARTITION_SHARE = 0.5

# Above this row count the routed faces probe with the O(sample)
# ``sampled_key_share`` instead of the exact groupBy pass: the exact
# probe's full-scan cost starts to rival the routed face's own work,
# while the sampled estimate only gates a PLAN choice between two
# oracle-equal spellings — near the cutoff both routes are acceptable,
# which is exactly where sampling noise lives (r9 verdict item 4). Row
# counts come from parquet footer metadata, never a scan.
SAMPLED_PROBE_MIN_ROWS = 1_000_000


def max_key_share(df: DataFrame, key: str) -> float:
    """Largest single-key row share of ``df``: max_k |rows(k)| / |rows|.

    One exact pre-pass — a map-side-combined groupBy count whose shuffle
    moves |distinct keys| rows, then a scalar aggregate (the collect is a
    1-row reduction, not a data collect). At warehouse scale prefer
    supplying the number from table statistics or a prior profiling pass
    via ``skew_route(share=...)``, or the O(sample) ``sampled_key_share``
    — the exact spelling is the deterministic fallback that keeps the
    routed faces hash-checkable with zero caller setup."""
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("n"))
        .collect()[0]
    )
    if not row["n"]:
        return 0.0
    return row["mx"] / row["n"]


def sampled_key_share(
    df: DataFrame, key: str, fraction: float = 0.05, seed: int = 9
) -> float:
    """Estimate of ``max_key_share`` from a Bernoulli row sample — the
    cheap probe for tables where even one groupBy-count pass is too much
    (a 100 TB routed face should not pay a full scan before doing work).

    Per-key counts scale by ~``fraction`` on both numerator and
    denominator, so the ratio is an unbiased-ish estimate of the hot
    key's share; variance only matters near the cutoff, where both
    routes are acceptable anyway. Contract (tested): a mis-estimate may
    flip the PLAN, never the RESULT — the twins hash-check equal."""
    return max_key_share(df.sample(fraction=fraction, seed=seed), key)


def skew_route(
    df: DataFrame,
    key: str,
    label: str = "",
    share: float | None = None,
    table: tuple[str, str] | None = None,
    approx_rows: int | None = None,
) -> str:
    """Pick the spelling for a per-``key`` window over ``df``: ``"naive"``
    (one window, one shuffle — best while every key's history fits a
    task) or ``"bucketed"`` (the two-level twins — pay ~1.5× extra
    shuffle at uniform skew to break the hot key across tasks).

    The decision rule is the documented switchover contract: route to
    the bucketed twin when the hottest key's rows exceed
    ``HOT_KEY_PARTITION_SHARE`` of one shuffle partition's volume
    (|rows| / shuffle_partitions). Both spellings are hash-checked equal
    on the same oracle, so the router changes the PLAN, never the
    result. The choice is logged so a plan regression is visible in the
    driver log, not silent.

    Probe cost ladder (cheapest wins; all three produce the same routing
    contract because a wrong share can only flip the plan):

    1. ``share=`` — caller-supplied, e.g. from warehouse table statistics
       or a prior ``table_profile``-style pass: ZERO extra scans here.
    2. ``table=(sf_dir, name)`` — ``df`` is that table: the eager probe
       is a session memo per (table, key) (``memo.py``), paid once per
       session, not once per construction; a rewrite re-probes.
    3. ``approx_rows=`` (default: the table's footer row count) at or
       above ``SAMPLED_PROBE_MIN_ROWS`` — the O(sample)
       ``sampled_key_share`` estimator: large routed inputs pay a 5%
       Bernoulli pass, never a full groupBy probe.
    4. none of the above — the exact ``max_key_share`` pre-pass
       (deterministic, zero setup; what small oracle-checked inputs
       use)."""
    from ..memo import session_memo
    from ..sources.io import shuffle_partitions, table_meta

    src = "supplied"
    if share is None:
        src = "cached"  # unless probe() runs below

        def probe() -> float:
            nonlocal src
            rows = approx_rows
            if rows is None and table is not None:
                rows = table_meta(*table)[0]
            if rows is not None and rows >= SAMPLED_PROBE_MIN_ROWS:
                src = "sampled"
                return sampled_key_share(df, key)
            src = "probed"
            return max_key_share(df, key)

        share = probe() if table is None else session_memo(
            df.sparkSession, "skew_share", probe, (key,), [table]
        )
    cutoff = HOT_KEY_PARTITION_SHARE / shuffle_partitions(df.sparkSession)
    route = "bucketed" if share >= cutoff else "naive"
    _LOG.info(
        "skew_route(%s key=%s): max share %.4f (%s) vs cutoff %.4f -> %s",
        label or "frame", key, share, src, cutoff, route,
    )
    return route


def salted_join(
    hot: DataFrame,
    other: DataFrame,
    keys: list[str],
    n_salt: int = 8,
) -> DataFrame:
    """Inner join ``hot ⋈ other`` on ``keys`` with n-way salt splitting.

    Result equals ``hot.join(other, keys)`` (column order: keys, hot's
    non-keys, other's non-keys). The salt on the hot side hashes ALL of the
    row's columns, so replicated hot-key rows spread uniformly; ``other``
    is exploded ×n — only acceptable when |other| ≪ |hot|, which is exactly
    the salting regime.
    """
    salt = (F.abs(F.xxhash64(*hot.columns)) % n_salt).alias("_salt")
    hot_s = hot.withColumn("_salt", salt)
    other_s = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    joined = hot_s.join(other_s, [*keys, "_salt"])
    return joined.drop("_salt")


def salted_count_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_salt: int = 32,
) -> DataFrame:
    """Exact COUNT(DISTINCT value) GROUP BY group for hot groups, in two
    map-side-combinable phases keyed by (group, salt(value))."""
    salted = df.select(
        group_col,
        value_col,
        (F.abs(F.xxhash64(F.col(value_col))) % n_salt).alias("_salt"),
    )
    partial = salted.groupBy(group_col, "_salt").agg(
        F.countDistinct(value_col).alias("_part")
    )
    return partial.groupBy(group_col).agg(
        F.sum("_part").alias("n_distinct")
    )
