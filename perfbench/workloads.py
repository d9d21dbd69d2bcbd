"""The benchmark's workloads: their steps in order, and the check each
step's output must pass.

A step is timed in two parts: ``construct`` (the call into the engine that
returns a plan, with whatever eager jobs that call launches) and
``execute`` (running the plan and collecting its result into this process).
The collected result is what ``check`` later compares, outside the timed
spans, so no plan runs twice.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd

GAN_PASSES = 2
GAN_MODES = ("test",)
GAN_KS = [5, 10]

# Each workload is one pass over its steps in this fixed order. The order
# is not drawn from the seed: steps share session memos and JVM state, and
# reordering the iterative steps alone moved a pass by 20% (29 s vs 36 s
# with kcore_membership after or before the k-means chain), which would
# swamp the benchmark's bounds.
WORKLOADS = {
    # The reference's lifecycle through public functions: materialize the
    # splits, then train and evaluate (test split, K 5 and 10). The model
    # and sink layers run only here.
    "recsys_lifecycle": ["materialize_splits", "gan_eval"],
    # Construction and eager jobs dominate (sampling rounds, Lloyd
    # iterations, checkpoints). The second step of each pair reads a
    # session memo the first one fills, so memo hits show in the per-step
    # job counts.
    "iterative_construct": [
        "negatives_sample_reject", "negatives_reject_invariants",
        "kmeans_embeddings", "semantic_dedup",
    ],
}


class CheckFailed(Exception):
    """A step's output disagrees with what it must be."""


@dataclass
class Context:
    """What steps need: the session, the input and output directories, the
    seed, and a DuckDB connection over the same input tables."""

    spark: Any
    data: str
    out: str
    seed: int
    duck: Any


@dataclass(frozen=True)
class Step:
    name: str
    layer: str  # "query", "sink" or "model"
    construct: Callable[[Context], Any]
    execute: Callable[[Context, Any], Any]
    check: Callable[[Context, Any], None]


def all_step_names() -> list[str]:
    return [n for names in WORKLOADS.values() for n in names]


# -- checks -------------------------------------------------------------------

def oracle_frame(ctx: Context, name: str) -> pd.DataFrame:
    return ctx.duck.execute(_oracle_sql(name)).df()


def compare_strict(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """The strict rule of ``tools/strict_check.py``: same row count and
    columns, same dtype kinds, values exactly equal after a sort."""
    from tools.strict_check import normalize, strict_match

    g, w = normalize(got), normalize(want)
    if len(g) != len(w):
        raise CheckFailed(f"rows {len(g)} vs oracle {len(w)}")
    if list(g.columns) != list(w.columns):
        raise CheckFailed(f"columns {list(g.columns)} vs oracle {list(w.columns)}")
    bad = []
    for c in g.columns:
        ok, msg = strict_match(g[c], w[c])
        if not ok:
            bad.append(f"{c}: {msg}")
    if bad:
        raise CheckFailed("; ".join(bad))


def metric_digest(metrics: pd.DataFrame) -> str:
    """sha256 of the metric rows in a fixed order and float repr."""
    rows = metrics.sort_values(["mode", "domain", "k"]).itertuples(index=False)
    return hashlib.sha256(repr([tuple(r) for r in rows]).encode()).hexdigest()


def _check_gan_metrics(ctx: Context, metrics: pd.DataFrame) -> None:
    domains = ("x", "y")
    if len(metrics) != len(GAN_MODES) * len(domains) * len(GAN_KS):
        raise CheckFailed(f"{len(metrics)} metric rows, want mode x domain x K")
    holdout_users = dict(
        ((m, d), n)
        for m, d, n in ctx.duck.execute(
            "SELECT split, domain, count(DISTINCT user_id) FROM ("
            + _oracle_sql("splits_leave_two_out")
            + ") WHERE split IN ('vali', 'test') GROUP BY 1, 2"
        ).fetchall()
    )
    for r in metrics.itertuples(index=False):
        want = holdout_users.get((r.mode, r.domain))
        if r.n_users != want:
            raise CheckFailed(f"{r.mode}/{r.domain}@{r.k}: n_users {r.n_users} != {want}")
        for col in ("hr", "ndcg", "mrr"):
            v = getattr(r, col)
            if not 0.0 <= v <= 1.0:
                raise CheckFailed(f"{r.mode}/{r.domain}@{r.k}: {col}={v} outside [0, 1]")
    wide = metrics.pivot_table(index=["mode", "domain"], columns="k", values="hr")
    if (wide[min(GAN_KS)] > wide[max(GAN_KS)]).any():
        raise CheckFailed("HR@5 > HR@10")


def _oracle_sql(name: str) -> str:
    from etl_master_spark.plans.registry import ORACLES

    return ORACLES[name]


# -- steps --------------------------------------------------------------------

def query_step(name: str) -> Step:
    """A registered query: construct via ``QUERIES[name]``, collect it, and
    compare it to its DuckDB oracle."""

    def construct(ctx: Context):
        from etl_master_spark.plans.registry import QUERIES

        return QUERIES[name](ctx.spark, ctx.data)

    return Step(
        name, "query", construct,
        lambda ctx, df: df.toPandas(),
        lambda ctx, got: compare_strict(got, oracle_frame(ctx, name)),
    )


def _materialize_splits(ctx: Context):
    from etl_master_spark.sources import sinks

    return sinks.materialize_splits(ctx.spark, ctx.data, f"{ctx.out}/splits")


def _check_splits(ctx: Context, frames) -> None:
    splits, negatives = frames
    compare_strict(splits, oracle_frame(ctx, "splits_leave_two_out"))
    compare_strict(negatives, oracle_frame(ctx, "negatives_sample"))


def _gan_eval(ctx: Context):
    from etl_master_spark.model import gan

    return gan.gan_eval_with(
        ctx.spark, ctx.data, modes=GAN_MODES, passes=GAN_PASSES,
        seed=ctx.seed, ks=GAN_KS,
    )


def _collect_modes(ctx: Context, frames: dict) -> pd.DataFrame:
    return pd.concat(
        [df.toPandas().assign(mode=mode) for mode, df in frames.items()],
        ignore_index=True,
    )


SPECIAL_STEPS = {
    "materialize_splits": Step(
        "materialize_splits", "sink", _materialize_splits,
        lambda ctx, frames: tuple(df.toPandas() for df in frames),
        _check_splits,
    ),
    "gan_eval": Step(
        "gan_eval", "model", _gan_eval, _collect_modes, _check_gan_metrics,
    ),
}


def steps(workload: str) -> list[Step]:
    return [SPECIAL_STEPS.get(n) or query_step(n) for n in WORKLOADS[workload]]
