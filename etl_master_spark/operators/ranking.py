"""Ranking / evaluation operators — SURVEY.md §2.3 R1–R7.

The reference evaluates by scoring ALL items per user, then gathering 100
candidates (99 sampled negatives + the held-out positive, positive always at
index 99) and computing HR/NDCG/MRR@K from an argsort
(``my_utils.py:70-152``). The Spark spelling inverts that into a join-first
plan — score only the candidates, never the full catalog — which is the
single biggest asymptotic win over the reference (it scores |users|×|items|;
we score |users|×100). The index-99 convention becomes an explicit
``is_pos`` flag (SURVEY.md §7.4).

Metric semantics preserved exactly (``my_utils.py:70-80``):
- HR@K   = 1 if the positive ranks ≤ K else 0
- NDCG@K = ln(2)/ln(rank+1) at the hit rank (single relevant ⇒ IDCG=1)
- MRR@K  = 1/rank, K-truncated (0 on miss)
macro-averaged over users per domain (``my_utils.py:145-150``).

The scoring model here is the engine's deterministic baseline: train-split
item popularity plus a portable-hash jitter (tie-spreader). Model-produced
scores (ALS / CDAE / GAN, see etl_master_spark.model) plug into the same
pipeline via ``eval_from_scores``, which assembles their candidates and runs
the same ``hit_ranks`` → ``metrics_from_hit_ranks`` pair as the flagship.

Scale: one shuffle to build popularity (map-side combined), one broadcast
join (popularity dim ≪ interactions), one window over (user, domain) whose
cardinality ≫ cores. No full-catalog scoring, no driver collect.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import PHASH_P, phash_frag
from ..sources.io import RATINGS_SQL
from .recsplit import _RANKED_CTE, NEGATIVES_ORACLE, split_data

JITTER_SEED = 7  # decorrelates the deterministic baseline scores from rank order
DEFAULT_KS = [5, 10]  # reference topK_list (main_my.py:28)


def candidate_scores(
    spark: SparkSession, sf_dir: str, mode: str = "test"
) -> DataFrame:
    """(user_id, item_id, domain, is_pos, score) for the 100-candidate eval.

    ``mode`` selects the held-out positive: 'vali' or 'test' (the reference's
    mode switch, ``my_utils.py:92-103``).
    """
    if mode not in ("vali", "test"):
        raise ValueError(f"mode must be 'vali' or 'test', got {mode!r}")
    # ONE scan + ONE shuffle feeds every branch (splits, negatives,
    # popularity): the grouped per-user frame is |users|-sized — tiny
    # relative to the interactions — so caching it is the 100 TB-safe way
    # to stop the optimizer re-deriving ratings 7× (measured: 7 parquet
    # scans, 24 exchanges without this; 1 scan with it).
    data = split_data(spark, sf_dir, cache=True)
    pos = data.holdout(mode).withColumn("is_pos", F.lit(1))
    cand = data.negatives.select(
        "user_id", "item_id", "domain", F.lit(0).alias("is_pos")
    ).unionByName(pos)

    train = data.splits.filter(F.col("split") == "train")
    pop = train.groupBy("domain", "item_id").agg(F.count(F.lit(1)).alias("pop"))
    return score_candidates(cand, pop)


def score_candidates(cand: DataFrame, pop: DataFrame) -> DataFrame:
    """Attach the deterministic baseline score (train popularity +
    portable-hash jitter) to a candidate frame — the single scoring
    spelling shared by the batch pipeline and the incremental streaming
    eval (streaming/eval_stream.py), so the two can never drift."""
    jitter = (
        F.expr(phash_frag("user_id", "item_id", seed=JITTER_SEED)).cast("double")
        / F.lit(float(PHASH_P))
    )
    return (
        cand.join(F.broadcast(pop), ["domain", "item_id"], "left")
        .withColumn(
            "score", F.coalesce(F.col("pop"), F.lit(0)).cast("double") + jitter
        )
        .select("user_id", "item_id", "domain", "is_pos", "score")
    )


def _cand_sql(mode: str) -> str:
    """Portable SQL mirror of candidate_scores (shared CTE text)."""
    jitter = (
        f"(CAST({phash_frag('c.user_id', 'c.item_id', seed=JITTER_SEED)} AS DOUBLE)"
        f" / CAST({PHASH_P} AS DOUBLE))"
    )
    return f"""
neg AS (
    SELECT user_id, item_id, domain, 0 AS is_pos
    FROM ({NEGATIVES_ORACLE})
),
pos AS (
    SELECT user_id, item_id, domain, 1 AS is_pos FROM ranked
    WHERE {"rn = 1" if mode == "vali" else "(cnt >= 2 AND rn = 2) OR (cnt = 1 AND rn = 1)"}
),
cand AS (SELECT * FROM neg UNION ALL SELECT * FROM pos),
train AS (
    SELECT user_id, item_id, domain FROM ranked
    WHERE rn >= 3 OR (cnt = 2 AND rn = 2)
),
pop AS (
    SELECT domain, item_id, COUNT(*) AS pop
    FROM train GROUP BY domain, item_id
),
scored AS (
    SELECT c.user_id, c.item_id, c.domain, c.is_pos,
           CAST(COALESCE(p.pop, 0) AS DOUBLE) + {jitter} AS score
    FROM cand c
    LEFT JOIN pop p ON c.domain = p.domain AND c.item_id = p.item_id
)
"""


def ranked_candidates(
    spark: SparkSession, sf_dir: str, mode: str = "test"
) -> DataFrame:
    """R1: per-(user, domain) dense candidate ranking by score desc
    (``my_utils.py:71`` argsort; item_id tie-break for argsort stability)."""
    scored = candidate_scores(spark, sf_dir, mode)
    w = Window.partitionBy("user_id", "domain").orderBy(
        F.col("score").desc(), F.col("item_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("int"))


def topk_per_user(
    spark: SparkSession, sf_dir: str, mode: str = "test", k: int = 10
) -> DataFrame:
    """Top-K candidate items per user (R1 output surface)."""
    return (
        ranked_candidates(spark, sf_dir, mode)
        .filter(F.col("rank") <= k)
        .select(
            "user_id",
            "item_id",
            "domain",
            "is_pos",
            "rank",
            F.round("score", 6).alias("score"),
        )
    )


def topk_oracle(mode: str = "test", k: int = 10) -> str:
    return f"""
WITH ratings AS ({RATINGS_SQL}),
{_RANKED_CTE},
{_cand_sql(mode)},
rr AS (
    SELECT user_id, item_id, domain, is_pos, score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id, domain
               ORDER BY score DESC, item_id ASC
           ) AS INT) AS rank
    FROM scored
)
SELECT user_id, item_id, domain, is_pos, rank, ROUND(score, 6) AS score
FROM rr WHERE rank <= {k}
"""


def eval_metrics(
    spark: SparkSession,
    sf_dir: str,
    mode: str = "test",
    ks: list[int] | None = None,
) -> DataFrame:
    """R2–R5 + R7: HR/NDCG/MRR at each K in one pass, macro-averaged per
    domain. This is the engine's flagship query (SURVEY.md §3.3)."""
    ks = ks or DEFAULT_KS
    # Only the POSITIVE's rank matters, so don't row_number-sort all 100
    # candidates per user (a full sort of |users|×100 rows): two UNORDERED
    # windows over (user, domain) — hash shuffle + partition-buffer scan,
    # no sort operator — broadcast the positive's (score, item) to its
    # group, then hit_rank = 1 + #candidates strictly ahead under the same
    # (score DESC, item_id ASC) order ranked_candidates uses. Same result
    # as min(rank where is_pos) by construction; measured ~2× on the eval
    # stage at 8.5M interactions. topk_per_user keeps the true row_number
    # (its output IS the ranking).
    scored = candidate_scores(spark, sf_dir, mode)
    return metrics_from_hit_ranks(hit_ranks(scored), ks)


def hit_ranks(scored: DataFrame) -> DataFrame:
    """Per-(user, domain) rank of the positive candidate — the one rank
    step of every eval: the batch flagship, the model layer's
    ``eval_from_scores`` and the streaming twin (which upserts exactly
    this frame as its per-user state)."""
    w_grp = Window.partitionBy("user_id", "domain")
    pos_score = F.max(F.when(F.col("is_pos") == 1, F.col("score"))).over(w_grp)
    pos_item = F.max(F.when(F.col("is_pos") == 1, F.col("item_id"))).over(w_grp)
    beats = (F.col("score") > pos_score) | (
        (F.col("score") == pos_score) & (F.col("item_id") < pos_item)
    )
    return (
        scored.withColumn("beaten", F.when(beats, 1).otherwise(0))
        .groupBy("user_id", "domain")
        .agg((F.lit(1) + F.sum("beaten")).cast("int").alias("hit_rank"))
    )


def metrics_from_hit_ranks(per_user: DataFrame, ks: list[int]) -> DataFrame:
    """HR/NDCG/MRR@K macro-averages from a (user_id, domain, hit_rank)
    frame — the one metric step of every eval (batch, model, streaming)."""
    spark = per_user.sparkSession
    with_k = per_user.join(
        F.broadcast(
            spark.createDataFrame([(k,) for k in ks], "k int")
        ),
        how="cross",
    )
    hit = F.col("hit_rank") <= F.col("k")
    per_user_k = with_k.select(
        "user_id",
        "domain",
        "k",
        F.when(hit, F.lit(1.0)).otherwise(F.lit(0.0)).alias("hr"),
        F.when(
            hit,
            F.log(F.lit(2.0)) / F.log(F.col("hit_rank").cast("double") + F.lit(1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
        F.when(hit, F.lit(1.0) / F.col("hit_rank").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("mrr"),
    )
    return (
        per_user_k.groupBy("domain", "k")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("hr"), 6).alias("hr"),
            F.round(F.avg("ndcg"), 6).alias("ndcg"),
            F.round(F.avg("mrr"), 6).alias("mrr"),
        )
        .orderBy("domain", "k")
    )


def _metrics_sql(ks: list[int]) -> str:
    """The rank→HR/NDCG/MRR@K tail of every eval oracle, over a ``scored``
    CTE (user_id, item_id, domain, is_pos, score): a true ``ROW_NUMBER``
    ranking and ``MIN(rank)`` of the positive — a reference independent of
    the Spark side's count-ahead ``hit_ranks``."""
    ks_sql = " UNION ALL ".join(f"SELECT {k} AS k" for k in ks)
    return f"""
rr AS (
    SELECT user_id, domain, is_pos,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, domain
               ORDER BY score DESC, item_id ASC
           ) AS rank
    FROM scored
),
per_user AS (
    SELECT user_id, domain,
           MIN(CASE WHEN is_pos = 1 THEN rank END) AS hit_rank
    FROM rr GROUP BY user_id, domain
),
ks AS ({ks_sql}),
per_user_k AS (
    SELECT u.user_id, u.domain, ks.k,
           CASE WHEN u.hit_rank <= ks.k THEN 1.0 ELSE 0.0 END AS hr,
           CASE WHEN u.hit_rank <= ks.k
                THEN LN(2.0) / LN(CAST(u.hit_rank AS DOUBLE) + 1.0)
                ELSE 0.0 END AS ndcg,
           CASE WHEN u.hit_rank <= ks.k
                THEN 1.0 / CAST(u.hit_rank AS DOUBLE)
                ELSE 0.0 END AS mrr
    FROM per_user u CROSS JOIN ks
)
SELECT domain, k,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(hr), 6) AS hr,
       ROUND(AVG(ndcg), 6) AS ndcg,
       ROUND(AVG(mrr), 6) AS mrr
FROM per_user_k
GROUP BY domain, k
ORDER BY domain, k
"""


def eval_metrics_oracle(mode: str = "test", ks: list[int] | None = None) -> str:
    return f"""
WITH ratings AS ({RATINGS_SQL}),
{_RANKED_CTE},
{_cand_sql(mode)},
{_metrics_sql(ks or DEFAULT_KS)}"""


def eval_from_scores(
    scores: DataFrame, holdout: DataFrame, negs: DataFrame, ks: list[int] | None = None
) -> DataFrame:
    """R6 generalized: evaluate ANY model's scores DataFrame
    (user_id, item_id, domain, score) against a holdout + negatives pair.
    Used by the model path (etl_master_spark.model): the candidates
    (negatives + the positive) take their model score, 0.0 where the model
    scored none, then run ``eval_metrics``' own rank→metric pair."""
    pos = holdout.select("user_id", "item_id", "domain", F.lit(1).alias("is_pos"))
    cand = negs.select(
        "user_id", "item_id", "domain", F.lit(0).alias("is_pos")
    ).unionByName(pos)
    scored = cand.join(scores, ["user_id", "item_id", "domain"], "left").fillna(
        {"score": 0.0}
    )
    return metrics_from_hit_ranks(hit_ranks(scored), ks or DEFAULT_KS)


# -- frozen-scores eval: makes model evals oracle-checkable ------------------
# The training half of the model path (ALS/CDAE/GAN) is not SQL-expressible,
# but the EVAL half is the same rank->HR/NDCG/MRR pipeline as eval_metrics.
# freeze_and_eval snapshots the trained scorer's (scores, holdout,
# negatives) to repo-local parquet and evaluates FROM the frozen copies, so
# a DuckDB oracle can replay the eval half on byte-identical inputs — the
# driver's hash check then covers everything downstream of training.

FROZEN_EVAL_DIR = str(
    Path(__file__).resolve().parents[2] / ".artifacts" / "frozen_eval"
)
GATE_SF_NAME = "sf0.01"  # the round driver's correctness gate scale


def freeze_and_eval(
    scores: DataFrame,
    holdout: DataFrame,
    negs: DataFrame,
    tag: str,
    sf_dir: str,
    ks: list[int] | None = None,
    fingerprint: str = "",
) -> DataFrame:
    """Write (scores, holdout, negatives) to
    ``.artifacts/frozen_eval/<tag>/<sfname>/`` and evaluate from the
    frozen parquet. COMPUTE-IF-MISSING (the reference's S2 split-cache
    semantics, ``my_utils.py``): an existing freeze is reused — training
    is seeded-deterministic so a re-freeze writes the same values, and
    skipping it keeps the committed gate-scale artifacts byte-stable
    across verification runs instead of churning part-file UUIDs.

    Reuse is gated on TWO markers, so a stale or torn freeze cannot
    silently serve old metrics: (a) every frame directory must carry
    Spark's ``_SUCCESS`` (a crashed prior write is re-frozen, never
    trusted), and (b) ``meta.json``'s fingerprint must equal the
    caller's ``fingerprint`` (the model's training-config constants —
    change a hyperparameter and the freeze invalidates itself instead
    of masking the change behind cached scores)."""
    import json as _json
    import os
    import shutil

    spark = scores.sparkSession
    base = os.path.join(FROZEN_EVAL_DIR, tag, os.path.basename(sf_dir.rstrip("/")))
    frames = {
        "scores": scores.select(
            "user_id", "item_id", "domain", F.col("score").cast("double")
        ),
        "holdout": holdout.select("user_id", "item_id", "domain"),
        "negatives": negs.select("user_id", "item_id", "domain"),
    }
    meta_path = os.path.join(base, "meta.json")
    complete = all(
        os.path.exists(os.path.join(base, name, "_SUCCESS")) for name in frames
    )
    if complete:
        # an empty fingerprint is a MISMATCH, not a bypass: a caller that
        # forgets the argument must re-freeze, never silently reuse a
        # stale freeze (r4 ADVICE — the exact failure mode this gate
        # exists to prevent)
        try:
            with open(meta_path) as fh:
                frozen_fp = _json.load(fh).get("fingerprint")
        except (OSError, ValueError):
            frozen_fp = None
        complete = bool(fingerprint) and frozen_fp == fingerprint
    if not complete and os.path.isdir(base):
        shutil.rmtree(base)
    out = {}
    for name, df in frames.items():
        path = os.path.join(base, name)
        if not complete:
            df.coalesce(1).write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    if not complete:
        os.makedirs(base, exist_ok=True)
        with open(meta_path, "w") as fh:
            _json.dump({"fingerprint": fingerprint}, fh)
    return eval_from_scores(
        out["scores"], out["holdout"], out["negatives"], ks=ks
    )


def _scored_sql(ks: list[int]) -> str:
    """``eval_from_scores`` in SQL over relations ``sc`` (scores),
    ``hold`` and ``negs``: the same candidate assembly (negatives + one
    positive, 0.0 for an unscored candidate), then ``_metrics_sql``."""
    return f"""
cand AS (
    SELECT user_id, item_id, domain, 0 AS is_pos FROM negs
    UNION ALL
    SELECT user_id, item_id, domain, 1 AS is_pos FROM hold
),
scored AS (
    SELECT c.user_id, c.item_id, c.domain, c.is_pos,
           COALESCE(s.score, 0.0) AS score
    FROM cand c LEFT JOIN sc s
      ON c.user_id = s.user_id AND c.item_id = s.item_id
     AND c.domain = s.domain
),
{_metrics_sql(ks)}"""


def frozen_eval_oracle(
    tag: str, ks: list[int] | None = None, sf_name: str = GATE_SF_NAME
) -> str:
    """DuckDB replay of ``eval_from_scores`` over the frozen parquet —
    by default the driver's gate scale (the registry's static
    ``oracle_sql()`` string must name ONE path, and the driver gates at
    sf0.01); tests replaying another scale pass its ``sf_name`` so the
    oracle reads the artifacts the query just froze."""
    base = f"{FROZEN_EVAL_DIR}/{tag}/{sf_name}"
    return f"""
WITH sc AS (SELECT * FROM read_parquet('{base}/scores/*.parquet')),
hold AS (SELECT * FROM read_parquet('{base}/holdout/*.parquet')),
negs AS (SELECT * FROM read_parquet('{base}/negatives/*.parquet')),
{_scored_sql(ks or DEFAULT_KS)}"""
