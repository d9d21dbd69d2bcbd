"""Aggregation / bookkeeping operators — SURVEY.md §2.2 E11–E14, §2.4 F1–F4.

The reference tracks per-epoch loss means in Python lists
(``main_my.py:139-150,257-263``) and selects best epochs with a running-max
driver loop (``main_my.py:302-320``). Relationalized: a metrics-history
DataFrame + grouped averages + a window argmax. The driver's `events` table
stands in for the training telemetry stream (epoch := event_id % N — a
deterministic fold of the log into epochs).

Scale: plain grouped aggregations — map-side partial aggregation makes these
one light shuffle regardless of input size; the argmax window partitions by
metric name (tiny cardinality) AFTER the heavy aggregation has reduced the
data to |epochs|×|metrics| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table

N_EPOCHS_FOLD = 20  # folds event_id into a synthetic epoch axis


# -- E13: per-epoch loss means ----------------------------------------------

def loss_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``np.mean(batch_loss_list)`` per epoch per loss-kind
    (reference ``main_my.py:257-263``) — event_type plays the loss kind."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("epoch", (F.col("event_id") % N_EPOCHS_FOLD).cast("bigint"))
        .groupBy("epoch", F.col("event_type").alias("loss_kind"))
        .agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.round(F.avg("value"), 6).alias("mean_loss"),
        )
        .orderBy("epoch", "loss_kind")
    )


LOSS_MEANS_ORACLE = f"""
SELECT CAST(event_id % {N_EPOCHS_FOLD} AS BIGINT) AS epoch,
       event_type AS loss_kind,
       COUNT(*) AS n_batches,
       ROUND(AVG(value), 6) AS mean_loss
FROM events
GROUP BY 1, 2
ORDER BY epoch, loss_kind
"""


# -- E12: best-over-history selection ---------------------------------------

def best_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best epoch per metric (reference running ``if avg > best`` loop,
    ``main_my.py:302-320``). Ties broken toward the EARLIER epoch, matching
    the reference's strict ``>`` comparison (later equal epochs don't win)."""
    lm = loss_means(spark, sf_dir)
    w = Window.partitionBy("loss_kind").orderBy(
        F.col("mean_loss").desc(), F.col("epoch").asc()
    )
    return (
        lm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("loss_kind").alias("metric"),
            F.col("epoch").alias("best_epoch"),
            F.col("mean_loss").alias("best_value"),
        )
        .orderBy("metric")
    )


BEST_EPOCH_ORACLE = f"""
WITH lm AS (
    SELECT CAST(event_id % {N_EPOCHS_FOLD} AS BIGINT) AS epoch,
           event_type AS loss_kind,
           ROUND(AVG(value), 6) AS mean_loss
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT loss_kind, epoch, mean_loss,
           ROW_NUMBER() OVER (
               PARTITION BY loss_kind ORDER BY mean_loss DESC, epoch ASC
           ) AS rn
    FROM lm
)
SELECT loss_kind AS metric, epoch AS best_epoch, mean_loss AS best_value
FROM ranked WHERE rn = 1
ORDER BY metric
"""


# -- R7: best-checkpoint re-evaluation lifecycle -----------------------------

REEVAL_KS = [5, 10]  # reference re-tests its best checkpoints at K∈{5,10}


def best_epoch_reeval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7's second half (reference ``main_my.py:350-375``): the reference
    reloads each per-metric BEST checkpoint (selected on validation) and
    re-evaluates it on TEST at K∈{5,10}. Relational spelling over the
    telemetry stream: fold events into a vali/test pair of histories
    (event_id parity), argmax each metric's epoch on the VALI side (strict
    ``>`` — earlier epoch wins ties, like ``best_epoch``), then re-score
    that epoch's TEST-side rows at each K — mean of the top-K values per
    metric (value desc, event_id tiebreak).

    Plan shape: two grouped aggregations + one tiny (|metrics| rows)
    broadcast join + a per-metric window over only the selected epochs'
    rows — the selection join prunes the window input before it shuffles.
    The checkpoint-reload composition with REAL model weights is each
    model family's ``load_checkpoint`` → ``scores`` → ``scoring.evaluate``
    (e.g. ALS parquet factors round-trip), pinned by tests/test_model.py."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("event_id") % N_EPOCHS_FOLD).cast("bigint").alias("epoch"),
        F.col("event_type").alias("loss_kind"),
        "event_id",
        "value",
        # 0=vali 1=test — epoch-BLOCK parity, not event parity: event_id%2
        # correlates with epoch=event_id%20 (both even moduli) and would
        # leave vali epochs with zero test rows
        F.pmod(F.expr("event_id div 20"), F.lit(2)).alias("side"),
    )
    vali = (
        base.filter(F.col("side") == 0)
        .groupBy("epoch", "loss_kind")
        .agg(F.round(F.avg("value"), 6).alias("mean_loss"))
    )
    w = Window.partitionBy("loss_kind").orderBy(
        F.col("mean_loss").desc(), F.col("epoch").asc()
    )
    best = (
        vali.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        # renamed: `best` shares lineage with `base`, so the join below
        # must use disjoint column names to stay unambiguous
        .select(
            F.col("loss_kind").alias("best_kind"),
            F.col("epoch").alias("best_epoch"),
        )
    )
    test_rows = (
        base.filter(F.col("side") == 1)
        .join(
            F.broadcast(best),
            (F.col("loss_kind") == F.col("best_kind"))
            & (F.col("epoch") == F.col("best_epoch")),
        )
        .select("loss_kind", "best_epoch", "event_id", "value")
    )
    wk = Window.partitionBy("loss_kind").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    ranked = test_rows.withColumn("rn", F.row_number().over(wk))
    ks = spark.createDataFrame([(k,) for k in REEVAL_KS], "k int")
    return (
        ranked.join(F.broadcast(ks), F.col("rn") <= F.col("k"))
        .groupBy(F.col("loss_kind").alias("metric"), "best_epoch", "k")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.round(F.avg("value"), 6).alias("reeval_value"),
        )
        .orderBy("metric", "k")
    )


BEST_EPOCH_REEVAL_ORACLE = f"""
WITH base AS (
    SELECT CAST(event_id % {N_EPOCHS_FOLD} AS BIGINT) AS epoch,
           event_type AS loss_kind, event_id, value,
           (event_id // 20) % 2 AS side
    FROM events
),
vali AS (
    SELECT epoch, loss_kind, ROUND(AVG(value), 6) AS mean_loss
    FROM base WHERE side = 0 GROUP BY epoch, loss_kind
),
best AS (
    SELECT loss_kind, epoch AS best_epoch FROM (
        SELECT loss_kind, epoch,
               ROW_NUMBER() OVER (
                   PARTITION BY loss_kind ORDER BY mean_loss DESC, epoch ASC
               ) AS rn
        FROM vali
    ) WHERE rn = 1
),
ranked AS (
    SELECT b.loss_kind, s.best_epoch, b.event_id, b.value,
           ROW_NUMBER() OVER (
               PARTITION BY b.loss_kind ORDER BY b.value DESC, b.event_id ASC
           ) AS rn
    FROM base b JOIN best s
      ON b.loss_kind = s.loss_kind AND b.epoch = s.best_epoch
    WHERE b.side = 1
)
SELECT r.loss_kind AS metric, r.best_epoch, k.k,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(AVG(r.value), 6) AS reeval_value
FROM ranked r JOIN (SELECT unnest({REEVAL_KS}) AS k) k ON r.rn <= k.k
GROUP BY r.loss_kind, r.best_epoch, k.k
ORDER BY metric, k
"""


# -- E11: labeled union (the discriminator's real/fake batch) ----------------

def union_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``torch.cat([true, fake]) + [1...,0...]`` (reference
    ``main_my.py:198-201``): union two event families under a label column
    and aggregate per label."""
    ev = load_table(spark, sf_dir, "events")
    real = ev.filter(F.col("event_type") == "purchase").withColumn(
        "label", F.lit(1)
    )
    fake = ev.filter(F.col("event_type") == "click").withColumn("label", F.lit(0))
    return (
        real.unionByName(fake)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
        .orderBy("label")
    )


UNION_LABELS_ORACLE = """
WITH unioned AS (
    SELECT value, 1 AS label FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT value, 0 AS label FROM events WHERE event_type = 'click'
)
SELECT label, COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_value
FROM unioned GROUP BY label ORDER BY label
"""


# -- F1/F2: scalar function surface (sigmoid & friends) ----------------------

def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar math surface (``main_my.py:58-59`` sigmoid —
    dead code there, live here; log/pow/reciprocal of ``my_utils.py:78-79``)
    applied over the events value column, aggregated for a compact check."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("value") / F.lit(100.0)
    return (
        ev.select(
            F.col("event_type"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-x))).alias("sig"),
            F.log(x + F.lit(1.0)).alias("lg"),
            F.pow(x, F.lit(2.0)).alias("sq"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("sig"), 6).alias("mean_sigmoid"),
            F.round(F.avg("lg"), 6).alias("mean_log1p"),
            F.round(F.avg("sq"), 6).alias("mean_square"),
        )
        .orderBy("event_type")
    )


SCALAR_FUNCTIONS_ORACLE = """
SELECT event_type,
       ROUND(AVG(1.0 / (1.0 + EXP(-(value / 100.0)))), 6) AS mean_sigmoid,
       ROUND(AVG(LN(value / 100.0 + 1.0)), 6) AS mean_log1p,
       ROUND(AVG(POW(value / 100.0, 2.0)), 6) AS mean_square
FROM events GROUP BY event_type ORDER BY event_type
"""
