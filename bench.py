"""BENCH harness: runs the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
results as JSON: a <200-char headline line (first and last — the driver
tail-captures stdout), the full {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...} map in between, and the
same untruncated map written to BENCH_DETAIL.json.

Execution is forced with a noop-sink write over the final plan (no
driver-side materialization of wide results — we time the engine, not
pandas transfer). NOT count(): Catalyst prunes cardinality-preserving
operators under count, so a query ending in window/select-only columns
timed 0.4 s while its real evaluation cost 12.4 s (measured round 7 on
event_gaps ×100 — the Window node vanished from the count plan). The
noop sink evaluates every output column and discards rows executor-side.

It is also the one timing primitive of tools/: ``warm`` runs queries once
at ``WARM_DIR`` and ``timed`` times one construction + noop-sink leg under
its own job group (job count, optional timeout). profile_queries.py,
scale_sweep.py, scale_table.py and scale_crossover.py all measure through
them.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: the flagship eval pipeline + one representative per family
BENCH_QUERIES = [
    "eval_metrics_test",
    "splits_leave_two_out",
    "negatives_sample",
    "negatives_reject_invariants",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "top_orders_per_customer",
    "asof_latest_event",
    "purchase_click_attribution",
    "user_event_pivot",
    "small_quantity_part_revenue",
    "event_gaps",
    "nation_pair_trade",
    "returned_item_revenue",
    "customer_order_distribution",
    "large_volume_orders",
    "min_cost_supplier",
    "late_order_priority",
    "nation_year_profit",
    "important_part_values",
    "quarterly_top_supplier",
    "disjunctive_bracket_revenue",
    "sole_late_suppliers",
    "conversion_funnel",
    "weekly_retention",
    "events_trailing_hour",
    "table_profile",
    "revenue_rollup",
    "monthly_revenue_growth",
    "orders_cube",
    "priority_grouping_sets",
    "events_moving_avg",
    "events_hourly",
    "events_sliding_6h",
    "events_hourly_anomalies",
    "shipping_delay_stats",
    "nation_pagerank",
    "event_transitions",
    "user_sessions",
    "user_session_totals",
    "scd2_user_history",
    "snapshot_upsert",
    "fk_integrity_audit",
    "customer_rfm",
    "text_stats",
    "token_counts",
    "word_counts",
    "tfidf_top_terms",
    "bigram_counts",
    "pii_redact",
    "repetition_scores",
    "pack_sequences",
    "contamination_screen",
    "dedup_incremental",
    "chunk_documents",
    "corpus_mixture_weights",
    "co_purchase_pairs",
    "triangle_count",
    "dedup_exact",
    "curated_corpus",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_representatives",
    "duplicate_passages",
    "bm25_search",
    "hashed_tf_vectors",
    "dsir_weights",
    "lm_perplexity_scores",
    "simhash64",
    "simhash64_jvm",
    "stratified_sample",
    "doc_length_percentiles",
    "events_hourly_topk_types",
    "best_epoch_reeval",
    "ann_cosine_topk",
    "kmeans_embeddings",
    "semantic_dedup",
    "dedup_embedding_cosine_lsh_p99",
    "lsh_buckets",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_dedup_clusters",
    "mmd_rbf_fast",
    "media_stats",
    "ann_pq_topk",
    "prior_family_stats",
    # round-4 continuation additions
    "ann_ivfpq_topk",
    "kcenter_coreset",
    "centroid_classify",
    "mmr_rerank",
    "training_shards",
    "pq_index_append",
    "winnow_matches",
    "stratified_sample_threshold",
    "embedding_covariance",
    "zipf_fit",
    "heaps_fit",
    "corpus_entropy",
    "minhash_band_calibration",
    # round-4 second continuation: tokenizer stats + dedup infrastructure
    "simhash_hamming_pairs",
    "bloom_membership_audit",
    "bpe_merge_candidates",
    "pmi_collocations",
    "char_entropy_scores",
    "sq8_quantize_audit",
    "weighted_sample_aes",
    "ngram_novelty",
    "dedup_levenshtein",
    "mahalanobis_outliers",
    "jl_project_audit",
    "association_rules",
    "hard_negatives_mine",
    "tokenizer_fertility",
    "corpus_drift_psi",
    "copurchase_communities",
    "cluster_label_purity",
    "cms_word_counts_audit",
    "hll_cardinality_audit",
    "dp_lang_counts",
    "prf_query_expansion",
    "embedding_drift_audit",
    "distinctive_terms_llr",
    "containment_pairs",
    "events_weekly_seasonality",
    # round-4 third continuation: stats/graph/warehouse widening
    "rake_keywords",
    "readability_scores",
    "events_cusum_changepoint",
    "events_ewma_trailing",
    "link_prediction",
    "join_skew_audit",
    "dim_truncation_recall",
    "incremental_agg_refresh",
    "robust_value_stats",
    "pareto_front_parts",
    "jackknife_revenue_ci",
    "tfidf_doc_similarity",
    "events_seasonal_decompose",
    "theil_sen_revenue_trend",
    "dq_violations_audit",
    "embedding_dim_clip_stats",
    "degree_powerlaw_fit",
    "conversion_latency_stats",
    "source_lang_mix",
    "cross_source_dup_matrix",
    "dup_cluster_size_histogram",
    "woe_priority_encoding",
    "deletion_cascade_audit",
    "event_hour_independence",
    "shipping_survival_curve",
    "ab_conversion_ztest",
    "value_quantile_ranks",
    "events_trailing_dau",
    "revenue_concentration",
    "cohort_ltv_triangle",
    "benford_price_audit",
    "kcore_membership",
    "hash_collision_audit",
    "stratified_kfold_assignment",
    "join_cardinality_estimate",
    "user_behavior_entropy",
    "events_above_mean_streaks",
    "watermark_late_arrivals",
    # round-6 additions: the invariant companions for the two reshaped
    # rows-only queries (each runs its full underlying pipeline)
    "pca_whiten_audit",
    "approx_profiles_audit",
    # round-7: the hot-user skew twins (same oracles as their naive forms)
    "user_sessions_bucketed",
    "event_gaps_bucketed",
    # round-8: bounded top-k dedup faces + skew-router auto-switchover
    "dedup_ngram_jaccard_topk",
    "containment_topk",
    "tfidf_doc_topk",
    "user_sessions_routed",
    "event_gaps_routed",
    # round-9: the candidate-cap recall contract (runs each capped face
    # AND its uncapped banded comparator — the honest price of the audit)
    "neardup_topk_recall_audit",
    # round-10: the cap=64 operating point of the jaccard top-k face,
    # and the SemDeDup scaling-rule face
    "dedup_ngram_jaccard_topk_deep",
    "semantic_dedup_scaled",
]


def _force(df) -> None:
    """Fully evaluate a plan executor-side (see module docstring: count()
    lets Catalyst prune window/projection work; the noop sink does not)."""
    df.write.format("noop").mode("overwrite").save()


# the warm-up scale: plan-shape costs (whole-stage codegen compile,
# broadcast and window operator init) are per-plan-shape, not per-data-size
WARM_DIR = "/root/testdata/sf0.001"


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


def warm(spark, names, sf: str = WARM_DIR) -> dict[str, str]:
    """Run each registered query once at ``sf`` so later timings measure
    the engine, not first-touch JVM costs. Returns {name: error} for the
    queries that failed; one broken query never stops the others (round 1
    lost its BENCH artifact to one AnalysisException)."""
    from etl_master_spark.plans.registry import QUERIES

    errors = {}
    for name in names:
        try:
            _force(QUERIES[name](spark, sf))
        except Exception as e:  # noqa: BLE001
            errors[name] = _err(e)
            print(f"WARM FAIL {name}: {errors[name]}", file=sys.stderr)
    return errors


def timed(spark, fn, sf: str, timeout: float | None = None) -> dict:
    """One timed leg of ``fn(spark, sf)``: construction, then evaluation
    through the noop sink, under a job group of its own.

    Returns {"construct_s", "exec_s", "jobs", "error"}. Construction is
    timed too: iterative kernels (LPA, k-core, rejection sampling) launch
    jobs while BUILDING the frame, and the group counts those jobs with the
    sink's. With a ``timeout`` a watchdog cancels the group once it fires
    and the leg reports a ``timeout>…`` error; without one no timer starts.
    """
    sc = spark.sparkContext
    group = f"timed-{time.monotonic_ns()}"
    fired = threading.Event()

    def cancel() -> None:
        fired.set()
        sc.cancelJobGroup(group)

    leg = {"construct_s": None, "exec_s": None, "jobs": 0, "error": None}
    sc.setJobGroup(group, group, interruptOnCancel=timeout is not None)
    watchdog = threading.Timer(timeout, cancel) if timeout is not None else None
    if watchdog:
        watchdog.start()
    t0 = time.time()
    try:
        df = fn(spark, sf)
        t1 = time.time()
        _force(df)
        t2 = time.time()
        leg["construct_s"], leg["exec_s"] = round(t1 - t0, 3), round(t2 - t1, 3)
        # cancelJobGroup interrupts only the jobs running when the timer
        # fires; one that fires in a driver-side gap of an iterative
        # kernel lets the rest finish, and that is still a timeout
        if fired.is_set() or (timeout is not None and t2 - t0 > timeout):
            leg["error"] = f"timeout>{timeout:.0f}s (ran {t2 - t0:.0f}s)"
    except Exception as e:  # noqa: BLE001 - returned, not swallowed
        leg["error"] = f"timeout>{timeout:.0f}s" if fired.is_set() else _err(e)
    finally:
        if watchdog:
            watchdog.cancel()
        sc.setJobGroup("", "")
        leg["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group) or [])
    return leg


def wall(leg: dict) -> float:
    """A leg's construction plus evaluation seconds."""
    return round(leg["construct_s"] + leg["exec_s"], 3)


def main() -> None:
    from etl_master_spark import memo
    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    spark = get_spark(app_name="etl_master_spark_bench", long_lived=True)
    # warm the JVM once so per-query times measure the engine: parquet
    # footer machinery, then every benched query once at WARM_DIR
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    errors: dict[str, str] = {}
    if os.path.isdir(WARM_DIR) and WARM_DIR != SF_DIR:
        errors.update(warm(spark, BENCH_QUERIES))
        spark.catalog.clearCache()

    # three interleaved timed passes, keep the per-query minimum: the host's
    # vCPUs are shared and a noisy-neighbor window can inflate a single
    # measurement 5-30x; interleaving means a slow window hits different
    # queries in each pass, and min() recovers the engine's real cost
    # (round 4: 2 -> 3 passes — the min of two still swung ~10% run-to-run)
    timings: dict[str, float] = {}
    for _ in range(3):
        for name in BENCH_QUERIES:
            if name in errors:
                continue
            leg = timed(spark, QUERIES[name], SF_DIR)
            if leg["error"]:
                errors[name] = leg["error"]
                print(f"BENCH FAIL {name}: {errors[name]}", file=sys.stderr)
                continue
            timings[name] = min(wall(leg), timings.get(name, float("inf")))

    # Memo-honest cold twins (r6 verdict item 6): the interleaved passes'
    # min() reads the memo-WARM cost of every face behind a session memo —
    # honest for a pipeline that genuinely reuses the value, but it hides
    # what a fresh session pays. Clear each memo and time one
    # representative face once, reported as its own _cold key (NOT added
    # to the headline total, which stays the memo-warm pipeline).
    cold: dict[str, float] = {}
    for memo_name, name in {
        "negatives_reject": "negatives_sample_reject",
        "lsh_index": "minhash_lsh_pairs",
        "pq_append_codebook": "pq_index_append",
        "kmeans_train": "kmeans_embeddings",
    }.items():
        memo.clear(memo_name)
        leg = timed(spark, QUERIES[name], SF_DIR)
        if leg["error"]:
            errors[f"{name}_cold"] = leg["error"]
        else:
            cold[f"{name}_cold"] = wall(leg)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if cold:
        # memo-bypassed diagnostics; see the cold-twin comment above
        out["cold"] = cold
    if errors:
        out["errors"] = errors
    # The round driver captures only a 2000-char TAIL of stdout and tries
    # to parse a JSON line out of it; the full per-query map (~170 queries)
    # overflows that, which left BENCH_r04/r05 with parsed=null. Emit a
    # <200-char headline line FIRST (human/head readers), the full map in
    # the middle, and the SAME compact line LAST so the tail always ends
    # with one complete parseable JSON line whichever line the driver
    # picks. The untruncated detail also lands in BENCH_DETAIL.json.
    headline = {
        "metric": "headline_queries_total_sec",
        "value": out["value"],
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "flagship_sec": timings.get("eval_metrics_test"),
        "sf": sf_val,
        "detail": "BENCH_DETAIL.json",
    }
    Path(REPO, "BENCH_DETAIL.json").write_text(json.dumps(out, indent=1))
    print(json.dumps(headline))
    print(json.dumps(out))
    # Per-query driver visibility (r11; r10 verdict item 2a): the full
    # map above is ONE >2000-char line, so the driver's tail capture
    # always cuts it mid-stream and its PERF builder got per_query={} /
    # n_common=0 two rounds running. Re-emit every timing as its own
    # <200-char JSON line the tail parser can reassemble, sorted
    # cheapest-first so the ~2000-char tail window ends with the MOST
    # EXPENSIVE queries (the ones whose regressions matter). The compact
    # headline stays the LAST line, exactly as before, so whichever line
    # the driver picks from the tail still parses. Timing methodology,
    # headline value and the queries map are unchanged — this is an
    # output-format fix only (documented in OPTIMIZATION_r11.md).
    for q_name, q_sec in sorted(
        timings.items(), key=lambda kv: (kv[1], kv[0])
    ):
        print(json.dumps({"q": q_name, "sec": q_sec}))
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
