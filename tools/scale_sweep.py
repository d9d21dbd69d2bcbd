"""Full-registry ×N scaling ledger: time EVERY registered query at ×1 vs
the on-disk ×N replica and record wall ratios, so no query's scale story
rests on family membership alone.

Rounds 3-7 measured ×100 per FAMILY (SCALE.md); each campaign caught real
scale bugs (the dup-density replica, the orders-shift broken join, the
Expand rewrite, the count() under-measurement, two superlinear round-7
windows). This tool closes the asymptote: a resumable JSONL ledger with one
row per registered query — measured, or skipped with a stated reason. No
silent caps: every exclusion is written to the ledger with its contract.

Skips (all recorded as ledger rows):
- REPLICA_UNSUPPORTED (scale_table): events.user_id ⋈ customer-key joins
  that the per-copy user_id shift breaks — only copy 0 would match.
- frozen-scores evals (als/cdae/gan_eval_test): their oracle fixture is
  ×1-bound by design; TRAINING at ×100 ratings is measured in SCALE.md
  round 6 (1.3×/1.04× wall).
- exact pairwise MMD (mmd_rbf, mmd_rbf_multiscale): O(n²) by contract;
  the scale path is mmd_rbf_fast (BLAS Gram blocks, measured ×100 r5).

Timing protocol matches bench.py: full evaluation through the noop sink
(count() lets Catalyst prune cardinality-preserving operators — the round-7
event_gaps lesson), plan shapes warmed once at sf0.001, one measured run
per scale (the ledger flags ratios, not absolute jitter; anything flagged
gets a best-of-2 re-measure before it is believed). Queries run
cheapest-first (by the BENCH_DETAIL ×1 ordering) so the ledger fills fast
and an interrupted run still covers most of the registry.

A watchdog cancels any single (construction + evaluation) that exceeds
--timeout seconds (default 900) via job-group cancel and records a
``timeout`` row — a ×100 timeout on a query whose ×1 is sub-second is
exactly the superlinear smoke this sweep exists to surface.

Usage: python tools/scale_sweep.py [--mult N] [--timeout S] [query ...]
  default: all registered queries not yet in the ledger
  (SCALE_SWEEP.jsonl at the repo root; delete a line to re-measure it).
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench
from tools.scale_table import BASE_SF, REPLICA_UNSUPPORTED, build_replica

LEDGER = REPO / "SCALE_SWEEP.jsonl"

SKIP_REASONS = {
    **{
        n: "joins events.user_id to customer keys — the per-copy user_id "
        "shift breaks the join on a replica (only copy 0 matches); "
        "measured at real SF dirs instead (scale_table REPLICA_UNSUPPORTED)"
        for n in REPLICA_UNSUPPORTED
    },
    "als_eval_test": "frozen-scores fixture oracle is ×1-bound; ALS "
    "training measured at ×100 ratings in SCALE.md round 6 (1.3× wall)",
    "cdae_eval_test": "frozen-scores fixture oracle is ×1-bound; CDAE "
    "training measured at ×100 ratings in SCALE.md round 6",
    "gan_eval_test": "frozen-scores fixture oracle is ×1-bound; GAN "
    "training measured at ×100 ratings in SCALE.md round 6 (1.04× wall)",
    "mmd_rbf": "exact pairwise MMD is O(n²) by contract; the scale path "
    "is mmd_rbf_fast (BLAS Gram blocks), measured ×100 in round 5",
    "mmd_rbf_multiscale": "exact pairwise multiscale MMD is O(n²) by "
    "contract; the scale path is mmd_rbf_fast, measured ×100 in round 5",
}


def _timed(spark, fn, sf: str, timeout: float):
    """(construction + noop evaluation) under a job-group watchdog.

    Construction is included on purpose: iterative kernels (LPA, k-core,
    rejection sampling) launch jobs while BUILDING the frame, and those
    jobs are the scale cost being measured."""
    sc = spark.sparkContext
    group = f"sweep-{time.monotonic_ns()}"
    timed_out = threading.Event()

    def cancel() -> None:
        timed_out.set()
        sc.cancelJobGroup(group)

    sc.setJobGroup(group, group, interruptOnCancel=True)
    watchdog = threading.Timer(timeout, cancel)
    watchdog.start()
    t0 = time.time()
    try:
        bench._force(fn(spark, sf))
        elapsed = round(time.time() - t0, 3)
        # cancelJobGroup only interrupts jobs ACTIVE when the timer fired;
        # if it fired during a driver-side gap of an iterative kernel the
        # remaining jobs run to completion — still a timeout, record it
        # (previously such a row said status=ok with wall > timeout)
        if timed_out.is_set() or elapsed > timeout:
            return None, f"timeout>{timeout:.0f}s (ran {elapsed:.0f}s)"
        return elapsed, None
    except Exception as exc:  # noqa: BLE001 - recorded, not swallowed
        if timed_out.is_set():
            return None, f"timeout>{timeout:.0f}s"
        return None, f"{type(exc).__name__}: {exc}"[:300]
    finally:
        watchdog.cancel()
        sc.setJobGroup("", "")
        spark.catalog.clearCache()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--timeout", type=float, default=900.0)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    done = set()
    if LEDGER.exists():
        for line in LEDGER.read_text().splitlines():
            if line.strip():
                done.add(json.loads(line)["query"])

    names = args.names or list(QUERIES)
    # cheapest-first by the bench detail's ×1 times so the ledger fills fast
    detail = REPO / "BENCH_DETAIL.json"
    order = {}
    if detail.exists():
        order = json.load(detail.open()).get("queries", {})
    names = sorted(names, key=lambda n: order.get(n, 1e9))

    sf_n = build_replica(args.mult)
    spark = get_spark(app_name="scale_sweep")

    def record(row: dict) -> None:
        with LEDGER.open("a") as fh:
            fh.write(json.dumps(row) + "\n")
        print(json.dumps(row), flush=True)

    for name in names:
        if name in done:
            continue
        if name in SKIP_REASONS:
            record(
                {"query": name, "status": "skipped",
                 "reason": SKIP_REASONS[name]}
            )
            continue
        # warm the plan shape (analysis + codegen) at the tiny SF so the
        # measured runs time execution, not first-query JVM warmup
        try:
            bench._force(QUERIES[name](spark, "/root/testdata/sf0.001"))
        except Exception as exc:  # noqa: BLE001
            record(
                {"query": name, "status": "error",
                 "stage": "warm", "error": str(exc)[:300]}
            )
            continue
        spark.catalog.clearCache()
        x1, err1 = _timed(spark, QUERIES[name], BASE_SF, args.timeout)
        xn, errn = _timed(spark, QUERIES[name], sf_n, args.timeout)
        row = {"query": name, "status": "ok", "x1": x1, f"x{args.mult}": xn}
        if err1 or errn:
            # per-leg records: when the legs fail DIFFERENTLY (x1 raises,
            # xN times out) the ledger used to label the row with one
            # status while showing the other leg's unrelated message
            if err1:
                row["err1"] = err1
            if errn:
                row["errn"] = errn
            legs = [e for e in (err1, errn) if e]
            row["status"] = (
                "timeout" if any(e.startswith("timeout") for e in legs)
                else "error"
            )
            row["error"] = errn or err1  # back-compat summary field
        elif x1 and xn:
            row["ratio"] = round(xn / x1, 2)
        record(row)


if __name__ == "__main__":
    main()
