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

Every leg is one ``bench.timed`` call after ``bench.warm``: construction
plus full evaluation through the noop sink (count() lets Catalyst prune
cardinality-preserving operators — the round-7 event_gaps lesson), plan
shapes warmed once at ``bench.WARM_DIR``. How a query is measured follows
from the ledger:

- no row yet: one measured run per scale, a triage row (the ledger flags
  ratios, not absolute jitter);
- a NAMED query that already has a row: re-measured best-of-2 per scale,
  its row replaced and marked ``"protocol": "best-of-2"`` — what anything
  flagged gets before it is believed, and what a fixed query gets for its
  post-fix numbers.

Queries run cheapest-first (by the BENCH_DETAIL ×1 ordering) so the ledger
fills fast and an interrupted run still covers most of the registry; the
ledger is rewritten atomically after every query.

A watchdog cancels any single (construction + evaluation) that exceeds
--timeout seconds (default 900) via job-group cancel and records a
``timeout`` row — a ×100 timeout on a query whose ×1 is sub-second is
exactly the superlinear smoke this sweep exists to surface.

Usage: python tools/scale_sweep.py [--mult N] [--timeout S] [query ...]
  default: all registered queries not yet in the ledger
  (SCALE_SWEEP.jsonl at the repo root); name a query to re-measure it.
Env:   SPARK_GRAFT_SF_DIR (the ×1 base, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import argparse
import json
import sys
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


def best_of(spark, fn, sf: str, passes: int, timeout: float):
    """(best_sec, err): the min of ``passes`` watchdogged legs; the first
    error short-circuits (a hung query costs one timeout, not two)."""
    times = []
    for _ in range(passes):
        leg = bench.timed(spark, fn, sf, timeout)
        spark.catalog.clearCache()
        if leg["error"]:
            return None, leg["error"]
        times.append(bench.wall(leg))
    return min(times), None


def ledger_row(name, mult, x1, err1, xn, errn, passes=1) -> dict:
    """One ledger row from the ×1 and ×N legs."""
    row = {"query": name, "status": "ok", "x1": x1, f"x{mult}": xn}
    if passes > 1:
        row["protocol"] = f"best-of-{passes}"
    if err1 or errn:
        # per-leg records: when the legs fail DIFFERENTLY (x1 raises,
        # xN times out) one summary field alone would label the row with
        # one status while showing the other leg's unrelated message
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
        # a sub-millisecond best time rounds to 0.0: omit the ratio
        # rather than divide by it
        row["ratio"] = round(xn / x1, 2)
    return row


def load_ledger() -> dict[str, dict]:
    if not LEDGER.exists():
        return {}
    rows = (json.loads(l) for l in LEDGER.read_text().splitlines() if l.strip())
    return {r["query"]: r for r in rows}


def write_ledger(rows: dict[str, dict]) -> None:
    """Atomic rewrite, after every query: a later hang loses nothing done."""
    tmp = LEDGER.with_suffix(".jsonl.tmp")
    tmp.write_text("".join(json.dumps(r) + "\n" for r in rows.values()))
    tmp.replace(LEDGER)


def sweep(spark, names, named: bool, mult: int, sf_n: str, timeout: float):
    """Measure ``names`` into the ledger. A query without a row gets the
    single-shot triage row; a NAMED query that has one is re-measured
    best-of-2 and its row replaced; an unnamed one keeps its row."""
    from etl_master_spark.plans.registry import QUERIES

    rows = load_ledger()

    def record(row: dict) -> None:
        rows[row["query"]] = row
        write_ledger(rows)
        print(json.dumps(row), flush=True)

    for name in names:
        if name in SKIP_REASONS:
            if name not in rows:
                record(
                    {"query": name, "status": "skipped",
                     "reason": SKIP_REASONS[name]}
                )
            continue
        if name in rows and not named:
            continue
        passes = 2 if name in rows else 1
        # warm the plan shape (analysis + codegen) at the tiny SF so the
        # measured runs time execution, not first-query JVM warmup
        err = bench.warm(spark, [name]).get(name)
        spark.catalog.clearCache()
        if err:
            row = {"query": name, "status": "error", "stage": "warm",
                   "error": err}
            if passes > 1:
                row["protocol"] = f"best-of-{passes}"
            record(row)
            continue
        x1, err1 = best_of(spark, QUERIES[name], BASE_SF, passes, timeout)
        xn, errn = best_of(spark, QUERIES[name], sf_n, passes, timeout)
        record(ledger_row(name, mult, x1, err1, xn, errn, passes))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--timeout", type=float, default=900.0)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    names = args.names or list(QUERIES)
    # cheapest-first by the bench detail's ×1 times so the ledger fills fast
    detail = REPO / "BENCH_DETAIL.json"
    order = {}
    if detail.exists():
        order = json.load(detail.open()).get("queries", {})
    names = sorted(names, key=lambda n: order.get(n, 1e9))

    sf_n = build_replica(args.mult)
    spark = get_spark(app_name="scale_sweep", long_lived=True)
    sweep(spark, names, bool(args.names), args.mult, sf_n, args.timeout)


if __name__ == "__main__":
    main()
