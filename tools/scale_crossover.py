"""Measured crossover: reference single-node architecture vs the engine.

At sf0.1 (~85k interactions) the reference's dict/numpy architecture beats
Spark on wall-clock — fixed JVM/scheduling overhead dominates toy data, and
BASELINE.md should say so honestly. This script measures where that flips:
it takes scale_table's ×N replica of the base dir (new user and event ids
per copy, with shifts sized from the data; same item catalog — user count
and interaction volume scale, per-user history stays realistic), then times

  - the reference-architecture pipeline (tools/reference_baseline.py path:
    dicts + per-user loops + numpy argsort eval), and
  - the engine's same three stages (splits_leave_two_out, negatives_sample,
    eval_metrics_test) on local[$SPARK_GRAFT_CPUS]

on the SAME scaled input, each leg one ``bench.timed`` call. Prints one
JSON line per scale with both totals. The replicas stay in scale_table's
shared cache.

Usage: python tools/scale_crossover.py [multiplier ...]   (default: 10 100)
Env:   SPARK_GRAFT_SF_DIR (the base, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench
from tools.scale_table import BASE_SF, build_replica


def time_engine(sf_dir: str) -> dict[str, float]:
    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    spark = get_spark(app_name="scale_crossover", long_lived=True)
    stages = ["splits_leave_two_out", "negatives_sample", "eval_metrics_test"]
    # warm plan shapes on the small input first (codegen/broadcast init)
    failed = bench.warm(spark, stages, sf=BASE_SF)
    if failed:
        raise SystemExit(f"scale_crossover: warm-up failed: {failed}")
    out: dict[str, float] = {}
    # two interleaved passes, keep the min (same protocol as bench.py):
    # pass 1 absorbs the shared `_shuffled_items` cache materialization and
    # any noisy-neighbor window on the shared host
    for _ in range(2):
        for name in stages:
            leg = bench.timed(spark, QUERIES[name], sf_dir)
            if leg["error"]:
                raise SystemExit(f"scale_crossover: {name}: {leg['error']}")
            out[name] = min(bench.wall(leg), out.get(name, float("inf")))
    spark.stop()
    return out


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [10, 100]
    for mult in mults:
        sf_dir = build_replica(mult)
        ref = json.loads(
            subprocess.run(
                [sys.executable, str(REPO / "tools" / "reference_baseline.py"), sf_dir],
                capture_output=True,
                text=True,
                check=True,
            ).stdout.strip().splitlines()[-1]
        )
        eng = time_engine(sf_dir)
        print(
            json.dumps(
                {
                    "multiplier": mult,
                    "n_interactions": ref["n_interactions"],
                    "reference_stage_sec": ref["stage_sec"],
                    "reference_total_sec": ref["total_sec"],
                    "engine_stage_sec": eng,
                    "engine_total_sec": round(sum(eng.values()), 3),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
