"""Measured crossover: reference single-node architecture vs the engine.

At sf0.1 (~85k interactions) the reference's dict/numpy architecture beats
Spark on wall-clock — fixed JVM/scheduling overhead dominates toy data, and
BASELINE.md should say so honestly. This script measures where that flips:
it replicates the events table N× (new user ids per replica, same item
catalog — user count and interaction volume scale, per-user history stays
realistic), then times

  - the reference-architecture pipeline (tools/reference_baseline.py path:
    dicts + per-user loops + numpy argsort eval), and
  - the engine's same three stages (splits_leave_two_out, negatives_sample,
    eval_metrics_test) on local[$SPARK_GRAFT_CPUS]

on the SAME scaled input, each evaluated through bench.py's noop sink.
Prints one JSON line per scale with both totals.

Usage: python tools/scale_crossover.py [multiplier ...]   (default: 10 100)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
BASE_SF = "/root/testdata/sf0.1"
WORK = Path("/tmp/etl_master_scale_crossover")


def make_scaled(mult: int) -> str:
    out = WORK / f"x{mult}"
    if (out / "events.parquet").exists():
        return str(out)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    # new users per replica; catalog unchanged (items live in props)
    con.execute(
        f"""
        COPY (
            SELECT event_id + 1000000 * r.k AS event_id,
                   ts,
                   user_id + 1500 * r.k AS user_id,
                   event_type, value, props
            FROM read_parquet('{BASE_SF}/events.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(out)


def time_engine(sf_dir: str) -> dict[str, float]:
    import bench
    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    spark = get_spark(app_name="scale_crossover")
    stages = ["splits_leave_two_out", "negatives_sample", "eval_metrics_test"]
    # warm plan shapes on the small input first (codegen/broadcast init)
    for name in stages:
        bench._force(QUERIES[name](spark, BASE_SF))
    out: dict[str, float] = {}
    # two interleaved passes, keep the min (same protocol as bench.py):
    # pass 1 absorbs the shared `_shuffled_items` cache materialization and
    # any noisy-neighbor window on the shared host
    for _ in range(2):
        for name in stages:
            t0 = time.time()
            bench._force(QUERIES[name](spark, sf_dir))
            e = round(time.time() - t0, 3)
            if name not in out or e < out[name]:
                out[name] = e
    spark.stop()
    return out


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [10, 100]
    sys.path.insert(0, str(REPO))
    for mult in mults:
        sf_dir = make_scaled(mult)
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
    if os.environ.get("SCALE_CROSSOVER_KEEP") != "1":
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
