"""Best-of-2 re-measure of named registry queries at ×1 / ×N against the
scale_sweep ledger: REPLACES each named query's ledger row in place (the
sweep's single-shot rows are triage; anything flagged gets this re-measure
before it is believed — and fixed queries get their post-fix numbers).

Each leg runs under scale_sweep's job-group watchdog, and the ledger is
rewritten after EVERY query — one hung or crashed query no longer loses
the completed re-measures of the run.

Usage: python tools/remeasure.py [--mult N] [--timeout S] query [query ...]
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
from tools.scale_sweep import LEDGER, _timed
from tools.scale_table import BASE_SF, build_replica


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--timeout", type=float, default=900.0)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    sf_n = build_replica(args.mult)
    spark = get_spark(app_name="remeasure")

    def best2(name: str, sf: str):
        """(best_sec, err): min of two watchdogged legs; the first error
        short-circuits (a hung query costs one timeout, not two)."""
        times = []
        for _ in range(2):
            sec, err = _timed(spark, QUERIES[name], sf, args.timeout)
            if err:
                return None, err
            times.append(sec)
        return round(min(times), 3), None

    rows = {}
    if LEDGER.exists():
        rows = {
            json.loads(line)["query"]: json.loads(line)
            for line in LEDGER.read_text().splitlines()
            if line.strip()
        }
    for name in args.names:
        try:
            bench._force(QUERIES[name](spark, "/root/testdata/sf0.001"))  # warm plan
        except Exception as exc:  # noqa: BLE001
            rows[name] = {
                "query": name, "status": "error", "stage": "warm",
                "error": str(exc)[:300], "protocol": "best-of-2",
            }
            print(json.dumps(rows[name]), flush=True)
            _rewrite(rows)
            continue
        spark.catalog.clearCache()
        x1, err1 = best2(name, BASE_SF)
        xn, errn = best2(name, sf_n)
        row = {
            "query": name, "status": "ok", "x1": x1,
            f"x{args.mult}": xn, "protocol": "best-of-2",
        }
        if err1 or errn:
            if err1:
                row["err1"] = err1
            if errn:
                row["errn"] = errn
            legs = [e for e in (err1, errn) if e]
            row["status"] = (
                "timeout" if any(e.startswith("timeout") for e in legs)
                else "error"
            )
            row["error"] = errn or err1
        elif x1 and xn:
            # mirror scale_sweep's truthiness guard: a sub-millisecond
            # best time rounds to 0.0 and must not ZeroDivision-abort
            # the remaining re-measures — omit the field instead
            row["ratio"] = round(xn / x1, 2)
        rows[name] = row
        print(json.dumps(row), flush=True)
        # rewrite after every query: a later hang loses nothing done
        _rewrite(rows)


def _rewrite(rows: dict) -> None:
    tmp = LEDGER.with_suffix(".jsonl.tmp")
    tmp.write_text("".join(json.dumps(r) + "\n" for r in rows.values()))
    tmp.replace(LEDGER)


if __name__ == "__main__":
    main()
