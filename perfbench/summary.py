"""Summarize the untraced runs recorded in this checkout.

    python3 perfbench/summary.py

For each workload and environment in ``.perfbench/results/untraced.jsonl``
and each end-to-end metric: the sample count, median, quartiles, the
quartile spread as a share of the median (what a benchmark bound is
compared against), and the highest of p50/p75/p90/p95/p99 that still has
at least ten samples beyond it.
"""

from __future__ import annotations

import json
from pathlib import Path

from measure import median, percentile, quartiles

RESULTS = Path(__file__).resolve().parent.parent / ".perfbench" / "results" / "untraced.jsonl"
METRICS = ("cpu_s", "wall_s", "setup_s")


def summarize(records: list[dict]) -> list[dict]:
    groups: dict[tuple[str, str], list[dict]] = {}
    for r in records:
        groups.setdefault((r["workload"], r["env_key"]), []).append(r)
    rows = []
    for (workload, env_key), runs in sorted(groups.items()):
        for metric in METRICS:
            values = [r[metric] for r in runs if metric in r]
            if not values:
                continue
            row = {"workload": workload, "env": env_key, "metric": metric,
                   **median(values)}
            if len(values) >= 2:
                q = quartiles(values)
                row.update(q1=q["q1"], q3=q["q3"],
                           spread=(q["q3"] - q["q1"]) / row["value"])
            for p in (99, 95, 90, 75, 50):
                tail = percentile(values, p)
                if tail["beyond"] >= 10:
                    row[f"p{p}"] = tail["value"]
                    break
            rows.append(row)
    return rows


def main() -> None:
    records = [json.loads(line) for line in RESULTS.read_text().splitlines()]
    for row in summarize(records):
        print(json.dumps(row))


if __name__ == "__main__":
    main()
