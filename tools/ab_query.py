"""A/B one query across git variants is awkward; instead this measures
the CURRENT tree's query N times in one warm session and reports each
pass (construct_s + exec_s), so variants run back-to-back give
comparable mins without session-boot noise.

Caveat (r10 ADVICE): session memos (etl_master_spark/memo.py) survive
clearCache() — only memo.clear() empties them — so for memoized
queries the min-of-N reports the memo-WARM cost — fine for A/B of the
same query across variants (both sides warm identically), but do not
read it as a cold-session cost; bench.py's `cold` twins measure those.

Usage: python tools/ab_query.py <query> [passes=4]
Env: SPARK_GRAFT_SF_DIR (timed dir), SPARK_GRAFT_WARM_DIR (warm pass).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench
    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    name = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark(app_name="ab_query")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if warm_dir != SF_DIR:
        bench._force(QUERIES[name](spark, warm_dir))
    spark.catalog.clearCache()
    times = []
    for _ in range(passes):
        t0 = time.time()
        df = QUERIES[name](spark, SF_DIR)
        t1 = time.time()
        bench._force(df)
        t2 = time.time()
        times.append((round(t1 - t0, 3), round(t2 - t1, 3)))
        print(f"constr {t1-t0:6.3f}  exec {t2-t1:6.3f}  total {t2-t0:6.3f}")
    best = min(a + b for a, b in times)
    print(f"min total {best:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
