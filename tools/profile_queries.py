"""Per-query profile: split each benched query's wall time into
DataFrame CONSTRUCTION (registry call — driver-side Python + py4j +
analysis) and EXECUTION (noop sink), and count the Spark jobs each
leg launches (scheduling overhead is per-job, so a query that runs N
actions pays N× the fixed local-mode latency). Every leg is one
``bench.timed`` call after ``bench.warm``, the bench.py protocol.

It is also the same-session A/B: run it on two variants of the tree
back to back with ``--passes N`` and compare the mins, free of
session-boot noise. Caveat: session memos (etl_master_spark/memo.py)
survive clearCache(), so for a memoized query every pass after the
first reads the memo-WARM cost; bench.py's ``cold`` twins measure the
cold one.

Usage: python tools/profile_queries.py [--passes N] [name ...]
  each argument is a substring filter over bench.BENCH_QUERIES (none: all
  of them); a registered query outside that list is selected by its name.
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)

Output: every pass of every query, then its min,
    name  construct_s  exec_s  jobs  pass
the construct/exec totals of the mins, a JSON dump of each query's min
pass to /tmp/profile_queries.json for diffing, and the driver JVM's
thread CPU since its start split into C2 and C1 compiler threads, GC
threads, the other live threads and the threads that have exited
(``jvm_thread_cpu``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench


def _thread_kind(comm: str) -> str:
    """The kind of a HotSpot thread from its name, as the kernel keeps it
    (15 characters: ``C2 CompilerThre``, ``GC Thread#0``, ``G1 Refine#1``)."""
    if comm.startswith(("C2 ", "C1 ")):
        return comm[:2]
    if comm.startswith(("GC ", "G1 ")):
        return "GC"
    return "rest"


def _stat_cpu_s(stat: str) -> tuple[str, float]:
    """``(comm, utime + stime in seconds)`` of one ``/proc`` stat line; the
    name sits in parentheses and may itself hold spaces and parentheses."""
    head, _, tail = stat.rpartition(")")
    fields = tail.split()  # fields[0] is the state, field 3 of the line
    ticks = int(fields[11]) + int(fields[12])  # utime, stime: fields 14, 15
    return head.partition("(")[2], ticks / os.sysconf("SC_CLK_TCK")


def jvm_thread_cpu(pid: int, proc: Path = Path("/proc")) -> dict[str, float]:
    """CPU seconds of process ``pid`` since its start, by thread kind: C2,
    C1, GC and rest from each live thread's ``task/<tid>/stat``, and
    exited: the process total less the live threads. A thread that has
    exited (the JVM retires idle compiler and task threads) keeps no stat
    of its own, so its kind is lost."""
    split = dict.fromkeys(("C2", "C1", "GC", "rest"), 0.0)
    for task in (proc / str(pid) / "task").iterdir():
        try:
            comm, cpu = _stat_cpu_s((task / "stat").read_text())
        except FileNotFoundError:  # exited while we looked
            continue
        split[_thread_kind(comm)] += cpu
    total = _stat_cpu_s((proc / str(pid) / "stat").read_text())[1]
    split["exited"] = total - sum(split.values())
    return split


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    names = [
        n
        for n in bench.BENCH_QUERIES
        if not args.names or any(s in n for s in args.names)
    ] + [n for n in args.names if n in QUERIES and n not in bench.BENCH_QUERIES]
    spark = get_spark(app_name="profile_queries", long_lived=True)
    bench.warm(spark, names)
    spark.catalog.clearCache()

    def show(n: str, leg: dict, tag: str) -> None:
        print(
            f"{n:42s} {leg['construct_s']:7.3f} {leg['exec_s']:7.3f}"
            f" {leg['jobs']:5d}  {tag}"
        )

    out = {}
    print(f"{'query':42s} {'constr':>7s} {'exec':>7s} {'jobs':>5s}  pass")
    for n in names:
        legs = []
        for p in range(args.passes):
            leg = bench.timed(spark, QUERIES[n], bench.SF_DIR)
            if leg["error"]:
                print(f"FAIL {n}: {leg['error']}", file=sys.stderr)
                break
            legs.append(leg)
            show(n, leg, str(p + 1))
        if legs:
            out[n] = min(legs, key=bench.wall)
            del out[n]["error"]
            show(n, out[n], f"min {bench.wall(out[n]):.3f}")
    tot_c = sum(v["construct_s"] for v in out.values())
    tot_e = sum(v["exec_s"] for v in out.values())
    print(f"{'TOTAL':42s} {tot_c:7.3f} {tot_e:7.3f}")
    Path("/tmp/profile_queries.json").write_text(json.dumps(out, indent=1))
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    cpu = jvm_thread_cpu(jvm_pid)
    print("JVM thread CPU s  " + "  ".join(f"{k} {v:.1f}" for k, v in cpu.items()))
    spark.stop()


if __name__ == "__main__":
    main()
