"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its fixed input tables
(cached under ``.perfbench/``), times two cold starts of the Spark
session (one in a separate process, then the one that serves the
workload) to measure set-up, runs every step of the workload once in its fixed order
(``--seed`` seeds the model), checks every output outside the timed spans,
and prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``
(which also writes the span tree to ``.perfbench/traces/``). The line
before it records the environment and each metric's sample count.

``--seconds`` is the run's time budget. A run always measures one whole
pass over its workload (every timed run must start with cold session
memos), and the workloads are sized so that a pass fits the budget; a
pass that overruns it is reported on standard error.

See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

from measure import Tracer, median, status_store_json

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CORES = 4
HEAP = "3g"
SF = 0.01  # input scale; sf 0.1 is 600,000 lineitem rows
# The input tables are fixed (the seed only seeds the model), so runs with
# different seeds time the same work.
DATA_SEED = 42
# cold starts timed per run: SETUP_REPS - 1 in separate processes, then
# the one that serves the workload (each costs ~10 s, and the driver's
# runs of both workloads must fit its time budget)
SETUP_REPS = 2
JOB_GROUP = "perfbench-span-"
END_TO_END = {"cpu_s": "s", "setup_s": "s"}
LAYER_METRICS = {
    "wall_s": "s", "session.start_s": "s", "warmup.s": "s",
    "memory.peak_rss_mb": "MB",
    "construct.s": "s", "construct.driver_s": "s", "construct.jobs": "count",
    "construct.job_s": "s", "analysis.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.busy_share": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.failed_tasks": "count",
    "sink.s": "s", "sink.bytes_written": "bytes",
    "model.train_eval_s": "s",
}


def set_environment(tmp: Path) -> None:
    """Pin the Spark and thread environment before numpy or the JVM load.
    Scratch space stays inside the checkout; Python workers find the
    engine through PYTHONPATH."""
    local = tmp / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "OMP_NUM_THREADS": str(CORES),
        "OPENBLAS_NUM_THREADS": str(CORES),
        "MKL_NUM_THREADS": str(CORES),
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by process ``root`` and every live descendant: here the client, the
    JVM and its Python workers."""
    procs = {}
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:  # exited while we scanned
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        procs[int(entry.name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def source_digest(files: list[Path]) -> str:
    """sha256 over source files: identifies the code that ran where a
    checkout carries no git metadata."""
    h = hashlib.sha256()
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Session:
    """The run's Spark session, from one cold start: the JVM launch, the
    session and the warm-up. ``close`` stops it and waits for the JVM."""

    def __init__(self, data: str) -> None:
        self.data = data
        self.spark = None
        self.start_s = 0.0
        self.warmup_s = 0.0

    def open(self, tracer: Tracer, parent) -> None:
        from etl_master_spark.session import get_spark
        from etl_master_spark.sources.io import load_table
        from gen import TABLES

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        }
        span = tracer.start("session start", "session", parent)
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.start_s = tracer.finish(span)
        span = tracer.start("warm-up", "warmup", parent)
        # resolve every input table through the engine's reader
        for t in TABLES:
            load_table(self.spark, self.data, t)
        self.warmup_s = tracer.finish(span)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark, shut the gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def cold_starts(data: str, n: int, tracer: Tracer, parent) -> list[dict]:
    """Time ``n`` cold starts, each in a fresh process that exits before
    the next begins; their spans join this run's trace."""
    starts = []
    for rep in range(n):
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).with_name("coldstart.py")), data],
            capture_output=True, text=True, timeout=150,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"cold start failed:\n{proc.stderr[-2000:]}")
        times = json.loads(proc.stdout.strip().splitlines()[-1])
        span = tracer.add(f"cold start {rep + 1}", "setup", parent,
                          times["session"][0], times["warmup"][1])
        tracer.add("session start", "session", span, *times["session"])
        tracer.add("warm-up", "warmup", span, *times["warmup"])
        starts.append({k: end - start for k, (start, end) in times.items()})
    return starts


def run_pass(session: Session, steps, ctx, tracer, parent, traced: bool):
    """Run every step once. Returns ``(results, errors, wall_s,
    analysis_s)``: each step's collected output, the error that stopped a
    step, the pass's wall time, and (traced) the analysis-phase total."""
    sc = session.spark.sparkContext
    results: dict = {}
    errors: dict[str, str] = {}
    analysis_s = 0.0
    for step in steps:
        step_span = tracer.start(step.name, "step", parent)
        step_span.attrs["layer"] = step.layer
        try:
            span = tracer.start("construct", "construct", step_span)
            if traced:
                sc.setJobGroup(f"{JOB_GROUP}{span.id}", f"{step.name} construct")
            built = step.construct(ctx)
            tracer.finish(span)
            if traced:
                analysis_s += analysis_seconds(built)
            span = tracer.start("exec", "exec", step_span)
            if traced:
                sc.setJobGroup(f"{JOB_GROUP}{span.id}", f"{step.name} exec")
            results[step.name] = step.execute(ctx, built)
            tracer.finish(span)
        except Exception as e:  # noqa: BLE001 - one step never aborts the run
            if span.end is None:
                tracer.finish(span)
            errors[step.name] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            traceback.print_exc(file=sys.stderr)
        tracer.finish(step_span)
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    first = min(s.start for s in tracer.spans if s.kind == "step")
    last = max(s.end for s in tracer.spans if s.kind == "step")
    return results, errors, last - first, analysis_s


def analysis_seconds(built) -> float:
    """Analysis-phase time of each returned DataFrame, from its
    QueryPlanningTracker."""
    from pyspark.sql import DataFrame

    frames = built.values() if isinstance(built, dict) else (
        built if isinstance(built, tuple) else (built,)
    )
    total = 0.0
    for df in frames:
        if isinstance(df, DataFrame):
            phase = df._jdf.queryExecution().tracker().phases().get("analysis")
            if phase.isDefined():
                total += phase.get().durationMs() / 1000
    return total


def run_checks(steps, ctx, results: dict, errors: dict) -> str | None:
    """Check every step that produced output; returns the GAN metric digest."""
    from workloads import metric_digest

    digest = None
    for step in steps:
        if step.name not in results:
            continue
        try:
            step.check(ctx, results[step.name])
            if step.name == "gan_eval":
                digest = metric_digest(results[step.name])
        except Exception as e:  # noqa: BLE001 - a failed check is counted, not fatal
            errors[step.name] = f"check: {type(e).__name__}: {str(e)[:300]}"
    return digest


def digest_repeats(key: str, digest: str | None) -> bool | None:
    """Whether ``digest`` equals the one an earlier run with the same key
    recorded; None on the first such run."""
    if digest is None:
        return None
    path = WORK / "results" / "gan_digests.json"
    seen = json.loads(path.read_text()) if path.exists() else {}
    repeats = seen[key] == digest if key in seen else None
    seen.setdefault(key, digest)
    path.write_text(json.dumps(seen, indent=1))
    return repeats


def layer_metrics(tracer, jobs: list[dict], stages: dict[int, dict],
                  starts: list[dict], analysis_s: float, wall_s: float,
                  peak_rss_mb: float, out_dir: Path) -> dict[str, float]:
    """Attach each Spark job to the span whose job group launched it and
    fold the trace into the per-layer metrics."""
    from workloads import all_step_names

    by_id = {s.id: s for s in tracer.spans}
    for job in jobs:
        group = job.get("jobGroup") or ""
        if not group.startswith(JOB_GROUP) or job.get("submissionTime") is None:
            continue
        parent = by_id[int(group[len(JOB_GROUP):])]
        ran = [stages[i] for i in job["stageIds"]
               if i in stages and stages[i]["status"] != "SKIPPED"]
        tracer.add(
            f"job {job['jobId']}", "job", parent,
            job["submissionTime"] / 1000,
            (job.get("completionTime") or job["submissionTime"]) / 1000,
            stages=len(ran),
            tasks=sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
            failed_tasks=sum(s["numFailedTasks"] for s in ran),
            task_run_s=sum(s["executorRunTime"] for s in ran) / 1000,
            shuffle_read_bytes=sum(s["shuffleReadBytes"] for s in ran),
            shuffle_write_bytes=sum(s["shuffleWriteBytes"] for s in ran),
            spill_bytes=sum(s["diskBytesSpilled"] for s in ran),
            input_bytes=sum(s["inputBytes"] for s in ran),
        )

    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m["wall_s"] = wall_s
    m["memory.peak_rss_mb"] = peak_rss_mb
    m["session.start_s"] = median([s["session"] for s in starts])["value"]
    m["warmup.s"] = median([s["warmup"] for s in starts])["value"]
    m["analysis.s"] = analysis_s
    for name in all_step_names():
        m[f"step.{name}.s"] = 0.0
        m[f"step.{name}.jobs"] = 0
    for step in (s for s in tracer.spans if s.kind == "step"):
        step_jobs = 0
        for part in tracer.children(step):
            part_jobs = [j for j in tracer.children(part) if j.kind == "job"]
            step_jobs += len(part_jobs)
            dur = part.end - part.start
            if part.kind == "construct":
                m["construct.s"] += dur
                m["construct.jobs"] += len(part_jobs)
                m["construct.job_s"] += dur - tracer.self_time(part)
                m["construct.driver_s"] += tracer.self_time(part)
            elif part.kind == "exec":
                m["exec.s"] += dur
                m["exec.jobs"] += len(part_jobs)
                for key in ("stages", "tasks", "task_run_s", "shuffle_read_bytes",
                            "shuffle_write_bytes", "spill_bytes", "input_bytes",
                            "failed_tasks"):
                    m[f"exec.{key}"] += sum(j.attrs[key] for j in part_jobs)
        total = step.end - step.start
        m[f"step.{step.name}.s"] = total
        m[f"step.{step.name}.jobs"] = step_jobs
        if step.attrs["layer"] == "sink":
            m["sink.s"] += total
        if step.attrs["layer"] == "model":
            m["model.train_eval_s"] += total
    if m["exec.s"] > 0:
        m["exec.busy_share"] = m["exec.task_run_s"] / (m["exec.s"] * CORES)
    m["sink.bytes_written"] = sum(
        f.stat().st_size for f in out_dir.rglob("*") if f.is_file()
    ) if out_dir.exists() else 0
    return m


def untraced_wall(workload: str, env_key: str) -> float | None:
    """Median wall_s of the untraced runs of this workload recorded in this
    checkout with the same environment key."""
    path = WORK / "results" / "untraced.jsonl"
    if not path.exists():
        return None
    walls = [
        r["wall_s"] for r in map(json.loads, path.read_text().splitlines())
        if r["workload"] == workload and r["env_key"] == env_key
    ]
    return median(walls)["value"] if walls else None


def main() -> int:
    tmp = WORK / "tmp" / f"{os.getpid()}"
    set_environment(tmp)
    import workloads

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="input scale (the tests use a smaller one)")
    args = ap.parse_args()
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    try:
        import duckdb
        import pyspark
        from etl_master_spark.plans.registry import QUERIES  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    import pyarrow.parquet as pq

    phases = {"start": time.perf_counter()}
    gen_digest = source_digest([Path(gen.__file__)])
    data = gen.write(
        str(WORK / "data" / f"seed{DATA_SEED}-sf{args.sf}-{gen_digest}"),
        DATA_SEED, args.sf,
    )
    out_dir = tmp / "out"
    session = Session(data)
    tracer = Tracer()
    try:
        phases["data"] = time.perf_counter()
        run_span = tracer.start("run", "run")
        setup_span = tracer.start("setup", "setup", run_span)
        starts = cold_starts(data, SETUP_REPS - 1, tracer, setup_span)
        span = tracer.start(f"cold start {SETUP_REPS}", "setup", setup_span)
        session.open(tracer, span)
        tracer.finish(span)
        tracer.finish(setup_span)
        starts.append({"session": session.start_s, "warmup": session.warmup_s})
        phases["setup"] = time.perf_counter()
        steps = workloads.steps(args.workload)
        duck = duckdb.connect()
        for t in gen.TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
            )
        ctx = workloads.Context(session.spark, data, str(out_dir), args.seed, duck)
        wl_span = tracer.start(args.workload, "workload", run_span)
        cpu0 = tree_cpu_s(os.getpid())
        results, errors, wall_s, analysis_s = run_pass(
            session, steps, ctx, tracer, wl_span, bool(args.trace)
        )
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        tracer.finish(wl_span)
        tracer.finish(run_span)
        phases["pass"] = time.perf_counter()
        jobs, stages = status_store_json(session.spark) if args.trace else ([], {})
        pid = session.jvm_pid()
        peak_rss_mb = vm_hwm_mb("self") + (vm_hwm_mb(pid) if pid else 0.0)
        digest = run_checks(steps, ctx, results, errors)
        metrics_layer = (
            layer_metrics(tracer, jobs, stages, starts, analysis_s,
                          wall_s, peak_rss_mb, out_dir)
            if args.trace else None
        )
        duck.close()
        phases["checks"] = time.perf_counter()
    finally:
        session.close()
    phases["close"] = time.perf_counter()
    marks = list(phases.items())
    print("phases: " + ", ".join(
        f"{name} {t - marks[i][1]:.1f} s" for i, (name, t) in enumerate(marks[1:])
    ), file=sys.stderr)

    setup = [s["session"] + s["warmup"] for s in starts]
    env = {
        "workload": args.workload, "seed": args.seed,
        "data_seed": DATA_SEED, "sf": args.sf,
        "cores": CORES, "heap": HEAP,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "git_commit": git_commit(),
        "code_digest": source_digest(
            sorted((ROOT / "etl_master_spark").rglob("*.py"))
            + [ROOT / "__spark_entry__.py", ROOT / "tools" / "strict_check.py"]
        ),
        "bench_digest": source_digest(sorted(Path(__file__).parent.glob("*.py"))),
        "input_rows": {
            t: pq.ParquetFile(Path(data, f"{t}.parquet")).metadata.num_rows
            for t in gen.TABLES
        },
        "input_bytes": {
            t: Path(data, f"{t}.parquet").stat().st_size for t in gen.TABLES
        },
        "wall_s": wall_s,
        "peak_rss_mb": peak_rss_mb,
        "step_s": {
            s.name: s.end - s.start for s in tracer.spans if s.kind == "step"
        },
        "gan_digest": digest,
    }
    env_key = (f"sf={args.sf} cores={CORES} mem={HEAP} "
               f"code={env['code_digest']} bench={env['bench_digest']}")
    env["gan_digest_repeats"] = digest_repeats(f"seed={args.seed} {env_key}", digest)
    env["errors"] = errors
    if wall_s > args.seconds:
        print(f"pass took {wall_s:.1f} s, over the {args.seconds:g} s budget",
              file=sys.stderr)

    if args.trace:
        base = untraced_wall(args.workload, env_key)
        overhead = None if base is None else wall_s - base
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        trace_path = trace_dir / f"{args.workload}-seed{args.seed}-{int(time.time())}.json"
        trace_path.write_text(json.dumps({
            "env": env, "wall_s": wall_s, "untraced_wall_s": base,
            "tracing_overhead_s": overhead, "metrics": metrics_layer,
            "spans": tracer.to_json(),
        }, indent=1))
        print(f"trace: {trace_path.relative_to(ROOT)}; tracing overhead: "
              + ("unknown (no untraced run recorded)" if overhead is None
                 else f"{overhead:+.3f} s"), file=sys.stderr)
        values = metrics_layer
        units = {**LAYER_METRICS}
        units.update({k: ("s" if k.endswith(".s") else "count")
                      for k in values if k.startswith("step.")})
        samples = {k: 1 for k in values}
        samples.update({"session.start_s": SETUP_REPS, "warmup.s": SETUP_REPS})
    else:
        values = {"cpu_s": cpu_s, "setup_s": median(setup)["value"]}
        units = END_TO_END
        samples = {"cpu_s": 1, "setup_s": SETUP_REPS}
        with open(WORK / "results" / "untraced.jsonl", "a") as f:
            f.write(json.dumps({"workload": args.workload, "env_key": env_key,
                                "seed": args.seed, "wall_s": wall_s,
                                **values}) + "\n")

    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"env": env, "units": units, "samples": samples}))
    print(json.dumps({
        "correct": not errors,
        "attempted": len(steps),
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
