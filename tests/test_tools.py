"""The measurement tools under tools/ and their one timing primitive,
bench.timed. All but the last test run without a Spark session."""

import importlib
import json
import os
from pathlib import Path
from types import SimpleNamespace

import pytest

import bench

TOOLS = sorted(p.stem for p in (Path(bench.REPO) / "tools").glob("*.py"))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_ledger_row_statuses():
    from tools.scale_sweep import ledger_row

    row = ledger_row("q", 100, None, "AnalysisException: x", None, "timeout>9s")
    assert row["status"] == "timeout"
    assert (row["err1"], row["errn"]) == ("AnalysisException: x", "timeout>9s")
    assert row["error"] == "timeout>9s" and "ratio" not in row

    row = ledger_row("q", 100, 0.5, None, 1.25, None)
    assert row == {"query": "q", "status": "ok", "x1": 0.5, "x100": 1.25,
                   "ratio": 2.5}

    row = ledger_row("q", 10, 0.0, None, 1.0, None, passes=2)
    assert row["status"] == "ok" and "ratio" not in row
    assert row["protocol"] == "best-of-2"


def _fake_sweep(monkeypatch, tmp_path, ledger_rows):
    from tools import scale_sweep

    ledger = tmp_path / "SCALE_SWEEP.jsonl"
    ledger.write_text("".join(json.dumps(r) + "\n" for r in ledger_rows))
    monkeypatch.setattr(scale_sweep, "LEDGER", ledger)
    secs = iter([0.4, 0.3, 2.0, 1.5, 9.0, 9.0])
    calls = []

    def fake_timed(spark, fn, sf, timeout=None):
        calls.append(sf)
        return {"construct_s": 0.0, "exec_s": next(secs), "jobs": 1,
                "error": None}

    monkeypatch.setattr(bench, "timed", fake_timed)
    monkeypatch.setattr(bench, "warm", lambda spark, names: {})
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    return scale_sweep, ledger, spark, calls


def test_named_ledgered_query_is_remeasured_best_of_2(monkeypatch, tmp_path):
    old = {"query": "pricing_summary", "status": "ok", "x1": 0.9,
           "x100": 9.0, "ratio": 10.0}
    other = {"query": "shipping_priority", "status": "ok", "x1": 1.0,
             "x100": 2.0, "ratio": 2.0}
    sweep, ledger, spark, calls = _fake_sweep(monkeypatch, tmp_path, [old, other])
    sweep.sweep(spark, ["pricing_summary"], True, 100, "/replica", 5.0)

    rows = [json.loads(line) for line in ledger.read_text().splitlines()]
    assert rows[1] == other
    assert rows[0] == {"query": "pricing_summary", "status": "ok", "x1": 0.3,
                       "x100": 1.5, "protocol": "best-of-2", "ratio": 5.0}
    assert calls == [sweep.BASE_SF] * 2 + ["/replica"] * 2


def test_unnamed_sweep_triages_only_new_queries(monkeypatch, tmp_path):
    old = {"query": "pricing_summary", "status": "ok", "x1": 0.9,
           "x100": 9.0, "ratio": 10.0}
    sweep, ledger, spark, calls = _fake_sweep(monkeypatch, tmp_path, [old])
    sweep.sweep(spark, ["pricing_summary", "shipping_priority", "mmd_rbf"],
                False, 100, "/replica", 5.0)

    rows = {r["query"]: r for r in map(json.loads, ledger.read_text().splitlines())}
    assert rows["pricing_summary"] == old
    assert rows["shipping_priority"] == {"query": "shipping_priority",
                                         "status": "ok", "x1": 0.4,
                                         "x100": 0.3, "ratio": 0.75}
    assert rows["mmd_rbf"]["status"] == "skipped"
    assert len(calls) == 2


@pytest.mark.parametrize(
    "argv",
    [["100", "triangle_count", "10"], ["deletion_cascade_audit"]],
    ids=["numeric_stray", "replica_unsupported"],
)
def test_scale_table_refuses_before_any_session(monkeypatch, argv):
    from etl_master_spark import session
    from tools import scale_table

    def boom(*a, **k):
        raise AssertionError("refusal must come before any build or session")

    monkeypatch.setattr(session, "get_spark", boom)
    monkeypatch.setattr(scale_table, "build_replica", boom)
    monkeypatch.setattr("sys.argv", ["scale_table.py", *argv])
    with pytest.raises(SystemExit):
        scale_table.main()


def test_replica_dir_is_keyed_by_base_dir(monkeypatch):
    from tools import scale_table

    def replica_of(base, zipf=False):
        monkeypatch.setattr(scale_table, "BASE_SF", base)
        return scale_table.replica_dir(100, zipf)

    a, b = replica_of("/data/sf0.1"), replica_of("/data/sf0.01")
    assert a != b and a.name == b.name == "x100"
    assert replica_of("/data/sf0.1/") == a
    assert replica_of("/data/sf0.1", zipf=True) != a


def test_jvm_thread_cpu_on_a_fake_proc_tree(tmp_path):
    """Threads split by their kernel name; a name with spaces and
    parentheses parses; the process total less the live threads is the
    exited threads' time."""
    from tools.profile_queries import jvm_thread_cpu

    tick = os.sysconf("SC_CLK_TCK")

    def stat(tid, comm, utime, stime):
        return (f"{tid} ({comm}) S 1 7 7 0 -1 4194304 0 0 0 0"
                f" {utime * tick} {stime * tick} 0 0 20 0 1 0 0 0 0\n")

    threads = {
        7: ("java", 1, 1), 8: ("C2 CompilerThre", 30, 2),
        9: ("C2 CompilerThre", 5, 1), 10: ("C1 CompilerThre", 4, 0),
        11: ("GC Thread#0", 2, 1), 12: ("G1 Refine#0", 1, 0),
        13: ("Executor task l", 9, 1), 14: ("odd) (name", 3, 0),
    }
    for tid, (comm, utime, stime) in threads.items():
        (tmp_path / "7" / "task" / str(tid)).mkdir(parents=True)
        (tmp_path / "7" / "task" / str(tid) / "stat").write_text(
            stat(tid, comm, utime, stime))
    (tmp_path / "7" / "stat").write_text(stat(7, "java", 70, 6))  # 15 s exited
    assert jvm_thread_cpu(7, tmp_path) == {
        "C2": 38.0, "C1": 4.0, "GC": 4.0, "rest": 15.0, "exited": 15.0,
    }


def test_timed_counts_jobs_and_times_out(spark, sf_dir):
    from etl_master_spark.plans.registry import QUERIES

    leg = bench.timed(spark, QUERIES["pricing_summary"], sf_dir)
    assert leg["error"] is None and leg["jobs"] >= 1
    assert leg["construct_s"] >= 0 and leg["exec_s"] >= 0

    leg = bench.timed(spark, QUERIES["pricing_summary"], sf_dir, timeout=0)
    assert leg["error"].startswith("timeout>0s")
