"""CLI lifecycle smoke (reference main_my.py parity surface): prepare →
evaluate → export, own session in a subprocess (main() stops its session,
so it must not share the test fixture's)."""

from __future__ import annotations

import pytest

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.slow
def test_cli_lifecycle(tmp_path):
    run = subprocess.run(
        [
            sys.executable, "-m", "etl_master_spark",
            "--data-dir", "/root/testdata/sf0.001",
            "--model", "popularity",
            "--topk", "5", "10",
            "--log", str(tmp_path),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    lines = [json.loads(ln) for ln in run.stdout.splitlines() if ln.startswith("{")]
    stages = [ln["stage"] for ln in lines]
    assert "prepare" in stages and "done" in stages
    evals = [ln for ln in lines if ln["stage"] == "evaluate"]
    # 2 modes × 2 domains × 2 K values
    assert len(evals) == 8
    assert all(0.0 <= e["hr"] <= 1.0 for e in evals)
    # the append-only log mirrors stdout (reference S3 sink)
    logged = (tmp_path / "run_log.jsonl").read_text().splitlines()
    assert len(logged) == len(lines)
    # prepare cache is idempotent: second run skips recompute but still runs
    run2 = subprocess.run(
        [
            sys.executable, "-m", "etl_master_spark",
            "--data-dir", "/root/testdata/sf0.001",
            "--model", "popularity",
            "--skip-prepare",
            "--log", str(tmp_path),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert run2.returncode == 0, run2.stderr[-2000:]


class _Parsed(Exception):
    """Raised in place of starting Spark: the flags got past parsing."""


def _no_spark(**_):
    raise _Parsed


@pytest.mark.parametrize("flags", [
    ["--model", "cdae", "--optimizer", "adam"],
    ["--model", "als", "--prior", "laplace"],
    ["--model", "als", "--lr", "0.1"],
    ["--model", "als", "--seed", "1"],
    ["--model", "popularity", "--emb_size", "8"],
])
def test_cli_rejects_flags_the_model_cannot_honor(flags, monkeypatch):
    """A hyperparameter flag the chosen model does not take exits 2 before
    any session starts, instead of being silently ignored."""
    from etl_master_spark import __main__ as cli, session

    monkeypatch.setattr(session, "get_spark", _no_spark)
    with pytest.raises(SystemExit) as exc:
        cli.main(["--data-dir", "unused", *flags])
    assert exc.value.code == 2


@pytest.mark.parametrize("flags", [
    ["--model", "popularity", "--topk", "5"],
    ["--model", "als", "--emb_size", "8", "--seed", "72"],
    ["--model", "cdae", "--emb_size", "8", "--epochs", "2", "--lr", "0.1",
     "--seed", "1"],
    ["--model", "gan", "--optimizer", "adam", "--prior", "laplace",
     "--epochs", "2", "--lr", "0.05", "--seed", "1", "--emb_size", "4"],
])
def test_cli_accepts_flags_the_model_honors(flags, monkeypatch):
    from etl_master_spark import __main__ as cli, session

    monkeypatch.setattr(session, "get_spark", _no_spark)
    with pytest.raises(_Parsed):
        cli.main(["--data-dir", "unused", *flags])


def test_cli_exports_the_model_it_evaluated(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    """``--export-embeddings`` writes the user embeddings of the model
    stage 2 trained and evaluated — no second training, and every model
    flag (``--emb_size``, ``--optimizer``) reaches the exported model."""
    from etl_master_spark import __main__ as cli, session
    from etl_master_spark.model import als, gan
    from test_model import _count_ratings

    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    fits: list[str] = []
    trained: list[tuple[dict, dict]] = []
    real_fit, real_train = als._fit, gan.train

    def counting_fit(data, domain, rank):
        fits.append(domain)
        return real_fit(data, domain, rank)

    def counting_train(spark, data, **kw):
        model = real_train(spark, data, **kw)
        trained.append((kw, model))
        return model

    monkeypatch.setattr(als, "_fit", counting_fit)
    monkeypatch.setattr(gan, "train", counting_train)

    def run(model: str, *flags: str) -> list[tuple]:
        out = tmp_path / model
        calls = _count_ratings(monkeypatch)
        capsys.readouterr()
        assert cli.main([
            "--data-dir", sf_dir, "--model", model, "--skip-prepare",
            "--log", str(out), "--export-embeddings", *flags,
        ]) == 0
        assert len(calls) == 1  # one split derivation for the whole run
        lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()
                 if ln.startswith("{")]
        assert len([ln for ln in lines if ln["stage"] == "evaluate"]) == 8
        exported = spark.read.parquet(str(out / "user_embeddings"))
        return sorted(map(tuple, exported.collect()))

    rows = run("als", "--emb_size", "4")
    assert fits == ["x", "y"]  # one fit per domain, none for the export
    assert rows and all(len(emb) == 4 for _, emb in rows)

    rows = run("gan", "--optimizer", "adam", "--epochs", "2", "--emb_size", "4")
    assert len(trained) == 1
    kw, model = trained[0]
    assert (kw["optimizer"], kw["emb"], kw["passes"]) == ("adam", 4, 2)
    live = gan.user_embeddings(spark, model, "x").collect()
    assert rows == sorted(map(tuple, live))
    assert all(len(emb) == 4 for _, emb in rows)
