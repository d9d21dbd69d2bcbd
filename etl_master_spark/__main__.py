"""CLI driver — the engine's analog of the reference's ``main_my.py``.

The reference user runs ``python main_my.py --dataset amazon --reg 5.0``
(``README.md:25-32``) and gets: split/negative preparation (cached to disk,
``Dataset_CDAE.py:91-145``), model training, per-mode HR/NDCG/MRR@{5,10}
evaluation, an append-only metrics log (``main_my.py:278-281``), and user-
embedding export (``model_my.py:111-145``). This module is the switch-over
surface: the same lifecycle, argument names kept close to the reference's,
each stage a distributed Spark job.

    python -m etl_master_spark --data-dir /root/testdata/sf0.001 \
        --model als --emb_size 16 --topk 5 10 --log /tmp/run1

Models: ``popularity`` (deterministic baseline, no training), ``als``
(Spark ML, the idiomatic collaborative filter), ``cdae`` (the reference's
model family via distributed mapInPandas partial-gradient training) and
``gan`` (the reference's adversarially-coupled cross-domain model). The
three trained ones run one lifecycle (``model/scoring.py``): train once,
evaluate both modes, export that same model's embeddings.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

# --model → (family module under etl_master_spark.model, {flag: trainer
# kwarg}). The one list of the hyperparameter flags each family honors;
# popularity trains nothing, so it honors none.
FAMILIES: dict[str, tuple[str | None, dict[str, str]]] = {
    "popularity": (None, {}),
    "als": ("als", {"emb_size": "rank"}),
    "cdae": ("cdae", {"emb_size": "emb", "epochs": "epochs", "lr": "lr",
                      "seed": "seed"}),
    "gan": ("gan", {"emb_size": "emb", "epochs": "passes", "lr": "lr",
                    "seed": "seed", "optimizer": "optimizer",
                    "prior": "prior"}),
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m etl_master_spark",
        description="Run the split/train/evaluate/export lifecycle "
        "(reference main_my.py parity, Spark-distributed).",
    )
    # reference argument names where a counterpart exists (main_my.py:30-52)
    p.add_argument("--data-dir", required=True, help="testdata sf dir (parquet tables)")
    p.add_argument("--model", choices=list(FAMILIES), default="popularity")
    p.add_argument("--epochs", type=int, default=15,
                   help="cdae training epochs / gan passes")
    p.add_argument("--emb_size", type=int, default=16, help="embedding size")
    p.add_argument("--lr", type=float, default=0.3, help="cdae/gan learning rate")
    p.add_argument("--seed", type=int, default=72)
    p.add_argument("--optimizer", choices=["gd", "adam"], default="gd",
                   help="gan: full-batch GD or the reference's Adam+SGD pair"
                        " (main_my.py:113-114)")
    p.add_argument("--prior", choices=["gaussian", "laplace", "uniform",
                                       "mixture"], default="gaussian",
                   help="gan prior distribution (reference menu,"
                        " main_my.py:167-175)")
    p.add_argument("--topk", type=int, nargs="+", default=[5, 10], help="ranking cutoffs")
    p.add_argument("--log", default=None, help="run dir: metrics log + artifacts")
    p.add_argument("--export-embeddings", action="store_true",
                   help="export the evaluated model's domain-x user"
                        " embeddings parquet (S5; als/cdae/gan)")
    p.add_argument("--skip-prepare", action="store_true",
                   help="skip the splits/negatives materialization stage")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    family, honored = FAMILIES[args.model]
    # a hyperparameter flag the chosen model cannot honor is an error,
    # not a silently ignored value (reference main_my.py:30-52 args all bind)
    tuned = {flag for _, flags in FAMILIES.values() for flag in flags}
    for flag in sorted(tuned - set(honored)):
        if getattr(args, flag) != parser.get_default(flag):
            parser.error(f"--{flag} does not apply to --model {args.model}")
    from etl_master_spark.session import get_spark

    spark = get_spark(app_name="etl_master_spark_cli")
    t_all = time.time()
    log_dir = args.log
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)

    def log_line(obj: dict) -> None:
        line = json.dumps(obj)
        print(line, flush=True)
        if log_dir:
            # append-only text log, the reference's S3 sink shape
            with open(os.path.join(log_dir, "run_log.jsonl"), "a") as f:
                f.write(line + "\n")

    # stage 1 — compute-if-missing splits + negatives (reference S2 cache)
    if args.skip_prepare:
        log_line({"stage": "prepare", "skipped": "--skip-prepare"})
    elif not log_dir:
        # the S2 cache needs a directory to live in; without --log the
        # splits are recomputed lazily by each consumer (same results,
        # no silent behavior change — just say so)
        log_line({"stage": "prepare", "skipped": "no --log dir to cache in"})
    else:
        from etl_master_spark.sources.sinks import materialize_splits

        t0 = time.time()
        sp, neg = materialize_splits(spark, args.data_dir, log_dir)
        log_line(
            {
                "stage": "prepare",
                "splits_rows": sp.count(),
                "negatives_rows": neg.count(),
                "sec": round(time.time() - t0, 2),
            }
        )

    # stage 2+3 — train once and evaluate both modes off that model
    t0 = time.time()
    model = None
    if family is None:  # popularity: a fixed ranking, nothing to train
        from etl_master_spark.operators.ranking import eval_metrics

        frames = {m: eval_metrics(spark, args.data_dir, m, ks=args.topk)
                  for m in ("vali", "test")}
    else:
        from etl_master_spark.model.scoring import evaluate
        from etl_master_spark.operators.recsplit import split_data

        fam = importlib.import_module(f"etl_master_spark.model.{family}")
        data = split_data(spark, args.data_dir)
        model = fam.train(spark, data, **{
            kw: getattr(args, flag) for flag, kw in honored.items()
        })
        frames = evaluate(fam.scores(spark, model), data, ks=args.topk)
    for mode, df in frames.items():
        for r in df.collect():
            log_line({"stage": "evaluate", "mode": mode, **r.asDict()})
    log_line({"stage": "train+evaluate", "model": args.model,
              "sec": round(time.time() - t0, 2)})

    # stage 4 — embedding export (S5) of the model stage 2 evaluated
    # (reference exports the trained model's embeddings, model_my.py:111-145)
    if args.export_embeddings:
        t0 = time.time()
        if model is None:
            log_line({"stage": "export_embeddings",
                      "skipped": "popularity model has no embeddings"})
        else:
            out = os.path.join(log_dir or ".", "user_embeddings")
            fam.user_embeddings(spark, model, "x").write.mode(
                "overwrite"
            ).parquet(out)
            log_line({"stage": "export_embeddings", "path": out,
                      "model": args.model,
                      "rows": spark.read.parquet(out).count(),
                      "sec": round(time.time() - t0, 2)})

    log_line({"stage": "done", "total_sec": round(time.time() - t_all, 2)})
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
