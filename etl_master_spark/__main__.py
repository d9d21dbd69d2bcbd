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
model family via distributed mapInPandas partial-gradient training).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m etl_master_spark",
        description="Run the split/train/evaluate/export lifecycle "
        "(reference main_my.py parity, Spark-distributed).",
    )
    # reference argument names where a counterpart exists (main_my.py:30-52)
    p.add_argument("--data-dir", required=True, help="testdata sf dir (parquet tables)")
    p.add_argument("--model", choices=["popularity", "als", "cdae", "gan"],
                   default="popularity")
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
                   help="export per-user embeddings parquet (S5; als/cdae)")
    p.add_argument("--skip-prepare", action="store_true",
                   help="skip the splits/negatives materialization stage")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
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

    # stage 2+3 — train (model-dependent) and evaluate both modes.
    # Every parsed hyperparameter reaches the trainer it applies to;
    # flags a model cannot honor are rejected up front rather than
    # silently ignored (reference parity: main_my.py:30-52 args all bind).
    t0 = time.time()
    if args.model == "popularity":
        from etl_master_spark.operators.ranking import eval_metrics

        frames = {m: eval_metrics(spark, args.data_dir, m, ks=args.topk)
                  for m in ("vali", "test")}
    elif args.model == "als":
        from etl_master_spark.model.als import als_eval

        frames = als_eval(spark, args.data_dir, rank=args.emb_size,
                          ks=args.topk)
    elif args.model == "gan":
        from etl_master_spark.model.gan import gan_eval_with

        frames = gan_eval_with(
            spark, args.data_dir, emb=args.emb_size, passes=args.epochs,
            lr=args.lr, seed=args.seed, ks=args.topk,
            optimizer=args.optimizer, prior=args.prior,
        )
    else:
        from etl_master_spark.model.cdae import cdae_eval

        frames = cdae_eval(spark, args.data_dir, emb=args.emb_size,
                           epochs=args.epochs, lr=args.lr, seed=args.seed,
                           ks=args.topk)
    for mode, df in frames.items():
        for r in df.collect():
            log_line({"stage": "evaluate", "mode": mode, **r.asDict()})
    log_line({"stage": "train+evaluate", "model": args.model,
              "sec": round(time.time() - t0, 2)})

    # stage 4 — embedding export (S5), dispatched on the TRAINED model:
    # als exports its factor rows, cdae its own latent z (reference
    # exports the model's embeddings, model_my.py:111-145); popularity
    # has no embeddings to export — warn, don't train a different model.
    if args.export_embeddings:
        t0 = time.time()
        if args.model == "popularity":
            log_line({"stage": "export_embeddings",
                      "skipped": "popularity model has no embeddings"})
        else:
            if args.model == "als":
                from etl_master_spark.model.als import export_user_embeddings

                emb = export_user_embeddings(spark, args.data_dir, "x")
            elif args.model == "gan":
                from etl_master_spark.model.gan import gan_user_embeddings

                emb = gan_user_embeddings(
                    spark, args.data_dir, "x", emb=args.emb_size,
                    passes=args.epochs, lr=args.lr, seed=args.seed,
                )
            else:
                from etl_master_spark.model.cdae import cdae_user_embeddings

                emb = cdae_user_embeddings(
                    spark, args.data_dir, "x", emb=args.emb_size,
                    epochs=args.epochs, lr=args.lr, seed=args.seed,
                )
            out = os.path.join(log_dir or ".", "user_embeddings")
            emb.write.mode("overwrite").parquet(out)
            log_line({"stage": "export_embeddings", "path": out,
                      "model": args.model,
                      "rows": spark.read.parquet(out).count(),
                      "sec": round(time.time() - t0, 2)})

    log_line({"stage": "done", "total_sec": round(time.time() - t_all, 2)})
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
