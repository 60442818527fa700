#!/usr/bin/env python
"""Training-step throughput bench: synchronous train_step vs local SGD.

Reproduces BENCH.md's protocol (synthetic TACRED corpus, fp64,
local[CPUS], OMP pinned to one BLAS thread) and prints ONE JSON line:

  {"examples": N, "cores": C,
   "sync": {"step_sec": s, "examples_per_sec": r},
   "local_sgd": {"k": k, "round_sec": s, "grad_evals_per_sec": r,
                 "examples_per_round_sec": r2},
   "loss_parity": {...}}

- sync examples/s   = N / step_sec        (one gradient eval per example)
- grad_evals/s      = N * k / round_sec   (the local-SGD work rate; one
                      sync round performs k local steps per partition)
The serial driver fraction (collect + average) is paid once per ROUND in
local-SGD mode instead of once per STEP — the measured gap between
grad_evals/s and sync examples/s is exactly that amortization.

loss_parity compares equal-gradient-eval budgets: ``steps`` synchronous
plain-SGD steps vs ``steps/k`` local-SGD rounds on a smaller corpus, so
the k>1 deviation of model averaging is characterized, not guessed.

Usage:
  python scripts/bench_train.py --examples 32000 --cores 32 --k 4
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=32000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--k", type=int, default=4)
    ap.add_argument("--parity-examples", type=int, default=4000)
    ap.add_argument("--parity-steps", type=int, default=8)
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("ret-train-bench")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from relation_extraction_transformer_spark import constants as C
    from relation_extraction_transformer_spark import optim as OPT
    from relation_extraction_transformer_spark import weights as W
    from relation_extraction_transformer_spark.config import ModelConfig
    from relation_extraction_transformer_spark.functions import masking as M
    from relation_extraction_transformer_spark.operators import train as TR
    from relation_extraction_transformer_spark.sources import tacred as TJ

    def build_features(n: int, parts: int):
        path = f"/tmp/ret_train_bench_{n}.json"
        if not os.path.exists(path):
            TJ.write_synthetic_tacred_json(path, n=n, seed=11)
        feats = (
            TJ.tacred_to_candidates(TJ.read_tacred_json(spark, path))
            .withColumn(
                "label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long")
            )
            .repartition(parts)
            .cache()
        )
        rows = feats.select("masked_tokens").collect()
        vocab = {C.PAD_TOKEN: 0, C.UNK_TOKEN: 1}
        for r in rows:
            for t in r.masked_tokens:
                vocab.setdefault(t, len(vocab))
        return feats, vocab

    def fresh_params(cfg):
        return {
            k: np.asarray(v, np.float64)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in W.generate_weights(
                cfg, vocab_size=cfg.vocab_size
            ).items()
        }

    # ---- throughput ----
    feats, vocab = build_features(args.examples, args.cores)
    n = feats.count()
    cfg = ModelConfig(vocab_size=len(vocab))
    params = fresh_params(cfg)
    opt = OPT.SGD(lr=0.01, momentum=0.0, nesterov=False)

    TR.train_step(feats, params, cfg, opt, vocab=vocab)  # warm
    t0 = time.perf_counter()
    TR.train_step(feats, params, cfg, opt, vocab=vocab)
    sync_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    TR.local_sgd_step(feats, params, cfg, lr=0.01, k=args.k, vocab=vocab)
    local_sec = time.perf_counter() - t0

    # ---- loss parity at equal gradient-eval budget ----
    pfeats, pvocab = build_features(args.parity_examples, args.cores)
    pcfg = ModelConfig(vocab_size=len(pvocab))
    lr = 0.05

    p_sync = fresh_params(pcfg)
    opt_s = OPT.SGD(lr=lr, momentum=0.0, nesterov=False)
    sync_losses = [
        TR.train_step(
            pfeats, p_sync, pcfg, opt_s, vocab=pvocab, max_grad_norm=1e18
        )
        for _ in range(args.parity_steps)
    ]
    p_local = fresh_params(pcfg)
    local_losses = [
        TR.local_sgd_step(pfeats, p_local, pcfg, lr=lr, k=args.k, vocab=pvocab)
        for _ in range(max(1, args.parity_steps // args.k))
    ]
    # final loss at equal budget: evaluate one more (cheap) sync loss on
    # each parameter set via a zero-lr step
    final_sync = TR.train_step(
        pfeats, p_sync, pcfg, OPT.SGD(lr=0.0), vocab=pvocab
    )
    final_local = TR.train_step(
        pfeats, p_local, pcfg, OPT.SGD(lr=0.0), vocab=pvocab
    )

    print(json.dumps({
        "examples": n,
        "cores": args.cores,
        "sync": {
            "step_sec": round(sync_sec, 2),
            "examples_per_sec": round(n / sync_sec, 1),
        },
        "local_sgd": {
            "k": args.k,
            "round_sec": round(local_sec, 2),
            "grad_evals_per_sec": round(n * args.k / local_sec, 1),
            "examples_per_round_sec": round(n / local_sec, 1),
        },
        "loss_parity": {
            "examples": args.parity_examples,
            "lr": lr,
            "sync_steps": args.parity_steps,
            "local_rounds": max(1, args.parity_steps // args.k),
            "sync_losses": [round(x, 6) for x in sync_losses],
            "local_losses": [round(x, 6) for x in local_losses],
            "final_loss_sync": round(final_sync, 6),
            "final_loss_local": round(final_local, 6),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
