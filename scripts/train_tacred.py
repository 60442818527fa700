#!/usr/bin/env python
"""Training entry point — the engine's form of ref:runner.py.

A reference user runs ``python runner.py --data_dir dataset/tacred ...``;
the equivalent here:

    PYTHONPATH=. python scripts/train_tacred.py \
        --train dataset/tacred/train.json --dev dataset/tacred/dev.json \
        --optim sgd --lr 0.05 --num-epoch 10 --word-dropout 0.06 \
        --save-dir /tmp/saved_models

- builds the word vocabulary from the training tokens (prepare_vocab
  analog; UNK-fallback at train time mirrors ref:data/loader.py:287-289)
- runs fit(): synchronous data-parallel gradient steps (gradient-checked
  NumPy backward inside one Arrow UDF pass per partition), dev micro-F1
  after each epoch, per-epoch checkpoints with best-model copy, and the
  reference's decay-on-plateau schedule (ref:runner.py:259-357)
- without --train, trains on a deterministic synthetic TACRED fixture
  (torch-free sandbox smoke)

Launch on a cluster exactly like the pipeline:
    spark-submit --py-files ret_spark.zip scripts/train_tacred.py ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
os.environ.setdefault("OMP_NUM_THREADS", "1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--train", help="TACRED-format train json")
    ap.add_argument("--dev", help="TACRED-format dev json (default: train)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic examples instead of --train")
    ap.add_argument("--save-dir", required=True)
    ap.add_argument("--optim", default="sgd",
                    help="sgd, asgd, adagrad/myadagrad, adam, nadam, adamax")
    ap.add_argument("--lr", type=float, default=0.05)
    ap.add_argument("--num-epoch", type=int, default=5)
    ap.add_argument("--decay-epoch", type=int, default=15)
    ap.add_argument("--lr-decay", type=float, default=0.9)
    ap.add_argument("--max-grad-norm", type=float, default=1.0)
    ap.add_argument("--word-dropout", type=float, default=0.06)
    ap.add_argument("--topn", type=int, default=None,
                    help="fine-tune only the top-n word embeddings")
    ap.add_argument("--local-sgd-k", type=int, default=None,
                    help="k local SGD steps per sync (FedAvg averaging; "
                         "amortizes the driver sync — see BENCH.md); "
                         "bypasses --optim")
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("ret-train")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from relation_extraction_transformer_spark import constants as C
    from relation_extraction_transformer_spark import weights as W
    from relation_extraction_transformer_spark.config import ModelConfig
    from relation_extraction_transformer_spark.functions import masking as M
    from relation_extraction_transformer_spark.operators import train as TR
    from relation_extraction_transformer_spark.sources import tacred as TJ

    if args.synthetic:
        path = os.path.join(args.save_dir, "synthetic_train.json")
        os.makedirs(args.save_dir, exist_ok=True)
        TJ.write_synthetic_tacred_json(path, n=args.synthetic, seed=7)
        args.train = args.train or path

    def load(path):
        feats = TJ.tacred_to_candidates(TJ.read_tacred_json(spark, path))
        return feats.withColumn(
            "label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long")
        ).cache()

    train = load(args.train)
    dev = load(args.dev) if args.dev else train

    # prepare_vocab analog: vocabulary from training tokens
    vocab = {C.PAD_TOKEN: 0, C.UNK_TOKEN: 1}
    for r in train.select(F.explode("masked_tokens").alias("t")).distinct(
    ).orderBy("t").collect():
        vocab.setdefault(r.t, len(vocab))

    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }

    history = TR.fit(
        train, dev, params, cfg, vocab,
        optimizer_name=args.optim, lr=args.lr, num_epoch=args.num_epoch,
        decay_epoch=args.decay_epoch, lr_decay=args.lr_decay,
        max_grad_norm=args.max_grad_norm, checkpoint_dir=args.save_dir,
        word_dropout=args.word_dropout, word_topn=args.topn,
        local_sgd_k=args.local_sgd_k,
    )
    for h in history:
        print(
            "epoch {epoch}: train_loss = {train_loss:.6f}, "
            "dev_f1 = {dev_f1:.4f}, lr = {lr:.6f}".format(**h)
        )
    with open(os.path.join(args.save_dir, "history.json"), "w") as f:
        json.dump(history, f)
    print(f"best model: {os.path.join(args.save_dir, 'best_model.npz')}")
    spark.stop()


if __name__ == "__main__":
    main()
