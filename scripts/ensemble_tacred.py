#!/usr/bin/env python
"""Multi-seed ensemble — the engine's form of ref:ensemble.sh +
ref:ensemble.py.

The reference trains 5 differently-seeded models, predicts with each, and
majority-votes the predictions; the equivalent here:

    PYTHONPATH=. python scripts/ensemble_tacred.py \
        --train dataset/tacred/train.json --eval dataset/tacred/test.json \
        --seeds 1234 99 7 --num-epoch 3 --optim myadagrad --lr 0.3 \
        --save-dir /tmp/ensemble_out

Each seed runs the full fit() loop (synchronous data-parallel updates,
checkpoints under save-dir/seed_<k>), predictions vote per example_id
(operators/ensemble.py; value tie-break for distributed determinism),
and the vote is scored with the exact reference scorer semantics.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
os.environ.setdefault("OMP_NUM_THREADS", "1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--train", help="TACRED-format train json")
    ap.add_argument("--eval", dest="eval_path",
                    help="TACRED-format eval json (default: train)")
    ap.add_argument("--synthetic", type=int, default=0)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1234, 99, 7])
    ap.add_argument("--optim", default="myadagrad")
    ap.add_argument("--lr", type=float, default=0.3)
    ap.add_argument("--num-epoch", type=int, default=3)
    ap.add_argument("--word-dropout", type=float, default=0.06)
    ap.add_argument("--save-dir", required=True)
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("ret-ensemble")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from relation_extraction_transformer_spark import constants as C
    from relation_extraction_transformer_spark import weights as W
    from relation_extraction_transformer_spark.config import ModelConfig
    from relation_extraction_transformer_spark.functions import masking as M
    from relation_extraction_transformer_spark.operators import (
        ensemble as EN,
        inference as INF,
        scorer as SC,
        train as TR,
    )
    from relation_extraction_transformer_spark.sources import tacred as TJ

    os.makedirs(args.save_dir, exist_ok=True)
    if args.synthetic:
        path = os.path.join(args.save_dir, "synthetic_train.json")
        TJ.write_synthetic_tacred_json(path, n=args.synthetic, seed=7)
        args.train = args.train or path

    def load(path):
        feats = TJ.tacred_to_candidates(TJ.read_tacred_json(spark, path))
        return feats.withColumn(
            "label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long")
        ).cache()

    train = load(args.train)
    eval_df = load(args.eval_path) if args.eval_path else train

    vocab = {C.PAD_TOKEN: 0, C.UNK_TOKEN: 1}
    for r in train.select(F.explode("masked_tokens").alias("t")).distinct(
    ).orderBy("t").collect():
        vocab.setdefault(r.t, len(vocab))
    vocab_bc = spark.sparkContext.broadcast(vocab)

    preds = []
    for seed in args.seeds:
        cfg = ModelConfig(vocab_size=len(vocab), seed=seed)
        params = {
            k: np.asarray(v, np.float64)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
        }
        hist = TR.fit(
            train, eval_df, params, cfg, vocab,
            optimizer_name=args.optim, lr=args.lr,
            num_epoch=args.num_epoch, word_dropout=args.word_dropout,
            checkpoint_dir=os.path.join(args.save_dir, f"seed_{seed}"),
        )
        print(f"seed {seed}: dev_f1 = {hist[-1]['dev_f1']:.4f}")
        pb = spark.sparkContext.broadcast(params)
        preds.append(
            INF.predict_relations(
                eval_df, pb, cfg, vocab_bc=vocab_bc, keep_probs=False
            )
        )

    voted = EN.majority_vote(preds, key=["example_id"])
    scored_input = (
        eval_df.select("example_id", F.col("gold_relation").alias("gold"))
        .join(voted, "example_id")
        .select("gold", F.expr(M.id_to_label_sql("voted_pred")).alias("guess"))
    )
    micro = SC.score_micro(scored_input).first()
    print(
        "ensemble micro: P={:.4f} R={:.4f} F1={:.4f}".format(
            micro.prec_micro, micro.recall_micro, micro.f1_micro
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
