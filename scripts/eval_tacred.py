#!/usr/bin/env python
"""TACRED evaluation entry point — the engine's form of ref:eval.py.

A reference user runs ``python eval.py --model_dir saved --dataset test``;
the equivalent here:

    PYTHONPATH=. python scripts/eval_tacred.py \
        --data dataset/tacred/test.json \
        --weights artifacts/weights.npz \
        --out /tmp/preds_parquet

- reads the TACRED-format JSON (S1)
- runs preprocessing + the position-aware transformer as Arrow-batched
  inference
- scores predictions against the gold relations with the exact reference
  scorer semantics (per-relation table + micro P/R/F1,
  ref:utils/scorer.py:22-118)
- writes per-example predictions + 42-dim probability vectors (the
  engine's form of the probability pickle, ref:eval.py:92-96)

Without --weights, a seeded parameter set is generated (torch-free
sandbox); with a real exported checkpoint the same file format (.npz with
the documented keys, see weights.py) plugs in unchanged.
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
    ap.add_argument("--data", required=True, help="TACRED-format json file")
    ap.add_argument("--weights", help=".npz parameter set (seeded if omitted)")
    ap.add_argument("--out", help="parquet path for per-example predictions")
    ap.add_argument("--vocab-size", type=int, default=2048)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("eval-tacred")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from relation_extraction_transformer_spark import weights as W
    from relation_extraction_transformer_spark.config import ModelConfig
    from relation_extraction_transformer_spark.operators import (
        inference as INF,
        scorer as SC,
    )
    from relation_extraction_transformer_spark.sources import tables as TB
    from relation_extraction_transformer_spark.sources import tacred as TJ

    examples = TJ.read_tacred_json(spark, args.data)
    feats = TJ.tacred_to_candidates(examples)

    # vocab from the corpus's masked tokens (deterministic order); a real
    # deployment loads the training vocab artifact instead
    tokens = sorted(
        r.t for r in feats.select(
            F.explode("masked_tokens").alias("t")
        ).distinct().collect()
    )
    vocab = {"<PAD>": 0, "<UNK>": 1}
    for t in tokens:
        vocab.setdefault(t, len(vocab))

    cfg = ModelConfig(vocab_size=len(vocab))
    params = (
        W.load_npz(args.weights) if args.weights
        else W.generate_weights(cfg, vocab_size=len(vocab))
    )
    predicted = INF.predict_relations(
        feats,
        spark.sparkContext.broadcast(params),
        cfg,
        vocab_bc=spark.sparkContext.broadcast(vocab),
    ).cache()

    pairs = predicted.select(
        F.col("gold_relation").alias("gold"),
        F.col("pred_label").alias("guess"),
    )
    print("Per-relation statistics:")
    for r in SC.score_per_relation(pairs).orderBy("relation").collect():
        print(
            f"{r.relation:<42} P: {r.prec:7.2%}  R: {r.recall:7.2%}  "
            f"F1: {r.f1:7.2%}  #: {r.gold_cnt}"
        )
    m = SC.score_micro(pairs).first()
    print("\nFinal Score:")
    print(f"Precision (micro): {m.prec_micro:.3%}")
    print(f"   Recall (micro): {m.recall_micro:.3%}")
    print(f"       F1 (micro): {m.f1_micro:.3%}")

    if args.out:
        TB.write_table(
            predicted.select(
                "example_id", "gold_relation", "pred", "pred_label", "prob",
                "probs",
            ),
            args.out, fmt="parquet", cluster_by=["example_id"],
        )
        print(f"\nPredictions saved to {args.out}")

    spark.stop()


if __name__ == "__main__":
    main()
