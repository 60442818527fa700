"""Batched relation-classifier inference as an Arrow UDF (SURVEY §2.4).

The entire reference forward pass (ref:model/relation_model.py:366-482) runs
as ONE ``mapInPandas`` over Arrow record batches — the Spark-native analog
of the reference's padded 50-row batches (ref:data/loader.py:304-316), with
``spark.sql.execution.arrow.maxRecordsPerBatch`` playing batch_size.  No
per-row Python: each Arrow batch is grouped by exact sentence length and
each group is one stack of NumPy GEMMs.

Weights travel as a Spark broadcast (one deserialization per worker
process, like the reference's driver-held embedding matrix,
ref:runner.py:206-219).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import constants as C
from ..config import ModelConfig
from ..functions.masking import id_to_label_sql
from ..kernel import forward_batch

#: columns the operator consumes (produced by operators.preprocess)
FEATURE_COLS = (
    "word_ids", "masked_tokens", "pos_ids", "ner_ids",
    "subj_positions", "obj_positions",
)


def as_dtype(params: dict, dtype) -> dict:
    """Cast every float parameter array once (e.g. float32 for inference:
    halves the GEMM memory traffic, which is the multi-core scaling
    limiter on bandwidth-bound hosts).  Int arrays pass through."""
    return {
        k: (v.astype(dtype) if np.issubdtype(v.dtype, np.floating) else v)
        for k, v in params.items()
    }


def tokens_to_word_ids(tokens: pd.Series, vocab: dict) -> list:
    """P3 vectorized: token -> id with UNK fallback.  Factorizes the
    exploded token column once; the Python dict is touched O(distinct)
    times, not O(tokens).  Returns a list of np.int64 arrays aligned with
    ``tokens`` (ref:data/loader.py:287-289)."""
    lens = tokens.map(len).to_numpy()
    flat = tokens.explode().dropna()
    codes, uniques = pd.factorize(flat.to_numpy())
    lut = np.fromiter(
        (vocab.get(u, C.UNK_ID) for u in uniques),
        dtype=np.int64,
        count=len(uniques),
    )
    flat_ids = lut[codes] if len(codes) else np.empty(0, dtype=np.int64)
    return np.split(flat_ids, np.cumsum(lens)[:-1]) if len(tokens) else []


def predict_relations(
    candidates: DataFrame,
    params_bc: Broadcast,
    cfg: ModelConfig,
    vocab_bc: Broadcast | None = None,
    keep_probs: bool = True,
) -> DataFrame:
    """Append ``pred`` (label id), ``pred_label``, ``prob`` (argmax prob)
    and optionally ``probs`` (42 floats) to a preprocessed candidates
    DataFrame.

    Same-length grouping inside each Arrow batch makes results independent
    of batch composition and partitioning (see kernel.py docstring); row
    order within each batch is preserved, and all passthrough columns are
    carried, so no positional alignment is needed downstream
    (replaces the reference's sort/unsort dance,
    ref:model/relation_model.py:102-103).
    """
    passthrough = [
        f for f in candidates.schema.fields if f.name not in FEATURE_COLS
    ]
    out_fields = list(passthrough) + [
        T.StructField("pred", T.IntegerType(), False),
        T.StructField("prob", T.DoubleType(), False),
    ]
    if keep_probs:
        out_fields.append(
            T.StructField("probs", T.ArrayType(T.DoubleType(), False), False)
        )
    schema = T.StructType(out_fields)
    pass_names = [f.name for f in passthrough]

    has_word_ids = "word_ids" in candidates.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        params = params_bc.value  # one unpickle per worker, cached by Spark
        vocab = vocab_bc.value if vocab_bc is not None else None
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            if not has_word_ids:
                pdf = pdf.assign(
                    word_ids=tokens_to_word_ids(pdf["masked_tokens"], vocab)
                )
            preds = np.zeros(n, dtype=np.int32)
            top = np.zeros(n, dtype=np.float64)
            probs_out: list | None = [None] * n if keep_probs else None

            lengths = pdf["word_ids"].map(len).to_numpy()
            for l in np.unique(lengths):
                idx = np.nonzero(lengths == l)[0]
                if l == 0 or l > C.ABS_MAX_LEN:
                    # out-of-range sentences are null-class by definition;
                    # upstream should have filtered them (P14 analog)
                    preds[idx] = 0
                    if probs_out is not None:
                        z = np.zeros(cfg.num_class)
                        z[0] = 1.0
                        for i in idx:
                            probs_out[i] = z.tolist()
                    top[idx] = 1.0
                    continue
                stack = lambda col: np.array(
                    [np.asarray(v, dtype=np.int64) for v in pdf[col].iloc[idx]]
                )
                p, pr = forward_batch(
                    params, cfg,
                    stack("word_ids"), stack("pos_ids"), stack("ner_ids"),
                    stack("subj_positions"), stack("obj_positions"),
                )
                preds[idx] = p
                top[idx] = pr[np.arange(len(idx)), p]
                if probs_out is not None:
                    for k, i in enumerate(idx):
                        probs_out[i] = pr[k].tolist()

            out = pdf[pass_names].copy()
            out["pred"] = preds
            out["prob"] = top
            if probs_out is not None:
                out["probs"] = probs_out
            yield out

    result = candidates.mapInPandas(run, schema=schema)
    return result.withColumn("pred_label", F.expr(id_to_label_sql("pred")))


def triples_from_predictions(predicted: DataFrame) -> DataFrame:
    """K19 tail: predicted null-class rows emit NO triple
    (ref:utils/scorer.py semantics — no_relation is not a relation)."""
    return predicted.filter(F.col("pred") != C.LABEL_TO_ID[C.NO_RELATION])
