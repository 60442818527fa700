"""Distributed training step: synchronous data-parallel gradients.

The Spark-native form of the reference's ``update()`` loop
(ref:model/relation_model.py:51-79 driving ref:runner.py:259-357): each
partition computes the gradient of the UN-normalized weighted-CE sum over
its rows inside ONE Arrow UDF pass (same-length grouping, same kernel
shape as inference), emits a single (loss_sum, weight_sum, grad-blob) row,
and the driver sums partition gradients, normalizes by the total class
weight, clips, and applies the optimizer — synchronous SGD with the
driver as the (only) parameter server, the standard Spark training shape.

Exactness: sum-form gradients make the distributed result equal to the
single-process full-batch gradient bit-for-bit up to fp summation order
(tests/test_training.py pins rtol 1e-12 in fp64, bn_mode="eval").

BatchNorm: "eval" (default) freezes running stats — every partition sees
identical normalization, so gradients aggregate exactly (the fine-tuning
form).  "train" uses per-partition batch statistics — the same semantics
as torch DDP *without* SyncBN; stats updates are weighted-averaged on the
driver.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from .. import constants as C
from .. import optim as OPT
from .. import weights as W
from ..config import ModelConfig
from ..kernel_grad import apply_bn_updates, loss_and_grads
from .inference import tokens_to_word_ids

FEATURE_COLS = (
    "word_ids", "masked_tokens", "pos_ids", "ner_ids",
    "subj_positions", "obj_positions",
)

_OUT_SCHEMA = "n long, loss_sum double, weight_sum double, blob binary"


def gradient_rows(
    features: DataFrame,
    params_bc,
    cfg: ModelConfig,
    label_col: str = "label_id",
    vocab_bc=None,
    class_weights: np.ndarray | None = None,
    bn_mode: str = "eval",
    word_topn: int | None = None,
    dtype: str = "float64",
) -> DataFrame:
    """features (+ int label column) -> one gradient row per partition.

    ``dtype="float32"`` runs forward+backward and ships gradients in fp32
    (the reference trains fp32 torch) — half the GEMM and blob traffic;
    fp64 stays the default because the finite-difference gradient gate
    and the distributed==local parity pin exactness there."""
    has_word_ids = "word_ids" in features.columns
    np_dtype = np.dtype(dtype)
    cw = None if class_weights is None else np.asarray(class_weights, dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        params = {
            k: np.asarray(v, dtype=np_dtype)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in params_bc.value.items()
        }
        vocab = vocab_bc.value if vocab_bc is not None else None
        total: dict | None = None
        bn_acc: dict = {}
        n = 0
        loss_sum = 0.0
        weight_sum = 0.0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not has_word_ids:
                pdf = pdf.assign(
                    word_ids=tokens_to_word_ids(pdf["masked_tokens"], vocab)
                )
            lengths = pdf["word_ids"].map(len).to_numpy()
            for l in np.unique(lengths):
                if l == 0 or l > C.ABS_MAX_LEN:
                    continue
                idx = np.nonzero(lengths == l)[0]
                stack = lambda col: np.array(
                    [np.asarray(x, dtype=np.int64) for x in pdf[col].iloc[idx]]
                )
                ls, ws, grads, bn_up = loss_and_grads(
                    params, cfg,
                    stack("word_ids"), stack("pos_ids"), stack("ner_ids"),
                    stack("subj_positions"), stack("obj_positions"),
                    pdf[label_col].iloc[idx].to_numpy(dtype=np.int64),
                    class_weights=cw, bn_mode=bn_mode, word_topn=word_topn,
                )
                n += len(idx)
                loss_sum += ls
                weight_sum += ws
                if total is None:
                    total = grads
                else:
                    for k_ in grads:
                        total[k_] += grads[k_]
                for pre, (mean, var_u, cnt) in bn_up.items():
                    m0, v0, c0 = bn_acc.get(pre, (0.0, 0.0, 0))
                    bn_acc[pre] = (m0 + mean * cnt, v0 + var_u * cnt, c0 + cnt)
        if total is None:
            return
        for pre, (msum, vsum, cnt) in bn_acc.items():
            total[f"__bn_mean__{pre}"] = msum / cnt
            total[f"__bn_var__{pre}"] = vsum / cnt
            total[f"__bn_n__{pre}"] = np.array([cnt], dtype=np.int64)
        # ship the word-embedding gradient sparse: a partition only touches
        # the vocab rows its tokens hit, but the dense grad is
        # vocab_size x emb_dim (132 MB/partition at the reference's 55,950
        # vocab) — rows-present + compact matrix keeps the driver collect
        # proportional to actual tokens, the torch sparse-emb-grad analog
        we = total.pop("word_emb")
        touched = np.nonzero(np.abs(we).sum(axis=1))[0]
        total["__word_rows__"] = touched.astype(np.int64)
        total["__word_vals__"] = we[touched]
        total["__word_shape__"] = np.array(we.shape, dtype=np.int64)
        yield pd.DataFrame(
            {
                "n": [n],
                "loss_sum": [loss_sum],
                "weight_sum": [weight_sum],
                "blob": [W.to_bytes_fast(total)],
            }
        )

    return features.mapInPandas(run, schema=_OUT_SCHEMA)


def _merge_blob_into(acc: dict, blob: dict) -> None:
    """Merge one serialized gradient blob into an accumulator dict that
    keeps word-emb sparse as {row_index: vector} (``__word_acc__``)."""
    if "__word_rows__" in blob:
        wacc = acc.setdefault("__word_acc__", {})
        for row, vec in zip(blob["__word_rows__"], blob["__word_vals__"]):
            prev = wacc.get(int(row))
            wacc[int(row)] = vec if prev is None else prev + vec
        acc["__word_shape__"] = blob["__word_shape__"]
    for k, v in blob.items():
        if k.startswith("__word_"):
            continue
        if not k.startswith("__bn_"):
            acc[k] = acc.get(k, 0.0) + v
        elif k.startswith("__bn_n__"):
            pre = k[len("__bn_n__"):]
            cnt = int(v[0])
            m0, v0, c0 = acc.setdefault("__bn_acc__", {}).get(pre, (0.0, 0.0, 0))
            acc["__bn_acc__"][pre] = (
                m0 + blob[f"__bn_mean__{pre}"] * cnt,
                v0 + blob[f"__bn_var__{pre}"] * cnt,
                c0 + cnt,
            )


def _acc_to_blob(acc: dict) -> dict:
    """Accumulator -> serializable blob (same wire format gradient_rows
    emits), so merged rows re-merge transparently."""
    out = {
        k: v
        for k, v in acc.items()
        if k not in ("__word_acc__", "__bn_acc__", "__word_shape__")
    }
    if "__word_acc__" in acc:
        rows = np.array(sorted(acc["__word_acc__"]), dtype=np.int64)
        out["__word_rows__"] = rows
        out["__word_vals__"] = np.array(
            [acc["__word_acc__"][int(r)] for r in rows]
        )
        out["__word_shape__"] = acc["__word_shape__"]
    for pre, (msum, vsum, cnt) in acc.get("__bn_acc__", {}).items():
        out[f"__bn_mean__{pre}"] = msum / cnt
        out[f"__bn_var__{pre}"] = vsum / cnt
        out[f"__bn_n__{pre}"] = np.array([cnt], dtype=np.int64)
    return out


def tree_combine(grad_rows: DataFrame, width: int) -> DataFrame:
    """Executor-side pre-combine of gradient rows into ``width`` rows —
    the treeAggregate level that keeps the driver collect O(width) blobs
    instead of O(partitions) at 1000-executor scale."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        n = 0
        loss_sum = 0.0
        weight_sum = 0.0
        for pdf in batches:
            for n_i, ls_i, ws_i, blob_i in zip(
                pdf["n"].to_numpy(),
                pdf["loss_sum"].to_numpy(),
                pdf["weight_sum"].to_numpy(),
                pdf["blob"],
            ):
                n += int(n_i)
                loss_sum += float(ls_i)
                weight_sum += float(ws_i)
                _merge_blob_into(acc, W.from_bytes(bytes(blob_i)))
        if not acc:
            return
        yield pd.DataFrame(
            {
                "n": [n],
                "loss_sum": [loss_sum],
                "weight_sum": [weight_sum],
                "blob": [W.to_bytes_fast(_acc_to_blob(acc))],
            }
        )

    return grad_rows.repartition(width).mapInPandas(merge, schema=_OUT_SCHEMA)


def aggregate_gradients(rows: list) -> tuple[float, dict, dict]:
    """Driver-side combine of collected gradient rows.

    Returns (mean_loss, mean_grads, bn_updates) where mean_grads is the
    gradient of the torch weighted-mean CE over the full dataset."""
    total: dict = {}
    bn_n: dict = {}
    loss_sum = 0.0
    weight_sum = 0.0
    word_dense = None
    for r in rows:
        loss_sum += r.loss_sum
        weight_sum += r.weight_sum
        blob = W.from_bytes(bytes(r.blob))
        if "__word_rows__" in blob:
            if word_dense is None:
                word_dense = np.zeros(
                    tuple(blob["__word_shape__"]), dtype=np.float64
                )
            word_dense[blob["__word_rows__"]] += blob["__word_vals__"]
        for k, v in blob.items():
            if k.startswith("__word_"):
                continue
            if not k.startswith("__bn_"):
                total[k] = total.get(k, 0.0) + v
            elif k.startswith("__bn_n__"):
                # weighted-average per-partition BN stats (per-replica BN)
                pre = k[len("__bn_n__"):]
                cnt = int(v[0])
                m0, v0, c0 = bn_n.get(pre, (0.0, 0.0, 0))
                bn_n[pre] = (
                    m0 + blob[f"__bn_mean__{pre}"] * cnt,
                    v0 + blob[f"__bn_var__{pre}"] * cnt,
                    c0 + cnt,
                )
    bn_updates = {
        pre: (msum / cnt, vsum / cnt, cnt)
        for pre, (msum, vsum, cnt) in bn_n.items()
    }
    if word_dense is not None:
        total["word_emb"] = word_dense
    grads = {k: v / weight_sum for k, v in total.items()}
    return loss_sum / weight_sum, grads, bn_updates


def train_step(
    features: DataFrame,
    params: W.Params,
    cfg: ModelConfig,
    optimizer: OPT.Optimizer,
    label_col: str = "label_id",
    vocab: dict | None = None,
    class_weights: np.ndarray | None = None,
    max_grad_norm: float = 1.0,
    bn_mode: str = "eval",
    word_topn: int | None = None,
    tree_width: int | None = "auto",
    dtype: str = "float64",
) -> float:
    """One synchronous distributed update (ref:relation_model.py:51-79):
    forward+backward on executors, clip + optimizer step on the driver.
    Mutates ``params`` in place; returns the mean weighted-CE loss.

    ``tree_width`` adds an executor-side combine so the driver collects
    that many gradient blobs instead of one per partition — without it
    the driver's blob ingest IS the wall once partitions x model size is
    large (measured: 32 partitions x ~35 MB fp64 blobs held a 32-core
    step to 721 ex/s; tree_width=4 released it to 1,994 ex/s — BENCH.md).
    "auto" (default) combines down to 4 whenever the input has more than
    8 partitions; None disables."""
    spark = features.sparkSession
    params_bc = spark.sparkContext.broadcast(params)
    vocab_bc = spark.sparkContext.broadcast(vocab) if vocab is not None else None
    try:
        grad_df = gradient_rows(
            features, params_bc, cfg, label_col=label_col, vocab_bc=vocab_bc,
            class_weights=class_weights, bn_mode=bn_mode, word_topn=word_topn,
            dtype=dtype,
        )
        if tree_width == "auto":
            n_parts = features.rdd.getNumPartitions()
            tree_width = 4 if n_parts > 8 else None
        if tree_width is not None:
            grad_df = tree_combine(grad_df, tree_width)
        rows = grad_df.collect()
    finally:
        params_bc.unpersist()
    if not rows:
        raise ValueError(
            "train_step: no usable training rows (empty input, or every "
            "sentence outside [1, ABS_MAX_LEN])"
        )
    loss, grads, bn_updates = aggregate_gradients(rows)
    OPT.clip_grad_norm(grads, max_grad_norm)
    optimizer.step(params, grads)
    if bn_updates:
        apply_bn_updates(params, bn_updates)
    return loss


def local_sgd_rows(
    features: DataFrame,
    params_bc,
    cfg: ModelConfig,
    lr: float,
    k: int,
    label_col: str = "label_id",
    vocab_bc=None,
    class_weights: np.ndarray | None = None,
    word_topn: int | None = None,
    dtype: str = "float64",
) -> DataFrame:
    """Local SGD (k local steps per sync): each partition takes ``k``
    plain-SGD steps on its OWN rows and emits ONE row carrying the
    weight-preweighted parameter delta (delta * partition_weight) in the
    same wire format as :func:`gradient_rows`, so :func:`tree_combine`
    and :func:`aggregate_gradients` compose unchanged and the driver
    update is ``params += sum(preweighted deltas) / sum(weights)`` —
    FedAvg-style weighted model averaging.

    This is the documented mitigation for the driver-as-parameter-server
    serial fraction (BENCH.md): k local steps amortize ONE driver sync
    over k updates.  At k=1 with momentum-free SGD it is mathematically
    the synchronous step (weighted average of per-partition steps == step
    on the weighted-average gradient; pinned at rtol 1e-12 in
    tests/test_training.py).  BN stays frozen ("eval") — per-partition BN
    drift under model averaging is not meaningful to average.

    ``loss_sum``/``weight_sum`` report the FIRST local step's loss — the
    loss at the synced parameters, directly comparable to the synchronous
    step's loss at the same point."""
    if not isinstance(k, int) or k < 1:
        raise ValueError(
            f"local SGD needs k >= 1 local steps per sync, got k={k!r}"
        )
    has_word_ids = "word_ids" in features.columns
    np_dtype = np.dtype(dtype)
    cw = None if class_weights is None else np.asarray(class_weights, dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        params = {
            key: np.asarray(v, dtype=np_dtype)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for key, v in params_bc.value.items()
        }
        vocab = vocab_bc.value if vocab_bc is not None else None
        # materialize the partition's batches once; k passes reuse them
        groups: list[tuple] = []
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not has_word_ids:
                pdf = pdf.assign(
                    word_ids=tokens_to_word_ids(pdf["masked_tokens"], vocab)
                )
            lengths = pdf["word_ids"].map(len).to_numpy()
            for l in np.unique(lengths):
                if l == 0 or l > C.ABS_MAX_LEN:
                    continue
                idx = np.nonzero(lengths == l)[0]
                stack = lambda col: np.array(
                    [np.asarray(x, dtype=np.int64) for x in pdf[col].iloc[idx]]
                )
                groups.append((
                    stack("word_ids"), stack("pos_ids"), stack("ner_ids"),
                    stack("subj_positions"), stack("obj_positions"),
                    pdf[label_col].iloc[idx].to_numpy(dtype=np.int64),
                ))
                n += len(idx)
        if not groups:
            return
        local = {
            key: v.copy() if isinstance(v, np.ndarray) and
            np.issubdtype(v.dtype, np.floating) else v
            for key, v in params.items()
        }
        loss_first = 0.0
        ws_first = 0.0
        for step in range(k):
            total: dict | None = None
            loss_sum = 0.0
            weight_sum = 0.0
            for g in groups:
                ls, ws, grads, _ = loss_and_grads(
                    local, cfg, *g, class_weights=cw, bn_mode="eval",
                    word_topn=word_topn,
                )
                loss_sum += ls
                weight_sum += ws
                if total is None:
                    total = grads
                else:
                    for key in grads:
                        total[key] += grads[key]
            if step == 0:
                loss_first, ws_first = loss_sum, weight_sum
            for key in total:
                local[key] = local[key] - lr * total[key] / weight_sum
        # preweighted delta: delta * partition_weight sums linearly across
        # partitions, so the driver (and tree_combine) just adds blobs
        delta = {
            key: (local[key] - params[key]) * ws_first for key in total
        }
        we = delta.pop("word_emb")
        touched = np.nonzero(np.abs(we).sum(axis=1))[0]
        delta["__word_rows__"] = touched.astype(np.int64)
        delta["__word_vals__"] = we[touched]
        delta["__word_shape__"] = np.array(we.shape, dtype=np.int64)
        yield pd.DataFrame(
            {
                "n": [n],
                "loss_sum": [loss_first],
                "weight_sum": [ws_first],
                "blob": [W.to_bytes_fast(delta)],
            }
        )

    return features.mapInPandas(run, schema=_OUT_SCHEMA)


def local_sgd_step(
    features: DataFrame,
    params: W.Params,
    cfg: ModelConfig,
    lr: float,
    k: int = 4,
    label_col: str = "label_id",
    vocab: dict | None = None,
    class_weights: np.ndarray | None = None,
    word_topn: int | None = None,
    tree_width: int | None = "auto",
    dtype: str = "float64",
) -> float:
    """One local-SGD sync round: k local steps per partition, then ONE
    weighted model average on the driver.  Mutates ``params`` in place;
    returns the mean weighted-CE loss at the synced parameters (before
    this round's updates).  See :func:`local_sgd_rows`."""
    spark = features.sparkSession
    params_bc = spark.sparkContext.broadcast(params)
    vocab_bc = spark.sparkContext.broadcast(vocab) if vocab is not None else None
    try:
        delta_df = local_sgd_rows(
            features, params_bc, cfg, lr, k, label_col=label_col,
            vocab_bc=vocab_bc, class_weights=class_weights,
            word_topn=word_topn, dtype=dtype,
        )
        if tree_width == "auto":
            n_parts = features.rdd.getNumPartitions()
            tree_width = 4 if n_parts > 8 else None
        if tree_width is not None:
            delta_df = tree_combine(delta_df, tree_width)
        rows = delta_df.collect()
    finally:
        params_bc.unpersist()
    if not rows:
        raise ValueError(
            "local_sgd_step: no usable training rows (empty input, or "
            "every sentence outside [1, ABS_MAX_LEN])"
        )
    loss, avg_delta, _ = aggregate_gradients(rows)
    for key, d in avg_delta.items():
        params[key] = params[key] + np.asarray(d, dtype=params[key].dtype)
    return loss


def epoch_training_features(
    train_features: DataFrame,
    word_dropout: float,
    epoch: int,
    row_key_col: str | None = None,
) -> DataFrame:
    """Per-epoch training view: word dropout (P10) resampled per epoch
    like the reference's batch rebuild (ref:data/loader.py:253-257,
    328-332), with a deterministic per-(row, epoch) coin.  Any precomputed
    ``word_ids`` column is dropped so ids are re-derived from the dropped
    tokens inside gradient_rows — otherwise dropout would be a silent
    no-op for features that carry word_ids."""
    if word_dropout <= 0.0:
        return train_features

    from pyspark.sql import functions as F

    from ..functions.training import word_dropout_tokens

    key = (
        F.col(row_key_col)
        if row_key_col
        else F.concat_ws(" ", F.col("masked_tokens"))
    )
    out = train_features.withColumn(
        "masked_tokens",
        word_dropout_tokens(F.col("masked_tokens"), word_dropout, epoch, key),
    )
    if "word_ids" in out.columns:
        out = out.drop("word_ids")
    return out


def should_decay_lr(dev_f1_history: list, dev_f1: float, decay_epoch: int) -> bool:
    """ref:runner.py:341-343: decay once the history is longer than
    decay_epoch AND this epoch's dev F1 did not improve on the last."""
    return len(dev_f1_history) > decay_epoch and dev_f1 <= dev_f1_history[-1]


def fit(
    train_features: DataFrame,
    dev_features: DataFrame,
    params: W.Params,
    cfg: ModelConfig,
    vocab: dict,
    optimizer_name: str = "sgd",
    lr: float = 0.05,
    num_epoch: int = 5,
    steps_per_epoch: int = 1,
    decay_epoch: int = 15,
    lr_decay: float = 0.9,
    max_grad_norm: float = 1.0,
    checkpoint_dir: str | None = None,
    label_col: str = "label_id",
    gold_col: str = "gold_relation",
    bn_mode: str = "eval",
    word_dropout: float = 0.0,
    row_key_col: str | None = None,
    word_topn: int | None = None,
    class_weights: np.ndarray | None = None,
    dtype: str = "float64",
    local_sgd_k: int | None = None,
) -> list[dict]:
    """The reference's epoch loop (ref:runner.py:259-357) in Spark form:
    per-epoch synchronous distributed update(s), dev-set predict + micro
    F1 (ref:utils/scorer.py semantics), per-epoch checkpoint with
    best-model copy (ref:runner.py:319-326), and decay-on-plateau
    (ref:runner.py:341-343).  Mutates ``params``; returns per-epoch
    history rows [{epoch, train_loss, dev_f1, lr}].

    The reference runs one torch ``update()`` per 50-row batch; the
    distributed equivalent is a synchronous full-data gradient step
    (``steps_per_epoch`` of them per epoch) — same gradient direction,
    cluster-sized batch.

    ``word_topn`` is the reference's ``--topn`` (ref:runner.py topn /
    keep_partial_grad): only the top-n word-embedding rows receive
    gradient updates; ``class_weights`` / ``dtype`` pass straight through
    to :func:`train_step`.

    ``local_sgd_k`` switches each step to :func:`local_sgd_step` (k local
    plain-SGD steps per partition per sync, FedAvg model averaging) —
    the amortized-sync mode for when the driver update is the wall; the
    named optimizer/momentum is bypassed in that mode (plain SGD at the
    current decayed lr)."""
    import os

    from pyspark.sql import functions as F

    from ..functions.masking import id_to_label_sql
    from . import inference as INF
    from . import scorer as SC

    import pickle

    spark = train_features.sparkSession
    opt = OPT.get_optimizer(optimizer_name, lr)
    current_lr = lr
    dev_f1_history: list = []
    history: list[dict] = []
    first_epoch = 1

    # checkpoint-resume (the training twin of the pipeline's resumable
    # materialization): trainer_state.pkl carries epoch, lr, optimizer
    # state and the dev-F1 history; params come from the epoch checkpoint
    state_path = (
        os.path.join(checkpoint_dir, "trainer_state.pkl")
        if checkpoint_dir
        else None
    )
    if state_path and os.path.exists(state_path):
        with open(state_path, "rb") as f:
            st = pickle.load(f)
        first_epoch = st["epoch"] + 1
        current_lr = st["lr"]
        dev_f1_history = st["dev_f1_history"]
        history = st["history"]
        opt.state = st["opt_state"]
        opt.step_count = st["opt_step_count"]
        opt.set_lr(current_lr)
        ckpt = os.path.join(
            checkpoint_dir, f"checkpoint_epoch_{st['epoch']}.npz"
        )
        params.clear()
        params.update(W.load_npz(ckpt))

    vocab_bc = spark.sparkContext.broadcast(vocab)

    for epoch in range(first_epoch, num_epoch + 1):
        epoch_train = epoch_training_features(
            train_features, word_dropout, epoch, row_key_col
        )
        train_loss = 0.0
        for _ in range(steps_per_epoch):
            if local_sgd_k:
                train_loss = local_sgd_step(
                    epoch_train, params, cfg, lr=current_lr, k=local_sgd_k,
                    label_col=label_col, vocab=vocab,
                    class_weights=class_weights, word_topn=word_topn,
                    dtype=dtype,
                )
            else:
                train_loss = train_step(
                    epoch_train, params, cfg, opt, label_col=label_col,
                    vocab=vocab, max_grad_norm=max_grad_norm, bn_mode=bn_mode,
                    word_topn=word_topn, class_weights=class_weights,
                    dtype=dtype,
                )

        params_bc = spark.sparkContext.broadcast(params)
        pred = INF.predict_relations(
            dev_features, params_bc, cfg, vocab_bc=vocab_bc, keep_probs=False
        ).withColumn("guess", F.expr(id_to_label_sql("pred")))
        dev_f1 = float(
            SC.score_micro(
                pred.select(F.col(gold_col).alias("gold"), "guess")
            ).first().f1_micro
        )
        params_bc.unpersist()

        if checkpoint_dir is not None:
            os.makedirs(checkpoint_dir, exist_ok=True)
            ckpt = os.path.join(checkpoint_dir, f"checkpoint_epoch_{epoch}.npz")
            W.save_npz(params, ckpt)
            if not dev_f1_history or dev_f1 > max(dev_f1_history):
                import shutil

                shutil.copyfile(
                    ckpt, os.path.join(checkpoint_dir, "best_model.npz")
                )

        if should_decay_lr(dev_f1_history, dev_f1, decay_epoch):
            current_lr *= lr_decay
            opt.set_lr(current_lr)

        dev_f1_history.append(dev_f1)
        history.append(
            dict(epoch=epoch, train_loss=train_loss, dev_f1=dev_f1,
                 lr=current_lr)
        )
        if state_path:
            with open(state_path, "wb") as f:
                pickle.dump(
                    dict(epoch=epoch, lr=current_lr,
                         dev_f1_history=dev_f1_history, history=history,
                         opt_state=opt.state,
                         opt_step_count=opt.step_count),
                    f,
                )
    return history
