"""Vectorized NumPy inference kernel (SURVEY §2.4, K1-K19).

Re-implements the eval-mode forward pass of the reference network
(ref:model/relation_model.py:366-482 and ref:model/transformer/*) for a
batch of SAME-LENGTH examples.  Same-length batching is a deliberate
semantic choice: the reference pads per batch, and several of its operators
(diagonal-stripe attention geometry, max-pool over time) depend on the
padded length, making its outputs batch-composition-dependent.  Grouping by
exact length removes padding entirely, so results are independent of batch
composition, partitioning, and parallelism — a hard requirement for a
deterministic distributed engine.

Eval-mode simplifications (ref:relation_model.py:96, eval.py:82):
- all dropouts are identity
- BatchNorm1d uses running statistics (a per-channel affine transform)
- RReLU acts as LeakyReLU with slope (lower+upper)/2

Arithmetic dtype follows the parameter arrays (float64 for the oracle,
float32 on the pipeline hot path — see pipeline.build_artifacts; the
end-to-end test pins fp32-vs-fp64 triple equality).  Results are
bit-identical whatever the batch composition: every GEMM whose row count
grows with the batch goes through :func:`_gemm`, which pads the rows to a
multiple of ``_GEMM_ROWS`` (see there).  Pin BLAS to one thread per Spark
task (OMP_NUM_THREADS=1) — parallelism comes from partitions, not BLAS.
"""

from __future__ import annotations

import numpy as np

from . import constants as C
from .config import ModelConfig
from .weights import Params, EPS_BN, RRELU_EVAL_SLOPE


def _softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


# BLAS computes the rows of a GEMM's last partial row tile with a
# different micro-kernel than full tiles, so the same row can round
# differently in the last float bit depending on how many rows share
# its GEMM (at float32, enough to move a probability in its 7th digit).
# With the row count padded to a multiple of 32 every row sits in a full
# tile and its result depends on its own values only
# (tests/test_kernel.py pins this bit for bit at float32).
_GEMM_ROWS = 32


def _gemm(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """``x @ w.T`` over the last axis of ``x`` as ONE GEMM over the
    flattened rows (for stacked (B, l, d) inputs ~1.5x faster than the B
    skinny GEMMs np.matmul would dispatch), with the rows zero-padded to
    a multiple of ``_GEMM_ROWS``."""
    flat = x.reshape(-1, x.shape[-1])
    m = flat.shape[0]
    pad = -m % _GEMM_ROWS
    if pad:
        zeros = np.zeros((pad, flat.shape[1]), flat.dtype)
        flat = np.concatenate([flat, zeros])
    return (flat @ w.T)[:m].reshape(*x.shape[:-1], w.shape[0])


def _linear(x: np.ndarray, p: Params, name: str) -> np.ndarray:
    return _gemm(x, p[f"{name}_w"]) + p[f"{name}_b"]


def _batch_norm_eval(x: np.ndarray, p: Params, pre: str) -> np.ndarray:
    """BatchNorm1d in eval mode over the channel (d_model) axis, which is
    the LAST axis of (B, L, d) here (the reference permutes to (B, d, L)
    first — ref:transformer/SubLayers.py:126-138 — equivalent per-channel
    affine)."""
    gamma = p[pre + "_bn_gamma"]
    beta = p[pre + "_bn_beta"]
    mean = p[pre + "_bn_mean"]
    var = p[pre + "_bn_var"]
    return gamma * (x - mean) / np.sqrt(var + EPS_BN) + beta


def _layer_norm(x: np.ndarray, p: Params, pre: str, eps: float = 1e-5) -> np.ndarray:
    """LayerNorm over d_model (ref:transformer/SubLayers.py:68,164) — the
    use_batch_norm=False variant; reuses the gamma/beta parameter slots."""
    mean = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (
        p[pre + "_bn_gamma"] * (x - mean) / np.sqrt(var + eps)
        + p[pre + "_bn_beta"]
    )


def sinusoid_table(n_position: int, d: int) -> np.ndarray:
    """K2: fixed sinusoid position table with zeroed PAD row
    (ref:model/transformer/Models.py:18-36)."""
    pos = np.arange(n_position)[:, None]
    dim = np.arange(d)[None, :]
    angle = pos / np.power(10000.0, 2 * (dim // 2) / d)
    table = np.zeros((n_position, d))
    table[:, 0::2] = np.sin(angle[:, 0::2])
    table[:, 1::2] = np.cos(angle[:, 1::2])
    table[C.PAD_ID] = 0.0
    return table


def _stripe_indices(length: int) -> tuple[np.ndarray, np.ndarray]:
    """Index arrays realizing the reference's flip + as_strided diagonal
    stripe (ref:model/transformer/Modules.py:46-90).

    For padded length L == l the composition works out to

        attn[i, j] += attn_pos[L-1-i, i+j] / temper

    i.e. row index flipped, column index the anti-diagonal offset.  Derived
    step by step:  pre = attn_pos.T -> flip last axis -> as_strided with
    strides (k, k+l) picks element [m+n, n] -> transpose back.
    """
    i = np.arange(length)
    row = (length - 1 - i)[:, None].repeat(length, axis=1)      # (l, l)
    col = i[:, None] + i[None, :]                               # i + j
    return row, col


def encoder_forward(
    p: Params,
    cfg: ModelConfig,
    x: np.ndarray,              # (B, l, d) input embeddings incl. positional
    dpa: np.ndarray | None,     # (2l-1, d) diagonal positional embeddings,
                                # None when diagonal_positional_attention off
) -> np.ndarray:
    """One stack of EncoderLayers (shipped: one layer) for a same-length
    batch with no padding (mask-free).  Honors the reference's architecture
    flags: use_batch_norm (BatchNorm running stats vs LayerNorm) and
    new_residual (residual redirected to the FFN vs classic placement)."""
    B, l, d = x.shape
    H, dk = cfg.n_head, cfg.d_k
    temper = float(np.power(d, cfg.temper_value))  # on d_model, not d_k
    # (ref:model/transformer/SubLayers.py:59-62)

    norm = _batch_norm_eval if cfg.use_batch_norm else _layer_norm
    row_idx, col_idx = _stripe_indices(l)

    out = x
    for layer in range(cfg.num_layers_encoder):
        pre = f"l{layer}_"
        residual = out  # encoder-layer input
        # (ref:model/transformer/Layers.py:50-53)

        # K5: QKV projections, split to heads -> (H, B, l, dk).
        # (A fused single (360,1080) GEMM was measured SLOWER than three
        # square GEMMs on OpenBLAS — 637 vs 734 cand/s/core — so the
        # straightforward form stays.)
        def heads(m: np.ndarray) -> np.ndarray:
            return m.reshape(B, l, H, dk).transpose(2, 0, 1, 3)

        q = heads(_linear(out, p, pre + "qs"))
        k = heads(_linear(out, p, pre + "ks"))
        v = heads(_linear(out, p, pre + "vs"))

        # K6: scaled dot-product scores
        attn = q @ k.transpose(0, 1, 3, 2) / temper  # (H, B, l, l)

        if dpa is not None:
            # K7: diagonal-stripe relative attention
            dproj = _linear(dpa, p, pre + "dpa").reshape(2 * l - 1, H, dk)
            dproj = dproj.transpose(1, 0, 2)             # (H, 2l-1, dk)
            attn_pos = q @ dproj[:, None].transpose(0, 1, 3, 2) / temper
            # (H, B, l, 2l-1) -> stripe -> (H, B, l, l)
            attn = attn + attn_pos[:, :, row_idx, col_idx]

        # K9: softmax (dropout identity at eval)
        attn = _softmax(attn, axis=-1)

        # K10/K11: weighted value sum, head merge, output projection.
        # Reference merge order: (H, B, l, dv) -> permute(1,2,0,3) ->
        # (B, l, H*dv), i.e. head-major concat
        # (ref:model/transformer/SubLayers.py:119-120).
        o = (attn @ v).transpose(1, 2, 0, 3).reshape(B, l, H * dk)
        o = _linear(o, p, pre + "fc")

        # K12/K14: norm + residual routing
        # new_residual=True: norm(o) here, residual added in the FFN
        # (ref:transformer/SubLayers.py:131-135); classic: norm(o + residual)
        mha_out = norm(o if cfg.new_residual else o + residual, p, pre + "mha")

        # K13: position-wise FFN
        h = _linear(mha_out, p, pre + "ffn1")
        h = np.where(h >= 0, h, h * RRELU_EVAL_SLOPE)
        h = _linear(h, p, pre + "ffn2")
        # K14: FFN residual is the redirected encoder-layer input under
        # new_residual, else the FFN's own input
        # (ref:transformer/SubLayers.py:171-192, Layers.py:50-53)
        ffn_res = residual if cfg.new_residual else mha_out
        out = norm(h + ffn_res, p, pre + "ffn")

    return out


def lstm_forward(
    p: Params, cfg: ModelConfig, x: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """K16: multi-layer batch-first LSTM, eval mode (inter-layer dropout
    identity), torch gate order (i, f, g, o)
    (ref:relation_model.py:298-304,439-458; pack_padded is a no-op for
    same-length batches).

    Returns (outputs (B, l, H), last_hidden (B, H)) where last_hidden is
    the final layer's h_T (ref:relation_model.py:457 ``ht[-1]``)."""
    B, l, d = x.shape
    H = d  # hidden_dim == d_model in the shipped config (ref:runner.py:45)
    out = x
    h = None
    for layer in range(cfg.num_layers_lstm):
        pre = f"lstm{layer}_"
        w_ih, w_hh = p[pre + "w_ih"], p[pre + "w_hh"]
        bias = p[pre + "b_ih"] + p[pre + "b_hh"]
        h = np.zeros((B, H), dtype=out.dtype)
        c = np.zeros((B, H), dtype=out.dtype)
        # hoist the input projection out of the time loop (one GEMM)
        xg = _gemm(out, w_ih) + bias        # (B, l, 4H)
        seq = np.empty_like(out)
        for t in range(l):
            g = xg[:, t] + _gemm(h, w_hh)   # (B, 4H)
            i = _sigmoid(g[:, 0:H])
            f = _sigmoid(g[:, H:2 * H])
            gg = np.tanh(g[:, 2 * H:3 * H])
            o = _sigmoid(g[:, 3 * H:4 * H])
            c = f * c + i * gg
            h = o * np.tanh(c)
            seq[:, t] = h
        out = seq
    return out, h


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def forward_batch(
    p: Params,
    cfg: ModelConfig,
    words: np.ndarray,      # (B, l) int word ids
    pos: np.ndarray,        # (B, l) int POS ids
    ner: np.ndarray,        # (B, l) int NER ids
    subj_pos: np.ndarray,   # (B, l) int binned subject-relative positions
    obj_pos: np.ndarray,    # (B, l) int binned object-relative positions
) -> tuple[np.ndarray, np.ndarray]:
    """Full forward for a same-length batch.

    Returns ``(predictions (B,), probs (B, 42))``
    (ref:model/relation_model.py:100-101).
    """
    B, l = words.shape
    assert l >= 1

    # K1: concat feature embeddings -> (B, l, 360)
    base = np.concatenate(
        [p["word_emb"][words], p["pos_emb"][pos], p["ner_emb"][ner]], axis=2
    )

    if not cfg.self_att:
        # K16 alternative: LSTM encoder over the RAW concat embeddings (no
        # positional additions on this path, ref:relation_model.py:439-458)
        out, hidden = lstm_forward(p, cfg, base)
        value_seq = out
        return _classify(p, cfg, out, hidden, value_seq, subj_pos, obj_pos)

    x = base

    if cfg.diagonal_positional_attention:
        assert cfg.relative_positions, (
            "the reference's dpa path indexes enc2 with binned relative "
            "positions (+10); unbinned positions would overrun the table"
        )
        # K3: add learned OBJECT positional embeddings, shifted by +10 in
        # the relative_positions config (ref:relation_model.py:402-404,
        # ref:transformer/Models.py:183 — object only in the shipped config)
        x = x + p["enc2_emb"][obj_pos + 10]

        # K4: diagonal positional range [96-l .. 96+l-2]
        # (ref:data/loader.py:142-143); same vector per length l
        rel = np.arange(C.ABS_MAX_LEN - l, C.ABS_MAX_LEN + l - 1)
        dpa = p["dpa_emb"][rel]
    else:
        # K2: sinusoid positional path (ref:transformer/Models.py:165-168,
        # 201-202): src_pos = 1..l for unpadded same-length batches
        # (ref:data/loader.py:120)
        sin = p.get("sinusoid")
        if sin is None:
            sin = sinusoid_table(C.ABS_MAX_LEN + 1, cfg.d_model)
            if np.issubdtype(x.dtype, np.floating):
                sin = sin.astype(x.dtype)
            p["sinusoid"] = sin
        x = x + sin[np.arange(1, l + 1)]
        dpa = None

    out = encoder_forward(p, cfg, x, dpa)

    # K15: max-pool over time -> sentence query vector
    # (ref:relation_model.py:419-420); no pads in a same-length group
    hidden = out.max(axis=1)

    if cfg.self_att_and_rnn:
        # combined mode (ref:relation_model.py:425-437,471-472): attention
        # scores from the self-attention outputs, weighted sum over the
        # LSTM outputs (lstm_layer=True in PositionAwareAttention)
        value_seq, _ = lstm_forward(p, cfg, base)
    else:
        value_seq = out

    return _classify(p, cfg, out, hidden, value_seq, subj_pos, obj_pos)


def _classify(
    p: Params,
    cfg: ModelConfig,
    attn_x: np.ndarray,     # (B, l, d) sequence the attention scores see
    hidden: np.ndarray,     # (B, d) query vector
    value_seq: np.ndarray,  # (B, l, d) sequence the weights average
    subj_pos: np.ndarray,
    obj_pos: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    # K17: position-aware attention a = t' . tanh(Ux + Vq + Wf)
    # (ref:relation_model.py:142-242,461-474)
    f = np.concatenate(
        [p["pe_emb"][subj_pos + C.MAX_LEN], p["pe_emb"][obj_pos + C.MAX_LEN]],
        axis=2,
    )
    scores = np.tanh(
        _linear(attn_x, p, "u") + _linear(hidden, p, "v")[:, None, :]
        + _linear(f, p, "w")
    ) @ p["t_w"].T + p["t_b"]                       # (B, l, 1)
    w = _softmax(scores[..., 0], axis=-1)           # (B, l)
    final = np.einsum("bl,bld->bd", w, value_seq)

    # K18/K19: classifier, softmax, argmax
    logits = _linear(final, p, "cls")
    probs = _softmax(logits, axis=-1)
    preds = np.argmax(logits, axis=1)
    return preds, probs
