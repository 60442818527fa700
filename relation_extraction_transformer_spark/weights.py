"""Seeded deterministic model parameters.

PyTorch is not available in this environment, so "the model" is a fixed,
seeded parameter set with exactly the topology of the reference network
(ref:model/relation_model.py:250-324, ref:model/transformer/Models.py:49-144,
ref:model/transformer/SubLayers.py:15-195).  The same ``.npz`` artifact is
consumed by the Spark Arrow UDF and by the single-process NumPy oracle, so
triple parity between them is exact (SURVEY §5.3).

Shapes follow the shipped config: d_model = 360 (300 word + 30 POS + 30
NER), 3 heads, d_k = d_v = 120, 1 encoder layer, FFN inner 130, attention
dim 200, pe dim 30, 42 classes.

Linear weights are stored torch-style as ``(out_features, in_features)``;
the kernel computes ``x @ W.T + b``.
"""

from __future__ import annotations

import io
from typing import Dict

import numpy as np

from . import constants as C
from .config import ModelConfig

EPS_BN = 1e-5
# nn.RReLU() at eval time acts as LeakyReLU with negative slope
# (lower + upper) / 2 = (1/8 + 1/3) / 2 (ref:model/transformer/SubLayers.py:169)
RRELU_EVAL_SLOPE = (1.0 / 8.0 + 1.0 / 3.0) / 2.0

Params = Dict[str, np.ndarray]


def generate_weights(cfg: ModelConfig, vocab_size: int | None = None) -> Params:
    """Generate the full inference parameter set from ``cfg.seed``.

    Weight *values* are ours (the reference's trained checkpoint is not
    reproducible without torch); weight *shapes and roles* mirror the
    reference exactly.  Scales are kept moderate so softmaxes stay
    well-conditioned and argmax predictions are stable.
    """
    rng = np.random.default_rng(cfg.seed)
    V = vocab_size if vocab_size is not None else cfg.vocab_size
    d = cfg.d_model
    dk = cfg.d_k
    H = cfg.n_head
    p: Params = {}

    def linear(name: str, out_f: int, in_f: int, std: float) -> None:
        p[f"{name}_w"] = rng.normal(0.0, std, (out_f, in_f))
        p[f"{name}_b"] = rng.uniform(-0.05, 0.05, (out_f,))

    def embedding(name: str, rows: int, dim: int, pad_zero: bool) -> None:
        w = rng.uniform(-C.EMB_INIT_RANGE, C.EMB_INIT_RANGE, (rows, dim))
        if pad_zero:
            w[C.PAD_ID] = 0.0  # padding_idx row (ref:relation_model.py:255)
        p[name] = w

    # K1 feature embeddings (ref:relation_model.py:255-266,326-343)
    embedding("word_emb", V, cfg.emb_dim, pad_zero=True)
    embedding("pos_emb", len(C.POS_TO_ID), cfg.pos_dim, pad_zero=True)
    embedding("ner_emb", len(C.NER_TO_ID), cfg.ner_dim, pad_zero=True)

    # K3/K4 learned positional embeddings (ref:transformer/Models.py:103-115)
    n_position = C.ABS_MAX_LEN + 1
    p["enc2_emb"] = rng.normal(0.0, 0.1, (n_position, d))
    p["enc2_emb"][C.PAD_ID] = 0.0
    p["dpa_emb"] = rng.normal(0.0, 0.1, (2 * n_position - 1, d))
    p["dpa_emb"][C.PAD_ID] = 0.0

    # encoder layers (shipped config: 1 layer, ref:runner.py:53)
    std_proj = float(np.sqrt(2.0 / d))
    for layer in range(cfg.num_layers_encoder):
        pre = f"l{layer}_"
        # K5 QKV projections (ref:transformer/SubLayers.py:31-38)
        linear(pre + "qs", H * dk, d, std_proj)
        linear(pre + "ks", H * dk, d, std_proj)
        linear(pre + "vs", H * dk, d, std_proj)
        # K7 dpa projection (ref:transformer/SubLayers.py:47)
        linear(pre + "dpa", H * dk, d, std_proj)
        # K11 output projection (ref:transformer/SubLayers.py:71)
        linear(pre + "fc", d, H * dk, std_proj)
        # K12 batch-norm running stats, eval mode
        # (ref:transformer/SubLayers.py:64-65)
        p[pre + "mha_bn_gamma"] = rng.uniform(0.8, 1.2, (d,))
        p[pre + "mha_bn_beta"] = rng.uniform(-0.1, 0.1, (d,))
        p[pre + "mha_bn_mean"] = rng.normal(0.0, 0.1, (d,))
        p[pre + "mha_bn_var"] = rng.uniform(0.5, 1.5, (d,))
        # K13 position-wise FFN, 1x1 convs == per-position linears
        # (ref:transformer/SubLayers.py:155-156)
        linear(pre + "ffn1", cfg.hidden_self, d, std_proj)
        linear(pre + "ffn2", d, cfg.hidden_self, float(np.sqrt(2.0 / cfg.hidden_self)))
        p[pre + "ffn_bn_gamma"] = rng.uniform(0.8, 1.2, (d,))
        p[pre + "ffn_bn_beta"] = rng.uniform(-0.1, 0.1, (d,))
        p[pre + "ffn_bn_mean"] = rng.normal(0.0, 0.1, (d,))
        p[pre + "ffn_bn_var"] = rng.uniform(0.5, 1.5, (d,))

    # K16 LSTM encoder (alt path, ref:relation_model.py:298-304,439-458):
    # 2 layers, hidden = d_model, torch gate order (i, f, g, o)
    std_lstm = float(np.sqrt(1.0 / d))
    for layer in range(cfg.num_layers_lstm):
        pre = f"lstm{layer}_"
        in_dim = d  # hidden_dim == input_size == 360 in the shipped config
        p[pre + "w_ih"] = rng.normal(0.0, std_lstm, (4 * d, in_dim))
        p[pre + "w_hh"] = rng.normal(0.0, std_lstm, (4 * d, d))
        p[pre + "b_ih"] = rng.uniform(-0.05, 0.05, (4 * d,))
        p[pre + "b_hh"] = rng.uniform(-0.05, 0.05, (4 * d,))

    # K17 position-aware attention (ref:relation_model.py:142-177,306-318)
    p["pe_emb"] = rng.uniform(-1.0, 1.0, (C.MAX_LEN * 2 + 1, cfg.pe_dim))
    linear("u", cfg.attn_dim, d, 0.05)
    linear("v", cfg.attn_dim, cfg.query_size_attn, 0.05)
    linear("w", cfg.attn_dim, 2 * cfg.pe_dim, 0.05)
    linear("t", 1, cfg.attn_dim, 0.1)

    # K18 classifier (ref:relation_model.py:306)
    linear("cls", cfg.num_class, d, std_proj)

    return p


def save_npz(params: Params, path: str) -> None:
    np.savez_compressed(path, **params)


def load_npz(path: str) -> Params:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def from_bytes(blob: bytes) -> Params:
    with np.load(io.BytesIO(blob)) as z:
        return {k: z[k] for k in z.files}


def to_bytes_fast(params: Params) -> bytes:
    """Uncompressed npz — for per-step gradient shipping, where zlib on
    megabytes per partition per step costs more than the extra I/O
    (weights persisted to disk keep the compressed form)."""
    buf = io.BytesIO()
    np.savez(buf, **params)
    return buf.getvalue()
