"""Model / pipeline configuration.

Mirrors the shipped defaults of the reference trainer CLI
(ref:runner.py:38-173).  Only the inference-relevant subset is kept; the
flags gate the same architecture variants the reference implements
(self-attention vs LSTM, batch-norm vs layer-norm, old vs new residual,
diagonal positional attention, relative positions).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

from . import constants as C


@dataclass(frozen=True)
class ModelConfig:
    # embedding dims (ref:runner.py:42-44) -> d_model = 300 + 30 + 30 = 360
    emb_dim: int = 300
    pos_dim: int = 30
    ner_dim: int = 30

    # encoder (ref:runner.py:46-56,134)
    num_layers_encoder: int = 1
    num_layers_lstm: int = 2        # ref:runner.py:50 (alt LSTM path)
    n_head: int = 3
    hidden_self: int = 130          # FFN inner dim
    temper_value: float = 0.5       # attention temper exponent on d_model
                                    # (ref:model/transformer/SubLayers.py:62)

    # architecture flags, shipped defaults (ref:runner.py:74-132)
    self_att: bool = True
    self_att_and_rnn: bool = False
    obj_sub_pos: bool = True
    use_batch_norm: bool = True
    diagonal_positional_attention: bool = True
    relative_positions: bool = True
    new_residual: bool = True
    lower: bool = False             # ref:runner.py:69 set_defaults(lower=False)

    # position-aware attention head (ref:runner.py:137-142)
    attn: bool = True
    attn_dim: int = 200
    pe_dim: int = 30
    query_size_attn: int = 360

    num_class: int = C.NUM_CLASSES
    vocab_size: int = 2048          # fixture vocab; reference uses 55,950

    seed: int = 1234                # ref:runner.py:169

    @property
    def d_model(self) -> int:
        return self.emb_dim + self.pos_dim + self.ner_dim

    @property
    def d_k(self) -> int:
        assert self.d_model % self.n_head == 0
        return self.d_model // self.n_head

    def to_dict(self) -> dict:
        return asdict(self)


@dataclass(frozen=True)
class PipelineConfig:
    """Spark-side knobs for the KG pipeline."""

    model: ModelConfig = field(default_factory=ModelConfig)

    # candidate-pair cap per sentence to bound the explode fan-out
    max_pairs_per_sentence: int = 12


DEFAULT_MODEL = ModelConfig()
DEFAULT_PIPELINE = PipelineConfig()
