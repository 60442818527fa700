"""Cross-check the vectorized kernel against the naive per-example oracle.

The two implementations share only the weight arrays; the math is written
independently (batched einsum/as-strided style vs explicit loops), so
agreement here validates K1-K19 element-wise (SURVEY §5.2)."""

import numpy as np
import pytest

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark import kernel, oracle
from relation_extraction_transformer_spark.config import ModelConfig
from relation_extraction_transformer_spark.weights import generate_weights

CFG = ModelConfig(vocab_size=500)
PARAMS = generate_weights(CFG)


def _random_example(rng, l):
    return oracle.PreprocessedExample(
        word_ids=rng.integers(1, CFG.vocab_size, l).tolist(),
        pos_ids=rng.integers(2, len(C.POS_TO_ID), l).tolist(),
        ner_ids=rng.integers(2, len(C.NER_TO_ID), l).tolist(),
        subj_positions=oracle.bin_positions(
            oracle.get_positions(0, min(1, l - 1), l)
        ),
        obj_positions=oracle.bin_positions(
            oracle.get_positions(max(0, l - 2), l - 1, l)
        ),
    )


@pytest.mark.parametrize("l", [1, 2, 3, 7, 20, 96])
def test_vectorized_matches_naive(l):
    rng = np.random.default_rng(7 + l)
    examples = [_random_example(rng, l) for _ in range(4)]
    words = np.array([e.word_ids for e in examples])
    pos = np.array([e.pos_ids for e in examples])
    ner = np.array([e.ner_ids for e in examples])
    sp = np.array([e.subj_positions for e in examples])
    op = np.array([e.obj_positions for e in examples])

    preds, probs = kernel.forward_batch(PARAMS, CFG, words, pos, ner, sp, op)

    for i, e in enumerate(examples):
        pred_n, probs_n = oracle.naive_forward_example(PARAMS, CFG, e)
        np.testing.assert_allclose(probs[i], probs_n, rtol=1e-10, atol=1e-12)
        assert preds[i] == pred_n


def test_batch_composition_invariance():
    """The same example must produce identical probs regardless of which
    other examples share its batch — the property the reference lacks
    (padding-dependent) and our same-length grouping guarantees."""
    rng = np.random.default_rng(99)
    e = _random_example(rng, 11)
    others = [_random_example(rng, 11) for _ in range(7)]

    preds_alone, probs_alone = _run(PARAMS, CFG, [e])
    preds_crowded, probs_crowded = _run(PARAMS, CFG, [e] + others)
    np.testing.assert_array_equal(probs_alone[0], probs_crowded[0])
    assert preds_alone[0] == preds_crowded[0]


def _run(params, cfg, batch):
    words = np.array([x.word_ids for x in batch])
    pos = np.array([x.pos_ids for x in batch])
    ner = np.array([x.ner_ids for x in batch])
    sp = np.array([x.subj_positions for x in batch])
    op = np.array([x.obj_positions for x in batch])
    return kernel.forward_batch(params, cfg, words, pos, ner, sp, op)


@pytest.mark.parametrize("self_att", [True, False], ids=["attention", "lstm"])
def test_float32_rows_bit_identical_alone_crowded_and_at_every_position(
    self_att,
):
    """At the pipeline's float32, a row's probs must not move in the last
    bit with the batch: alone, in crowds whose GEMM row counts leave
    partial BLAS tiles at every offset (l=7: 7, 14, 49, 217, 287 rows),
    and at every position inside them.  Without this, one page extracted
    in two different Arrow batches gets two probabilities, and a folded
    edge state stops equaling a one-pass rebuild."""
    from relation_extraction_transformer_spark.operators.inference import (
        as_dtype,
    )

    cfg = ModelConfig(vocab_size=500, self_att=self_att)
    params = as_dtype(generate_weights(cfg), np.float32)
    rng = np.random.default_rng(5)
    e = _random_example(rng, 7)
    others = [_random_example(rng, 7) for _ in range(40)]
    _, alone = _run(params, cfg, [e])
    assert alone.dtype == np.float32
    for n in (1, 6, 30, 40):
        for k in range(n + 1):
            batch = others[:k] + [e] + others[k:n]
            _, probs = _run(params, cfg, batch)
            np.testing.assert_array_equal(
                probs[k], alone[0], err_msg=f"{n=} {k=}"
            )


def test_predictions_are_diverse():
    """Seeded weights must not collapse to a single class, otherwise the
    no_relation filter makes every parity test vacuous."""
    rng = np.random.default_rng(3)
    preds = []
    for l in range(3, 40):
        e = _random_example(rng, l)
        pred, _ = oracle.naive_forward_example(PARAMS, CFG, e)
        preds.append(pred)
    assert len(set(preds)) >= 4


def test_preprocess_example_matches_reference_semantics():
    ex = oracle.preprocess_example(
        tokens=["Alice", "Smith", "works", "at", "Acme", "Corp", "."],
        subj_start=0, subj_end=1, obj_start=4, obj_end=5,
        subj_type="PERSON", obj_type="ORGANIZATION",
        pos_tags=["NNP", "NNP", "VBZ", "IN", "NNP", "NNP", "."],
        ner_tags=["PERSON", "PERSON", "O", "O", "ORGANIZATION",
                  "ORGANIZATION", "O"],
        vocab={"SUBJ-PERSON": 2, "OBJ-ORGANIZATION": 3, "works": 4, "at": 5,
               ".": 6},
    )
    assert ex.word_ids == [2, 2, 4, 5, 3, 3, 6]
    assert ex.pos_ids[0] == C.POS_TO_ID["NNP"]
    assert ex.ner_ids[2] == C.NER_TO_ID["O"]
    # spans: subj [0,1], obj [4,5], length 7
    assert ex.subj_positions == oracle.bin_positions([0, 0, 1, 2, 3, 4, 5])
    assert ex.obj_positions == oracle.bin_positions([-4, -3, -2, -1, 0, 0, 1])


VARIANTS = [
    # (use_batch_norm, new_residual, diagonal_positional_attention)
    (True, True, True),     # shipped default
    (False, True, True),    # layer-norm
    (True, False, True),    # classic residual
    (False, False, True),   # both off
    (True, True, False),    # sinusoid positional path (no dpa)
    (False, False, False),  # fully classic transformer encoder
]


@pytest.mark.parametrize("bn,nr,dpa", VARIANTS)
def test_architecture_variants_parity(bn, nr, dpa):
    """Every reference architecture flag combination: vectorized kernel vs
    naive oracle (ref:runner.py:104-132 flag surface)."""
    cfg = ModelConfig(
        vocab_size=500, use_batch_norm=bn, new_residual=nr,
        diagonal_positional_attention=dpa,
    )
    params = generate_weights(cfg)
    rng = np.random.default_rng(42)
    for l in (1, 5, 17):
        examples = [_random_example(rng, l) for _ in range(3)]
        words = np.array([e.word_ids for e in examples])
        pos = np.array([e.pos_ids for e in examples])
        ner = np.array([e.ner_ids for e in examples])
        sp = np.array([e.subj_positions for e in examples])
        op = np.array([e.obj_positions for e in examples])
        preds, probs = kernel.forward_batch(params, cfg, words, pos, ner, sp, op)
        for i, e in enumerate(examples):
            pred_n, probs_n = oracle.naive_forward_example(params, cfg, e)
            np.testing.assert_allclose(
                probs[i], probs_n, rtol=1e-9, atol=1e-12,
                err_msg=f"variant bn={bn} nr={nr} dpa={dpa} l={l}",
            )
            assert preds[i] == pred_n


def test_variants_actually_differ():
    """The flags must change the computation (guard against dead flags)."""
    rng = np.random.default_rng(5)
    e = _random_example(rng, 9)
    outs = []
    for bn, nr, dpa in VARIANTS:
        cfg = ModelConfig(
            vocab_size=500, use_batch_norm=bn, new_residual=nr,
            diagonal_positional_attention=dpa,
        )
        _, probs = oracle.naive_forward_example(generate_weights(cfg), cfg, e)
        outs.append(tuple(np.round(probs, 12)))
    assert len(set(outs)) == len(outs)


@pytest.mark.parametrize(
    "self_att,combined",
    [(False, False), (True, True)],  # LSTM-only; self-att + LSTM values
)
def test_lstm_paths_parity(self_att, combined):
    """K16: the LSTM encoder (self_att=False) and the combined
    self_att_and_rnn mode, vectorized vs naive (ref:relation_model.py:
    425-458)."""
    cfg = ModelConfig(
        vocab_size=500, self_att=self_att, self_att_and_rnn=combined
    )
    params = generate_weights(cfg)
    rng = np.random.default_rng(13)
    for l in (1, 4, 12):
        examples = [_random_example(rng, l) for _ in range(3)]
        words = np.array([e.word_ids for e in examples])
        pos = np.array([e.pos_ids for e in examples])
        ner = np.array([e.ner_ids for e in examples])
        sp = np.array([e.subj_positions for e in examples])
        op = np.array([e.obj_positions for e in examples])
        preds, probs = kernel.forward_batch(params, cfg, words, pos, ner, sp, op)
        for i, e in enumerate(examples):
            pred_n, probs_n = oracle.naive_forward_example(params, cfg, e)
            np.testing.assert_allclose(
                probs[i], probs_n, rtol=1e-9, atol=1e-12,
                err_msg=f"self_att={self_att} combined={combined} l={l}",
            )
            assert preds[i] == pred_n


def test_lstm_differs_from_self_attention():
    rng = np.random.default_rng(21)
    e = _random_example(rng, 8)
    cfg_sa = ModelConfig(vocab_size=500)
    cfg_lstm = ModelConfig(vocab_size=500, self_att=False)
    p_sa = generate_weights(cfg_sa)
    p_lstm = generate_weights(cfg_lstm)
    _, pr1 = oracle.naive_forward_example(p_sa, cfg_sa, e)
    _, pr2 = oracle.naive_forward_example(p_lstm, cfg_lstm, e)
    assert not np.allclose(pr1, pr2)
