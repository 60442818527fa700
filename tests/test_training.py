"""Training step (ref:model/relation_model.py:51-79 in NumPy + Spark).

- finite-difference gradient check of kernel_grad.loss_and_grads across
  the architecture-flag combinations
- optimizer semantics vs hand-computed torch update sequences
- distributed (Spark, 3 partitions) gradients == single-process gradients
- loss decreases under repeated distributed train_step calls
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark import kernel_grad as KG
from relation_extraction_transformer_spark import optim as OPT
from relation_extraction_transformer_spark import weights as W
from relation_extraction_transformer_spark.config import ModelConfig


def tiny_cfg(**kw):
    base = dict(emb_dim=8, pos_dim=2, ner_dim=2, n_head=3, hidden_self=7,
                attn_dim=5, pe_dim=3, query_size_attn=12, vocab_size=30,
                num_layers_encoder=1, num_layers_lstm=2)
    base.update(kw)
    return ModelConfig(**base)


def make_batch(rng, B=3, l=5):
    return (
        rng.integers(1, 30, (B, l)),
        rng.integers(1, 5, (B, l)),
        rng.integers(1, 4, (B, l)),
        rng.integers(-3, 4, (B, l)),
        rng.integers(-3, 4, (B, l)),
        rng.integers(0, 42, (B,)),
    )


COMBOS = [
    ("shipped", dict(), "train"),
    ("bn_eval", dict(), "eval"),
    ("sinusoid_layernorm",
     dict(diagonal_positional_attention=False, use_batch_norm=False), "train"),
    ("classic_residual", dict(new_residual=False), "train"),
    ("lstm_path", dict(self_att=False), "train"),
    ("combined", dict(self_att_and_rnn=True), "train"),
    ("two_layer_encoder", dict(num_layers_encoder=2), "train"),
]


@pytest.mark.parametrize("name,flags,bn_mode", COMBOS,
                         ids=[c[0] for c in COMBOS])
def test_gradients_match_finite_differences(name, flags, bn_mode):
    cfg = tiny_cfg(**flags)
    rng = np.random.default_rng(7)
    p = W.generate_weights(cfg, vocab_size=30)
    batch = make_batch(rng)
    cw = rng.uniform(0.5, 2.0, 42)
    _, _, grads, _ = KG.loss_and_grads(
        p, cfg, *batch, class_weights=cw, bn_mode=bn_mode
    )
    eps = 1e-5
    for key in KG.trainable_keys(p):
        flat = p[key].reshape(-1)
        for ix in rng.choice(flat.size, size=min(3, flat.size), replace=False):
            orig = flat[ix]
            flat[ix] = orig + eps
            lp = KG.loss_and_grads(p, cfg, *batch, class_weights=cw,
                                   bn_mode=bn_mode)[0]
            flat[ix] = orig - eps
            lm = KG.loss_and_grads(p, cfg, *batch, class_weights=cw,
                                   bn_mode=bn_mode)[0]
            flat[ix] = orig
            fd = (lp - lm) / (2 * eps)
            an = grads[key].reshape(-1)[ix]
            # FD noise floor ~ |loss| * machine-eps / eps ~ 1e-9
            assert abs(fd - an) <= max(1e-4 * max(abs(fd), abs(an)), 2e-9), (
                f"{name}/{key}[{ix}]: fd={fd} analytic={an}"
            )


def test_word_topn_partial_grad():
    """ref:torch_utils.py:311 keep_partial_grad semantics."""
    cfg = tiny_cfg()
    rng = np.random.default_rng(3)
    p = W.generate_weights(cfg, vocab_size=30)
    batch = make_batch(rng)
    _, _, g_full, _ = KG.loss_and_grads(p, cfg, *batch)
    _, _, g_topn, _ = KG.loss_and_grads(p, cfg, *batch, word_topn=5)
    assert np.allclose(g_topn["word_emb"][:5], g_full["word_emb"][:5])
    assert not g_topn["word_emb"][5:].any()
    _, _, g_frozen, _ = KG.loss_and_grads(p, cfg, *batch, word_topn=0)
    assert not g_frozen["word_emb"].any()


def test_pad_rows_never_learn():
    cfg = tiny_cfg()
    rng = np.random.default_rng(4)
    p = W.generate_weights(cfg, vocab_size=30)
    _, _, g, _ = KG.loss_and_grads(p, cfg, *make_batch(rng))
    for name in ("word_emb", "pos_emb", "ner_emb", "enc2_emb", "dpa_emb"):
        assert not g[name][C.PAD_ID].any(), name


def test_sgd_nesterov_matches_torch_sequence():
    p = {"x_w": np.array([1.0, 2.0])}
    opt = OPT.SGD(lr=0.1, momentum=0.9, nesterov=True)
    g1 = {"x_w": np.array([0.5, -1.0])}
    opt.step(p, g1)
    # torch: buf = g; d = g + mu * buf = 1.9 * g; p -= lr * d
    np.testing.assert_allclose(p["x_w"], [1.0, 2.0] - 0.1 * 1.9 * g1["x_w"])
    prev = p["x_w"].copy()
    g2 = {"x_w": np.array([0.2, 0.3])}
    opt.step(p, g2)
    buf = 0.9 * g1["x_w"] + g2["x_w"]
    np.testing.assert_allclose(p["x_w"], prev - 0.1 * (g2["x_w"] + 0.9 * buf))


def test_myadagrad_matches_reference_sequence():
    """ref:utils/torch_utils.py:63-91: sum starts at 0.1, p -= clr*g/(sqrt(sum)+1e-10)."""
    p = {"x_w": np.array([1.0])}
    opt = OPT.MyAdagrad(lr=0.1, init_accu_value=0.1)
    g = {"x_w": np.array([2.0])}
    opt.step(p, g)
    acc = 0.1 + 4.0
    np.testing.assert_allclose(
        p["x_w"], [1.0 - 0.1 * 2.0 / (np.sqrt(acc) + 1e-10)]
    )
    prev = p["x_w"].copy()
    opt.step(p, {"x_w": np.array([-1.0])})
    acc += 1.0
    np.testing.assert_allclose(
        p["x_w"], prev - 0.1 * (-1.0) / (np.sqrt(acc) + 1e-10)
    )


def test_adam_bias_correction():
    p = {"x_w": np.array([0.0])}
    opt = OPT.Adam(lr=0.01, betas=(0.9, 0.98), eps=1e-9)
    g = np.array([1.0])
    opt.step(p, {"x_w": g})
    m = 0.1 * g / (1 - 0.9)
    v = 0.02 * g * g / (1 - 0.98)
    np.testing.assert_allclose(p["x_w"], -0.01 * m / (np.sqrt(v) + 1e-9))


def test_clip_grad_norm_torch_semantics():
    g = {"a_w": np.array([3.0]), "b_w": np.array([4.0])}
    total = OPT.clip_grad_norm(g, max_norm=1.0)
    assert total == pytest.approx(5.0)
    scale = 1.0 / (5.0 + 1e-6)
    np.testing.assert_allclose(g["a_w"], [3.0 * scale])
    g2 = {"a_w": np.array([0.3])}
    OPT.clip_grad_norm(g2, max_norm=1.0)  # under the cap: untouched
    np.testing.assert_allclose(g2["a_w"], [0.3])


def test_bn_running_stats_update():
    cfg = tiny_cfg()
    rng = np.random.default_rng(5)
    p = W.generate_weights(cfg, vocab_size=30)
    m0 = p["l0_mha_bn_mean"].copy()
    _, _, _, bn_up = KG.loss_and_grads(p, cfg, *make_batch(rng), bn_mode="train")
    assert "l0_mha" in bn_up and "l0_ffn" in bn_up
    KG.apply_bn_updates(p, bn_up)
    mean, _, _ = bn_up["l0_mha"]
    np.testing.assert_allclose(p["l0_mha_bn_mean"], 0.9 * m0 + 0.1 * mean)


def _tacred_features(spark, tmp_path, n=24):
    from relation_extraction_transformer_spark.functions import masking as M
    from relation_extraction_transformer_spark.sources import tacred as TJ

    path = str(tmp_path / "train.json")
    TJ.write_synthetic_tacred_json(path, n=n, seed=11)
    feats = TJ.tacred_to_candidates(TJ.read_tacred_json(spark, path))
    return feats.withColumn(
        "label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long")
    )


def _vocab_for(rows):
    vocab = {C.PAD_TOKEN: 0, C.UNK_TOKEN: 1}
    for r in rows:
        for t in r.masked_tokens:
            vocab.setdefault(t, len(vocab))
    return vocab


def test_distributed_gradients_equal_local(spark, tmp_path):
    """Spark partition-sum gradients == single-process full-batch gradients
    (fp64, frozen BN so every partition normalizes identically)."""
    from relation_extraction_transformer_spark.operators import train as TR
    from relation_extraction_transformer_spark.operators.inference import (
        tokens_to_word_ids,
    )
    import pandas as pd

    feats = _tacred_features(spark, tmp_path)
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = W.generate_weights(cfg, vocab_size=len(vocab))

    grad_rows = TR.gradient_rows(
        feats.repartition(3),
        spark.sparkContext.broadcast(params),
        cfg,
        vocab_bc=spark.sparkContext.broadcast(vocab),
        bn_mode="eval",
    ).collect()
    assert len(grad_rows) >= 2, "want a real multi-partition aggregation"
    loss_d, grads_d, _ = TR.aggregate_gradients(grad_rows)

    # local full-batch reference over the same rows
    p64 = {k: np.asarray(v, dtype=np.float64)
           if np.issubdtype(np.asarray(v).dtype, np.floating) else v
           for k, v in params.items()}
    word_ids = tokens_to_word_ids(
        pd.Series([list(r.masked_tokens) for r in rows]), vocab
    )
    lengths = np.array([len(w) for w in word_ids])
    loss_sum = 0.0
    weight_sum = 0.0
    total: dict = {}
    for l in np.unique(lengths):
        idx = np.nonzero(lengths == l)[0]
        ls, ws, g, _ = KG.loss_and_grads(
            p64, cfg,
            np.array([word_ids[i] for i in idx]),
            np.array([list(rows[i].pos_ids) for i in idx]),
            np.array([list(rows[i].ner_ids) for i in idx]),
            np.array([list(rows[i].subj_positions) for i in idx]),
            np.array([list(rows[i].obj_positions) for i in idx]),
            np.array([rows[i].label_id for i in idx]),
            bn_mode="eval",
        )
        loss_sum += ls
        weight_sum += ws
        for k in g:
            total[k] = total.get(k, 0.0) + g[k]

    assert loss_d == pytest.approx(loss_sum / weight_sum, rel=1e-12)
    for k in KG.trainable_keys(params):
        np.testing.assert_allclose(
            grads_d[k], total[k] / weight_sum, rtol=1e-12, atol=1e-14,
            err_msg=k,
        )


def test_train_step_decreases_loss(spark, tmp_path):
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    opt = OPT.get_optimizer("myadagrad", lr=0.3)
    losses = [
        TR.train_step(feats, params, cfg, opt, vocab=vocab, bn_mode="eval")
        for _ in range(5)
    ]
    assert losses[-1] < losses[0], losses
    assert losses[-1] < losses[1] < losses[0] * 1.05, losses


def test_nadam_matches_reference_math():
    """ref:torch_utils.py:180-204 step math, hand-computed first step."""
    p = {"x_w": np.array([0.0])}
    opt = OPT.NAdam(lr=0.01)
    g = np.array([1.0])
    opt.step(p, {"x_w": g})
    b1, b2, sd = 0.9, 0.999, 0.004
    mc1 = b1 * (1 - 0.5 * 0.96 ** (1 * sd))
    mc2 = b1 * (1 - 0.5 * 0.96 ** (2 * sd))
    msn = 1.0 * mc1
    msx = 1.0 * mc1 * mc2
    m = (1 - b1) * g
    v = (1 - b2) * g * g
    m_bar = (1 - mc1) * (g / (1 - msn)) + mc2 * (m / (1 - msx))
    v_prime = v / (1 - b2)
    np.testing.assert_allclose(
        p["x_w"], -0.01 * m_bar / (np.sqrt(v_prime) + 1e-8)
    )


def test_asgd_matches_torch_sequence():
    """torch.optim.ASGD defaults: decay then step; eta updated after."""
    p = {"x_w": np.array([1.0])}
    opt = OPT.ASGD(lr=0.1)
    opt.step(p, {"x_w": np.array([2.0])})
    # step 1 uses eta = lr
    np.testing.assert_allclose(p["x_w"], [1.0 * (1 - 1e-4 * 0.1) - 0.1 * 2.0])
    prev = p["x_w"].copy()
    opt.step(p, {"x_w": np.array([1.0])})
    eta2 = 0.1 / (1 + 1e-4 * 0.1 * 1) ** 0.75
    np.testing.assert_allclose(p["x_w"], prev * (1 - 1e-4 * eta2) - eta2 * 1.0)


def test_should_decay_lr_reference_policy():
    from relation_extraction_transformer_spark.operators.train import (
        should_decay_lr,
    )

    # patience: no decay until history exceeds decay_epoch
    assert not should_decay_lr([0.5, 0.4], 0.3, decay_epoch=2)
    assert should_decay_lr([0.5, 0.4, 0.3], 0.3, decay_epoch=2)  # plateau
    assert not should_decay_lr([0.5, 0.4, 0.3], 0.35, decay_epoch=2)  # improved


def test_fit_epoch_loop(spark, tmp_path):
    """ref:runner.py:259-357 shape: loss falls, checkpoints + best-model
    written, decay-on-plateau reduces lr when forced."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    ckpt = str(tmp_path / "ckpt")
    hist = TR.fit(
        feats, feats, params, cfg, vocab,
        optimizer_name="myadagrad", lr=0.3, num_epoch=4,
        decay_epoch=1, checkpoint_dir=ckpt,
    )
    assert len(hist) == 4
    assert hist[-1]["train_loss"] < hist[0]["train_loss"]
    import os

    assert os.path.exists(os.path.join(ckpt, "best_model.npz"))
    assert os.path.exists(os.path.join(ckpt, "checkpoint_epoch_4.npz"))
    # reloading the best checkpoint reproduces a valid parameter set
    best = W.load_npz(os.path.join(ckpt, "best_model.npz"))
    assert set(best) == set(params)
    # overfitting a tiny fixture: dev (=train) F1 should not degrade
    assert hist[-1]["dev_f1"] >= hist[0]["dev_f1"]


def test_tree_combine_preserves_gradients(spark, tmp_path):
    """tree_combine (executor-side pre-merge) must yield the same
    aggregate as collecting every partition row directly."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).repartition(4)
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = W.generate_weights(cfg, vocab_size=len(vocab))
    pbc = spark.sparkContext.broadcast(params)
    vbc = spark.sparkContext.broadcast(vocab)

    grad_df = TR.gradient_rows(feats, pbc, cfg, vocab_bc=vbc, bn_mode="eval")
    direct = TR.aggregate_gradients(grad_df.collect())
    combined_rows = TR.tree_combine(grad_df, 2).collect()
    assert len(combined_rows) <= 2
    combined = TR.aggregate_gradients(combined_rows)

    assert combined[0] == pytest.approx(direct[0], rel=1e-12)
    for k in KG.trainable_keys(params):
        np.testing.assert_allclose(
            combined[1][k], direct[1][k], rtol=1e-12, atol=1e-14, err_msg=k
        )


def test_fit_resumes_from_checkpoint(spark, tmp_path):
    """Killing training after epoch 2 and re-running fit with the same
    checkpoint dir must continue at epoch 3 with optimizer state intact
    and match an uninterrupted 4-epoch run."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))

    def fresh_params():
        return {
            k: np.asarray(v, dtype=np.float64)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
        }

    direct = TR.fit(
        feats, feats, fresh_params(), cfg, vocab,
        optimizer_name="myadagrad", lr=0.3, num_epoch=4,
        checkpoint_dir=str(tmp_path / "direct"),
    )

    ck = str(tmp_path / "resumable")
    TR.fit(feats, feats, fresh_params(), cfg, vocab,
           optimizer_name="myadagrad", lr=0.3, num_epoch=2,
           checkpoint_dir=ck)
    resumed = TR.fit(feats, feats, fresh_params(), cfg, vocab,
                     optimizer_name="myadagrad", lr=0.3, num_epoch=4,
                     checkpoint_dir=ck)

    assert [h["epoch"] for h in resumed] == [1, 2, 3, 4]
    for a, b in zip(direct, resumed):
        assert a["train_loss"] == pytest.approx(b["train_loss"], rel=1e-6)
        assert a["dev_f1"] == pytest.approx(b["dev_f1"], abs=1e-9)


def test_trained_ensemble_majority_vote(spark, tmp_path):
    """ref:ensemble.sh end-to-end with actually TRAINED models: k
    differently-initialized models fine-tuned with fit(), then the
    ensemble vote over their predictions (key = example_id)."""
    from relation_extraction_transformer_spark.operators import (
        ensemble as EN,
    )
    from relation_extraction_transformer_spark.operators import (
        inference as INF,
    )
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    vocab_bc = spark.sparkContext.broadcast(vocab)

    preds = []
    for seed in (1234, 99):
        cfg = ModelConfig(vocab_size=len(vocab), seed=seed)
        params = {
            k: np.asarray(v, dtype=np.float64)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
        }
        TR.fit(feats, feats, params, cfg, vocab,
               optimizer_name="myadagrad", lr=0.3, num_epoch=2)
        pb = spark.sparkContext.broadcast(params)
        preds.append(
            INF.predict_relations(feats, pb, cfg, vocab_bc=vocab_bc,
                                  keep_probs=False)
        )

    voted = EN.majority_vote(preds, key=["example_id"])
    got = {r.example_id: r.voted_pred for r in voted.collect()}
    assert len(got) == len(rows)
    # each vote must be one of the member models' predictions for that key
    members = {}
    for p in preds:
        for r in p.select("example_id", "pred").collect():
            members.setdefault(r.example_id, set()).add(r.pred)
    for k, v in got.items():
        assert v in members[k]
    # deterministic on re-vote
    got2 = {r.example_id: r.voted_pred
            for r in EN.majority_vote(preds, key=["example_id"]).collect()}
    assert got == got2


def test_openai_adam_matches_reference_math():
    """ref:utils/opt.py:48-107 one hand-computed step (matrix + vector
    param; vector_l2=True so both decay).  Both test gradients have norm
    > 1, so the reference's per-parameter clip to max_grad_norm=1
    (ref:utils/opt.py:82-84, scale by 1/(norm + 1e-6)) must fire before
    the moment update."""
    import math

    p = {"m_w": np.array([[1.0, 2.0]]), "v_b": np.array([0.5])}
    opt = OPT.OpenAIAdam(lr=0.1, schedule="warmup_linear", warmup=0.5,
                         t_total=2, l2=0.01, vector_l2=True)
    g = {"m_w": np.array([[1.0, -1.0]]), "v_b": np.array([2.0])}
    opt.step(p, g)
    x = 1 / 2  # step/t_total
    lr_sched = 0.1 * (x / 0.5) * (1 - x)  # warmup_linear at boundary
    bc1, bc2 = 1 - 0.9, 1 - 0.999
    step_size = lr_sched * math.sqrt(bc2) / bc1
    for k, g0, p0 in (("m_w", g["m_w"], np.array([[1.0, 2.0]])),
                      ("v_b", g["v_b"], np.array([0.5]))):
        g0 = g0 * (1.0 / (np.linalg.norm(g0) + 1e-6))  # per-param clip
        m = 0.1 * g0
        v = 0.001 * g0 * g0
        expect = p0 - step_size * m / (np.sqrt(v) + 1e-8)
        expect = expect - lr_sched * 0.01 * expect
        np.testing.assert_allclose(p[k], expect, err_msg=k)


def test_openai_adam_small_grad_not_clipped():
    """Gradients with norm <= max_grad_norm pass through unclipped (torch
    clip_grad_norm_ only scales when the coefficient is < 1)."""
    import math

    p = {"m_w": np.array([[0.3, 0.4]])}  # grad norm will be 0.5
    opt = OPT.OpenAIAdam(lr=0.1, schedule="warmup_constant", warmup=0.5,
                         t_total=2, l2=0.0)
    g0 = np.array([[0.3, -0.4]])
    opt.step(p, {"m_w": g0.copy()})
    lr_sched = 0.1  # warmup_constant past warmup boundary
    step_size = lr_sched * math.sqrt(1 - 0.999) / (1 - 0.9)
    m = 0.1 * g0
    v = 0.001 * g0 * g0
    expect = np.array([[0.3, 0.4]]) - step_size * m / (np.sqrt(v) + 1e-8)
    np.testing.assert_allclose(p["m_w"], expect)


def test_schedule_shapes():
    assert OPT.warmup_constant(0.001) == pytest.approx(0.5)
    assert OPT.warmup_constant(0.5) == 1.0
    assert OPT.warmup_linear(0.5) == pytest.approx(0.5)
    assert OPT.warmup_cosine(1.0) == pytest.approx(0.0)


def test_train_step_float32_decreases_loss(spark, tmp_path):
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    opt = OPT.get_optimizer("myadagrad", lr=0.3)
    losses = [
        TR.train_step(feats, params, cfg, opt, vocab=vocab, dtype="float32")
        for _ in range(4)
    ]
    assert losses[-1] < losses[0], losses

def test_fit_respects_word_topn(spark, tmp_path):
    """ADVICE r2: --topn must actually reach the gradient step.  With
    word_topn=3 only word-embedding rows [0, 3) may move; the tail stays
    bit-identical through a full fit() epoch."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    before = params["word_emb"].copy()
    TR.fit(
        feats, feats, params, cfg, vocab,
        optimizer_name="myadagrad", lr=0.3, num_epoch=1, word_topn=3,
    )
    np.testing.assert_array_equal(params["word_emb"][3:], before[3:])
    assert not np.array_equal(params["word_emb"][:3], before[:3])


def test_epoch_training_features_dropout_invalidates_word_ids(spark, tmp_path):
    """ADVICE r2: when features carry a precomputed word_ids column, word
    dropout must drop it (ids are re-derived from the dropped tokens) —
    otherwise dropout is a silent no-op in gradient_rows."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).withColumn(
        "word_ids", F.expr("transform(masked_tokens, t -> 0L)")
    )

    def n_unk(df):
        return df.select(
            F.sum(
                F.size(F.filter("masked_tokens", lambda t: t == F.lit(C.UNK_TOKEN)))
            ).alias("n")
        ).first().n

    dropped = TR.epoch_training_features(feats, 0.5, epoch=1)
    assert "word_ids" not in dropped.columns
    assert n_unk(dropped) > n_unk(feats)

    untouched = TR.epoch_training_features(feats, 0.0, epoch=1)
    assert "word_ids" in untouched.columns


def test_train_loss_curve_golden(spark):
    """Round-2 verdict item 4: the rows-only contract query
    train_loss_curve is deterministic fp64 (seeded fixture, OMP pinned to
    one thread, deterministic partition/summation order) — pin the exact
    3-step MyAdagrad loss values so the weakest rows-only check is backed
    by a hard golden."""
    import __spark_entry__ as entry

    rows = (
        entry.queries()["train_loss_curve"](spark, "/root/testdata/sf0.001")
        .orderBy("step")
        .collect()
    )
    got = [r.loss for r in rows]
    np.testing.assert_allclose(got, TRAIN_LOSS_CURVE_GOLDEN, rtol=1e-8)
    assert got[2] < got[0]  # the curve actually descends


# computed once on the pinned fixture (n=24, seed=11, myadagrad lr=0.3,
# 2 partitions, fp64); any kernel/optimizer/summation change that moves
# these beyond 1e-8 relative is a real semantic change
TRAIN_LOSS_CURVE_GOLDEN = [
    4.1412566303577,
    1.9367300588866232,
    2.658877059605005,
]


def test_local_sgd_k1_equals_synchronous_sgd(spark, tmp_path):
    """Local SGD at k=1 with momentum-free SGD IS the synchronous step:
    the weighted average of per-partition steps equals one step on the
    weighted-average gradient (both unclipped).  Pinned at rtol 1e-12."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).repartition(3).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))

    def fresh():
        return {
            k: np.asarray(v, dtype=np.float64)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
        }

    p_sync = fresh()
    opt = OPT.SGD(lr=0.1, momentum=0.0, nesterov=False)
    loss_sync = TR.train_step(
        feats, p_sync, cfg, opt, vocab=vocab, max_grad_norm=1e18,
    )

    p_local = fresh()
    loss_local = TR.local_sgd_step(
        feats, p_local, cfg, lr=0.1, k=1, vocab=vocab,
    )
    assert loss_local == pytest.approx(loss_sync, rel=1e-12)
    for k in p_sync:
        np.testing.assert_allclose(
            p_local[k], p_sync[k], rtol=1e-12, atol=1e-13, err_msg=k,
        )


def test_local_sgd_rejects_invalid_k(spark, tmp_path):
    """ADVICE r3: k=0 used to surface as an executor-side
    UnboundLocalError; it must be a clear driver-side ValueError."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path)
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    for bad_k in (0, -1, 2.5):
        with pytest.raises(ValueError, match="k >= 1"):
            TR.local_sgd_step(feats, params, cfg, lr=0.1, k=bad_k, vocab=vocab)


def test_local_sgd_k4_trains(spark, tmp_path):
    """k>1 local steps per sync still drive the loss down (the reported
    loss is measured at the synced parameters, so round i's loss reflects
    round i-1's updates)."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).repartition(3).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    losses = [
        TR.local_sgd_step(feats, params, cfg, lr=0.1, k=4, vocab=vocab)
        for _ in range(4)
    ]
    assert losses[-1] < losses[0], losses


def test_fit_local_sgd_mode(spark, tmp_path):
    """fit(local_sgd_k=2) runs end to end and trains."""
    from relation_extraction_transformer_spark.operators import train as TR

    feats = _tacred_features(spark, tmp_path).repartition(3).cache()
    rows = feats.collect()
    vocab = _vocab_for(rows)
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }
    hist = TR.fit(
        feats, feats, params, cfg, vocab, lr=0.1, num_epoch=3,
        local_sgd_k=2,
    )
    assert len(hist) == 3
    assert hist[-1]["train_loss"] < hist[0]["train_loss"]
