"""TACRED JSON source (S1) and training-side operators (O1/O2/P10)."""

import pyspark.sql.functions as F

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark import oracle
from relation_extraction_transformer_spark import weights as W
from relation_extraction_transformer_spark.config import ModelConfig
from relation_extraction_transformer_spark.functions import training as TR
from relation_extraction_transformer_spark.operators import inference as INF
from relation_extraction_transformer_spark.sources import tacred as TJ


def test_tacred_roundtrip_and_inference_parity(spark, tmp_path):
    path = str(tmp_path / "test.json")
    TJ.write_synthetic_tacred_json(path, n=40, seed=7)
    examples = TJ.read_tacred_json(spark, path)
    assert examples.count() == 40

    feats = TJ.tacred_to_candidates(examples)
    rows = feats.collect()
    assert len(rows) == 40

    # vocab: small closed set over the fixture words + masks
    vocab_words = sorted(
        {t for r in rows for t in r.masked_tokens}
    )
    vocab = {C.PAD_TOKEN: 0, C.UNK_TOKEN: 1}
    for w in vocab_words:
        vocab.setdefault(w, len(vocab))
    cfg = ModelConfig(vocab_size=len(vocab))
    params = W.generate_weights(cfg, vocab_size=len(vocab))

    predicted = INF.predict_relations(
        feats, spark.sparkContext.broadcast(params), cfg,
        vocab_bc=spark.sparkContext.broadcast(vocab),
    )
    got = {r.example_id: (r.pred, r.probs) for r in predicted.collect()}
    assert len(got) == 40

    # parity vs the naive oracle fed the SAME preprocessed rows
    for r in rows:
        ex = oracle.PreprocessedExample(
            word_ids=[vocab.get(t, C.UNK_ID) for t in r.masked_tokens],
            pos_ids=list(r.pos_ids),
            ner_ids=list(r.ner_ids),
            subj_positions=list(r.subj_positions),
            obj_positions=list(r.obj_positions),
        )
        pred_n, _ = oracle.naive_forward_example(params, cfg, ex)
        assert got[r.example_id][0] == pred_n
        assert len(got[r.example_id][1]) == 42


def test_tacred_preprocess_matches_oracle(spark, tmp_path):
    path = str(tmp_path / "mini.json")
    TJ.write_synthetic_tacred_json(path, n=10, seed=3)
    examples = TJ.read_tacred_json(spark, path)
    got = {r.example_id: r for r in
           TJ.tacred_to_candidates(examples).collect()}
    for e in examples.collect():
        ex = oracle.preprocess_example(
            list(e.token), e.subj_start, e.subj_end, e.obj_start, e.obj_end,
            e.subj_type, e.obj_type, list(e.stanford_pos),
            list(e.stanford_ner), vocab={}, lower=False,
        )
        r = got[e.id]
        assert list(r.pos_ids) == ex.pos_ids
        assert list(r.ner_ids) == ex.ner_ids
        assert list(r.subj_positions) == ex.subj_positions
        assert list(r.obj_positions) == ex.obj_positions


def test_word_dropout_semantics(spark):
    df = spark.createDataFrame(
        [("r1", [5, 1, 9, 12, 7, 3, 8, 20] * 50)],
        "key: string, ids: array<int>",
    )
    out = df.select(
        TR.word_dropout(F.col("ids"), 0.25, seed=1, row_key=F.col("key"))
        .alias("dropped")
    ).first()["dropped"]
    orig = [5, 1, 9, 12, 7, 3, 8, 20] * 50
    # UNK ids never re-dropped; others flip only to UNK
    flips = sum(1 for a, b in zip(orig, out) if a != b)
    assert all(b == a or b == C.UNK_ID for a, b in zip(orig, out))
    assert 0.15 < flips / len(orig) < 0.35   # ~rate
    # deterministic
    again = df.select(
        TR.word_dropout(F.col("ids"), 0.25, seed=1, row_key=F.col("key"))
        .alias("d")
    ).first()["d"]
    assert list(out) == list(again)


def test_trained_model_scorer_parity_end_to_end(spark, tmp_path):
    """System-level loop closure (ref:runner.py:296-307 -> utils/scorer.py):
    train fit() for a few epochs on synthetic TACRED, predict the dev set
    with the Spark inference operator, score with the Spark scorer — and
    assert the per-relation AND micro tables match an independent
    driver-side NumPy evaluation (naive oracle forward per example + a
    from-scratch reimplementation of the reference scorer counters)."""
    import numpy as np

    from relation_extraction_transformer_spark.functions import masking as M
    from relation_extraction_transformer_spark.operators import scorer as SC
    from relation_extraction_transformer_spark.operators import train as TRAIN

    train_path = str(tmp_path / "train.json")
    dev_path = str(tmp_path / "dev.json")
    TJ.write_synthetic_tacred_json(train_path, n=40, seed=11)
    TJ.write_synthetic_tacred_json(dev_path, n=24, seed=7)
    train_feats = TJ.tacred_to_candidates(
        TJ.read_tacred_json(spark, train_path)
    ).withColumn("label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long"))
    dev_feats = TJ.tacred_to_candidates(TJ.read_tacred_json(spark, dev_path))
    dev_feats = dev_feats.withColumn(
        "label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long")
    ).cache()

    # closed vocab over train+dev (deterministic)
    rows_all = train_feats.collect() + dev_feats.collect()
    vocab = {C.PAD_TOKEN: 0, C.UNK_TOKEN: 1}
    for r in sorted(rows_all, key=lambda r: r.example_id):
        for t in r.masked_tokens:
            vocab.setdefault(t, len(vocab))
    cfg = ModelConfig(vocab_size=len(vocab))
    params = {
        k: np.asarray(v, dtype=np.float64)
        if np.issubdtype(np.asarray(v).dtype, np.floating) else v
        for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
    }

    TRAIN.fit(
        train_feats.repartition(2).cache(), dev_feats, params, cfg, vocab,
        optimizer_name="myadagrad", lr=0.3, num_epoch=3,
    )

    # --- Spark path: inference operator -> scorer aggregations
    predicted = INF.predict_relations(
        dev_feats, spark.sparkContext.broadcast(params), cfg,
        vocab_bc=spark.sparkContext.broadcast(vocab),
    )
    pairs = predicted.select(
        "example_id", F.expr(M.id_to_label_sql("pred")).alias("guess")
    ).join(dev_feats.select("example_id", "gold_relation"), "example_id")
    pairs = pairs.select("gold_relation", "guess")
    spark_rel = {
        r.relation: (r.correct_cnt, r.guessed_cnt, r.gold_cnt,
                     r.prec, r.recall, r.f1)
        for r in SC.score_per_relation(
            pairs, gold_col="gold_relation"
        ).collect()
    }
    spark_micro = SC.score_micro(pairs, gold_col="gold_relation").first()

    # --- Driver path: naive NumPy forward + independent scorer counters
    gold_guess = []
    for r in dev_feats.collect():
        ex = oracle.PreprocessedExample(
            word_ids=[vocab.get(t, C.UNK_ID) for t in r.masked_tokens],
            pos_ids=list(r.pos_ids),
            ner_ids=list(r.ner_ids),
            subj_positions=list(r.subj_positions),
            obj_positions=list(r.obj_positions),
        )
        pred_id, _ = oracle.naive_forward_example(params, cfg, ex)
        gold_guess.append((r.gold_relation, C.ID_TO_LABEL[pred_id]))

    NR = C.NO_RELATION
    assert any(g != NR for g, _ in gold_guess)  # fixture has signal
    correct, guessed, gold_cnt = {}, {}, {}
    for g, p in gold_guess:
        if g != NR:
            gold_cnt[g] = gold_cnt.get(g, 0) + 1
            if p == g:
                correct[g] = correct.get(g, 0) + 1
        if p != NR:
            guessed[p] = guessed.get(p, 0) + 1
    want_rel = {}
    for rel in gold_cnt:
        c = correct.get(rel, 0)
        gu = guessed.get(rel, 0)
        go = gold_cnt[rel]
        prec = c / gu if gu > 0 else 1.0
        rec = c / go if go > 0 else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        want_rel[rel] = (c, gu, go, prec, rec, f1)

    assert set(spark_rel) == set(want_rel)
    for rel, want in want_rel.items():
        got = spark_rel[rel]
        assert got[:3] == want[:3], rel
        np.testing.assert_allclose(got[3:], want[3:], rtol=1e-12, err_msg=rel)

    tot_c = sum(correct.values())
    tot_gu = sum(guessed.values())
    tot_go = sum(gold_cnt.values())
    p = tot_c / tot_gu if tot_gu else 1.0
    r_ = tot_c / tot_go if tot_go else 0.0
    f1 = 2 * p * r_ / (p + r_) if p + r_ > 0 else 0.0
    assert (spark_micro.correct_cnt, spark_micro.guessed_cnt,
            spark_micro.gold_cnt) == (tot_c, tot_gu, tot_go)
    np.testing.assert_allclose(
        [spark_micro.prec_micro, spark_micro.recall_micro,
         spark_micro.f1_micro],
        [p, r_, f1], rtol=1e-12,
    )
