"""Vocab build, scorer aggregation, skew salting tests."""

import numpy as np
import pyspark.sql.functions as F

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark.functions import skew as SKEW
from relation_extraction_transformer_spark.operators import scorer as SCORE
from relation_extraction_transformer_spark.operators import vocab as V


def test_vocab_build_and_embedding(spark, tmp_path):
    docs = spark.createDataFrame(
        [("b b b a a c",), ("a d d d d",)], "text: string"
    )
    counts = V.token_counts(docs)
    ranked = V.ranked_vocab(counts, threshold=2)
    rows = {r.token: (r.cnt, r.token_id) for r in ranked.collect()}
    # d:4, b:3, a:3 -> ties broken by token asc; c dropped by threshold
    assert rows == {"d": (4, 2), "a": (3, 3), "b": (3, 4)}

    glove_path = str(tmp_path / "glove.txt")
    with open(glove_path, "w") as f:
        f.write("a 0.1 0.2\nb 0.3 0.4\nzzz 0.5 0.6\n")
    glove = V.read_glove(spark, glove_path, dim=2)
    assert {r.token for r in glove.collect()} == {"a", "b", "zzz"}

    semi = V.vocab_glove_semi_join(ranked, glove)
    assert {r.token for r in semi.collect()} == {"a", "b"}

    stats = V.oov_stats(ranked, glove).first()
    assert stats.total_tokens == 10 and stats.oov_tokens == 4  # 'd' x4
    emb = V.build_embedding_matrix(ranked, glove, dim=2)
    assert emb.shape == (5, 2)
    assert np.allclose(emb[C.PAD_ID], 0.0)           # PAD row zero
    assert np.allclose(emb[rows["a"][1]], [0.1, 0.2])
    assert not np.allclose(emb[rows["d"][1]], 0.0)    # fallback vector
    # fallback is deterministic
    emb2 = V.build_embedding_matrix(ranked, glove, dim=2)
    assert np.array_equal(emb, emb2)


def test_ranked_vocab_matches_global_window(spark):
    """The two-phase distributed rank must be row-identical to the
    single-window form it replaced — across threshold settings, big tie
    groups (Zipf tail), and multibyte tokens (leading-codepoint grouping
    must agree with Spark's bytewise-UTF8 comparator)."""
    from pyspark.sql import Window

    rng = np.random.default_rng(7)
    pool = (
        [f"tok{i:03d}" for i in range(60)]
        + ["éclair", "中文", "über", "ж", "zz",
           "é", "\U0001F600moji", "", " lead", "中"]
    )
    rows = [(t,) for t in pool for _ in range(int(rng.integers(1, 6)))]
    counts = V.token_counts(
        spark.createDataFrame(
            [(" ".join(t for (t,) in rows),)], "text: string"
        )
    )
    for threshold in (0, 2, 3):
        got = V.ranked_vocab(counts, threshold=threshold)
        filtered = (
            counts.filter(F.col("cnt") >= threshold)
            if threshold > 1 else counts
        )
        want = filtered.withColumn(
            "token_id",
            F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("token"))
            ) + len(C.VOCAB_PREFIX) - 1,
        )
        g = sorted(tuple(r) for r in got.collect())
        w = sorted(tuple(r) for r in want.collect())
        assert g == w, f"threshold={threshold}: first diff " + str(
            next(p for p in zip(g, w) if p[0] != p[1])
        )

    # review r5: a NULL token (possible from arbitrary upstream counts)
    # must rank like the global window does (NULLS FIRST within its cnt
    # group), not crash the driver-side sort or drop through the join
    null_counts = spark.createDataFrame(
        [(None, 5), ("", 5), ("b", 5), ("a", 3)],
        "token string, cnt long",
    )
    got = sorted(
        (tuple(r) for r in V.ranked_vocab(null_counts).collect()),
        key=repr,
    )
    from pyspark.sql import Window as W

    want = sorted(
        (
            tuple(r)
            for r in null_counts.withColumn(
                "token_id",
                F.row_number().over(
                    W.orderBy(F.desc("cnt"), F.asc("token"))
                ) + 1,
            ).collect()
        ),
        key=repr,
    )
    assert got == want


def test_scorer_reference_semantics(spark):
    # hand-built confusion exercising every null-class rule
    rows = [
        ("no_relation", "no_relation"),   # ignored
        ("no_relation", "per:title"),     # guessed only
        ("per:title", "no_relation"),     # gold only
        ("per:title", "per:title"),       # correct
        ("per:title", "per:age"),         # wrong: guessed per:age, gold title
        ("per:age", "per:age"),           # correct
    ]
    df = spark.createDataFrame(rows, "gold: string, guess: string")
    per = {r.relation: r for r in SCORE.score_per_relation(df).collect()}
    # per:title: gold 3 (rows 3,4,5), guessed 2 (rows 2,4), correct 1
    assert per["per:title"].gold_cnt == 3
    assert per["per:title"].guessed_cnt == 2
    assert per["per:title"].correct_cnt == 1
    # per:age: gold 1, guessed 2, correct 1
    assert per["per:age"].gold_cnt == 1 and per["per:age"].guessed_cnt == 2
    micro = SCORE.score_micro(df).first()
    assert micro.correct_cnt == 2 and micro.guessed_cnt == 4
    assert micro.gold_cnt == 4
    assert abs(micro.prec_micro - 0.5) < 1e-12
    assert abs(micro.f1_micro - 0.5) < 1e-12


def test_scorer_guessed_zero_precision_one(spark):
    df = spark.createDataFrame(
        [("per:title", "no_relation")], "gold: string, guess: string"
    )
    r = SCORE.score_per_relation(df).first()
    assert r.prec == 1.0 and r.recall == 0.0 and r.f1 == 0.0


def test_salted_repartition_spreads_hot_key(spark):
    # one hot host, many cold
    rows = [(f"https://hot.example.com/{i}", "x") for i in range(400)] + [
        (f"https://cold{i}.example.com/0", "x") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "url: string, payload: string")
    df = df.withColumn("host", SKEW.host_of(F.col("url")))
    salted = SKEW.salted_repartition(df, ["host"], n_partitions=8, n_salts=8)
    sizes = [r.rows for r in SKEW.partition_size_stats(salted).collect()]
    assert max(sizes) < 400  # the hot host no longer lands in one partition
    assert salted.count() == 420
