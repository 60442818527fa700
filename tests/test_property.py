"""Property-based and randomized cross-checks (hypothesis)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from relation_extraction_transformer_spark import oracle
from relation_extraction_transformer_spark.functions import positions as P
from relation_extraction_transformer_spark.operators import canonicalize as CANON


# pure-python mirror of the CASE-chain semantics for the property test
def _bin_one(x: int) -> int:
    if x == 0:
        return 0
    b = abs(x).bit_length()
    return b if x > 0 else -b


@given(st.lists(st.integers(-(2**31) + 1, 2**31 - 1), min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_bit_length_binning_equals_reference_formula(xs):
    """bit_length CASE chain == sign(x)*(floor(log2|x|)+1) for ALL ints
    (the float formula itself is only trusted on the reference's domain,
    so compare against exact integer math)."""
    assert [_bin_one(x) for x in xs] == [
        int(np.sign(x)) * int(abs(x)).bit_length() if x else 0 for x in xs
    ]
    # and the reference float formula agrees on the sentence-position domain
    small = [x for x in xs if 0 < abs(x) <= 10**15]
    if small:
        assert oracle.bin_positions(small) == [_bin_one(x) for x in small]


@given(
    st.integers(0, 50).flatmap(
        lambda s: st.tuples(
            st.just(s),
            st.integers(s, 60),
            st.integers(61, 120),
        )
    )
)
@settings(max_examples=100, deadline=None)
def test_get_positions_properties(args):
    s, e, n = args
    seq = oracle.get_positions(s, e, n)
    assert len(seq) == n
    assert seq[s : e + 1] == [0] * (e - s + 1)
    if s > 0:
        assert seq[0] == -s
    if e < n - 1:
        assert seq[-1] == n - 1 - e


def test_connected_components_random_graph_vs_union_find(spark, union_find):
    rng = np.random.default_rng(17)
    edges = [
        (int(rng.integers(0, 120)), int(rng.integers(0, 120)))
        for _ in range(150)
    ]
    want = union_find(edges)
    got = {
        r.node_id: r.component
        for r in CANON.connected_components(
            spark.createDataFrame(edges, "src: long, dst: long")
        ).collect()
    }
    assert got == want


def test_connected_components_raises_when_iteration_cap_hit(
    spark, union_find, monkeypatch
):
    # a 6-node path needs more than one propagation round
    path = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(path, "src: long, dst: long")
    with monkeypatch.context() as capped:
        capped.setattr(CANON, "_CC_MAX_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            CANON.connected_components(edges)
    got = {
        r.node_id: r.component
        for r in CANON.connected_components(edges).collect()
    }
    assert got == union_find(path)


def test_spark_binning_bulk_matches_python(spark):
    """One DF pass over many random ints: Spark CASE chain == python."""
    rng = np.random.default_rng(4)
    xs = [int(v) for v in rng.integers(-(2**31) + 1, 2**31 - 1, 500)]
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(x,) for x in xs], "v: int")
    got = [
        r.b for r in df.select(F.expr(P.log2_bin_sql("v")).alias("b")).collect()
    ]
    assert got == [_bin_one(x) for x in xs]


def test_word_shingle_hashes_matches_python_model(spark):
    """The slice+zip_with Horner construction equals a straightforward
    Python reimplementation (md5 per token -> mod P -> Horner combine)
    on edge cases: empty string, single/two tokens (whole-text
    fallback), exactly 3, many, and repeated tokens."""
    import hashlib

    import pyspark.sql.functions as F

    from relation_extraction_transformer_spark.functions import minhash as MH

    P_ = (1 << 31) - 1
    A = 1103515245

    def base(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[1:16], 16)

    def model(text: str, n=3):
        toks = text.split(" ")
        if len(toks) < n:
            return [base(text) % P_]
        th = [base(t) % P_ for t in toks]
        out = []
        for i in range(len(th) - n + 1):
            acc = th[i]
            for j in range(1, n):
                acc = (acc * A + th[i + j]) % P_
            out.append(acc)
        return out

    texts = [
        "",
        "one",
        "two tokens",
        "a b c",
        "a b c d e",
        "x x x x",  # repeats
        "the quick brown fox jumps over the lazy dog",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {
        r.i: list(r.h)
        for r in df.select(
            "i", F.expr(MH.word_shingle_hashes_sql("text")).alias("h")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == model(t), (t, got[i], model(t))
