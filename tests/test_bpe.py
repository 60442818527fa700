"""BPE tokenizer training (operators/bpe.py): learned merges vs an
independent pure-Python reference over raw text, plus encoder sanity."""

from collections import Counter

from relation_extraction_transformer_spark.operators import bpe as BPE


def _reference_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Independent implementation straight from raw text (no Spark, no
    word-freq precompute) — Sennrich et al. 2016 with (count desc, pair)
    tie-break."""
    vocab: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                vocab[tuple(list(w) + [BPE.EOW])] += 1
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        new_vocab: Counter = Counter()
        a, b = best
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += f
        vocab = new_vocab
        merges.append(best)
    return merges


TEXTS = [
    "low lower lowest low low",
    "new newer newest new wider",
    "low new lower newer",
    "the the the a a value",
]


def test_learn_bpe_matches_reference(spark):
    docs = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = BPE.learn_bpe(docs, n_merges=12)
    want = _reference_bpe(TEXTS, 12)
    assert got == want
    assert len(got) == 12


def test_learn_bpe_deterministic_across_partitioning(spark):
    docs2 = spark.createDataFrame([(t,) for t in TEXTS], "text string").repartition(2)
    docs7 = spark.createDataFrame([(t,) for t in TEXTS], "text string").repartition(7)
    assert BPE.learn_bpe(docs2, 8) == BPE.learn_bpe(docs7, 8)


def test_encode_word_roundtrip():
    merges = _reference_bpe(TEXTS, 12)
    for w in ["low", "lowest", "newer", "unseen"]:
        syms = BPE.encode_word(w, merges)
        assert "".join(syms) == w + BPE.EOW
        assert all(s for s in syms)
    # a frequent fully-merged word collapses to few symbols
    assert len(BPE.encode_word("low", merges)) <= 3


SF_DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_ranked_encoder_equals_sequential_on_real_vocab(spark):
    """encode_word_ranked must be EXACTLY encode_word for every distinct
    word of the real documents table under a real learned merge table."""
    docs = spark.read.parquet(SF_DOCS)
    merges = BPE.learn_bpe(docs, n_merges=60)
    ranks = BPE.merge_ranks(merges)
    words = [r.word for r in BPE.word_frequencies(docs).collect()]
    assert len(words) > 20
    for w in words:
        assert BPE.encode_word_ranked(w, ranks) == BPE.encode_word(w, merges), w


def test_bpe_encode_corpus_matches_driver_side(spark):
    """The distributed encoder (mapInPandas + memo) must reproduce the
    per-word driver-side encode_word concatenation doc-by-doc."""
    docs = spark.read.parquet(SF_DOCS).select("doc_id", "text")
    merges = BPE.learn_bpe(docs, n_merges=40)
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in BPE.bpe_encode(docs, merges).collect()
    }
    for r in docs.collect():
        want = []
        for w in r.text.split(" "):
            if w:
                want.extend(BPE.encode_word(w, merges))
        assert got[r.doc_id] == want, r.doc_id


def test_bpe_encode_partitioning_invariant(spark):
    docs = spark.read.parquet(SF_DOCS).select("doc_id", "text")
    merges = BPE.learn_bpe(docs, n_merges=30)

    def rows(df):
        return sorted(
            (r.doc_id, tuple(r.bpe_tokens))
            for r in BPE.bpe_encode(df, merges).collect()
        )

    assert rows(docs.repartition(1)) == rows(docs.repartition(7))


def test_bpe_encode_handles_empty_and_null_text(spark):
    docs = spark.createDataFrame(
        [(1, "low lower"), (2, ""), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    merges = _reference_bpe(TEXTS, 8)
    out = {r.doc_id: list(r.bpe_tokens) for r in BPE.bpe_encode(docs, merges).collect()}
    assert out[2] == [] and out[3] == [] and out[4] == []
    assert "".join(out[1]) == "low" + BPE.EOW + "lower" + BPE.EOW
