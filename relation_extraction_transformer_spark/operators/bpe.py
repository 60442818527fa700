"""BPE tokenizer training over a Spark corpus.

The missing half of the BPE-ish token-counting surface
(plans/sql_queries.py::bpe_token_stats): actually LEARNING the merge
table.  The scale shape is the standard one (sentencepiece / HF
tokenizers train from a word-count file, not from raw text): Spark does
the single heavy corpus aggregation — word frequencies — and the merge
loop runs driver-side over that compact, vocabulary-sized table.  At
100 TB the corpus pass is the only distributed stage; the word-freq
table is bounded by vocabulary size (millions of rows, KBs per row),
orders of magnitude smaller than the corpus.

Algorithm (Sennrich et al. 2016): words are char sequences ending in the
end-of-word marker; each step merges the most frequent adjacent symbol
pair.  Ties break deterministically by (count desc, pair lexicographic)
so the merge table is reproducible across runs and partitionings.

No reference counterpart (the reference consumes pre-tokenized TACRED);
this is part of the training-data-pipeline mandate.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The one distributed pass: corpus -> (word, freq).  Partial
    aggregation makes the shuffle carry one row per distinct word per
    partition."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(vocab: dict[tuple, int]) -> Counter:
    counts: Counter = Counter()
    for symbols, freq in vocab.items():
        for i in range(len(symbols) - 1):
            counts[(symbols[i], symbols[i + 1])] += freq
    return counts


def _merge_pair(vocab: dict[tuple, int], pair: tuple) -> dict[tuple, int]:
    a, b = pair
    merged = a + b
    out: dict[tuple, int] = {}
    for symbols, freq in vocab.items():
        new = []
        i = 0
        while i < len(symbols):
            if i < len(symbols) - 1 and symbols[i] == a and symbols[i + 1] == b:
                new.append(merged)
                i += 2
            else:
                new.append(symbols[i])
                i += 1
        key = tuple(new)
        out[key] = out.get(key, 0) + freq
    return out


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_freq: int = 1,
) -> list[tuple[str, str]]:
    """Corpus -> ordered BPE merge table (length <= n_merges; stops early
    when no pair clears ``min_freq``)."""
    rows = word_frequencies(docs, text_col).collect()
    vocab = {
        tuple(list(r.word) + [EOW]): int(r.freq)
        for r in rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic: highest count, then lexicographically smallest
        pair = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[pair] < min_freq:
            break
        vocab = _merge_pair(vocab, pair)
        merges.append(pair)
    return merges


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply a learned merge table to one word (training-order greedy —
    the canonical BPE encoder).  O(n_merges * len): the readable spec;
    ``encode_word_ranked`` is the fast equivalent used corpus-wide."""
    symbols = list(word) + [EOW]
    for a, b in merges:
        i = 0
        out = []
        while i < len(symbols):
            if i < len(symbols) - 1 and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """Merge table -> pair-rank lookup (lower rank = learned earlier)."""
    return {pair: i for i, pair in enumerate(merges)}


def encode_word_ranked(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Rank-based BPE encode: repeatedly merge every occurrence of the
    lowest-rank pair present.  Equivalent to applying the merge table
    sequentially (``encode_word``) — a pair of rank k can only be
    created by merges of rank < k, so processing pairs in rank order is
    the same as processing the table in order; only pairs still present
    are visited, making this O(n_present_merges * len) instead of
    O(n_table * len).  Exact equivalence is pytest-gated
    (tests/test_bpe.py)."""
    symbols = list(word) + [EOW]
    while len(symbols) > 1:
        best_rank, best_pair = None, None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (symbols[i], symbols[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out, i = [], 0
        while i < len(symbols):
            if i < len(symbols) - 1 and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    output_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize a whole corpus with a learned merge table — the encode
    half of the tokenizer (the apply side of ``learn_bpe``).

    Scale shape: mapInPandas with the merge-rank table captured in the
    closure (KB-sized, shipped once per executor) and a per-partition
    word -> tokens memo.  Word frequency is Zipfian, so each partition
    encodes each distinct word ONCE and reuses it — the hot loop is a
    dict hit, not a merge scan.  No shuffle, no join: the operator is
    embarrassingly parallel and composes with any upstream partitioning
    (partitioning invariance is pytest-gated).

    Output: the input rows plus ``output_col: array<string>``.
    """
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks = merge_ranks(merges)
    in_cols = docs.columns
    # build a NEW StructType: StructType.add mutates the receiver, and
    # df.schema is a live cached object
    out_schema = StructType(
        list(docs.schema.fields)
        + [StructField(output_col, ArrayType(StringType()))]
    )

    def encode_batches(batches):
        memo: dict[str, list[str]] = {}

        def encode_text(text):
            out: list[str] = []
            for w in (text or "").split(" "):
                if not w:
                    continue
                toks = memo.get(w)
                if toks is None:
                    toks = encode_word_ranked(w, ranks)
                    memo[w] = toks
                out.extend(toks)
            return out

        for pdf in batches:
            pdf = pdf[in_cols].copy()
            pdf[output_col] = pdf[text_col].map(encode_text)
            yield pdf

    return docs.mapInPandas(encode_batches, schema=out_schema)
