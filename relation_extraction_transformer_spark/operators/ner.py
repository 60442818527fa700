"""Sentence segmentation, tokenization, POS tagging and gazetteer NER.

The reference consumes pre-annotated ``stanford_pos`` / ``stanford_ner``
fields (ref:data/loader.py:114-116); our pipeline synthesizes them
deterministically from raw text, entirely JVM-side:

- sentences: regex split on sentence-final periods
- tokens: whitespace split (corpus is pre-tokenized web text)
- POS: rule CASE expression mirroring sources.gazetteer.pos_tag
- mentions: candidate n-grams (``transform`` over index sequences)
  looked up in a map literal of the gazetteer — dictionary NER with no
  join and no shuffle; the containment filter is an array expression,
  not a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import masking as M
from ..sources import gazetteer as G

SENTENCE_SPLIT_REGEX = r"(?<=\.)\s+"


def split_sentences(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> (url, lang, sent_id, sentence); P-analog of the json scan
    exploding documents into sentence examples."""
    sent = F.posexplode(
        F.split(F.col(text_col), SENTENCE_SPLIT_REGEX)
    )
    return (
        pages.select("url", "lang", sent.alias("sent_id", "sentence"))
        .filter(F.length("sentence") > 0)
    )


def tokenize(sentences: DataFrame) -> DataFrame:
    return sentences.withColumn("tokens", F.split(F.col("sentence"), " "))


def pos_tags_sql(tokens: str) -> str:
    """Rule POS tagger as a JVM CASE chain (== gazetteer.pos_tag)."""

    def words(ws) -> str:
        return "array(" + ", ".join(M.sql_literal(w) for w in ws) + ")"

    return (
        f"transform({tokens}, t -> CASE WHEN t IN ('.', ',') THEN t "
        "WHEN t RLIKE '^[0-9]+$' THEN 'CD' "
        f"WHEN array_contains({words(G._DETS)}, t) THEN 'DT' "
        f"WHEN array_contains({words(G._PREPS)}, t) THEN 'IN' "
        f"WHEN array_contains({words(G._VERBS)}, t) THEN 'VBZ' "
        "WHEN t RLIKE '^[A-Z]' THEN 'NNP' "
        "ELSE 'NN' END)"
    )


def detect_mentions(
    tokenized: DataFrame,
    gaz_map: dict[str, str] | None = None,
) -> DataFrame:
    """Longest-match gazetteer NER against a SMALL dictionary, entirely as
    array expressions over a map literal — no join, no explode, no shuffle.
    The whole sentence->mentions stage stays narrow, which is what makes
    the candidate generation embarrassingly parallel at 100 TB.

    Output: url, sent_id, tokens, mentions array<struct> (sorted).
    """
    gaz_map = gaz_map if gaz_map is not None else G.build_gazetteer()
    mentions = _mentions_sql(sorted(gaz_map.items()))
    return tokenized.select(
        "url", "sent_id", "tokens", F.expr(mentions).alias("mentions")
    )


def _mentions_sql(gaz_items: list[tuple[str, str]]) -> str:
    """The mentions expression over the ``tokens`` column, as SQL text."""
    gmap = M.sql_map(dict(gaz_items))
    # Catalyst's GetMapValue on a literal map is a LINEAR scan of all
    # entries per lookup; gate it behind a hashed InSet test on the
    # span's FIRST TOKEN (derived from the same dictionary, so the
    # result set is provably unchanged: a phrase match implies its
    # first word is in this set).  Most spans fail the set test and
    # never pay the O(|dict|) scan — measured ~2x on the NER stage.
    first_words = ", ".join(
        M.sql_literal(w) for w in sorted({p.split(" ")[0] for p, _ in gaz_items})
    )
    # span candidates carry only (m_start, m_end) — the surface STRING
    # (a concat_ws over a token slice) is built only for spans whose
    # first token passes the InSet test, i.e. for the tiny fraction that
    # can possibly match
    bare = ", ".join(
        f"CASE WHEN size(tokens) >= {n} "
        f"THEN transform(sequence(0, size(tokens) - {n}), "
        f"i -> struct(i AS m_start, i + {n} - 1 AS m_end)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<m_start: INT, m_end: INT>>) END"
        for n in range(1, G.MAX_PHRASE_TOKENS + 1)
    )
    candidates = (
        f"transform(filter(concat({bare}), "
        f"sp -> element_at(tokens, sp.m_start + 1) IN ({first_words})), "
        "sp -> struct(sp.m_start AS m_start, sp.m_end AS m_end, "
        "concat_ws(' ', slice(tokens, sp.m_start + 1, "
        "sp.m_end - sp.m_start + 1)) AS surface))"
    )
    typed = (
        f"filter(transform({candidates}, "
        "sp -> struct(sp.m_start AS m_start, sp.m_end AS m_end, "
        f"sp.surface AS surface, element_at({gmap}, sp.surface) AS ner_type)), "
        "m -> m.ner_type IS NOT NULL)"
    )
    # drop spans strictly contained in a longer kept span
    return (
        f"array_sort(filter({typed}, m -> NOT exists({typed}, "
        "o -> o.m_start <= m.m_start AND o.m_end >= m.m_end "
        "AND o.m_end - o.m_start > m.m_end - m.m_start)))"
    )


def ner_tags_from_mentions(kept: DataFrame) -> DataFrame:
    """Project mention spans back to a per-token NER tag sequence
    (the synthetic ``stanford_ner`` field)."""
    ner = (
        "transform(sequence(0, size(tokens) - 1), i -> coalesce("
        "try_element_at(filter(mentions, m -> i >= m.m_start AND i <= m.m_end), 1)"
        ".ner_type, 'O'))"
    )
    return kept.withColumn("ner", F.expr(ner))
