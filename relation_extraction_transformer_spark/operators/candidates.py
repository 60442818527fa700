"""Candidate (sentence, subject, object) pair generation.

A TACRED example is a sentence plus one subject span (PERSON/ORGANIZATION,
ref:utils/constant.py:22) and one object span (any other mention type,
ref:utils/constant.py:24).  The reference receives these pre-paired; we
enumerate them from detected mentions with pure array expressions — build
the pair array per sentence, cap it deterministically, then ONE explode
(no join, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import masking as M

SUBJECT_TYPES = ("PERSON", "ORGANIZATION")


def generate_pairs(
    mentions_df: DataFrame, max_pairs_per_sentence: int
) -> DataFrame:
    """mentions_df: url, sent_id, tokens, mentions array<struct<m_start,
    m_end, surface, ner_type>> (sorted) -> one row per candidate pair."""
    subject_types = ", ".join(M.sql_literal(t) for t in SUBJECT_TYPES)
    capped = (
        "slice(flatten(transform("
        f"filter(mentions, m -> m.ner_type IN ({subject_types})), "
        "s -> transform("
        "filter(mentions, o -> o.m_start != s.m_start OR o.m_end != s.m_end), "
        f"o -> struct(s AS s, o AS o)))), 1, {max_pairs_per_sentence})"
    )

    passthrough = ["url", "sent_id", "tokens"] + [
        c for c in ("ner", "pos_ids", "ner_ids") if c in mentions_df.columns
    ]
    exploded = mentions_df.select(
        *passthrough,
        F.posexplode(F.expr(capped)).alias("pair_id", "pair"),
    )
    return exploded.select(
        *(passthrough[:2] + ["pair_id"] + passthrough[2:]),
        F.col("pair.s.m_start").alias("subj_start"),
        F.col("pair.s.m_end").alias("subj_end"),
        F.col("pair.s.ner_type").alias("subj_type"),
        F.col("pair.s.surface").alias("subj_surface"),
        F.col("pair.o.m_start").alias("obj_start"),
        F.col("pair.o.m_end").alias("obj_end"),
        F.col("pair.o.ner_type").alias("obj_type"),
        F.col("pair.o.surface").alias("obj_surface"),
    )
