"""Candidate preprocessing: P1-P9 as pure Spark SQL expressions.

Mirrors ref:data/loader.py:68-197 column-for-column:

- entity masking over the token array          (P2)
- POS/NER tag -> id map-literal lookups        (P4)
- subject/object relative positions + binning  (P8/P9)
- ABS_MAX_LEN guard                            (ref:data/loader.py:18)

Word-id lookup (P3) happens inside the inference UDF against a broadcast
vocab (a 50k-entry map literal would bloat the Catalyst plan); everything
else is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from ..functions import masking as M
from ..functions import positions as P
from . import ner as N


def preprocess_candidates(pairs: DataFrame, lower: bool = False) -> DataFrame:
    """pairs (from candidates.generate_pairs) -> model feature columns.

    ``pairs`` must already carry ``pos_ids``/``ner_ids``: tag ids are
    per-sentence, so :func:`attach_tag_ids` runs upstream of the pair
    explode (as ``plans.pipeline.candidates_plan`` does) instead of once
    per candidate here."""
    # P1; shipped config lower=False
    toks = M.lower_tokens_sql("tokens") if lower else "tokens"
    df = pairs.withColumn(
        "masked_tokens",
        F.expr(M.mask_entity_spans_sql(
            toks, "subj_start", "subj_end", "obj_start", "obj_end",
            "subj_type", "obj_type",
        )),
    )
    n = F.size("masked_tokens")
    df = df.withColumn(
        "subj_positions",
        F.expr(P.binned_span_positions_sql(
            "subj_start", "subj_end", "size(masked_tokens)"
        )),
    ).withColumn(
        "obj_positions",
        F.expr(P.binned_span_positions_sql(
            "obj_start", "obj_end", "size(masked_tokens)"
        )),
    )
    # sentences longer than the reference's hard cap are dropped
    # (ref:data/loader.py:18 ABS_MAX_LEN = 96)
    return df.filter((n >= 1) & (n <= C.ABS_MAX_LEN))


def attach_tag_ids(df: DataFrame, ner_col: str = "ner") -> DataFrame:
    """POS ids from the rule tagger; NER ids from the projected mention
    tags (P4, ref:data/loader.py:114-116)."""
    pos_ids = M.map_tags_to_ids_sql(N.pos_tags_sql("tokens"), C.POS_TO_ID)
    ner_ids = M.map_tags_to_ids_sql(ner_col, C.NER_TO_ID)
    return df.withColumn("pos_ids", F.expr(pos_ids)).withColumn(
        "ner_ids", F.expr(ner_ids)
    )
