"""TACRED-format JSON source (SURVEY S1).

The reference's primary input is a single JSON array file per split with
per-example annotation fields (ref:data/loader.py:47-48, field names
ref:data/loader.py:89,107-116,188).  A user of the reference can point
this scan at their existing ``train/dev/test.json`` and run the same
preprocessing + inference through this engine:

    examples = read_tacred_json(spark, "dataset/tacred/test.json")
    feats    = tacred_to_candidates(examples)
    preds    = predict_relations(feats, params_bc, cfg, vocab_bc)

``multiLine=True`` because TACRED ships one JSON array, not JSONL; for
100 TB-scale corpora convert to JSONL/parquet once (single-array JSON is
unsplittable — one task per file).
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import constants as C
from ..functions import masking as M
from ..functions import positions as P

TACRED_SCHEMA = (
    "id string, docid string, relation string, token array<string>, "
    "subj_start int, subj_end int, obj_start int, obj_end int, "
    "subj_type string, obj_type string, stanford_pos array<string>, "
    "stanford_ner array<string>, stanford_deprel array<string>, "
    "stanford_head array<int>"
)


def read_tacred_json(spark: SparkSession, path: str) -> DataFrame:
    """S1: whole-array JSON scan (ref:data/loader.py:47-48)."""
    return spark.read.schema(TACRED_SCHEMA).option("multiLine", True).json(path)


def tacred_to_candidates(examples: DataFrame, lower: bool = False) -> DataFrame:
    """The reference's preprocess pipeline (ref:data/loader.py:68-197) over
    TACRED rows -> the inference operator's feature columns.  Pure Spark
    SQL expressions; ``example_id`` replaces positional alignment."""
    toks = M.lower_tokens_sql("token") if lower else "token"
    n = F.size("token")
    df = examples.select(
        F.col("id").alias("example_id"),
        F.col("relation").alias("gold_relation"),
        F.expr(M.mask_entity_spans_sql(
            toks, "subj_start", "subj_end", "obj_start", "obj_end",
            "subj_type", "obj_type",
        )).alias("masked_tokens"),
        F.expr(M.map_tags_to_ids_sql("stanford_pos", C.POS_TO_ID)).alias("pos_ids"),
        F.expr(M.map_tags_to_ids_sql("stanford_ner", C.NER_TO_ID)).alias("ner_ids"),
        F.expr(
            M.map_tags_to_ids_sql("stanford_deprel", C.DEPREL_TO_ID)
        ).alias("deprel_ids"),
        F.expr(P.binned_span_positions_sql(
            "subj_start", "subj_end", "size(token)"
        )).alias("subj_positions"),
        F.expr(P.binned_span_positions_sql(
            "obj_start", "obj_end", "size(token)"
        )).alias("obj_positions"),
    )
    return df.filter((n >= 1) & (n <= C.ABS_MAX_LEN))


def write_synthetic_tacred_json(path: str, n: int, seed: int = 7) -> None:
    """Deterministic TACRED-format fixture file (test input; the real files
    are licensed and not shipped)."""
    rng = np.random.default_rng(seed)
    pos_keys = [k for k in C.POS_TO_ID if k not in (C.PAD_TOKEN, C.UNK_TOKEN)]
    ner_keys = [k for k in C.NER_TO_ID if k not in (C.PAD_TOKEN, C.UNK_TOKEN)]
    dep_keys = [k for k in C.DEPREL_TO_ID if k not in (C.PAD_TOKEN, C.UNK_TOKEN)]
    rel_keys = list(C.LABEL_TO_ID)
    words = ["the", "company", "said", "chief", "in", "new", "york",
             "on", "monday", "that", "profits", "rose"]
    out = []
    for i in range(n):
        l = int(rng.integers(6, 20))
        token = [words[int(rng.integers(0, len(words)))] for _ in range(l)]
        ss = int(rng.integers(0, l - 1))
        se = min(l - 1, ss + int(rng.integers(0, 2)))
        remaining = [j for j in range(l) if j < ss or j > se]
        ob = remaining[int(rng.integers(0, len(remaining)))]
        out.append({
            "id": f"e{i:05d}",
            "docid": f"d{i // 10}",
            "relation": rel_keys[int(rng.integers(0, len(rel_keys)))],
            "token": token,
            "subj_start": ss, "subj_end": se,
            "obj_start": ob, "obj_end": ob,
            "subj_type": "PERSON" if i % 2 else "ORGANIZATION",
            "obj_type": "TITLE" if i % 3 else "DATE",
            "stanford_pos": [pos_keys[int(rng.integers(0, len(pos_keys)))]
                             for _ in range(l)],
            "stanford_ner": [ner_keys[int(rng.integers(0, len(ner_keys)))]
                             for _ in range(l)],
            "stanford_deprel": [dep_keys[int(rng.integers(0, len(dep_keys)))]
                                for _ in range(l)],
            "stanford_head": [int(rng.integers(0, l + 1)) for _ in range(l)],
        })
    with open(path, "w") as f:
        json.dump(out, f)
