import pyspark.sql.functions as F
import pytest

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark.functions import masking as M


def _ref_mask(tokens, ss, se, os_, oe, st, ot):
    # ref:data/loader.py:107-110 (subject first, then object overwrites)
    t = list(tokens)
    t[ss : se + 1] = ["SUBJ-" + st] * (se - ss + 1)
    t[os_ : oe + 1] = ["OBJ-" + ot] * (oe - os_ + 1)
    return t


@pytest.mark.parametrize(
    "tokens,ss,se,os_,oe,st,ot",
    [
        (["a", "b", "c", "d", "e"], 0, 1, 3, 4, "PERSON", "CITY"),
        (["a", "b", "c", "d", "e"], 4, 4, 0, 0, "ORGANIZATION", "DATE"),
        (["a", "b", "c"], 0, 2, 1, 1, "PERSON", "TITLE"),  # overlapping spans
    ],
)
def test_mask_entity_spans(spark, tokens, ss, se, os_, oe, st, ot):
    df = spark.createDataFrame(
        [(tokens, ss, se, os_, oe, st, ot)],
        "tokens: array<string>, ss: int, se: int, os: int, oe: int, "
        "st: string, ot: string",
    )
    out = df.select(
        F.expr(M.mask_entity_spans_sql(
            "tokens", "ss", "se", "os", "oe", "st", "ot"
        )).alias("m")
    ).first()["m"]
    assert out == _ref_mask(tokens, ss, se, os_, oe, st, ot)


def test_map_tags_to_ids(spark):
    # the quote, backquote, dollar, comma and bracket tags are the keys a
    # broken SQL-literal escape would silently map to UNK
    tags = ["NNP", "VBZ", "???", "NN", "''", "``", "$", ",", "-LRB-"]
    df = spark.createDataFrame([(tags,)], "tags: array<string>")
    out = df.select(
        F.expr(M.map_tags_to_ids_sql("tags", C.POS_TO_ID)).alias("ids")
    ).first()["ids"]
    assert out == [C.POS_TO_ID.get(t, C.UNK_ID) for t in tags]
    assert out.count(C.UNK_ID) == 1


def test_detect_mentions_quoted_phrases(spark):
    # phrases with a quote or a backslash must reach both the map literal
    # and the first-word prefilter intact
    from relation_extraction_transformer_spark.operators import ner as N

    gaz = {
        "O'Brien Holdings": "ORGANIZATION",
        "back\\slash": "MISC",
        "Alice": "PERSON",
    }
    tokens = "O'Brien Holdings hired Alice at back\\slash .".split(" ")
    df = spark.createDataFrame(
        [("u", 0, tokens)], "url string, sent_id int, tokens array<string>"
    )
    got = [
        (m.m_start, m.m_end, m.surface, m.ner_type)
        for m in N.detect_mentions(df, gaz_map=gaz).first().mentions
    ]
    assert got == [
        (0, 1, "O'Brien Holdings", "ORGANIZATION"),
        (3, 3, "Alice", "PERSON"),
        (5, 5, "back\\slash", "MISC"),
    ]


def test_label_roundtrip(spark):
    labels = ["per:title", "no_relation", "org:founded_by", "bogus"]
    df = spark.createDataFrame([(l,) for l in labels], "label: string")
    out = df.select(
        F.expr(M.label_to_id_sql("label")).alias("id"),
        F.expr(M.id_to_label_sql(M.label_to_id_sql("label"))).alias("back"),
    ).collect()
    assert [r["id"] for r in out] == [1, 0, 25, 0]
    assert [r["back"] for r in out] == [
        "per:title", "no_relation", "org:founded_by", "no_relation"
    ]


def test_normalize_glove(spark):
    df = spark.createDataFrame(
        [("-LRB-",), ("-RSB-",), ("word",)], "t: string"
    )
    out = [r["n"] for r in df.select(
        F.expr(M.normalize_glove_token_sql("t")).alias("n")
    ).collect()]
    assert out == ["(", "]", "word"]


def test_lower_tokens(spark):
    df = spark.createDataFrame([(["Ab", "CD", "ef"],)], "t: array<string>")
    assert df.select(F.expr(M.lower_tokens_sql("t")).alias("l")).first()["l"] == [
        "ab", "cd", "ef"
    ]
