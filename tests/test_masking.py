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


def test_lemma_normalization_spark_matches_python(spark):
    from relation_extraction_transformer_spark.functions import lemmas as L

    cases = [
        "U.S.-based firm said profits rose 10K in 2008",
        "he cant say thats why wasnt it so",
        "score was 3-2 , e-mail: a.b@c.com !!",
        "Im here and Hes there ; wed. is the day",
        "costs $5m and 8pm meeting a/b/c/d test",
        "what?! multiple.. dots... and 'quotes' ,comma",
        ":#tagged and <markup> stuff&more x& y",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t: string")
    got = [
        r.n for r in df.select(
            L.normalize_for_lemmas(F.col("t")).alias("n")
        ).collect()
    ]
    want = [L.normalize_for_lemmas_py(c) for c in cases]
    assert got == want


def test_lemmatize_tokens_rule_engine(spark):
    from relation_extraction_transformer_spark.functions import lemmas as L

    df = spark.createDataFrame(
        [(["He", "cant", "say", "HELLO"],), (["U.S.-based", "firm"],)],
        "tokens: array<string>",
    )
    rows = L.lemmatize_tokens(df).collect()
    for r in rows:
        assert len(r.lemmas) == len(r.tokens)  # count preserved or fallback
        assert r.lemmatizer.startswith(("rules-en", "spacy"))


def test_rule_lemma_golden_vectors():
    """Round 5: the in-container lemmatizer is a real conservative rule
    engine (irregulars + plural/ing/ed), not lowercase-only.  Golden
    vectors pin the high-precision core AND the deliberate conservatism
    (no -er/-est, no dictionary-free guessing on long stems)."""
    from relation_extraction_transformer_spark.functions.lemmas import (
        rule_lemma,
    )

    golden = {
        # irregulars
        "was": "be", "Went": "go", "children": "child", "said": "say",
        "wrote": "write", "mice": "mouse", "knives": "knife",
        # plurals
        "cities": "city", "dogs": "dog", "boxes": "box",
        "churches": "church", "classes": "class", "ties": "tie",
        "houses": "house",
        # -ing with doubling / e-restoration
        "running": "run", "making": "make", "walking": "walk",
        "writing": "write", "selling": "sell", "playing": "play",
        "singing": "sing", "coming": "come",
        # -ed
        "stopped": "stop", "tried": "try", "loved": "love",
        "wanted": "want", "created": "create", "realized": "realize",
        # deliberate conservatism: unchanged without POS/dictionary
        "other": "other", "never": "never", "interest": "interest",
        "bus": "bus", "press": "press", "his": "his",
        # review r5: non-gerund -ing words and -us stems must survive
        "during": "during", "nothing": "nothing", "string": "string",
        "morning": "morning", "anything": "anything",
        "spring": "spring", "focused": "focus",
        # non-alpha passthrough (rewrite-chain compounds, numbers)
        "u_s_based": "u_s_based", "1990": "1990",
    }
    for word, want in golden.items():
        assert rule_lemma(word) == want, (word, rule_lemma(word), want)


def test_lemmatize_count_guard_fires_on_pathological_input(spark):
    """P11 token-count-preservation assert (ref:utils/extract_lemmas.py:122):
    the rewrite chain splits 'a>b' into two tokens, so the guard must fall
    back to the original tokens and flag the row."""
    from relation_extraction_transformer_spark.functions import lemmas as L

    assert L.normalize_for_lemmas_py("a>b") == "a b"  # chain changes count

    df = spark.createDataFrame(
        [(["a>b"],), (["plain", "words"],)], "tokens: array<string>"
    )
    rows = {tuple(r.tokens): r for r in L.lemmatize_tokens(df).collect()}

    bad = rows[("a>b",)]
    assert bad.lemmatizer.endswith("-fallback")
    assert list(bad.lemmas) == ["a>b"]  # original tokens, count preserved

    good = rows[("plain", "words")]
    assert not good.lemmatizer.endswith("-fallback")
    assert list(good.lemmas) == ["plain", "word"]  # rules-en lemmatizes
