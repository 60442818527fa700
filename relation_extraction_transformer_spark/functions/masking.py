"""Token masking and dictionary-id mapping (SURVEY §2.2 P1-P5, P12).

All JVM-side: entity masking is an indexed ``transform`` over the token
array; the small fixed dictionaries (POS/NER/DEPREL/labels) become map
literals with an UNK fallback (ref:data/loader.py:107-116,287-289).
The large word vocab is handled separately (broadcast dict inside the
Arrow inference UDF) because a 50k-entry map literal would bloat the plan.

Each builder returns Spark SQL text over column names (or other SQL
expressions) for one ``F.expr`` call: built as pyspark Columns, every
node and literal of these wide expressions is its own py4j round trip
at plan construction, while SQL text crosses to the JVM once.
"""

from __future__ import annotations

from .. import constants as C


def sql_literal(value: str | int) -> str:
    """Spark SQL literal text for a string or int.  Strings use Spark's
    default backslash-escaped literal syntax, so keys such as ``''``,
    ``\\`` or ``O'Brien`` survive the round trip through the parser."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(value))


def sql_map(d: dict) -> str:
    """``map(k1, v1, ...)`` literal text, entries in ``d``'s order."""
    return "map(" + ", ".join(
        f"{sql_literal(k)}, {sql_literal(v)}" for k, v in d.items()
    ) + ")"


def lower_tokens_sql(tokens: str) -> str:
    """P1 (ref:data/loader.py:101-103)."""
    return f"transform({tokens}, x -> lower(x))"


def mask_entity_spans_sql(
    tokens: str,
    subj_start: str,
    subj_end: str,
    obj_start: str,
    obj_end: str,
    subj_type: str,
    obj_type: str,
) -> str:
    """P2: overwrite the subject span with ``SUBJ-<type>`` and the object
    span with ``OBJ-<type>`` (ref:data/loader.py:107-110).

    The reference applies the subject mask first, then the object mask, so
    on overlapping spans the object mask wins — replicated by checking the
    object span first here.
    """
    return (
        f"transform({tokens}, (x, i) -> "
        f"CASE WHEN i >= {obj_start} AND i <= {obj_end} "
        f"THEN concat('OBJ-', {obj_type}) "
        f"WHEN i >= {subj_start} AND i <= {subj_end} "
        f"THEN concat('SUBJ-', {subj_type}) "
        "ELSE x END)"
    )


def map_tags_to_ids_sql(tags: str, tag_dict: dict[str, int]) -> str:
    """P4: tag-sequence -> id-sequence with UNK fallback
    (ref:data/loader.py:114-116,287-289)."""
    return (
        f"transform({tags}, x -> "
        f"coalesce(element_at({sql_map(tag_dict)}, x), {C.UNK_ID}))"
    )


def label_to_id_sql(label: str) -> str:
    """P5 forward map (ref:data/loader.py:188)."""
    return (
        f"coalesce(element_at({sql_map(C.LABEL_TO_ID)}, {label}), "
        f"{C.LABEL_TO_ID[C.NO_RELATION]})"
    )


def id_to_label_sql(label_id: str) -> str:
    """P5 inverse map (ref:runner.py:245, ref:eval.py:77)."""
    return f"element_at({sql_map(C.ID_TO_LABEL)}, CAST({label_id} AS INT))"


def normalize_glove_token_sql(token: str) -> str:
    """P12: bracket-token normalization (ref:utils/vocab.py:46-55)."""
    return f"coalesce(element_at({sql_map(C.GLOVE_NORMALIZE)}, {token}), {token})"
