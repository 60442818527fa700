"""Entity linking: mention surface form -> canonical entity id.

No reference counterpart (the reference stops at per-sentence
classification); mandated by the north rule.  Three deterministic steps:

1. surface normalization (JVM string ops)
2. candidate generation via broadcast join against an alias dictionary
   pre-aggregated to one row per alias (alias -> candidate array);
   aliases include the full name plus, for persons, the family name,
   so one surface can yield several candidates
3. deterministic best-candidate scoring: exact-alias rank, then type
   agreement, then lowest entity_id — an ``array_min`` over structs
   whose field order is the scoring order; no window, no UDF, and no
   shuffle of the fact table.

At web scale the alias dictionary outgrows a broadcast; the same plan
shape then runs as a salted sort-merge join (AQE skew-join enabled), which
is why candidate generation is expressed as a plain equi-join here.

Entity ids are ``stable_id``: the pipeline's one stable hash, which lives
in functions/minhash.py and is imported here under that name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.minhash import stable_id
from ..sources import gazetteer as G


def normalize_surface(col):
    """Deterministic surface normalization shared by dictionary and
    mentions: lowercase + whitespace squeeze."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def sql_quote(s: str) -> str:
    """``s`` as a single-quoted SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def dictionary_values() -> str:
    """The alias dictionary's rows as the text of a SQL ``VALUES`` list
    of ``(alias, canonical_name, ner_type, alias_rank)``, read by Spark
    (:func:`entity_dictionary`) and by the DuckDB oracles alike.
    alias_rank: 0 = canonical surface, 1 = partial alias (person family
    name), used by the scorer."""
    rows = []
    for phrase, typ in sorted(G.build_gazetteer().items()):
        rows.append((phrase, phrase, typ, 0))
        if typ == "PERSON" and " " in phrase:
            rows.append((phrase.split(" ")[-1], phrase, typ, 1))
    return ", ".join(
        f"({sql_quote(a)}, {sql_quote(c)}, {sql_quote(t)}, {r})"
        for a, c, t, r in rows
    )


def entity_dictionary(spark: SparkSession) -> DataFrame:
    """alias -> (entity_id, canonical_name, ner_type, alias_rank).

    entity ids are stable_id of 'type:canonical_name' — stable across runs
    and cluster sizes, no sequence/driver state.  The rows are an inline
    ``VALUES`` table (:func:`dictionary_values`), a ``LocalRelation``:
    building it runs no Python worker.
    """
    df = spark.sql(
        f"SELECT * FROM VALUES {dictionary_values()} "
        "AS t(alias, canonical_name, ner_type, alias_rank)"
    )
    return df.select(
        normalize_surface(F.col("alias")).alias("alias_norm"),
        "canonical_name", "ner_type", "alias_rank",
        stable_id(F.concat_ws(":", "ner_type", "canonical_name")).alias(
            "entity_id"
        ),
    )


def aggregate_dictionary(dictionary: DataFrame) -> DataFrame:
    """Pre-aggregate an alias dictionary to ONE row per alias with a
    bounded candidate array (see the bound note in :func:`link_surface`).

    Split out of :func:`link_surface` so a big dictionary can be
    aggregated ONCE, materialized as a table, and reused across linking
    jobs (``pre_aggregated=True``).  Beyond the obvious reuse saving,
    materialization matters for AQE skew handling: an aggregate sitting
    between the shuffle and the sort-merge join disqualifies
    ``OptimizeSkewedJoin`` (the rule needs raw shuffle stages under both
    join children to replay partitions), so the inline-aggregated form
    can never skew-split a hot alias — the materialized form can, and
    bench.py's skew_join section measures exactly that."""
    reduced = dictionary.groupBy("alias_norm", "alias_rank", "ner_type").agg(
        F.min(F.struct("entity_id", "canonical_name")).alias("__best")
    )
    return reduced.groupBy("alias_norm").agg(
        F.collect_list(
            F.struct(
                "alias_rank",
                "ner_type",
                F.col("__best")["entity_id"].alias("entity_id"),
                F.col("__best")["canonical_name"].alias("canonical_name"),
            )
        ).alias("__cands")
    )


def link_surface(
    df: DataFrame,
    dictionary: DataFrame,
    surface_col: str,
    type_col: str,
    out_prefix: str,
    broadcast_dict: bool = True,
    pre_aggregated: bool = False,
) -> DataFrame:
    """Attach ``<out_prefix>_entity_id`` / ``<out_prefix>_canonical`` to df
    by best-candidate linking of ``surface_col``.

    Shuffle-free on the fact side: the alias dictionary is pre-aggregated
    to one row per alias (candidates as an array), broadcast, joined 1:1,
    and the best candidate is an ``array_min`` over structs whose field
    order IS the scoring order (alias_rank, type_match, entity_id).  The
    round-1 version windowed over every fact column — a full wide-key
    shuffle at scale; this plan has zero Exchange on the fact table."""
    # provable bound on the per-alias candidate array: for every
    # (alias, rank, type) only the LOWEST entity_id can ever win the
    # argmin (scoring = rank, then type-match, then entity_id; min over a
    # union = min over per-type minima), so the array is at most
    # n_ranks x n_types long even if one alias maps to millions of
    # entities at web scale.
    # broadcast_dict=False is the big-dictionary path promised in the
    # module docstring: the identical plan minus the broadcast hint, so
    # Spark shuffles both sides into a sort-merge join (AQE skew-join
    # splits hot aliases at runtime).  Same results by construction.
    dict_agg = (
        dictionary if pre_aggregated else aggregate_dictionary(dictionary)
    )
    dict_side = F.broadcast(dict_agg) if broadcast_dict else dict_agg
    joined = df.withColumn(
        "__surf", normalize_surface(F.col(surface_col))
    ).join(
        dict_side,
        F.col("__surf") == F.col("alias_norm"),
        "left",
    )
    best = F.array_min(
        F.transform(
            "__cands",
            lambda c: F.struct(
                c["alias_rank"].alias("r"),
                F.when(c["ner_type"] == F.col(type_col), 0)
                .otherwise(1)
                .alias("tm"),
                c["entity_id"].alias("eid"),
                c["canonical_name"].alias("cname"),
            ),
        )
    )
    return joined.withColumn("__best", best).select(
        *df.columns,
        F.col("__best")["eid"].alias(f"{out_prefix}_entity_id"),
        F.coalesce(F.col("__best")["cname"], F.col(surface_col)).alias(
            f"{out_prefix}_canonical"
        ),
    )


def link_triples(
    triples: DataFrame, dictionary: DataFrame, broadcast_dict: bool = True
) -> DataFrame:
    """triples (subj, pred, obj, ...) -> linked triples with entity ids.

    Unlinkable surfaces keep a synthetic id (stable_id of the normalized
    surface)
    so downstream graph ops never see nulls.

    ``broadcast_dict=False`` selects the sort-merge form for alias
    dictionaries too large to broadcast (same plan, same results).
    """
    # aggregate the dictionary ONCE for both endpoint joins (review r5:
    # passing the raw dictionary ran the two-groupBy alias aggregation
    # twice per call)
    dict_agg = aggregate_dictionary(dictionary)
    linked = link_surface(
        triples, dict_agg, "subj", "subj_type", "subj",
        broadcast_dict=broadcast_dict, pre_aggregated=True,
    )
    linked = link_surface(
        linked, dict_agg, "obj", "obj_type", "obj",
        broadcast_dict=broadcast_dict, pre_aggregated=True,
    )
    return linked.withColumn(
        "subj_entity_id",
        F.coalesce("subj_entity_id", stable_id(normalize_surface(F.col("subj")))),
    ).withColumn(
        "obj_entity_id",
        F.coalesce("obj_entity_id", stable_id(normalize_surface(F.col("obj")))),
    )
