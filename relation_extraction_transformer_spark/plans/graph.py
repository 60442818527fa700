"""KG materialization: triples -> canonical nodes / edges tables.

Completes the north-rule pipeline after triple extraction:

  triples -> entity linking (broadcast dictionary join)
          -> canonicalization (minhash LSH + trigram verify + connected
             components) merging near-duplicate surface entities
          -> nodes (canonical id, name, type, mention stats)
          -> edges (src, pred, dst, weight, prob aggregates, source urls)

Written back as parquet here (Iceberg in production — identical DataFrame
code path; the sandbox has no Iceberg jars): zstd, nodes sorted by
``canonical_id`` and edges by ``(src, pred, dst)`` within each file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import canonicalize as CANON
from ..operators import linking as LINK


def build_graph(
    triples: DataFrame, spark: SparkSession
) -> tuple[DataFrame, DataFrame]:
    """Returns (nodes, edges).

    Runs jobs when called, as the LSH and connected-components steps
    inside it always did: it materializes two frames with
    ``localCheckpoint(eager=True)``, so that everything after them reads
    each one once instead of re-deriving it per action (the band and
    verify checkpoints, the canon-map checkpoint and both writes of
    :func:`write_graph`):

    - ``linked``, projected first to the seven columns the graph reads
      (entity ids and canonical names of both ends, ``pred``, ``prob``,
      ``url``).  The projection keeps the checkpoint at about the size
      of the shuffles it replaces; checkpointing every column of the
      linked triples would store the raw surfaces, types and sentence
      keys that no later step reads.
    - ``canon_map``, after :func:`canonicalize.label_components`: the
      nodes aggregate and both edge joins read it.

    A local checkpoint is no cache entry: the session's ``CacheManager``
    stays empty, and the blocks are freed once the returned frames are
    garbage-collected."""
    if "subj_type" not in triples.columns:
        triples = triples.withColumn(
            "subj_type", F.lit(None).cast("string")
        ).withColumn("obj_type", F.lit(None).cast("string"))
    dictionary = LINK.entity_dictionary(spark)
    linked = LINK.link_triples(triples, dictionary).select(
        "subj_entity_id", "subj_canonical", "obj_entity_id", "obj_canonical",
        "pred", "prob", "url",
    ).localCheckpoint(eager=True)

    # raw entity nodes from both endpoints
    ends = linked.select(
        F.col("subj_entity_id").alias("node_id"),
        F.col("subj_canonical").alias("name"),
    ).unionByName(
        linked.select(
            F.col("obj_entity_id").alias("node_id"),
            F.col("obj_canonical").alias("name"),
        )
    )
    raw_nodes = ends.groupBy("node_id").agg(
        F.min("name").alias("name"), F.count(F.lit(1)).alias("mention_count")
    )

    # canonicalization: LSH blocking -> exact verify -> components
    comps = CANON.canonical_components(
        raw_nodes.select(
            "node_id", LINK.normalize_surface(F.col("name")).alias("name")
        )
    )
    canon_map = CANON.label_components(
        raw_nodes, comps, out="canonical_id"
    ).select(
        "node_id", "canonical_id", "name", "mention_count"
    ).localCheckpoint(eager=True)

    nodes = canon_map.groupBy("canonical_id").agg(
        F.min_by("name", "node_id").alias("name"),
        F.sum("mention_count").alias("mention_count"),
        F.count(F.lit(1)).alias("merged_surface_forms"),
    )

    cmap_s = canon_map.select(
        F.col("node_id").alias("subj_entity_id"),
        F.col("canonical_id").alias("src"),
    )
    cmap_o = canon_map.select(
        F.col("node_id").alias("obj_entity_id"),
        F.col("canonical_id").alias("dst"),
    )
    # canon_map is entity-cardinality (small vs triples) but unbounded at
    # web scale: leave the join strategy to Catalyst/AQE rather than
    # forcing a broadcast
    edges = (
        linked.join(cmap_s, "subj_entity_id")
        .join(cmap_o, "obj_entity_id")
        .groupBy("src", F.col("pred"), "dst")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.max("prob").alias("max_prob"),
            F.sort_array(F.collect_set("url")).alias("source_urls"),
        )
    )
    return nodes, edges


def degree_distribution(
    pairs: DataFrame, src: str = "subj", dst: str = "obj"
) -> DataFrame:
    """In/out degree distribution over the distinct ``(src -> dst)`` edge
    set: rows ``(direction, degree, n_nodes)``.  Works over raw triples
    (subj/obj) or the canonical edges table (src/dst) — the shared core
    of the registered ``kg_degree_distribution`` query and of analytics
    re-run over streamed triples (tests/test_lineage_streaming_media.py)."""
    edges = pairs.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).distinct()
    out_deg = edges.groupBy(F.col("_s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    in_deg = edges.groupBy(F.col("_d").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return (
        out_deg.select(F.lit("out").alias("direction"), "degree")
        .unionAll(in_deg.select(F.lit("in").alias("direction"), "degree"))
        .groupBy("direction", "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def write_graph(
    nodes: DataFrame, edges: DataFrame, base_path: str
) -> None:
    from ..sources.tables import write_table

    write_table(nodes, f"{base_path}/nodes", cluster_by=["canonical_id"])
    write_table(
        edges, f"{base_path}/edges", cluster_by=["src", "pred", "dst"]
    )
