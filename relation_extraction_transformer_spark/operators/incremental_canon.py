"""Incremental entity canonicalization — fold mention deltas into a
STANDING canonical-component map without relabeling the world.

The batch path (operators/canonicalize.py, used by plans/graph.py)
recomputes canonical ids from scratch every run; a 24/7 KG needs the
ids to be STABLE: when a crawl delta folds in, entities whose component
the delta does not touch must keep their canonical id, and only the
components the delta actually connects may relabel (a merge of two
standing components necessarily renames one of them — the library keeps
the min-id convention, so the surviving id is the smaller).

The trick that makes the fold exact AND delta-sized:

1. The state persists the LSH **band index** (node_id, band, band_hash)
   alongside the component map.  A delta's candidate pairs are then
   delta×delta (self-join on the delta's bands) plus delta×standing
   (equi-join of the delta's bands against the standing index) — the
   standing×standing pairs were all discovered by earlier folds, so
   across folds the union of discovered pairs is EXACTLY the batch
   run's pair set (band hashes are a pure function of the name).
2. Connected components run over a **reduced graph**: every standing
   endpoint of a verified pair is replaced by its standing COMPONENT id
   (all members of a standing component are already connected, so the
   component is one super-node).  The reduced graph is delta-sized —
   O(new mentions + touched components) — never the standing world.
3. The reduced min-label equals the global min-label: a standing
   component's id is already the min node_id of its members, so
   ``min(reduced component)`` = ``min(all member node_ids)`` — the same
   label a full rebuild assigns.  Hence the fold law holds exactly:
   ``fold(d1); fold(d2) == rebuild(d1 ∪ d2)`` for any split.

State layout (the same versioned directories as the edge rollup in
operators/incremental.py — ``v<N>/nodes``, ``v<N>/bands``; a version
is committed by renaming its fully written staging directory to
``v<N>``, and the newest ``v<N>`` is the standing state):

- ``nodes``:  (node_id, name, component)
- ``bands``:  (node_id, band, band_hash)

``node_id`` must be a deterministic function of the normalized name
(the rule :func:`mention_names` applies), so re-observing a known
surface is a no-op (dropped by an anti-join).

Scale shape: one anti-join (new vs known), one band build over the
delta only, two equi-joins for candidates, pairwise Jaccard on
candidates, CC on the reduced graph, and one equi-join on ``component``
to relabel touched components (the relabel map is delta-sized and
broadcastable).  Nothing scales with total corpus except the standing
band index join — an equi-join on (band, band_hash), the same shape as
the batch LSH join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import canonicalize as CANON
from . import incremental as INC
from . import linking as LINK


def mention_names(triples: DataFrame) -> DataFrame:
    """The fold's input from extracted triples: every distinct
    normalized subj/obj surface as (node_id, name), node_id the
    ``stable_id`` of the normalized name."""
    return (
        triples.select(F.col("subj").alias("surface"))
        .unionAll(triples.select(F.col("obj").alias("surface")))
        .select(LINK.normalize_surface(F.col("surface")).alias("name"))
        .distinct()
        .select(LINK.stable_id(F.col("name")).alias("node_id"), "name")
    )


def canon_state(
    mentions: DataFrame, jaccard_threshold: float = 0.6
) -> tuple[DataFrame, DataFrame]:
    """Bootstrap (or rebuild) the canonical state from scratch:
    ``mentions`` = (node_id, name) with node_id a deterministic function
    of name.  Returns (nodes, bands)."""
    names = mentions.select("node_id", "name").distinct()
    comps, bands = CANON.canonical_components(names, jaccard_threshold)
    return CANON.label_components(names, comps), bands


def write_canon_state(
    nodes: DataFrame, bands: DataFrame, path: str
) -> None:
    nodes.write.mode("overwrite").parquet(os.path.join(path, "nodes"))
    bands.write.mode("overwrite").parquet(os.path.join(path, "bands"))


def read_canon_state(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(os.path.join(path, "nodes")),
        spark.read.parquet(os.path.join(path, "bands")),
    )


def fold_into(
    std_nodes: DataFrame,
    std_bands: DataFrame,
    delta_names: DataFrame,
    jaccard_threshold: float = 0.6,
) -> tuple[DataFrame, DataFrame, dict]:
    """The pure fold: standing (nodes, bands) + delta mentions -> new
    (nodes, bands, stats), stats = the ``new_nodes`` and
    ``touched_components`` counts, observed on checkpoints the fold
    takes anyway (no extra job).  Disk-free core shared by
    :func:`fold_mentions_delta` and the in-memory
    ``kg_canonical_map_incremental`` oracle query (whose DuckDB twin
    rebuilds in one pass — the hash compare IS fold==rebuild,
    cross-engine)."""
    n_new, n_touched = Observation(), Observation()
    new_names = (
        delta_names.join(std_nodes.select("node_id"), "node_id", "left_anti")
        .observe(n_new, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    dbands = CANON.minhash_band_hashes(new_names, "name")
    dd = CANON.candidate_pairs(dbands)
    # delta × standing: every (new, known) pair sharing a band.
    # standing×standing pairs were found by earlier folds.
    ds = (
        dbands.select(F.col("node_id").alias("src"), "band", "band_hash")
        .join(
            std_bands.select(
                F.col("node_id").alias("dst"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("src", "dst")
        .distinct()
    )
    all_names = std_nodes.select("node_id", "name").unionByName(new_names)
    verified = CANON.verify_pairs_jaccard(
        dd.unionByName(ds), all_names, jaccard_threshold
    ).localCheckpoint(eager=True)
    # reduce standing endpoints to their component super-node
    comp_of = std_nodes.select("node_id", "component")
    reduced = (
        verified.join(
            comp_of.withColumnRenamed("node_id", "src"), "src", "left"
        )
        .select(F.coalesce("component", "src").alias("src"), "dst")
        .join(
            comp_of.withColumnRenamed("node_id", "dst"), "dst", "left"
        )
        .select("src", F.coalesce("component", "dst").alias("dst"))
    )
    rcomp = CANON.connected_components(reduced)
    # relabel map for standing components the delta touched —
    # delta-sized: only component ids appearing in the reduced graph
    # can move
    touched = (
        rcomp.join(
            std_nodes.select(
                F.col("component").alias("node_id")
            ).distinct(),
            "node_id",
        )
        .select(
            F.col("node_id").alias("old_component"),
            F.col("component").alias("new_component"),
        )
        .filter(F.col("old_component") != F.col("new_component"))
        .observe(n_touched, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    nodes_kept = (
        std_nodes.join(
            F.broadcast(
                touched.withColumnRenamed("old_component", "component")
            ),
            "component", "left",
        )
        .select(
            "node_id", "name",
            F.coalesce("new_component", "component").alias("component"),
        )
    )
    nodes_new = CANON.label_components(new_names, rcomp)
    nodes = nodes_kept.unionByName(nodes_new)
    bands = std_bands.unionByName(
        dbands.select("node_id", "band", "band_hash")
    )
    stats = {
        "new_nodes": n_new.get["n"],
        "touched_components": n_touched.get["n"],
    }
    return nodes, bands, stats


def fold_mentions_delta(
    spark: SparkSession,
    mentions: DataFrame,
    state_dir: str,
    version: int | None = None,
    jaccard_threshold: float = 0.6,
) -> dict:
    """Fold one delta of entity mentions — (node_id, name) rows — into
    the standing canonical map under ``state_dir``.  Versioning,
    replays and the commit follow operators/incremental.py's
    :func:`~.incremental.fold_version`, exactly as the edge fold does;
    a replay reports zero new nodes and touched components."""

    def write(base: str | None, out: str) -> dict:
        delta_names = mentions.select("node_id", "name").distinct()
        if base is not None:
            std_nodes, std_bands = read_canon_state(spark, base)
            nodes, bands, stats = fold_into(
                std_nodes, std_bands, delta_names, jaccard_threshold
            )
        else:
            nodes, bands = canon_state(delta_names, jaccard_threshold)
            stats = {
                "new_nodes": delta_names.count(),
                "touched_components": 0,
            }
        write_canon_state(nodes, bands, out)
        return stats

    return {
        "new_nodes": 0,
        "touched_components": 0,
        **INC.fold_version(state_dir, version, write),
    }
