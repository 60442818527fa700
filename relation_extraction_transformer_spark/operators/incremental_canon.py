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

1. The standing LSH **band index** (node_id, band, band_hash) is
   derived from the standing names, which every fold reads anyway: band
   hashes are a pure function of the name, so the index is never
   persisted.  A delta's candidate pairs are then delta×delta
   (self-join on the delta's bands) plus delta×standing (equi-join of
   the delta's bands against the standing index) — the
   standing×standing pairs were all discovered by earlier folds, so
   across folds the union of discovered pairs is EXACTLY the batch
   run's pair set.
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

State layout: the versioned directories of the edge rollup in
operators/incremental.py (a version is committed by renaming its fully
written staging directory to ``v<N>``; the newest ``v<N>`` is the
standing state), but each version holds only what its fold ADDED, as
one immutable parquet **segment** (zstd, rows sorted by ``node_id``;
a log written before zstd was the codec mixes codecs across segments,
which parquet reads per file), plus a manifest
(:func:`~.incremental.write_manifest`) listing, oldest first, the
segments of every version that make up its state.  The state is one
dataset, ``nodes``: (node_id, name, component) — each segment holds the
fold's new nodes plus the standing members of every component it
relabelled, and a node's row is the one in the newest segment that
holds it (:func:`resolve_nodes`).  The band index is not stored: it is
a function of the names.

Segments are merged by size alone, like an LSM tree's binary counter:
the log keeps every segment larger than all newer segments together,
so after a fold appends its rows, the segments from the oldest one that
no longer is are rewritten as one (:func:`_merge_from`).  The row
counts from each segment on thus at least double towards the oldest,
and the live segment count stays at most 1 + log2(total
rows / newest segment's rows).  :func:`~.incremental.vacuum_state`
retires a removed version whose segments a kept manifest lists instead
of deleting it.

``node_id`` must be a deterministic function of the normalized name
(the rule :func:`mention_names` applies), so re-observing a known
surface is a no-op (dropped by an anti-join).

A state is only foldable under the values it was built with: the
fold law needs every fold to use ``canonicalize.JACCARD_THRESHOLD`` and
functions/minhash.py's LSH shape and ``CHAR_SHINGLE_N``, constants that
no fold can override.

Scale shape: the standing nodes are resolved once per fold (one
shuffle on node_id over the live segments, checkpointed); then one
anti-join (new vs known), one band build over the delta, two
equi-joins for candidates, pairwise Jaccard on candidates, CC on the
reduced graph, and one equi-join on ``component`` to pick out the
members of touched components (the relabel map is delta-sized and
broadcastable).  Nothing scales with total corpus except the node
resolution and the standing band index — a narrow projection of the
resolved names, hashed per fold, and its equi-join on (band,
band_hash), the same shape as the batch LSH join.  What a version
writes is delta-sized (new nodes + relabelled members), except when a
merge lands on it; as in an LSM tree, each row is rewritten O(log
folds) times over the life of the state.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import canonicalize as CANON
from . import incremental as INC
from . import linking as LINK
from ..sources import tables as TB

# the datasets a version's manifest lists
DATASETS = ("nodes",)


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


def canon_state(mentions: DataFrame) -> DataFrame:
    """Bootstrap (or rebuild) the canonical map from scratch:
    ``mentions`` = (node_id, name) with node_id a deterministic function
    of name.  Returns the nodes (node_id, name, component)."""
    names = mentions.select("node_id", "name").distinct()
    comps = CANON.canonical_components(names)
    return CANON.label_components(names, comps)


def resolve_nodes(segments: list[DataFrame]) -> DataFrame:
    """Node segments, oldest first -> the map they make up: for every
    node_id, its (name, component) from the newest segment holding
    it."""
    if len(segments) == 1:
        return segments[0].select("node_id", "name", "component")
    tagged = [
        seg.select("node_id", "name", "component", F.lit(i).alias("seg"))
        for i, seg in enumerate(segments)
    ]
    # a node's name never changes (node_id is a function of it)
    return (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("node_id", "name")
        .agg(F.max_by("component", "seg").alias("component"))
    )


def _read_segments(
    spark: SparkSession, path: str
) -> dict[str, list[DataFrame]]:
    """The segments of each of :data:`DATASETS` the manifest of version
    directory ``path`` lists, oldest first; any other dataset a manifest
    lists (the ``bands`` of a state written before the band index was
    derived) is not read.  Only the first segment's schema is inferred
    (a Spark job per read); the rest reuse it."""
    state_dir = os.path.dirname(os.path.normpath(path))
    manifest = INC.read_manifest(path)
    frames: dict[str, list[DataFrame]] = {}
    for dataset in DATASETS:
        frames[dataset] = []
        for v, _rows in manifest[dataset]:
            reader = spark.read
            if frames[dataset]:
                reader = reader.schema(frames[dataset][0].schema)
            frames[dataset].append(
                reader.parquet(INC.segment_path(state_dir, v, dataset))
            )
    return frames


def read_canon_state(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """The (nodes, bands) state of the committed version directory
    ``path``: the map resolved from the segments its manifest lists, and
    its band index, derived from the names (lazily: no job runs until
    it is read)."""
    nodes = resolve_nodes(_read_segments(spark, path)["nodes"])
    return nodes, CANON.minhash_band_hashes(nodes, "name")


def fold_into(
    std_nodes: DataFrame, delta_names: DataFrame
) -> tuple[DataFrame, dict]:
    """The pure fold: standing nodes + delta mentions -> the rows the
    fold adds, (nodes, stats).  ``nodes`` holds the new nodes and the
    standing members of every component the delta relabelled, each with
    its new component; the folded map is
    ``resolve_nodes([std_nodes, nodes])``.  The standing band index is
    derived from ``std_nodes``' names, so ``std_nodes`` is scanned seven
    times, one of them to hash its names: pass it materialized.
    stats = the ``new_nodes``,
    ``touched_components`` and ``relabelled_nodes`` counts, observed on
    checkpoints the fold takes anyway (no extra job).  Disk-free core
    shared by :func:`write_canon_fold` and the in-memory
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
            CANON.minhash_band_hashes(std_nodes, "name").select(
                F.col("node_id").alias("dst"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("src", "dst")
        .distinct()
    )
    all_names = std_nodes.select("node_id", "name").unionByName(new_names)
    verified = CANON.verify_pairs_jaccard(
        dd.unionByName(ds), all_names, CANON.JACCARD_THRESHOLD
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
    # can move.  ``size`` counts each one's members, so the relabelled
    # rows are counted here rather than by a job of their own.
    touched = (
        rcomp.join(
            std_nodes.groupBy(F.col("component").alias("node_id")).agg(
                F.count(F.lit(1)).alias("size")
            ),
            "node_id",
        )
        .select(
            F.col("node_id").alias("old_component"),
            F.col("component").alias("new_component"),
            "size",
        )
        .filter(F.col("old_component") != F.col("new_component"))
        .observe(
            n_touched,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("size"), F.lit(0)).alias("members"),
        )
        .localCheckpoint(eager=True)
    )
    relabelled = std_nodes.join(
        F.broadcast(
            touched.select(
                F.col("old_component").alias("component"), "new_component"
            )
        ),
        "component",
    ).select("node_id", "name", F.col("new_component").alias("component"))
    nodes = relabelled.unionByName(CANON.label_components(new_names, rcomp))
    stats = {
        "new_nodes": n_new.get["n"],
        "touched_components": n_touched.get["n"],
        "relabelled_nodes": n_touched.get["members"],
    }
    return nodes, stats


def _merge_from(rows: list[int], new: int) -> int:
    """Where the segment a fold writes starts, given the row counts of
    the standing segments (oldest first) and of the fold's own rows:
    at the oldest segment holding no more rows than everything newer
    together, which the new segment absorbs with all newer ones; past
    the end when none does.  Afterwards every segment again holds more
    rows than all newer ones together.  No knob: the rule is the row
    counts alone."""
    start, newer = len(rows), new
    for i in range(len(rows) - 1, -1, -1):
        if rows[i] <= newer:
            start = i
        newer += rows[i]
    return start


def _write_segment(df: DataFrame, path: str) -> int:
    """Write one segment, clustered by ``node_id``; its row count is
    observed on the write."""
    n = Observation()
    TB.write_table(
        df.observe(n, F.count(F.lit(1)).alias("n")), path, fmt="parquet",
        mode="error", cluster_by=["node_id"],
    )
    return n.get["n"]


def write_canon_fold(
    spark: SparkSession, mentions: DataFrame, base: str | None, out: str
) -> dict:
    """The canonical fold's ``write(base, out)`` for
    :func:`~.incremental.fold_version`, folding (node_id, name)
    ``mentions``."""
    delta_names = mentions.select("node_id", "name").distinct()
    if base is None:
        segs, frames = [], []
        nodes = canon_state(delta_names)
        stats = {"touched_components": 0, "relabelled_nodes": 0}
        planned = 0
    else:
        # a manifest written before the band index was derived also
        # lists ``bands``; this version's lists only the nodes, so the
        # next vacuum_state deletes the band segments
        segs = INC.read_manifest(base)["nodes"]
        frames = _read_segments(spark, base)["nodes"]
        nodes, stats = fold_into(
            resolve_nodes(frames).localCheckpoint(eager=True), delta_names
        )
        planned = stats["new_nodes"] + stats["relabelled_nodes"]
    start = _merge_from([r for _, r in segs], planned)
    rows = _write_segment(
        resolve_nodes(frames[start:] + [nodes]), os.path.join(out, "nodes")
    )
    if base is None:
        stats["new_nodes"] = rows
    INC.write_manifest(
        out, {"nodes": segs[:start] + [[INC.staged_version(out), rows]]}
    )
    return stats


def canon_fold_summary(state_dir: str, summary: dict) -> dict:
    """A canonical fold's summary: a replay reports zero counts (and,
    from :func:`~.incremental.fold_version`, zero ``version_bytes``);
    ``live_segments`` counts segments per dataset."""
    manifest = INC.read_manifest(
        os.path.join(state_dir, f"v{summary['state_version']}")
    )
    return {
        "new_nodes": 0,
        "touched_components": 0,
        "relabelled_nodes": 0,
        **summary,
        "live_segments": {d: len(segs) for d, segs in manifest.items()},
    }


def fold_mentions_delta(
    spark: SparkSession,
    mentions: DataFrame,
    state_dir: str,
    version: int | None = None,
) -> dict:
    """Fold one delta of entity mentions — (node_id, name) rows — into
    the standing canonical map under ``state_dir`` through
    :func:`~.incremental.fold_version` and :func:`write_canon_fold`,
    as ``incremental.fold_pages_delta`` folds a crawl delta's names."""
    summary = INC.fold_version(
        state_dir, version,
        lambda base, out: write_canon_fold(spark, mentions, base, out),
    )
    return canon_fold_summary(state_dir, summary)
