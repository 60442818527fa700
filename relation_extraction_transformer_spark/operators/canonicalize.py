"""Entity canonicalization: minhash blocking + connected components.

No reference counterpart (north-rule addition).  Near-duplicate entity
names ("Alice Turner" / "alice turner" / "Turner") are merged into one
canonical node:

1. minhash signatures over character 3-gram shingles of the normalized
   name (pure SQL: one md5 base hash per shingle, k affine minima over
   it — the shared core in functions/minhash.py)
2. LSH band self-join -> candidate equivalence edges (only pairs sharing
   a band are ever compared: at 10^12 scale this is the only join that
   matters, and it is an equi-join on band_hash, AQE-skew-splittable)
3. verification: trigram Jaccard >= :data:`JACCARD_THRESHOLD` on
   candidate pairs (the shared ``MH.verify_pairs``, also used by
   document dedup)
4. connected components by iterative min-label propagation, run to its
   fixpoint by operators/fixpoint.py (a ``localCheckpoint`` per round
   cuts lineage growth, SURVEY §4) — the Spark-idiomatic form of
   map-side label exchange; the round count is O(log(diameter)) for
   name-similarity graphs (tiny diameters).
5. labelling: every item takes its component's lowest id; an item in no
   verified pair is its own component (:func:`label_components`, also
   used by document dedup).

Which names are one entity is fixed by constants that both engines
read when called: :data:`JACCARD_THRESHOLD` here, the LSH shape and
``CHAR_SHINGLE_N`` in functions/minhash.py.  No call takes its own, so a
canonical state is only foldable under the values it was built with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import minhash as MH
from . import fixpoint as FX

# the trigram-Jaccard similarity at or above which two names are one entity
JACCARD_THRESHOLD = 0.6
_CC_MAX_ROUNDS = 15


def minhash_band_hashes(df: DataFrame, text_col: str) -> DataFrame:
    """Append ``band`` / ``band_hash`` rows (one per band) for LSH blocking.
    df must have a unique ``node_id`` column.  Delegates to the shared
    minhash core so entity and document LSH parameters cannot diverge."""
    return MH.minhash_bands(df, "node_id", MH.char_shingles_sql(text_col))


def candidate_pairs(bands_df: DataFrame) -> DataFrame:
    """Self-join on (band, band_hash): src < dst, distinct."""
    return MH.band_candidate_pairs(bands_df, "node_id", "src", "dst")


def verify_pairs_jaccard(
    pairs: DataFrame, names: DataFrame, threshold: float
) -> DataFrame:
    """Exact trigram-Jaccard verification of LSH candidates: names
    (node_id, name) -> the (src, dst) pairs at or above ``threshold``,
    verified by the shared ``MH.verify_pairs`` over the distinct char
    trigrams of ``^name$``."""
    sets = names.select(
        "node_id",
        F.expr(f"array_distinct({MH.char_shingles_sql('name')})").alias("s"),
    )
    return MH.verify_pairs(pairs, sets, "node_id", threshold).select(
        "src", "dst"
    )


def canonical_components(names: DataFrame) -> DataFrame:
    """names (node_id, name) -> components: LSH bands, their candidate
    pairs, the pairs verified at :data:`JACCARD_THRESHOLD` and the
    connected components over those.  The result holds only the names
    in some verified pair; :func:`label_components` labels the rest."""
    pairs = candidate_pairs(minhash_band_hashes(names, "name"))
    verified = verify_pairs_jaccard(pairs, names, JACCARD_THRESHOLD)
    return connected_components(verified)


def label_components(
    items: DataFrame,
    components: DataFrame,
    id_col: str = "node_id",
    out: str = "component",
) -> DataFrame:
    """``items`` with ``out`` appended: the lowest id of the item's
    component in ``components`` (:func:`connected_components`' output);
    an item in no verified pair is its own component."""
    comps = components.select(F.col("node_id").alias(id_col), "component")
    return items.join(comps, id_col, "left").select(
        *items.columns, F.coalesce("component", id_col).alias(out)
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) undirected edges -> (node_id, component) with component =
    min node_id reachable.  Iterative min-label propagation; each round is
    one shuffle; ``localCheckpoint`` truncates lineage so the plan does not
    grow exponentially across iterations.  Converges in O(log d) rounds via
    label shortcutting (labels jump to the component minimum, not just the
    neighbor minimum).  :func:`fixpoint.fixpoint` stops at the first round
    in which no label changed (any id type) and raises ``RuntimeError``
    if labels still change in round :data:`_CC_MAX_ROUNDS`.
    """
    # the symmetric edge list is referenced by EVERY round's propagation
    # join; checkpoint it once so rounds read a materialized frame
    # instead of re-running the upstream plan (for the dedup path that
    # upstream is the LSH band self-join) once per round (r8)
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
        .localCheckpoint(eager=True)
    )

    def propagate(labels: DataFrame, changed) -> DataFrame:
        # each node proposes its current label to every neighbor; only
        # the node's own row carries its pre-round label ``old``.  sym is
        # symmetric, so every message target is a src of sym and has an
        # own row: ``old`` is never NULL after the aggregation
        msgs = (
            sym.join(labels, sym["src"] == labels["node_id"])
            .select(F.col("dst").alias("node_id"), "component")
        )
        new_labels = (
            labels.withColumn("old", F.col("component"))
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("node_id")
            .agg(
                F.min("component").alias("component"),
                F.max("old").alias("old"),
            )
        )
        # label shortcutting: re-point every label at its label's label
        lbl2 = new_labels.select(
            F.col("node_id").alias("c_node"), F.col("component").alias("c_comp")
        )
        relabelled = new_labels.join(
            lbl2, new_labels["component"] == lbl2["c_node"], "left"
        ).select(
            "node_id",
            F.coalesce("c_comp", "component").alias("component"),
            "old",
        )
        return changed(
            relabelled, F.col("component") != F.col("old")
        ).select("node_id", "component")

    return FX.fixpoint(labels, propagate, "connected_components",
                       _CC_MAX_ROUNDS)
