"""Entity canonicalization: minhash blocking + connected components.

No reference counterpart (north-rule addition).  Near-duplicate entity
names ("Alice Turner" / "alice turner" / "Turner") are merged into one
canonical node:

1. minhash signatures over character 3-gram shingles of the normalized
   name (pure SQL: md5-salted min over a shingle array)
2. LSH band self-join -> candidate equivalence edges (only pairs sharing
   a band are ever compared: at 10^12 scale this is the only join that
   matters, and it is an equi-join on band_hash, AQE-skew-splittable)
3. verification: trigram Jaccard >= threshold on candidate pairs
4. connected components by iterative min-label propagation with
   ``localCheckpoint`` per iteration to cut lineage growth (SURVEY §4) —
   the Spark-idiomatic form of map-side label exchange; iteration count
   is O(log(diameter)) for name-similarity graphs (tiny diameters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import minhash as MH


def minhash_band_hashes(
    df: DataFrame, text_col: str, k: int = MH.MINHASH_K,
    bands: int = MH.MINHASH_BANDS,
) -> DataFrame:
    """Append ``band`` / ``band_hash`` rows (one per band) for LSH blocking.
    df must have a unique ``node_id`` column.  Delegates to the shared
    minhash core so entity and document LSH parameters cannot diverge."""
    return MH.minhash_bands(
        df, "node_id", MH.char_shingles_sql(text_col), k=k, bands=bands
    )


def candidate_pairs(bands_df: DataFrame) -> DataFrame:
    """Self-join on (band, band_hash): src < dst, distinct."""
    return MH.band_candidate_pairs(bands_df, "node_id", "src", "dst")


def verify_pairs_jaccard(
    pairs: DataFrame, names: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Exact trigram-Jaccard verification of LSH candidates.

    names: (node_id, name).  Pure array ops after two joins with the
    (small relative to pairs) names table.
    """
    n1 = names.select(
        F.col("node_id").alias("src"),
        F.expr(f"array_distinct({MH.char_shingles_sql('name')})").alias("s1"),
    )
    n2 = names.select(
        F.col("node_id").alias("dst"),
        F.expr(f"array_distinct({MH.char_shingles_sql('name')})").alias("s2"),
    )
    j = (
        pairs.join(n1, "src").join(n2, "dst")
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn(
            "jac",
            F.col("inter")
            / (F.size("s1") + F.size("s2") - F.col("inter")),
        )
    )
    return j.filter(F.col("jac") >= threshold).select("src", "dst")


def connected_components(
    edges: DataFrame, max_iter: int = 15
) -> DataFrame:
    """(src, dst) undirected edges -> (node_id, component) with component =
    min node_id reachable.  Iterative min-label propagation; each round is
    one shuffle; ``localCheckpoint`` truncates lineage so the plan does not
    grow exponentially across iterations.  Converges in O(log d) rounds via
    label shortcutting (labels jump to the component minimum, not just the
    neighbor minimum).  Raises ``RuntimeError`` if labels still change
    in round ``max_iter`` rather than return unconverged labels.
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

    # Convergence detection via the label-sum invariant (r8): min-label
    # propagation is MONOTONE (a node's label never increases), so for
    # INTEGRAL node ids (integer types, scale-0 decimals) the label
    # multiset changed this round iff its exact decimal(38,0) sum
    # strictly decreased.  One trivial aggregation job per round on the
    # already-checkpointed labels replaces the previous join + limit(1)
    # count job, and the propagate + shortcut pair materializes ONCE per
    # round instead of twice (round walls in OPTIMIZATION_r08.md).  Other
    # ids keep the join-based changed check against the previous round's
    # checkpointed labels: strings (kg_wcc over entity names) have no
    # numeric image, and fractional ids round in the decimal(38,0) sum
    # (0.01 .. 0.08 all sum to 0), which would stop the loop early.
    from pyspark.sql.types import DecimalType, IntegralType

    id_type = labels.schema["component"].dataType
    integral_ids = isinstance(id_type, IntegralType) or (
        isinstance(id_type, DecimalType) and id_type.scale == 0
    )

    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    prev_sum = label_sum(labels) if integral_ids else None
    for _ in range(max_iter):
        # each node proposes its current label to every neighbor
        msgs = (
            sym.join(labels, sym["src"] == labels["node_id"])
            .select(F.col("dst").alias("node_id"), "component")
        )
        new_labels = (
            labels.select("node_id", "component")
            .union(msgs)
            .groupBy("node_id")
            .agg(F.min("component").alias("component"))
        )
        # label shortcutting: re-point every label at its label's label
        # (the aggregation subtree appears on both join sides; Spark
        # reuses the exchange, so it computes once per round)
        lbl2 = new_labels.select(
            F.col("node_id").alias("c_node"), F.col("component").alias("c_comp")
        )
        shortcut = (
            new_labels.join(
                lbl2, new_labels["component"] == lbl2["c_node"], "left"
            )
            .select(
                "node_id",
                F.coalesce("c_comp", "component").alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        if integral_ids:
            labels = shortcut
            cur_sum = label_sum(labels)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            changed = (
                shortcut.alias("n")
                .join(labels.alias("o"), "node_id")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = shortcut
            if changed == 0:
                break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds: labels still changed in the last one"
        )
    return labels
