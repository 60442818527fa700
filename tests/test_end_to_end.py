"""End-to-end parity: Spark KG pipeline vs single-process oracle.

North-rule gate: emitted (subj, pred, obj) triples must match the
reference-semantics oracle at P/R >= 0.95; on this closed fixture world we
require exact equality (P = R = 1.0), plus the byte-identical
extract_text-per-url invariant."""

import pyspark.sql.functions as F

from relation_extraction_transformer_spark import weights as W
from relation_extraction_transformer_spark import oracle_pipeline as OP
from relation_extraction_transformer_spark.config import (
    DEFAULT_PIPELINE, ModelConfig, PipelineConfig,
)
from relation_extraction_transformer_spark.plans import pipeline as PL
from relation_extraction_transformer_spark.sources import gazetteer as G
from relation_extraction_transformer_spark.sources import pages as PG

N_PAGES = 60
SEED = 7


def _spark_triples(spark):
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=5)
    return PL.triples_plan(pages, spark, keep_probs=False)


def _oracle_triples(spark):
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=5)
    rows = pages.select("url", "html", "lang").collect()
    vocab = G.static_vocab()
    params = W.generate_weights(DEFAULT_PIPELINE.model, vocab_size=len(vocab))
    return OP.run_oracle_pipeline(
        [r.asDict() for r in rows], params, DEFAULT_PIPELINE.model,
        cap=DEFAULT_PIPELINE.max_pairs_per_sentence,
    )


def test_extract_text_byte_identical(spark):
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=5)
    ext = PG.extract_text(pages)
    bad = ext.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0


def test_triples_match_oracle_exactly(spark):
    got = {
        (r.url, r.sent_id, r.pair_id): (r.subj, r.pred, r.obj)
        for r in _spark_triples(spark).collect()
    }
    want = {
        (t.url, t.sent_id, t.pair_id): (t.subj, t.pred, t.obj)
        for t in _oracle_triples(spark)
    }
    assert len(want) > 20, "fixture produced too few triples to be meaningful"
    missing = {k: v for k, v in want.items() if got.get(k) != v}
    extra = {k: v for k, v in got.items() if want.get(k) != v}
    assert not missing and not extra, (
        f"precision/recall != 1.0: {len(extra)} extra, {len(missing)} missing; "
        f"examples extra={list(extra.items())[:3]} "
        f"missing={list(missing.items())[:3]}"
    )


def test_pipeline_deterministic_across_partitioning(spark):
    pages2 = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=2)
    pages7 = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=7)
    t2 = {
        (r.url, r.sent_id, r.pair_id, r.subj, r.pred, r.obj)
        for r in PL.triples_plan(pages2, spark, keep_probs=False).collect()
    }
    t7 = {
        (r.url, r.sent_id, r.pair_id, r.subj, r.pred, r.obj)
        for r in PL.triples_plan(pages7, spark, keep_probs=False).collect()
    }
    assert t2 == t7


def test_triples_do_not_depend_on_arrow_batch_size(spark):
    """The same pages give the same triples, probabilities included, at
    every Arrow batch size the engine runs with: 512 (the tests and
    perfbench), 1024 (scripts/run_pipeline.py) and 64, which splits
    every partition's candidates into many batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=2)
    before = spark.conf.get(key)
    got = {}
    try:
        for size in (64, 512, 1024):
            spark.conf.set(key, str(size))
            got[size] = sorted(
                (tuple(r) for r in PL.triples_plan(pages, spark).collect()),
                key=lambda t: t[:3],
            )
    finally:
        spark.conf.set(key, before)
    # more triples than two batches of 64 hold: at 64 the two partitions'
    # candidates are split over several batches
    assert len(got[512]) > 2 * 64
    assert got[64] == got[512] == got[1024]


def test_triple_precision_recall_meets_north_rule(spark):
    """The north rule's literal criterion: emitted (subj, pred, obj)
    triples at P/R >= 0.95 vs the reference-semantics oracle.  This
    engine achieves exact parity, so the computed figures are 1.0/1.0 —
    asserted here as the explicit metric (the exact-equality twin test
    above pins the stronger property)."""
    got = {
        (r.url, r.sent_id, r.pair_id, r.subj, r.pred, r.obj)
        for r in _spark_triples(spark).collect()
    }
    want = {
        (t.url, t.sent_id, t.pair_id, t.subj, t.pred, t.obj)
        for t in _oracle_triples(spark)
    }
    inter = len(got & want)
    precision = inter / len(got)
    recall = inter / len(want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_build_artifacts_caches_weights_per_model_config(spark):
    """Cached broadcast weights belong to one model config: a model with
    another FFN width gets weights of its own shape, and the default
    model keeps its own."""
    narrow = PipelineConfig(model=ModelConfig(hidden_self=64))
    other = PL.build_artifacts(spark, narrow).params_bc.value
    default = PL.build_artifacts(spark).params_bc.value
    assert other["l0_ffn1_w"].shape == (64, 360)
    assert default["l0_ffn1_w"].shape == (130, 360)
    assert other["l0_ffn1_w"].dtype == "float32"
