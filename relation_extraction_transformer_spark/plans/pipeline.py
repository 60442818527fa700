"""The flagship KG-construction plan: pages -> (subj, pred, obj) triples.

Declarative end to end; the only Python is the single Arrow inference UDF.
Catalyst sees one linear plan, so column pruning reaches the page scan
(html/binary is never read once text is extracted) and gazetteer NER is
array expressions over a map literal (no join, no shuffle).

Stage map (SURVEY §3.1 translated):
  driver: broadcast weights + vocab (ref:runner.py:206-219 analog)
  scan pages            -> S1
  extract_text          -> UDF surface #1 (JVM regex here)
  sentence/tokenize     -> P-ops
  gazetteer NER         -> map-literal array ops (no join)
  pair generation       -> array ops + single explode
  preprocess            -> P1-P9
  predict               -> K1-K19 in one mapInPandas
  triples               -> filter pred != no_relation (K19)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import weights as W
from ..config import PipelineConfig, DEFAULT_PIPELINE
from ..operators import candidates as CAND
from ..operators import inference as INF
from ..operators import ner as NER
from ..operators import preprocess as PRE
from ..sources import gazetteer as G
from ..sources import pages as PAGES


@dataclass
class PipelineArtifacts:
    """Broadcast handles, reusable across queries in one session."""

    params_bc: object
    vocab_bc: object


_ARTIFACT_CACHE: dict[tuple, PipelineArtifacts] = {}


def build_artifacts(
    spark: SparkSession, cfg: PipelineConfig = DEFAULT_PIPELINE
) -> PipelineArtifacts:
    # a broadcast belongs to its application, and every model field may
    # shape the weights, so key on both
    key = (spark.sparkContext.applicationId, cfg.model)
    if key not in _ARTIFACT_CACHE:
        vocab = G.static_vocab()
        # float32 inference halves GEMM memory traffic (the multi-core
        # scaling limiter); the end-to-end parity test verifies the fp32
        # pipeline still reproduces the fp64 oracle's triples exactly
        params = INF.as_dtype(
            W.generate_weights(cfg.model, vocab_size=len(vocab)), "float32"
        )
        _ARTIFACT_CACHE[key] = PipelineArtifacts(
            params_bc=spark.sparkContext.broadcast(params),
            vocab_bc=spark.sparkContext.broadcast(vocab),
        )
    return _ARTIFACT_CACHE[key]


def candidates_plan(
    pages: DataFrame, arts: PipelineArtifacts, cfg: PipelineConfig = DEFAULT_PIPELINE
) -> DataFrame:
    """pages -> preprocessed candidate features (no inference yet)."""
    extracted = PAGES.extract_text(pages).filter(F.col("lang") == "en")
    sentences = NER.split_sentences(extracted, text_col="extracted_text")
    tokenized = NER.tokenize(sentences)
    # closed-world dictionary -> shuffle-free inline NER
    kept = NER.detect_mentions(tokenized)
    tagged = NER.ner_tags_from_mentions(kept)
    # per-sentence tag ids BEFORE the pair explode (computed once per
    # sentence instead of once per candidate)
    tagged = PRE.attach_tag_ids(tagged)
    pairs = CAND.generate_pairs(tagged, cfg.max_pairs_per_sentence)
    return PRE.preprocess_candidates(pairs, lower=cfg.model.lower)


def triples_plan(
    pages: DataFrame,
    spark: SparkSession,
    cfg: PipelineConfig = DEFAULT_PIPELINE,
    keep_probs: bool = True,
) -> DataFrame:
    arts = build_artifacts(spark, cfg)
    feats = candidates_plan(pages, arts, cfg)
    slim = feats.select(
        "url", "sent_id", "pair_id", "subj_surface", "subj_type",
        "obj_surface", "obj_type",
        "masked_tokens", "pos_ids", "ner_ids", "subj_positions",
        "obj_positions",
    )
    predicted = INF.predict_relations(
        slim, arts.params_bc, cfg.model, vocab_bc=arts.vocab_bc,
        keep_probs=keep_probs,
    )
    triples = INF.triples_from_predictions(predicted)
    cols = [
        F.col("url"), F.col("sent_id"), F.col("pair_id"),
        F.col("subj_surface").alias("subj"), F.col("subj_type"),
        F.col("pred_label").alias("pred"),
        F.col("obj_surface").alias("obj"), F.col("obj_type"),
        F.col("prob"),
    ]
    if keep_probs:
        cols.append(F.col("probs"))
    return triples.select(*cols)
