"""Kernel micro-layer: the inference kernel timed in-process on a frozen
set of candidate batches, with no Spark scheduling in the measurement.

The batches come from the engine's own candidate plan over a fixed set of
synthetic pages (rendered in this process, so no Python worker is needed);
they are collected once and then timed single-threaded (the benchmark
sets ``OMP_NUM_THREADS=1`` before NumPy loads).
"""

from __future__ import annotations

import time

import numpy as np

from relation_extraction_transformer_spark.config import DEFAULT_PIPELINE
from relation_extraction_transformer_spark.kernel import forward_batch
from relation_extraction_transformer_spark.operators import inference as INF
from relation_extraction_transformer_spark.plans import pipeline as PL
from relation_extraction_transformer_spark.sources import pages as PG

PAGES = 150
REPEATS = 5

_COLS = ("masked_tokens", "pos_ids", "ner_ids", "subj_positions",
         "obj_positions")


def collect_batches(spark, seed: int):
    """Frozen candidates: a pandas frame of the kernel's input columns."""
    rows = [PG.render_page(i, seed) for i in range(PAGES)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    arts = PL.build_artifacts(spark)
    feats = PL.candidates_plan(pages, arts).select(*_COLS).toPandas()
    return feats, arts.params_bc.value, arts.vocab_bc.value


def _median_s(fn) -> float:
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return float(np.median(walls))


def measure(feats, params, vocab) -> dict:
    """``kernel.word_ids_s``: median seconds to map every candidate's
    tokens to ids; ``kernel.forward_candidates_per_s``: candidates per
    second through ``forward_batch`` over same-length batches, as the
    inference operator groups them."""
    cfg = DEFAULT_PIPELINE.model
    word_ids_s = _median_s(
        lambda: INF.tokens_to_word_ids(feats["masked_tokens"], vocab))
    ids = INF.tokens_to_word_ids(feats["masked_tokens"], vocab)
    lengths = np.array([len(w) for w in ids])
    groups = []
    for n in np.unique(lengths):
        idx = np.nonzero(lengths == n)[0]

        def stack(col, idx=idx):
            return np.array([np.asarray(feats[col].iloc[i], dtype=np.int64)
                             for i in idx])

        groups.append((
            np.array([ids[i] for i in idx]), stack("pos_ids"),
            stack("ner_ids"), stack("subj_positions"), stack("obj_positions"),
        ))

    def forward():
        for g in groups:
            forward_batch(params, cfg, *g)

    return {
        "kernel.word_ids_s": word_ids_s,
        "kernel.forward_candidates_per_s": len(feats) / _median_s(forward),
    }
