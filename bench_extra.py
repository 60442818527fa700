#!/usr/bin/env python
"""Round-8 optimization measurement harness (guide §1).

Separate from the FROZEN bench.py: this file isolates the expensive
paths with noop sinks, splits walls by stage, and dumps normalized
``.explain("formatted")`` plans.  Usage:

    python bench_extra.py stages     # kg pipeline stage split
    python bench_extra.py fold       # incremental_fold breakdown
    python bench_extra.py queries q1_pricing_summary dup_clusters ...
    python bench_extra.py plans OUT_DIR [names...]   # dump explain(formatted)
    python bench_extra.py profile    # cProfile of the inference UDF body

Environment contract matches bench.py ($SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS); numbers printed here are cited in
OPTIMIZATION_r08.md, never in the driver's JSON line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

import bench  # noqa: E402  (reuse make_spark/paths so configs match)
from bench import CPUS, PAGES_PATH_KG, N_PAGES_KG, SF_DIR, make_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, warm: int = 1, reps: int = 2) -> list[float]:
    for _ in range(warm):
        fn()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(round(time.perf_counter() - t0, 3))
    return walls


def section_stages(spark) -> None:
    """Split the flagship wall: scan -> candidates (JVM) vs + inference
    (Arrow UDF).  Guide §1.1 first-principles: which side owns the
    time decides whether kernel work or plan work pays."""
    from relation_extraction_transformer_spark.plans import pipeline as PL

    bench.ensure_pages(spark, N_PAGES_KG, PAGES_PATH_KG)
    pages = spark.read.parquet(PAGES_PATH_KG)
    arts = PL.build_artifacts(spark, PL.DEFAULT_PIPELINE)

    spark.sparkContext.setJobDescription("stage: candidates only")
    cand = lambda: noop(
        PL.candidates_plan(pages, arts, PL.DEFAULT_PIPELINE).select(
            "url", "sent_id", "pair_id", "subj_surface", "subj_type",
            "obj_surface", "obj_type", "masked_tokens", "pos_ids",
            "ner_ids", "subj_positions", "obj_positions",
        )
    )
    spark.sparkContext.setJobDescription("stage: full triples")
    full = lambda: noop(PL.triples_plan(pages, spark, keep_probs=False))
    n_cand = PL.candidates_plan(pages, arts, PL.DEFAULT_PIPELINE).count()
    out = {
        "pages": N_PAGES_KG,
        "n_candidates": n_cand,
        "candidates_only_sec": timed(cand),
        "full_triples_sec": timed(full),
    }
    print(json.dumps({"stages": out}))


def section_fold(spark) -> None:
    """incremental_fold breakdown: is the fold paying for the delta
    extraction once or twice (stats + regs are two write actions)?"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from relation_extraction_transformer_spark.operators import (
        incremental as INC,
    )

    bench.ensure_pages(spark, N_PAGES_KG, PAGES_PATH_KG)
    pages = spark.read.parquet(PAGES_PATH_KG)
    parity = F.crc32("url") % 2
    day1, day2 = pages.where(parity == 0), pages.where(parity == 1)

    state_dir = tempfile.mkdtemp(prefix="ret_bx_state_")
    try:
        t0 = time.perf_counter()
        INC.fold_pages_delta(spark, day1, state_dir)
        boot = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        s = INC.fold_pages_delta(spark, day2, state_dir)
        fold = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        noop(
            INC.edge_report(
                INC.read_edge_state(
                    spark, f"{state_dir}/v{s['state_version']}"
                )
            )
        )
        report = round(time.perf_counter() - t0, 3)
        print(json.dumps({"fold": {
            "bootstrap_sec": boot, "fold_sec": fold, "report_sec": report,
        }}))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def section_queries(spark, names: list[str]) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bx: {name}")
        fn = lambda: noop(qs[name](spark, SF_DIR))
        t0 = time.perf_counter()
        fn()
        cold = round(time.perf_counter() - t0, 3)
        out[name] = {"cold": cold, "warm": timed(fn, warm=0)}
    print(json.dumps({"queries": out}))


def _renumber(pattern: str, fmt: str, text: str) -> str:
    seen: dict[str, int] = {}
    return re.sub(
        pattern, lambda m: fmt.format(seen.setdefault(m.group(1), len(seen))),
        text,
    )


def normalize_plan(text: str) -> str:
    """Make dumps of the same plan from two sessions and checkouts
    diff-equal: the checkout and the testdata directory become
    ``<repo>`` and ``<sf_dir>``, and every per-session id is renumbered
    in order of first appearance: lambda variables (``x_54``, ``sp``,
    ... -> ``v0``, ``v1``, ...), ``#<exprId>`` suffixes, ``plan_id=``
    and ``RDD[<id>]``.  Lambda variables are keyed by exprId, not name,
    so a name reused across lambdas (SQL text) and a fresh name per
    lambda (the Column API) normalize alike."""
    text = text.replace(os.path.dirname(os.path.abspath(__file__)), "<repo>")
    text = text.replace(os.path.abspath(SF_DIR), "<sf_dir>")
    text = _renumber(r"lambda \w+#(\d+)", "lambda v{}", text)
    text = _renumber(r"#(\d+)", "#{}", text)
    text = _renumber(r"plan_id=(\d+)", "plan_id={}", text)
    return _renumber(r"RDD\[(\d+)\]", "RDD[{}]", text)


def section_plans(spark, out_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    # match the bench's warehouse-section scan config so adaptive reads
    # (tb) see the same split counts the timed run sees
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(normalize_plan(plan))
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


def section_profile(spark) -> None:
    """cProfile the inference UDF body on driver-collected batches: the
    per-task Python cost split (pandas overhead vs kernel GEMMs)."""
    import cProfile
    import io
    import pstats

    import pandas as pd

    from relation_extraction_transformer_spark.plans import pipeline as PL

    bench.ensure_pages(spark, N_PAGES_KG, PAGES_PATH_KG)
    pages = spark.read.parquet(PAGES_PATH_KG).limit(2000)
    arts = PL.build_artifacts(spark, PL.DEFAULT_PIPELINE)
    feats = PL.candidates_plan(pages, arts, PL.DEFAULT_PIPELINE).select(
        "url", "sent_id", "pair_id", "subj_surface", "subj_type",
        "obj_surface", "obj_type", "masked_tokens", "pos_ids",
        "ner_ids", "subj_positions", "obj_positions",
    )
    pdf = feats.toPandas()
    print(f"profiling over {len(pdf)} candidates")
    from relation_extraction_transformer_spark.operators import (
        inference as INF,
    )
    from relation_extraction_transformer_spark import constants as C  # noqa

    cfg = PL.DEFAULT_PIPELINE.model

    class FakeBC:
        def __init__(self, v):
            self.value = v

    params = PL.build_artifacts(spark, PL.DEFAULT_PIPELINE)
    predict = INF.predict_relations  # not used directly; reuse run body

    # replicate the UDF body: batches of 1024 like the session config
    batches = [
        pdf.iloc[i:i + 1024] for i in range(0, len(pdf), 1024)
    ]

    def run_all():
        import numpy as np

        vocab = params.vocab_bc.value
        pb = params.params_bc.value
        for b in batches:
            word_ids = INF.tokens_to_word_ids(b["masked_tokens"], vocab)
            b2 = b.assign(word_ids=word_ids)
            lengths = b2["word_ids"].map(len).to_numpy()
            for l in np.unique(lengths):
                idx = np.nonzero(lengths == l)[0]
                if l == 0 or l > 96:
                    continue
                stack = lambda col: np.array(
                    [np.asarray(v, dtype=np.int64) for v in b2[col].iloc[idx]]
                )
                from relation_extraction_transformer_spark.kernel import (
                    forward_batch,
                )
                forward_batch(
                    pb, cfg,
                    stack("word_ids"), stack("pos_ids"), stack("ner_ids"),
                    stack("subj_positions"), stack("obj_positions"),
                )

    run_all()  # warm
    t0 = time.perf_counter()
    run_all()
    wall = time.perf_counter() - t0
    print(f"single-thread UDF-body wall: {wall:.3f}s "
          f"({len(pdf) / wall:.0f} cand/s/core)")
    pr = cProfile.Profile()
    pr.enable()
    run_all()
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
    print(s.getvalue())


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "stages"
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "stages":
        section_stages(spark)
    elif mode == "fold":
        section_fold(spark)
    elif mode == "queries":
        section_queries(spark, sys.argv[2:])
    elif mode == "plans":
        section_plans(spark, sys.argv[2], sys.argv[3:])
    elif mode == "profile":
        section_profile(spark)
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
