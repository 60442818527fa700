"""Checkpoint-resumable runs with per-partition lineage + metrics rows.

North-rule requirement with no reference counterpart (closest analogue:
the lemma-pickle cache, ref:data/loader.py:75-85 — a whole-dataset cache;
ours is per-bucket and idempotent).

Mechanism:

- work is split into ``n_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), n)``); the production pages table is expected to
  be stored bucketed/partitioned by the same key so the per-group filter
  prunes at the source instead of rescanning,
- buckets are processed in groups; each group's triples are written to
  ``out/triples/bucket=<b>/`` and a manifest row (bucket, n_buckets,
  rows_out, wall_ms, finished_ts) is appended ONLY after the group
  commits,
- on restart, completed buckets are read from the manifest and skipped —
  an idempotent resume with no partial-output risk (parquet dir per
  bucket is overwritten atomically per group); a resume or a
  pre-bucketed input under another ``n_buckets`` raises instead of
  skipping or dropping pages,
- each group's triples count (``rows_out``) is captured with
  ``DataFrame.observe`` on the write itself — zero extra actions — and
  appended with the group's wall time to ``out/_metrics``; no other
  stage's count is recorded.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Observation
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_PIPELINE
from ..sources.tables import write_table
from . import pipeline as PL


@dataclass
class RunReport:
    run_id: str
    buckets_done: list[int]
    buckets_skipped: list[int]
    rows_out: int


def _manifest_path(out_path: str) -> str:
    return f"{out_path}/_manifest"


def _manifest(spark: SparkSession, out_path: str) -> list:
    """The manifest rows; none when it does not exist yet.  Any other
    read failure (a corrupt manifest, a session error) raises: treating
    it as "nothing done" would recompute and re-append every bucket."""
    try:
        return spark.read.parquet(_manifest_path(out_path)).collect()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return []


def _bucket(n_buckets: int):
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def write_bucketed_pages(
    pages: DataFrame, path: str, n_buckets: int = 16
) -> None:
    """Materialize pages partitioned by the resume bucket key (the
    production layout: each resume group then prunes to its own files)."""
    write_table(
        pages.withColumn("bucket", _bucket(n_buckets)), path, fmt="parquet",
        partition_by=["bucket"], cluster_by=["url"],
    )


def materialize_triples_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    run_id: str,
    n_buckets: int = 16,
    buckets_per_group: int = 4,
    cfg: PipelineConfig = DEFAULT_PIPELINE,
) -> RunReport:
    """Raises ``ValueError`` before any group runs if the manifest or a
    stored ``bucket`` column of ``pages`` has another ``n_buckets``:
    either would silently skip or drop pages."""
    manifest = _manifest(spark, out_path)
    # a manifest row written without n_buckets reads as None: refused
    stored = {r.asDict().get("n_buckets") for r in manifest} - {n_buckets}
    if stored:
        raise ValueError(
            f"{out_path} was materialized with n_buckets in {stored}, "
            f"not {n_buckets}"
        )
    done = {r.bucket for r in manifest}
    pending = [b for b in range(n_buckets) if b not in done]

    if "bucket" in pages.columns:
        # the input table is already partitioned by the bucket key (the
        # production layout written by write_bucketed_pages): the per-group
        # filter below becomes a PARTITION-PRUNING predicate — each group
        # reads only its own files instead of rescanning the table.  One
        # probe checks that it was bucketed with this n_buckets
        if pages.filter(
            ~F.col("bucket").eqNullSafe(_bucket(n_buckets))
        ).limit(1).collect():
            raise ValueError(
                "pages carry a bucket column not equal to "
                f"pmod(xxhash64(url), {n_buckets})"
            )
        bucketed_pages = pages
    else:
        bucketed_pages = pages.withColumn("bucket", _bucket(n_buckets))

    rows_total = 0
    done_now: list[int] = []
    for i in range(0, len(pending), buckets_per_group):
        group = pending[i : i + buckets_per_group]
        t0 = time.perf_counter()

        obs = Observation(f"triples_{run_id}_{group[0]}")
        group_pages = bucketed_pages.filter(F.col("bucket").isin(group))
        triples = PL.triples_plan(
            group_pages.drop("bucket"), spark, cfg=cfg, keep_probs=False
        ).withColumn("bucket", _bucket(n_buckets)).observe(
            obs, F.count(F.lit(1)).alias("rows_out")
        )

        write_table(
            triples, f"{out_path}/triples", fmt="parquet", mode="dynamic",
            partition_by=["bucket"], cluster_by=["url", "sent_id", "pair_id"],
        )
        wall_ms = int((time.perf_counter() - t0) * 1000)
        rows_out = int(obs.get["rows_out"])
        rows_total += rows_out

        # lineage rows: one per bucket, appended only after the commit
        manifest_rows = [
            (run_id, b, n_buckets, rows_out, wall_ms, int(time.time()))
            for b in group
        ]
        write_table(
            spark.createDataFrame(
                manifest_rows,
                "run_id string, bucket int, n_buckets int, "
                "group_rows_out long, wall_ms long, finished_ts long",
            ),
            _manifest_path(out_path), fmt="parquet", mode="append",
            cluster_by=["bucket"],
        )
        write_table(
            spark.createDataFrame(
                [(run_id, "triples", ",".join(map(str, group)), rows_out,
                  wall_ms)],
                "run_id string, stage string, buckets string, rows_out long, "
                "wall_ms long",
            ),
            f"{out_path}/_metrics", fmt="parquet", mode="append",
        )
        done_now.extend(group)

    return RunReport(
        run_id=run_id,
        buckets_done=done_now,
        buckets_skipped=sorted(done),
        rows_out=rows_total,
    )

