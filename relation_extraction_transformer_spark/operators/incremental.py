"""Incremental KG edge-rollup maintenance — mergeable per-edge state.

A 24/7 KG pipeline does not rebuild ``kg_edge_history`` from the full
crawl every day; it folds each new crawl delta into standing per-edge
state.  That only works if every field of the state is MERGEABLE — a
commutative, associative fold so that state(delta_1) ⊕ state(delta_2) ==
state(delta_1 ∪ delta_2) exactly, for any partitioning of the
observations into deltas:

- ``n_obs``             -> SUM        (deltas are disjoint observation sets)
- ``first_seen``        -> MIN
- ``last_seen``         -> MAX
- ``max_prob``          -> MAX
- distinct-url count    -> the edge's sparse HLL registers, packed into
  one sorted ``regs`` array of its row (functions/sketches.py) and
  merged by register MAX.  An exact COUNT(DISTINCT) is NOT mergeable
  from aggregates — you would have to keep every url ever seen per
  edge; the sketch is bounded at min(urls, 1024) elements per edge and
  merge==rebuild holds BIT-exactly because max is associative,
  commutative and idempotent.

The reference pipeline has no incremental surface (it consumes a static
TACRED dump — ref ``data/loader.py:40``); this is the KG-construct
maintenance operation the north rule's always-on crawl implies.

Scale shape: state is one edge-keyed frame, and every state operation
is one map-side-combinable ``groupBy(subj, pred, obj)``.  A delta's
state is the merge of its one-observation states; merging states is a
union plus the same groupBy, and a fold merges the read base state
with the delta's one-observation states in that one groupBy, so the
raw deltas are never re-read and the fold plans one aggregation
Exchange and one write.  The report is a projection of the state rows:
no Exchange and no join.

Stored layout (:func:`write_edge_state`): one dataset per version,
``stats/``, zstd parquet with each file's rows sorted by the edge key.
That is all a state read back carries: no partitioning, so the next
fold's merge shuffles both sides again.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sketches as SK
from ..functions.minhash import stable_id
from ..sources import tables as TB

EDGE_KEYS = ["subj", "pred", "obj"]


class EdgeState(NamedTuple):
    """Mergeable rollup state: one row per edge."""

    # subj, pred, obj, n_obs, first_seen, last_seen, max_prob, score_dec,
    # regs (the packed url sketch, functions/sketches.py)
    stats: DataFrame

    @property
    def regs(self) -> DataFrame:
        """The url sketch of each edge, ``(subj, pred, obj, regs)``: a
        projection of :attr:`stats`, not a second frame."""
        return self.stats.select(*EDGE_KEYS, "regs")


# sums of per-delta DECIMAL(18,6) sums; 28,6 holds ~10^22 observations
_SCORE_DEC = "decimal(28,6)"


def noisy_or_term() -> Column:
    """One observation's noisy-or term, ``ROUND(ln(1 - prob), 6)`` as
    DECIMAL(18,6), prob capped below 1; fused belief = -sum of terms."""
    return F.round(
        F.log(F.lit(1.0) - F.least(F.col("prob"), F.lit(0.999999))), 6
    ).cast("decimal(18,6)")


def _observation_states(obs: DataFrame) -> DataFrame:
    """Each observation ``(subj, pred, obj, url, prob, ts)`` as the
    state of an edge seen once: ``n_obs`` 1, ``first_seen = last_seen =
    ts``, ``max_prob = prob``, its negated noisy-or term as
    ``score_dec`` and the url's one-register sketch."""
    return (
        obs.select(
            *EDGE_KEYS,
            F.lit(1).cast("long").alias("n_obs"),
            F.col("ts").alias("first_seen"),
            F.col("ts").alias("last_seen"),
            F.col("prob").alias("max_prob"),
            (-noisy_or_term()).cast(_SCORE_DEC).alias("score_dec"),
            stable_id(F.col("url")).alias("h"),
        )
        .withColumn("regs", F.array(SK.hll_code("h")))
        .drop("h")
    )


def _merged(states: DataFrame) -> EdgeState:
    """One state row per edge from any union of state rows: field-wise
    SUM/MIN/MAX, and register MAX over the sketches — one groupBy."""
    return EdgeState(
        states.groupBy(*EDGE_KEYS)
        .agg(
            F.sum("n_obs").alias("n_obs"),
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
            F.max("max_prob").alias("max_prob"),
            F.sum("score_dec").cast(_SCORE_DEC).alias("score_dec"),
            SK.hll_union("regs").alias("regs"),
        )
        .withColumn("regs", SK.hll_reduce("regs"))
    )


def edge_state(obs: DataFrame) -> EdgeState:
    """Fold one observation delta — rows of
    ``(subj, pred, obj, url, prob, ts)`` — into edge-rollup state: the
    merge of its one-observation states.

    ``score_dec`` is the noisy-or fused belief (kg_sql's kg_fusion
    formula: -sum of :func:`noisy_or_term`) — a plain sum, so fusion
    itself is incrementally maintainable; the DECIMAL
    type is pinned so merged and rebuilt states carry identical
    schemas."""
    return _merged(_observation_states(obs))


def merge_edge_state(a: EdgeState, b: EdgeState) -> EdgeState:
    """state(d1) ⊕ state(d2): field-wise SUM/MIN/MAX and register MAX,
    in one groupBy over both states' rows.  Exact merge==rebuild for
    disjoint observation deltas; n_obs and score_dec are sums, so a
    RE-delivered (non-disjoint) delta inflates exactly those two — every
    other field is idempotent."""
    return _merged(a.stats.unionByName(b.stats))


def conflicts_from_stats(stats: DataFrame, preds: tuple[str, ...]) -> DataFrame:
    """Functional-predicate conflict resolution over any frame carrying
    ``(subj, pred, obj, n_obs, score_dec)`` — the single implementation
    behind both the registered ``kg_conflicts`` query (fed by the
    full-corpus fusion aggregation) and the 24/7 path (fed by STANDING
    EdgeState.stats, so conflicts re-resolve after each fold-in without
    re-reading any raw crawl).  Partitioned window only — never a
    SinglePartition exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("subj", "pred").orderBy(
        F.col("score_dec").desc(), F.col("n_obs").desc(), F.col("obj").asc()
    )
    wp = Window.partitionBy("subj", "pred")
    return (
        stats.where(F.col("pred").isin(*preds))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("runner_dec", F.lead("score_dec", 1).over(w))
        .withColumn("n_candidates", F.count(F.lit(1)).over(wp))
        .withColumn("total_obs", F.sum("n_obs").over(wp))
        .where((F.col("rn") == 1) & (F.col("n_candidates") >= 2))
        .select(
            "subj", "pred",
            F.col("obj").alias("winner_obj"),
            F.col("n_obs").alias("winner_obs"),
            "n_candidates", "total_obs",
            F.col("score_dec").cast("double").alias("winner_score"),
            (F.col("score_dec") - F.col("runner_dec"))
            .cast("double").alias("margin"),
        )
    )


def write_edge_state(state: EdgeState, path: str) -> None:
    """Persist standing state as one parquet dataset, ``stats/`` — the
    durable handoff between daily fold-in jobs.  It is an edge-keyed
    aggregate, orders of magnitude smaller than the raw crawl, written
    by the one table writer: zstd, each file's rows sorted by the edge
    key, so equal and near-equal values sit next to each other in every
    column.  Always parquet: a version is committed by renaming its
    directory (:func:`fold_version`), never through a catalog."""
    TB.write_table(
        state.stats, os.path.join(path, "stats"), fmt="parquet",
        cluster_by=EDGE_KEYS,
    )


def read_edge_state(spark: SparkSession, path: str) -> EdgeState:
    """Load persisted state written by :func:`write_edge_state`.  A
    version in the two-dataset layout (a ``regs/`` dataset beside
    ``stats/``, from before the registers moved into the stats rows)
    raises ``ValueError``: its stats rows carry no sketch."""
    if os.path.isdir(os.path.join(path, "regs")):
        raise ValueError(
            f"{path} holds edge state in the two-dataset layout (stats/ "
            f"and regs/); the registers now live in the stats rows, so "
            f"rebuild this state from its crawl"
        )
    return EdgeState(spark.read.parquet(os.path.join(path, "stats")))


def committed_versions(state_dir: str) -> list[int]:
    """Every committed state version, ascending.  A version is
    committed exactly when a directory ``v<N>`` exists under
    ``state_dir``: :func:`fold_version` writes each version elsewhere
    and renames it into place in one step, so a ``v<N>`` directory is
    always complete."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(name[1:])
        for name in os.listdir(state_dir)
        if name.startswith("v") and name[1:].isdigit()
    )


def latest_version(state_dir: str) -> int:
    """The newest committed state version (0 = no state)."""
    committed = committed_versions(state_dir)
    return committed[-1] if committed else 0


def fold_version(
    state_dir: str,
    version: int | None,
    write: Callable[[str | None, str], dict],
) -> dict:
    """The version protocol shared by every fold over ``state_dir``.

    The base is the newest committed version; ``version`` defaults to
    the one after it.  A ``version`` already committed is a replay and
    writes nothing: a caller that derives it from a durable sequence
    (e.g. a Structured Streaming ``batch_id``) gets exactly-once state
    when a batch is re-delivered after a crash.  An uncommitted version
    at or below the base is rejected, because folding it would merge
    against a later state.

    Otherwise ``write(base_dir, out_dir)`` writes the new version into
    a fresh staging directory (``base_dir`` is None when there is no
    state yet) and returns fold statistics; the summary adds
    ``version_bytes``, the bytes under the staging directory (0 on a
    replay).  The commit is one ``os.rename`` of the staging directory
    to ``v<version>``.  A failure before the rename leaves the base
    current.  A concurrent
    writer that committed the same version first makes the rename fail
    (the target is a non-empty directory), so the loser raises.  Either
    way the staging directory is removed; one left by a killed process
    is never read.
    """
    cur = latest_version(state_dir)
    if version is None:
        version = cur + 1
    summary = {"state_version": version, "bootstrap": cur == 0}
    target = os.path.join(state_dir, f"v{version}")
    if os.path.isdir(target):
        return {**summary, "replayed": True, "version_bytes": 0}
    if version <= cur:
        raise ValueError(
            f"version {version} <= current version {cur} but v{version} was "
            f"never committed; use a fresh state_dir for this source"
        )
    os.makedirs(state_dir, exist_ok=True)
    # any name that is not v<digits> is invisible to committed_versions;
    # mkdir, not mkdtemp, so the committed version keeps umask permissions
    staging = os.path.join(state_dir, f"_v{version}.{uuid.uuid4().hex}")
    os.mkdir(staging)
    try:
        base = os.path.join(state_dir, f"v{cur}") if cur else None
        stats = write(base, staging)
        written = _tree_bytes(staging)
        os.rename(staging, target)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return {**summary, "replayed": False, **stats, "version_bytes": written}


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def staged_version(staging: str) -> int:
    """The version the staging directory :func:`fold_version` handed to
    ``write`` commits as."""
    return int(os.path.basename(staging)[2:].split(".")[0])


MANIFEST = "manifest.json"


def write_manifest(version_dir: str, segments: dict) -> None:
    """Record the segments a version's state is made of:
    ``{dataset: [[version, rows], ...]}``, oldest first.  Segment
    ``[k, rows]`` of ``dataset`` is the directory ``dataset`` that
    version ``k`` wrote (see :func:`segment_path`); a version's own
    segment is its last entry.  Written into the staging directory, so
    it commits with the version."""
    with open(os.path.join(version_dir, MANIFEST), "w") as fh:
        json.dump(segments, fh)


def read_manifest(version_dir: str) -> dict:
    """The segments recorded by :func:`write_manifest` ({} for a
    version that keeps its whole state, like the edge state)."""
    path = os.path.join(version_dir, MANIFEST)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def segment_path(state_dir: str, version: int, dataset: str) -> str:
    """Where the ``dataset`` segment written by ``version`` lives: in
    ``v<version>`` while that version is committed, in ``_r<version>``
    once :func:`vacuum_state` retired it."""
    path = os.path.join(state_dir, f"v{version}", dataset)
    if os.path.exists(path):
        return path
    return os.path.join(state_dir, f"_r{version}", dataset)


def vacuum_state(state_dir: str, keep_last_k: int) -> list[int]:
    """Retention for the 24/7 loop: remove committed versions older than
    the newest ``keep_last_k``, oldest first, and return the versions
    removed.  Without this, a daily fold accumulates state versions
    forever.

    A removed version whose segments a kept version's manifest still
    lists (:func:`write_manifest`) is retired, not deleted: ``v<k>`` is
    renamed to ``_r<k>`` — which uncommits it in one step — and every
    entry of ``_r<k>`` no kept manifest lists is deleted.  The rest is
    deleted whole.  The newest version and every file it lists survive,
    so an interrupted vacuum leaves it readable, and the next vacuum
    finishes whatever the interrupted one left.  A DataFrame read from
    the state before a vacuum must be read again after it, because the
    files it lists may have moved to ``_r<k>``."""
    if keep_last_k < 1:
        raise ValueError("keep_last_k must be >= 1")
    committed = committed_versions(state_dir)
    removed = committed[:-keep_last_k]
    listed: dict[int, set[str]] = {}
    for v in committed[-keep_last_k:]:
        manifest = read_manifest(os.path.join(state_dir, f"v{v}"))
        for dataset, segments in manifest.items():
            for k, _rows in segments:
                listed.setdefault(k, set()).add(dataset)
    for v in removed:
        path = os.path.join(state_dir, f"v{v}")
        if v in listed:
            os.rename(path, os.path.join(state_dir, f"_r{v}"))
        else:
            shutil.rmtree(path)
    for name in sorted(os.listdir(state_dir)):
        if not (name.startswith("_r") and name[2:].isdigit()):
            continue
        path = os.path.join(state_dir, name)
        keep = listed.get(int(name[2:]), set())
        if not keep:
            shutil.rmtree(path)
            continue
        for entry in os.listdir(path):
            if entry not in keep:
                p = os.path.join(path, entry)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
    return removed


def page_observations(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """Both folds' input from a crawl delta: the triples the audited
    narrow batch plan extracts, as ``(url, subj, pred, obj, prob, ts)``
    observation rows."""
    from ..plans import pipeline as PL

    triples = PL.triples_plan(pages, spark, keep_probs=False)
    return triples.select("url", "subj", "pred", "obj", "prob").join(
        pages.select(
            "url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")
        ),
        "url",
    )


def _write_edge_fold(
    spark: SparkSession, obs: DataFrame, base: str | None, out: str
) -> dict:
    states = _observation_states(obs)
    if base is not None:
        states = read_edge_state(spark, base).stats.unionByName(states)
    write_edge_state(_merged(states), out)
    return {}


def fold_pages_delta(
    spark: SparkSession,
    pages: DataFrame,
    state_dir: str,
    version: int | None = None,
    canon_state_dir: str | None = None,
) -> dict:
    """Fold one crawl delta of pages into the standing edge state under
    ``state_dir`` and, given ``canon_state_dir``, its mention names into
    the canonical map there (summary entry ``canon``).  Both folds
    follow :func:`fold_version` with the same ``version`` and read one
    observation checkpoint, taken when a fold first writes: the delta
    is extracted at most once, and a call whose folds both replay runs
    no Spark job.  The edge version commits first, so re-delivering a
    ``version`` that crashed between the commits replays the edge fold
    and folds only the canonical map."""
    from . import incremental_canon as IC

    @functools.cache
    def observations() -> DataFrame:
        # both state datasets and the canonical fold's several reads
        # would each re-run the extraction (the inference UDF) without it
        return page_observations(spark, pages).localCheckpoint(eager=True)

    summary = fold_version(
        state_dir, version,
        lambda base, out: _write_edge_fold(spark, observations(), base, out),
    )
    if canon_state_dir is not None:
        canon = fold_version(
            canon_state_dir, version,
            lambda base, out: IC.write_canon_fold(
                spark, IC.mention_names(observations()), base, out
            ),
        )
        summary["canon"] = IC.canon_fold_summary(canon_state_dir, canon)
    return summary


def edge_report(state: EdgeState) -> DataFrame:
    """Human-facing rollup: each state row with its distinct-url
    estimate computed from its own ``regs``, a projection (no Exchange,
    no join).  Per-edge url counts are tiny relative to the 1024
    registers, so the estimate sits in the near-exact linear-counting
    regime."""
    return state.stats.select(
        *EDGE_KEYS,
        "n_obs",
        "first_seen",
        "last_seen",
        F.round(F.col("max_prob"), 6).alias("max_prob"),
        F.col("score_dec").cast("double").alias("fused_score"),
        SK.hll_estimate_regs("regs").alias("est_urls"),
    )
