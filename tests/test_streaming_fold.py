"""KG maintenance folds: foreachBatch fold-in over micro-batches must
land on exactly the single-pass batch rebuild, a re-delivered batch
must be a no-op (exactly-once via durable batch-id versions), and a
crash at any commit leaves state the next delivery completes."""

import errno
import os

from pyspark.sql import functions as F

from relation_extraction_transformer_spark.operators import incremental as INC
from relation_extraction_transformer_spark.operators import (
    incremental_canon as IC,
)
from relation_extraction_transformer_spark.plans import kg_sql as KQ
from relation_extraction_transformer_spark.plans import pipeline as PL
from relation_extraction_transformer_spark.streaming import stream as ST

PAGES = KQ.PAGES_PARQUET


def _obs(spark, pages):
    triples = PL.triples_plan(pages, spark, keep_probs=False)
    return triples.select("url", "subj", "pred", "obj", "prob").join(
        pages.select(
            "url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")
        ),
        "url",
    )


def _count_builds(monkeypatch):
    """Record every ``triples_plan`` build (the delta extraction: scan ->
    candidates -> inference UDF) in the returned list."""
    real, builds = PL.triples_plan, []

    def counted(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(PL, "triples_plan", counted)
    return builds


def _node_map(nodes):
    return {r.node_id: (r.name, r.component) for r in nodes.collect()}


def _canon_map(spark, canon_dir, version):
    return _node_map(IC.read_canon_state(spark, f"{canon_dir}/v{version}")[0])


def _write_crawl_in_two_days(pages, pages_dir):
    """Write day 1 (the quarter with ``crc32(url) % 4 == 0``) as two
    files, then the rest, so the stream's first micro-batch folds day 1
    and a later one folds names day 1 never saw.  A round-robin split
    of the whole crawl puts every name in the first micro-batch."""
    day1 = F.crc32("url") % 4 == 0
    pages.where(day1).repartition(2).write.parquet(pages_dir)
    pages.where(~day1).repartition(2).write.mode("append").parquet(pages_dir)


def test_streamed_fold_equals_batch_rebuild_and_replay_is_noop(
    spark, tmp_path, monkeypatch
):
    """One stream maintains both states: folding micro-batches of pages
    lands on exactly the single-pass rebuild of the edge state and of
    the canonical map, each micro-batch extracts once for both, and a
    re-delivered batch is a committed-version no-op."""
    pages = spark.read.parquet(PAGES)
    pages_dir = str(tmp_path / "pages")
    _write_crawl_in_two_days(pages, pages_dir)
    state_dir, canon_dir = str(tmp_path / "state"), str(tmp_path / "canon")
    os.makedirs(state_dir)
    os.makedirs(canon_dir)

    builds = _count_builds(monkeypatch)
    ST.run_streaming_fold(
        spark, pages_dir, state_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        canon_state_dir=canon_dir,
        max_files_per_trigger=2,  # forces >= 2 micro-batches
    )
    n_versions = INC.latest_version(state_dir)
    assert n_versions >= 2, "expected multiple micro-batches"
    assert INC.latest_version(canon_dir) == n_versions
    assert len(builds) == n_versions, "one extraction per micro-batch"

    streamed = _report(spark, state_dir, n_versions)
    rebuilt = sorted(
        map(tuple, INC.edge_report(INC.edge_state(_obs(spark, pages))).collect())
    )
    assert streamed == rebuilt
    canon = _canon_map(spark, canon_dir, n_versions)
    assert len(canon) > len(_canon_map(spark, canon_dir, 1)), (
        "no later micro-batch folded a new name"
    )
    triples = PL.triples_plan(pages, spark, keep_probs=False)
    assert canon == _node_map(IC.canon_state(IC.mention_names(triples)))

    # crash-replay of the last batch: both versions already committed
    del builds[:]
    summary = INC.fold_pages_delta(
        spark, pages, state_dir, version=n_versions, canon_state_dir=canon_dir
    )
    assert summary["replayed"] is True and summary["canon"]["replayed"] is True
    assert builds == [], "a replay extracts nothing"
    assert _report(spark, state_dir, n_versions) == streamed
    assert _canon_map(spark, canon_dir, n_versions) == canon
    for d in (state_dir, canon_dir):
        assert sorted(os.listdir(d)) == sorted(
            f"v{i}" for i in range(1, n_versions + 1)
        ), "a replay writes nothing, not even a staging directory"


def test_streamed_canon_fold_equals_batch_rebuild_and_replay_is_noop(
    spark, tmp_path
):
    """Streaming canonical-map maintenance: folding micro-batches of
    pages must land on EXACTLY the single-pass batch canonicalization
    of the full corpus's mention surfaces, and a re-delivered batch is
    a committed-version no-op."""
    from relation_extraction_transformer_spark.operators import (
        linking as LINK,
    )

    pages = spark.read.parquet(PAGES)
    pages_dir = str(tmp_path / "pages")
    _write_crawl_in_two_days(pages, pages_dir)
    state_dir, canon_dir = str(tmp_path / "state"), str(tmp_path / "canon")
    os.makedirs(state_dir)
    os.makedirs(canon_dir)

    ST.run_streaming_fold(
        spark, pages_dir, state_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        canon_state_dir=canon_dir,
        max_files_per_trigger=2,  # forces >= 2 micro-batches
    )
    n_versions = INC.latest_version(canon_dir)
    assert n_versions >= 2, "expected multiple micro-batches"
    streamed = _canon_map(spark, canon_dir, n_versions)
    assert len(streamed) > len(_canon_map(spark, canon_dir, 1)), (
        "no later micro-batch folded a new name"
    )

    # an independent oracle for IC.mention_names
    triples = PL.triples_plan(pages, spark, keep_probs=False)
    mentions = (
        triples.select(F.col("subj").alias("surface"))
        .unionAll(triples.select(F.col("obj").alias("surface")))
        .select(LINK.normalize_surface(F.col("surface")).alias("name"))
        .distinct()
        .select(LINK.stable_id(F.col("name")).alias("node_id"), "name")
    )
    assert streamed == _node_map(IC.canon_state(mentions))

    # crash-replay of the last batch: version already committed -> no-op
    s = IC.fold_mentions_delta(
        spark, mentions.limit(0), canon_dir, version=n_versions
    )
    assert s["replayed"] is True
    assert _canon_map(spark, canon_dir, n_versions) == streamed
    assert sorted(os.listdir(canon_dir)) == sorted(
        f"v{i}" for i in range(1, n_versions + 1)
    ), "a replay writes nothing, not even a staging directory"


def test_crash_between_edge_and_canon_commits_refolds_only_the_canon_map(
    spark, tmp_path, fail_at, monkeypatch
):
    """A fold of both states that crashes after the edge version commits
    and before the canonical one does: re-delivering the same version
    replays the edge fold and folds only the canonical map, extracting
    the delta once; a third delivery runs no Spark job at all."""
    import pytest

    pages = spark.read.parquet(PAGES)
    state_dir, canon_dir = str(tmp_path / "state"), str(tmp_path / "canon")
    fail_at(INC.os, "rename", call=2)
    with pytest.raises(OSError, match="injected"):
        INC.fold_pages_delta(
            spark, pages, state_dir, version=1, canon_state_dir=canon_dir
        )
    assert INC.committed_versions(state_dir) == [1]
    assert os.listdir(canon_dir) == [], "staging directory left behind"
    monkeypatch.undo()

    builds = _count_builds(monkeypatch)
    s = INC.fold_pages_delta(
        spark, pages, state_dir, version=1, canon_state_dir=canon_dir
    )
    assert len(builds) == 1
    assert s["replayed"] is True
    assert s["canon"]["replayed"] is False and s["canon"]["state_version"] == 1
    obs = _obs(spark, pages)
    assert _n_obs(spark, state_dir, 1) == obs.count(), "edge delta folded twice"
    assert _canon_map(spark, canon_dir, 1) == _node_map(
        IC.canon_state(IC.mention_names(obs))
    )

    del builds[:]
    sc = spark.sparkContext
    group = "fold-replay"
    sc.setJobGroup(group, "a fold whose versions are all committed")
    try:
        s = INC.fold_pages_delta(
            spark, pages, state_dir, version=1, canon_state_dir=canon_dir
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["replayed"] is True and s["canon"]["replayed"] is True
    assert builds == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_unwritten_out_of_order_version_is_rejected(spark, tmp_path):
    """A fresh (never-committed) version at or below the current one
    must raise — folding it would merge against a later state."""
    import pytest

    pages = spark.read.parquet(PAGES)
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    INC.fold_pages_delta(spark, pages, state_dir)  # v1
    INC.fold_pages_delta(spark, pages, state_dir)  # v2
    # simulate an uncommitted v1: remove it, then ask to fold v1 again
    import shutil

    shutil.rmtree(os.path.join(state_dir, "v1"))
    with pytest.raises(ValueError, match="never committed"):
        INC.fold_pages_delta(spark, pages, state_dir, version=1)


def _n_obs(spark, state_dir, version):
    return (
        INC.read_edge_state(spark, f"{state_dir}/v{version}")
        .stats.agg(F.sum("n_obs")).collect()[0][0]
    )


def _report(spark, state_dir, version):
    return sorted(
        map(
            tuple,
            INC.edge_report(
                INC.read_edge_state(spark, f"{state_dir}/v{version}")
            ).collect(),
        )
    )


def _tree(path):
    """Every file under ``path`` with its bytes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_crash_before_commit_does_not_swallow_next_delta(
    spark, tmp_path, fail_at
):
    """Batch path, crash after the new state is written but before the
    rename commits it.  The previous version stays current and intact,
    the staging directory is gone, and the next run of the same delta
    folds on top of the previous version — never classified as a
    replay, never dropping its data."""
    import pytest

    pages = spark.read.parquet(PAGES)
    urls = sorted(r.url for r in pages.select("url").distinct().collect())
    half = set(urls[: len(urls) // 2])
    d1 = pages.where(F.col("url").isin(half))
    d2 = pages.where(~F.col("url").isin(half))

    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    INC.fold_pages_delta(spark, d1, state_dir)  # v1
    v1_report = _report(spark, state_dir, 1)
    fail_at(os, "rename")
    with pytest.raises(OSError, match="injected"):
        INC.fold_pages_delta(spark, d2, state_dir)
    assert INC.latest_version(state_dir) == 1
    assert _report(spark, state_dir, 1) == v1_report
    assert os.listdir(state_dir) == ["v1"], "staging directory left behind"

    s = INC.fold_pages_delta(spark, d2, state_dir)
    v2_bytes = sum(map(len, _tree(f"{state_dir}/v2").values()))
    assert s == {
        "state_version": 2, "bootstrap": False, "replayed": False,
        "version_bytes": v2_bytes,
    }
    # exact integer law: the new version is the old one plus the delta
    assert _n_obs(spark, state_dir, 2) == (
        _n_obs(spark, state_dir, 1) + _obs(spark, d2).count()
    )


def test_second_writer_of_a_version_raises_and_leaves_it_intact(
    spark, tmp_path
):
    """Two writers fold the same version: the one that renames second
    fails loudly, and the winner's ``v<N>`` stays byte-identical."""
    import pytest

    pages = spark.read.parquet(PAGES)
    state_dir = str(tmp_path / "state")
    committed = {}

    def write(base, out):
        # the loser has chosen v1 and is writing it; meanwhile the
        # winner folds and commits v1
        assert base is None
        INC.fold_pages_delta(spark, pages, state_dir)
        committed.update(_tree(os.path.join(state_dir, "v1")))
        INC.write_edge_state(INC.edge_state(_obs(spark, pages)), out)
        return {}

    with pytest.raises(OSError) as err:
        INC.fold_version(state_dir, None, write)
    assert err.value.errno in (errno.ENOTEMPTY, errno.EEXIST)
    assert committed
    assert _tree(os.path.join(state_dir, "v1")) == committed
    assert os.listdir(state_dir) == ["v1"], "staging directory left behind"


def test_vacuum_prunes_old_versions_and_fold_still_equals_rebuild(
    spark, tmp_path, fail_at
):
    """keep_last_k retention: old committed versions are deleted and the
    newest survives — also when the vacuum is interrupted after its
    first delete — and the next fold after a vacuum still equals the
    full rebuild."""
    import shutil

    import pytest

    pages = spark.read.parquet(PAGES)
    urls = sorted(r.url for r in pages.select("url").distinct().collect())
    quarter = max(1, len(urls) // 4)
    parts = [
        pages.where(
            F.col("url").isin(set(urls[i * quarter: (i + 1) * quarter]))
        )
        for i in range(3)
    ] + [pages.where(~F.col("url").isin(set(urls[: 3 * quarter])))]

    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    for d in parts[:3]:
        INC.fold_pages_delta(spark, d, state_dir)
    v3_report = _report(spark, state_dir, 3)
    # interrupted: v1 is deleted, the delete of v2 fails
    fail_at(shutil, "rmtree", call=2)
    with pytest.raises(OSError, match="injected"):
        INC.vacuum_state(state_dir, keep_last_k=1)
    assert not os.path.exists(os.path.join(state_dir, "v1"))
    assert INC.latest_version(state_dir) == 3
    assert _report(spark, state_dir, 3) == v3_report
    # the next vacuum finishes the job
    removed = INC.vacuum_state(state_dir, keep_last_k=1)
    assert removed == [2]
    assert INC.committed_versions(state_dir) == [3]
    assert INC.latest_version(state_dir) == 3

    INC.fold_pages_delta(spark, parts[3], state_dir)  # folds onto v3
    # exact integer law: vacuuming must not lose any folded observation
    # (v4 = all four deltas; probs regroup across batch boundaries at
    # ~1e-6, so counts are the precision-safe comparison)
    v4 = INC.read_edge_state(spark, f"{state_dir}/v4")
    got_obs = v4.stats.agg(F.sum("n_obs")).collect()[0][0]
    want_obs = _obs(spark, pages).count()
    assert got_obs == want_obs
    got_edges = v4.stats.count()
    want_edges = (
        INC.edge_state(_obs(spark, pages)).stats.count()
    )
    assert got_edges == want_edges
    with pytest.raises(ValueError, match="keep_last_k"):
        INC.vacuum_state(state_dir, keep_last_k=0)


def test_empty_delta_fold_is_a_version_bump_noop(spark, tmp_path):
    """A crawl day with zero new pages (routine for continuous
    triggers): the fold must commit a new version whose report is
    byte-identical to the previous one."""
    pages = spark.read.parquet(PAGES)
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    INC.fold_pages_delta(spark, pages, state_dir)
    before = sorted(
        map(
            tuple,
            INC.edge_report(
                INC.read_edge_state(spark, f"{state_dir}/v1")
            ).collect(),
        )
    )
    s = INC.fold_pages_delta(
        spark, pages.where(F.lit(False)), state_dir
    )
    assert s["state_version"] == 2 and not s["replayed"]
    after = sorted(
        map(
            tuple,
            INC.edge_report(
                INC.read_edge_state(spark, f"{state_dir}/v2")
            ).collect(),
        )
    )
    assert after == before


def test_once_run_that_times_out_is_stopped_and_raises(
    spark, tmp_path, monkeypatch
):
    """A ``once=True`` run whose wait times out must stop its query and
    raise, for every stream driver: a query returned still running
    would keep committing versions into ``state_dir`` while the caller
    reads or vacuums it."""
    import pytest
    from pyspark.sql.streaming import StreamingQuery

    pages_dir = str(tmp_path / "pages")
    spark.read.parquet(PAGES).limit(4).write.parquet(pages_dir)
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    runs = {
        "parquet": lambda d: ST.run_stream_to_parquet(
            ST.streaming_triples(spark, pages_dir), f"{d}/out", f"{d}/ckpt"
        ),
        "fold": lambda d: ST.run_streaming_fold(
            spark, pages_dir, f"{d}/state", f"{d}/ckpt",
            canon_state_dir=f"{d}/canon",
        ),
    }
    for name, run in runs.items():
        os.makedirs(tmp_path / name / "state")
        with pytest.raises(TimeoutError):
            run(str(tmp_path / name))
        assert spark.streams.active == [], name
