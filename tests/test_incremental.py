"""Incremental KG edge-rollup state: the merge laws that make a 24/7
fold-in pipeline exact — merge==rebuild under any disjoint split,
commutativity/associativity, idempotent sketch state — plus per-edge
distinct-url estimate accuracy in the linear-counting regime."""

import os

import pytest
from pyspark.sql import functions as F

from relation_extraction_transformer_spark.operators import incremental as INC


def _obs_df(spark, n_edges=12, n_urls=40):
    """Synthetic observations: each (subj, pred, obj) edge observed from
    a deterministic subset of urls at spread-out timestamps."""
    rows = []
    for i in range(n_edges):
        edge = (f"s{i % 5}", f"p{i % 3}", f"o{i}")
        for j in range(1 + (i * 7) % 9):
            u = (i * 13 + j * 5) % n_urls
            rows.append(
                (*edge, f"https://h{u % 7}.example/{u}",
                 round(0.5 + ((i + j) % 50) / 100, 2),
                 1_700_000_000 + i * 3600 + j * 60)
            )
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, url string, "
        "prob double, ts long"
    )


def _report_rows(state):
    return sorted(map(tuple, INC.edge_report(state).collect()))


def _rebuilt(obs):
    return _report_rows(INC.edge_state(obs))


def _regs(state):
    """Each edge's packed url sketch, edge key -> tuple of codes."""
    return {
        (r.subj, r.pred, r.obj): tuple(r.regs) for r in state.regs.collect()
    }


@pytest.mark.parametrize("split_col,mod", [("ts", 2), ("url", 3)])
def test_merge_equals_rebuild_for_any_disjoint_split(spark, split_col, mod):
    """state(d1) ⊕ ... ⊕ state(dk) == state(d1 ∪ ... ∪ dk), exactly,
    for splits keyed on different columns and k = 2 and 3."""
    obs = _obs_df(spark)
    full = _rebuilt(obs)
    parts = [
        INC.edge_state(obs.where(F.crc32(F.col(split_col).cast("string")) % mod == i))
        for i in range(mod)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = INC.merge_edge_state(merged, p)
    assert _report_rows(merged) == full


def test_merge_is_commutative_and_associative(spark):
    obs = _obs_df(spark)
    pred = F.crc32(F.col("url")) % 3
    a, b, c = (INC.edge_state(obs.where(pred == i)) for i in range(3))
    ab_c = INC.merge_edge_state(INC.merge_edge_state(a, b), c)
    c_ba = INC.merge_edge_state(c, INC.merge_edge_state(b, a))
    assert _report_rows(ab_c) == _report_rows(c_ba)


def test_redelivered_delta_is_idempotent_except_sums(spark):
    """Folding the same delta twice must not move first/last_seen,
    max_prob, or any url register (max is idempotent); only the two sums
    over what are contractually disjoint deltas — n_obs and the fused
    score — double-count, and they double EXACTLY (DECIMAL sums)."""
    obs = _obs_df(spark)
    once = INC.edge_state(obs)
    twice = INC.merge_edge_state(once, INC.edge_state(obs))
    # report tuple: (*keys, n_obs, first, last, max_prob, fused, est)
    r1 = {t[:3]: t[3:] for t in _report_rows(once)}
    r2 = {t[:3]: t[3:] for t in _report_rows(twice)}
    assert r1.keys() == r2.keys()
    for k in r1:
        (n1, f1, l1, m1, s1, e1) = r1[k]
        (n2, f2, l2, m2, s2, e2) = r2[k]
        assert n2 == 2 * n1 and s2 == 2 * s1
        assert (f1, l1, m1, e1) == (f2, l2, m2, e2)
    assert _regs(once) == _regs(twice)


def test_est_urls_tracks_exact_distinct_in_lc_regime(spark):
    """Per-edge url counts are far below the 1024 registers, so the
    linear-counting estimate should sit within 5% (or 0.5 absolute) of
    the exact per-edge COUNT(DISTINCT url)."""
    obs = _obs_df(spark, n_edges=12, n_urls=40)
    report = {t[:3]: t[-1] for t in _rebuilt(obs)}
    exact = {
        (r.subj, r.pred, r.obj): r.d
        for r in obs.groupBy("subj", "pred", "obj")
        .agg(F.countDistinct("url").alias("d"))
        .collect()
    }
    assert report.keys() == exact.keys()
    for k, est in report.items():
        assert abs(est - exact[k]) <= max(0.5, 0.05 * exact[k]), (
            k, est, exact[k]
        )


def test_register_state_is_bounded_and_partition_invariant(spark):
    """Each edge's sketch holds exactly the pure-Python oracle's
    registers of its urls, one sorted code per bucket, so never more
    than min(distinct urls, 1024) of them; and the state is identical
    under repartitioning of the input."""
    from test_sketches import _decoded, _py_registers

    obs = _obs_df(spark)
    st = INC.edge_state(obs)
    urls = {}
    for r in obs.collect():
        urls.setdefault((r.subj, r.pred, r.obj), set()).add(r.url)
    regs = _regs(st)
    assert regs.keys() == urls.keys()
    for k, codes in regs.items():
        assert _decoded(codes) == _py_registers(urls[k]), k
        assert len(codes) <= min(len(urls[k]), 1024)
    st7 = INC.edge_state(obs.repartition(7))
    assert _regs(st7) == regs
    assert _report_rows(st7) == _report_rows(st)


def test_state_persists_and_folds_after_reload(spark, tmp_path):
    """The 24/7 loop: fold delta 0, persist to parquet, reload in a
    'later job', fold delta 1 into the reloaded state — report must
    equal the full rebuild exactly (merge==rebuild survives the disk
    round-trip, schema intact)."""
    obs = _obs_df(spark)
    d0 = obs.where(F.crc32(F.col("url")) % 2 == 0)
    d1 = obs.where(F.crc32(F.col("url")) % 2 == 1)
    INC.write_edge_state(INC.edge_state(d0), str(tmp_path / "state"))
    loaded = INC.read_edge_state(spark, str(tmp_path / "state"))
    # parquet round-trips relax nullability; names + types must survive
    fresh = INC.edge_state(d0)
    assert [(f.name, f.dataType) for f in loaded.stats.schema] == [
        (f.name, f.dataType) for f in fresh.stats.schema
    ]
    merged = INC.merge_edge_state(loaded, INC.edge_state(d1))
    assert _report_rows(merged) == _rebuilt(obs)


def test_both_folds_report_the_bytes_of_their_version(spark, tmp_path):
    """For the edge and the canonical fold alike, ``version_bytes`` is
    the size of the committed ``v<N>``; a replay wrote nothing and
    reports 0."""
    from test_incremental_canon import _tree_bytes
    from test_tables import _fold_edges

    from relation_extraction_transformer_spark.operators import (
        incremental_canon as IC,
    )

    obs = _obs_df(spark)
    edge_dir = str(tmp_path / "edges")
    for i in range(2):
        s = _fold_edges(spark, obs.where(F.crc32("url") % 2 == i), edge_dir)
        v = os.path.join(edge_dir, f"v{s['state_version']}")
        assert s["version_bytes"] == _tree_bytes(v) > 0
    replay = INC.fold_version(edge_dir, 2, lambda base, out: {})
    assert replay["replayed"] and replay["version_bytes"] == 0

    canon_dir = str(tmp_path / "canon")
    names = spark.createDataFrame(
        [(i, f"name {i:03d}") for i in range(20)], "node_id long, name string"
    )
    c = IC.fold_mentions_delta(spark, names, canon_dir)
    assert c["version_bytes"] == _tree_bytes(
        os.path.join(canon_dir, "v1")) > 0
    replay = IC.fold_mentions_delta(spark, names, canon_dir, version=1)
    assert replay["replayed"] and replay["version_bytes"] == 0


def test_two_dataset_layout_is_refused_before_anything_commits(
    spark, tmp_path
):
    """A version with a ``regs/`` dataset beside ``stats/`` (the layout
    before the sketches moved into the stats rows) is neither read nor
    folded onto: both raise, the fold before it commits, and its
    staging directory is gone."""
    from test_tables import _fold_edges

    obs = _obs_df(spark)
    state_dir = tmp_path / "state"
    _fold_edges(spark, obs, str(state_dir))
    os.makedirs(state_dir / "v1" / "regs")
    with pytest.raises(ValueError, match="two-dataset layout"):
        INC.read_edge_state(spark, str(state_dir / "v1"))
    with pytest.raises(ValueError, match="two-dataset layout"):
        _fold_edges(spark, obs, str(state_dir))
    assert os.listdir(state_dir) == ["v1"]
