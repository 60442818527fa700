"""Incremental entity canonicalization (operators/incremental_canon.py).

Laws under test:
- fold(d1); fold(d2) == rebuild(d1 ∪ d2) exactly, at two split keys
  (the persisted band index makes the union of per-fold candidate pairs
  identical to the batch pair set, and reduced-graph min-labels equal
  global min-labels).
- stable ids: a delta that does not touch a standing component leaves
  every (node_id, component) row of that component byte-identical.
- a delta node bridging two standing components merges them to the
  global min id, relabeling ONLY the touched components.

The bridge fixture is tuned against the repo's real LSH parameters
(k=8, 2 bands x 4 rows): 'alpha'/'beta' variants do NOT band-collide
(J~0.82), while 'alpha bet' collides with both (J 0.89/0.80) — md5
minhash is deterministic, so these facts are frozen."""

import os

import pytest
from pyspark.sql import functions as F

from relation_extraction_transformer_spark.operators import (
    incremental as INC,
)
from relation_extraction_transformer_spark.operators import (
    incremental_canon as IC,
)

_STEM = "kumquat zeppelin orchestra northern fjords"
_STEM2 = "walrus xylophone collective southern deserts"
_STEM3 = "quixotic brambleberry federation eastern plateaus"


def _df(spark, rows):
    return spark.createDataFrame(rows, "node_id long, name string")


def _nodes_map(spark, state_dir, v):
    nodes, _ = IC.read_canon_state(spark, os.path.join(state_dir, f"v{v}"))
    return {(r.node_id): (r.name, r.component) for r in nodes.collect()}


def _rebuild_map(spark, rows):
    nodes, _ = IC.canon_state(_df(spark, rows))
    return {(r.node_id): (r.name, r.component) for r in nodes.collect()}


def _corpus():
    """Three groups of near-identical variants + singletons; global ids."""
    names = []
    for stem in (_STEM, _STEM2, _STEM3):
        names += [f"{stem} alpha", f"{stem} alphq", f"{stem} alpha x"]
    names += ["solitary unmatched surface one", "another lonely surface two"]
    return list(enumerate(names))


@pytest.mark.parametrize("split", ["half", "interleave"])
def test_fold_equals_rebuild(spark, tmp_path, split):
    rows = _corpus()
    if split == "half":
        d1, d2 = rows[: len(rows) // 2], rows[len(rows) // 2:]
    else:
        d1, d2 = rows[0::2], rows[1::2]
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    s1 = IC.fold_mentions_delta(spark, _df(spark, d1), state_dir)
    assert s1["bootstrap"] and s1["state_version"] == 1
    s2 = IC.fold_mentions_delta(spark, _df(spark, d2), state_dir)
    assert s2["state_version"] == 2 and not s2["replayed"]
    assert _nodes_map(spark, state_dir, 2) == _rebuild_map(spark, rows)


def test_untouched_components_keep_their_ids(spark, tmp_path):
    rows = _corpus()
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    IC.fold_mentions_delta(spark, _df(spark, rows), state_dir)
    before = _nodes_map(spark, state_dir, 1)
    # a delta of entirely unrelated new surfaces
    delta = [(100, "glimmering sasquatch syndicate western canyons"),
             (101, "glimmering sasquatch syndicate western canyonz")]
    s = IC.fold_mentions_delta(spark, _df(spark, delta), state_dir)
    assert s["new_nodes"] == 2 and s["touched_components"] == 0
    after = _nodes_map(spark, state_dir, 2)
    for nid, val in before.items():
        assert after[nid] == val, f"standing node {nid} relabeled"
    assert after[100][1] == after[101][1] == 100  # new pair, min id


def test_bridge_merges_standing_components_min_id_wins(spark, tmp_path):
    # bootstrap: alpha/beta variants of one stem do NOT band-collide ->
    # two standing singleton components (frozen LSH fact, see module doc)
    a, b = f"{_STEM} alpha", f"{_STEM} beta"
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    IC.fold_mentions_delta(spark, _df(spark, [(10, a), (20, b)]), state_dir)
    v1 = _nodes_map(spark, state_dir, 1)
    assert v1[10][1] == 10 and v1[20][1] == 20, "fixture drifted: expected 2 comps"
    # the bridge collides with BOTH and verifies >= 0.6 against both
    bridge = [(30, f"{_STEM} alpha bet")]
    s = IC.fold_mentions_delta(spark, _df(spark, bridge), state_dir)
    assert s["touched_components"] == 1  # comp 20 relabeled; comp 10 kept
    v2 = _nodes_map(spark, state_dir, 2)
    assert v2[10][1] == v2[20][1] == v2[30][1] == 10
    # and the fold equals the batch rebuild over all three
    assert v2 == _rebuild_map(
        spark, [(10, a), (20, b)] + bridge
    )


def test_replay_is_noop_and_crash_before_commit_keeps_previous_version(
    spark, tmp_path, fail_at
):
    rows = _corpus()
    d1, d2 = rows[:5], rows[5:]
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    IC.fold_mentions_delta(spark, _df(spark, d1), state_dir)
    IC.fold_mentions_delta(spark, _df(spark, d2), state_dir)
    v2 = _nodes_map(spark, state_dir, 2)
    # streaming replay of a committed version: no-op
    s = IC.fold_mentions_delta(spark, _df(spark, d2), state_dir, version=2)
    assert s["replayed"] is True
    assert _nodes_map(spark, state_dir, 2) == v2
    # crash after the state write, before the rename commits it
    delta = [(200, "freshly crawled surface after the crash")]
    fail_at(os, "rename")
    with pytest.raises(OSError, match="injected"):
        IC.fold_mentions_delta(spark, _df(spark, delta), state_dir)
    assert INC.latest_version(state_dir) == 2
    assert _nodes_map(spark, state_dir, 2) == v2
    assert sorted(os.listdir(state_dir)) == ["v1", "v2"]
    # the same delta folds again as the next version, on top of v2
    s = IC.fold_mentions_delta(spark, _df(spark, delta), state_dir)
    assert s["state_version"] == 3 and not s["replayed"]
    v3 = _nodes_map(spark, state_dir, 3)
    assert set(v3) == set(v2) | {200}
    for nid, val in v2.items():
        assert v3[nid] == val
    # vacuum: old versions pruned, state intact
    removed = INC.vacuum_state(state_dir, 1)
    assert removed == [1, 2]
    assert INC.committed_versions(state_dir) == [3]
    assert _nodes_map(spark, state_dir, 3) == v3
