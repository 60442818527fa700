"""Incremental entity canonicalization (operators/incremental_canon.py).

Laws under test:
- fold(d1); fold(d2) == rebuild(d1 ∪ d2) exactly, at two split keys
  (the standing band index, derived from the standing names and never
  persisted, makes the union of per-fold candidate pairs identical to
  the batch pair set, and reduced-graph min-labels equal global
  min-labels).
- stable ids: a delta that does not touch a standing component leaves
  every (node_id, component) row of that component byte-identical.
- a delta node bridging two standing components merges them to the
  global min id, relabeling ONLY the touched components.

The bridge fixture is tuned against the repo's real LSH parameters
(k=8, 2 bands x 4 rows): 'alpha'/'beta' variants do NOT band-collide
(J~0.82), while 'alpha bet' collides with both (J 0.89/0.80) — md5
minhash is deterministic, so these facts are frozen."""

import math
import os

import pytest
from pyspark.sql import functions as F

from relation_extraction_transformer_spark.operators import (
    canonicalize as CANON,
)
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
    nodes = IC.canon_state(_df(spark, rows))
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


# ---- the segment log: each version writes only what its fold added ----


def _tree_bytes(path):
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _unrelated(i):
    """A surface sharing no trigram run with any other index's."""
    letters = "".join(chr(97 + (i * 7 + k * 11) % 26) for k in range(6))
    return f"{letters} {i:05d} standing"


def test_version_bytes_do_not_grow_with_the_standing_map(spark, tmp_path):
    delta = [(100_000, "glimmering sasquatch syndicate western canyons"),
             (100_001, "glimmering sasquatch syndicate western canyonz")]
    written = []
    for n in (40, 400):
        state_dir = str(tmp_path / f"state{n}")
        os.makedirs(state_dir)
        IC.fold_mentions_delta(
            spark, _df(spark, [(i, _unrelated(i)) for i in range(n)]),
            state_dir,
        )
        s = IC.fold_mentions_delta(spark, _df(spark, delta), state_dir)
        assert s["new_nodes"] == 2 and s["touched_components"] == 0
        assert s["version_bytes"] == _tree_bytes(
            os.path.join(state_dir, "v2"))
        assert s["live_segments"] == {"nodes": 2}
        written.append(s["version_bytes"])
    small, large = written
    assert abs(large - small) <= 0.1 * small, written


def _days():
    """Two-name daily deltas: unrelated surfaces, plus variants that
    join earlier days' components — day 4's bridge merges the two
    standing components of day 0 (see the module doc)."""
    days = [[(10, f"{_STEM} alpha"), (20, f"{_STEM} beta")]]
    days += [[(1000 + 2 * d, _unrelated(2 * d)),
              (1001 + 2 * d, _unrelated(2 * d + 1))] for d in range(1, 8)]
    days[2][1] = (40, f"{_STEM2} alpha")
    days[4][1] = (30, f"{_STEM} alpha bet")
    days[6][1] = (41, f"{_STEM2} alphq")
    return days


def test_segment_log_stays_logarithmic_and_equals_rebuild(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    seen, live, merges = [], {"nodes": 0}, {}
    for folds, day in enumerate(_days(), start=1):
        seen += day
        s = IC.fold_mentions_delta(spark, _df(spark, day), state_dir)
        assert _nodes_map(spark, state_dir, folds) == _rebuild_map(
            spark, seen)
        for d, n in s["live_segments"].items():
            assert n <= 1 + math.ceil(math.log2(folds)), (folds, d, n)
            merges[d] = merges.get(d, 0) + (n <= live[d])
        live = s["live_segments"]
    assert s["touched_components"] == 0 and min(merges.values()) >= 2
    # the band index is derived from the names: no version stores it
    for v in range(1, 9):
        assert sorted(os.listdir(os.path.join(state_dir, f"v{v}"))) == [
            "manifest.json", "nodes"]


def _listed_files(state_dir, version):
    """Every file the manifest of ``version`` lists, by segment."""
    manifest = INC.read_manifest(os.path.join(state_dir, f"v{version}"))
    return {
        (k, d): sorted(
            (f, os.path.getsize(os.path.join(INC.segment_path(
                state_dir, k, d), f)))
            for f in os.listdir(INC.segment_path(state_dir, k, d))
        )
        for d, segs in manifest.items()
        for k, _rows in segs
    }


def test_vacuum_retires_listed_segments_and_keeps_the_map(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    days = _days()
    for day in days[:3]:
        IC.fold_mentions_delta(spark, _df(spark, day), state_dir)
    before = _listed_files(state_dir, 3)
    assert {k for k, _ in before} == {2, 3}, "fixture drifted: no v2 segment"
    v3 = _nodes_map(spark, state_dir, 3)
    assert INC.vacuum_state(state_dir, 1) == [1, 2]
    assert INC.committed_versions(state_dir) == [3]
    assert _listed_files(state_dir, 3) == before
    assert sorted(os.listdir(state_dir)) == ["_r2", "v3"]
    assert sorted(os.listdir(os.path.join(state_dir, "_r2"))) == sorted(
        d for k, d in before if k == 2)
    assert _nodes_map(spark, state_dir, 3) == v3
    # the next fold reads the retired segments; once no kept manifest
    # lists them, the next vacuum deletes them
    IC.fold_mentions_delta(spark, _df(spark, days[3]), state_dir)
    assert _nodes_map(spark, state_dir, 4) == _rebuild_map(
        spark, [r for day in days[:4] for r in day])
    assert INC.vacuum_state(state_dir, 1) == [3]
    assert sorted(os.listdir(state_dir)) == ["v4"]


def test_crash_at_commit_of_a_merging_fold_keeps_the_previous_version(
    spark, tmp_path, fail_at
):
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    days = _days()
    for day in days[:3]:
        IC.fold_mentions_delta(spark, _df(spark, day), state_dir)
    INC.vacuum_state(state_dir, 1)
    listing = sorted(os.listdir(state_dir))
    v3 = _nodes_map(spark, state_dir, 3)
    # day 3's fold merges both node segments into one
    assert len(INC.read_manifest(os.path.join(state_dir, "v3"))["nodes"]) == 2
    fail_at(os, "rename")
    with pytest.raises(OSError, match="injected"):
        IC.fold_mentions_delta(spark, _df(spark, days[3]), state_dir)
    assert sorted(os.listdir(state_dir)) == listing
    assert INC.latest_version(state_dir) == 3
    assert _nodes_map(spark, state_dir, 3) == v3
    s = IC.fold_mentions_delta(spark, _df(spark, days[3]), state_dir)
    assert s["state_version"] == 4 and s["live_segments"] == {"nodes": 1}
    assert _nodes_map(spark, state_dir, 4) == _rebuild_map(
        spark, [r for day in days[:4] for r in day])


def test_a_state_with_a_stored_band_index_folds_and_vacuums_it(
    spark, tmp_path
):
    """A state written when the band index was still stored lists a
    ``bands`` dataset in its manifest: it still folds, the new version's
    manifest drops the entry, and the next vacuum deletes the band
    segments."""
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    days = _days()
    first = days[0] + days[1]
    IC.fold_mentions_delta(spark, _df(spark, first), state_dir)
    v1 = os.path.join(state_dir, "v1")
    bands = CANON.minhash_band_hashes(_df(spark, first), "name")
    bands.write.parquet(os.path.join(v1, "bands"))
    manifest = INC.read_manifest(v1)
    INC.write_manifest(v1, {**manifest, "bands": [[1, bands.count()]]})
    s = IC.fold_mentions_delta(spark, _df(spark, days[2]), state_dir)
    assert s["live_segments"] == {"nodes": 2}, "fixture drifted: v2 merged"
    want = _rebuild_map(spark, first + days[2])
    assert _nodes_map(spark, state_dir, 2) == want
    assert "bands" not in INC.read_manifest(os.path.join(state_dir, "v2"))
    assert INC.vacuum_state(state_dir, 1) == [1]
    assert sorted(os.listdir(state_dir)) == ["_r1", "v2"]
    assert not [d for d, sub, _ in os.walk(state_dir) if "bands" in sub]
    assert _nodes_map(spark, state_dir, 2) == want
