"""24/7 KG maintenance loop: a two-day fold-in simulation over the
frozen crawl must land on exactly the single-pass full rebuild — the
edge report AND the re-resolved conflicts — and state versions must
accumulate without the job ever overwriting the version it reads."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from maintain_kg import maintain  # noqa: E402

from relation_extraction_transformer_spark.operators import (  # noqa: E402
    incremental as INC,
)
from relation_extraction_transformer_spark.plans import kg_sql as KQ  # noqa: E402
from relation_extraction_transformer_spark.plans import pipeline as PL  # noqa: E402

PAGES = KQ.PAGES_PARQUET
SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "maintain_kg.py",
)


@pytest.fixture(scope="module")
def split_pages(spark):
    pages = spark.read.parquet(PAGES)
    parity = F.crc32("url") % 2
    return pages.where(parity == 0), pages.where(parity == 1), pages


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_two_day_fold_equals_full_rebuild(spark, tmp_path, split_pages):
    day1, day2, full = split_pages
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)

    _, _, s1 = maintain(spark, day1, state_dir)
    assert s1["bootstrap"] and s1["state_version"] == 1
    report2, conflicts2, s2 = maintain(spark, day2, state_dir)
    assert not s2["bootstrap"] and s2["state_version"] == 2
    # both versions persisted, nothing else left in the state dir
    assert sorted(os.listdir(state_dir)) == ["v1", "v2"]

    # single-pass rebuild from the full crawl
    triples = PL.triples_plan(full, spark, keep_probs=False)
    obs = triples.select("url", "subj", "pred", "obj", "prob").join(
        full.select(
            "url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")
        ),
        "url",
    )
    rebuilt = INC.edge_state(obs)
    assert _rows(report2) == _rows(INC.edge_report(rebuilt))
    assert s2["edges"] == rebuilt.stats.count()

    # conflicts off standing state == the registered kg_conflicts query
    # over the same triples (one window implementation serves both)
    assert _rows(conflicts2) == _rows(
        KQ._kg_conflicts_spark(spark, "", triples=triples)
    )
    assert s2["conflicted_keys"] == len(_rows(conflicts2))


def test_two_day_canon_fold_equals_batch_rebuild(spark, tmp_path, split_pages):
    """With --canon-state, the 24/7 loop also maintains the standing
    canonical-component map: two daily folds must land on exactly the
    batch canon_state over the full crawl's mention surfaces, and day 2
    must not relabel components it does not touch.

    Day 1 is the quarter of the crawl with ``crc32(url) % 4 == 0``: the
    fixture's parity split puts every day-2 name in day 1 already, so
    day 2 would add no node.  This split makes day 2 add names
    (``new_nodes > 0``), so the fold of new names is checked.  The
    crawl cannot reach the merge path: its 127 names have no verified
    near-duplicate pair.  The merge path is guarded by
    test_incremental_canon.py and the ``kg_canonical_map_incremental``
    oracle, which plants near-duplicates."""
    from relation_extraction_transformer_spark.operators import (
        incremental_canon as IC,
    )
    from relation_extraction_transformer_spark.operators import (
        linking as LINK,
    )

    full = split_pages[2]
    quarter = F.crc32("url") % 4 == 0
    day1, day2 = full.where(quarter), full.where(~quarter)
    state_dir = str(tmp_path / "state")
    canon_dir = str(tmp_path / "canon")
    os.makedirs(state_dir)
    os.makedirs(canon_dir)

    _, _, s1 = maintain(spark, day1, state_dir, canon_state_dir=canon_dir)
    assert s1["canon"]["state_version"] == 1
    nodes1, _ = IC.read_canon_state(spark, os.path.join(canon_dir, "v1"))
    before = {r.node_id: r.component for r in nodes1.collect()}

    _, _, s2 = maintain(spark, day2, state_dir, canon_state_dir=canon_dir)
    assert s2["canon"]["state_version"] == 2
    assert s2["canon"]["new_nodes"] > 0, "day 2 must add names to fold"
    nodes2, _ = IC.read_canon_state(spark, os.path.join(canon_dir, "v2"))
    after = {r.node_id: r.component for r in nodes2.collect()}

    def mentions(pages):
        triples = PL.triples_plan(pages, spark, keep_probs=False)
        return (
            triples.select(F.col("subj").alias("surface"))
            .unionAll(triples.select(F.col("obj").alias("surface")))
            .select(LINK.normalize_surface(F.col("surface")).alias("name"))
            .distinct()
            .select(LINK.stable_id(F.col("name")).alias("node_id"), "name")
        )

    rebuilt_nodes = IC.canon_state(mentions(full))
    want = {r.node_id: r.component for r in rebuilt_nodes.collect()}
    assert after == want, "fold-fold != batch rebuild"

    # stable-id law: day-1 nodes whose final component was already
    # closed on day 1 keep their id (only merged components may move)
    moved = {n for n, c in before.items() if after[n] != c}
    for n in moved:
        # every moved node's new component must be a day-2 merge target
        # (its component now contains a day-2-connected node), never a
        # gratuitous relabel: the new label is the global min, <= old
        assert after[n] <= before[n]


def test_maintain_with_canon_state_extracts_the_delta_once(
    spark, tmp_path, split_pages, monkeypatch
):
    """One ``maintain`` call with a canonical-map state runs the
    extraction (``triples_plan``: scan -> candidates -> inference UDF)
    once; both folds read the same checkpointed observation rows."""
    from relation_extraction_transformer_spark.operators import (
        incremental_canon as IC,
    )

    day1, _, _ = split_pages
    state_dir, canon_dir = str(tmp_path / "state"), str(tmp_path / "canon")
    os.makedirs(state_dir)
    os.makedirs(canon_dir)
    real, builds = PL.triples_plan, []

    def counted(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(PL, "triples_plan", counted)
    _, _, s = maintain(spark, day1, state_dir, canon_state_dir=canon_dir)
    assert len(builds) == 1
    monkeypatch.setattr(PL, "triples_plan", real)

    obs = INC.page_observations(spark, day1)
    assert s["state_version"] == 1 and s["canon"]["state_version"] == 1
    assert s["edges"] == INC.edge_state(obs).stats.count()
    assert s["canon"]["new_nodes"] == IC.mention_names(obs).count()
    assert s["canon"]["touched_components"] == 0
    assert s["canon"]["live_segments"] == {"nodes": 1}
    assert s["canon"]["version_bytes"] > 0


def test_script_runs_from_outside_the_checkout(tmp_path):
    """``python scripts/maintain_kg.py`` started outside the checkout
    with no PYTHONPATH: the Python workers of the script's session import
    the engine as its driver does, and the fold commits ``v1``."""
    import json
    import subprocess

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    state_dir = tmp_path / "state"
    state_dir.mkdir()
    run = subprocess.run(
        [sys.executable, SCRIPT, "--pages", PAGES, "--state", str(state_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert sorted(os.listdir(state_dir)) == ["v1"]
    assert json.loads(run.stdout.splitlines()[-1])["state_version"] == 1
