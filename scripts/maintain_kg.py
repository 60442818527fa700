#!/usr/bin/env python
"""24/7 KG maintenance: fold one crawl delta into the standing graph.

The daily job a production KG runs instead of a full rebuild:

    new pages delta  ->  extract triples (plans/pipeline.py)
                     ->  fold into mergeable per-edge state
                         (operators/incremental.py)
                     ->  merge with the persisted standing state
                     ->  persist the new state version
                     ->  re-emit the edge report + re-resolved
                         functional-predicate conflicts — both computed
                         OFF THE STATE, never re-reading old crawls

    spark-submit --py-files ret_spark.zip scripts/maintain_kg.py \
        --pages /path/to/todays_pages.parquet --state /path/to/kg_state

State versioning: each fold writes the new state into a staging
directory under ``<state>`` and commits it by renaming it to
``<state>/v<N+1>``; the newest ``v*`` directory is the standing state.
The job never overwrites the version it is lazily reading (Spark cannot
overwrite its own input), old versions remain for rollback (prune them
with ``--keep-last-k``), and a crash before the rename is harmless: the
previous version stays current and the next run folds onto it.  A
canonical-map version (``--canon-state``) holds only its fold's segment
plus a manifest of the older segments it is made of; pruning keeps
every segment a kept version lists.

The stage logic lives in :func:`maintain` so tests drive it directly
(tests/test_maintain_kg.py proves a two-day simulation lands on exactly
the single-pass full rebuild — report AND conflicts).

Scale notes: the delta pipeline is the audited narrow extract plan; the
fold is one map-side-combinable groupBy over the standing edge-keyed
state (orders of magnitude smaller than crawls) unioned with the
delta's observations, and one write; conflicts are one partitioned
window over standing stats.  The printed summary carries each fold's
``version_bytes``, the bytes its new version wrote.  Nothing in the
loop scales with total crawl history except the state itself, which is
bounded per edge.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ.setdefault("OMP_NUM_THREADS", "1")


def maintain(
    spark,
    pages,
    state_dir: str,
    keep_last_k: int | None = None,
    canon_state_dir: str | None = None,
):
    """Fold one pages delta into the standing state at ``state_dir``.

    Returns ``(report, conflicts, summary)`` — the refreshed rollup and
    conflict DataFrames (both derived from the new state version) plus a
    JSON-able summary of the fold.  The fold/persist core is
    operators/incremental.py's ``fold_pages_delta``, the same call the
    Structured Streaming fold makes per micro-batch.

    ``canon_state_dir`` additionally folds the delta's entity-mention
    surfaces into the STANDING canonical-component map
    (operators/incremental_canon.py), from the same extraction:
    canonical ids stay stable for entities the delta does not touch —
    the property a 24/7 KG needs that per-run batch canonicalization
    cannot give.  A run has no durable delta id, so a re-run after a
    crash between the edge and canonical commits folds the edge delta
    again (``n_obs`` and the fused score count it twice); the stream
    (``run_streaming_fold``) is exactly-once through its ``batch_id``.
    """
    from relation_extraction_transformer_spark.operators import (
        incremental as INC,
    )
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    summary = INC.fold_pages_delta(
        spark, pages, state_dir, canon_state_dir=canon_state_dir
    )
    if canon_state_dir is not None:
        summary["canon"] = {
            k: summary["canon"][k]
            for k in (
                "state_version", "new_nodes", "touched_components",
                "version_bytes", "live_segments",
            )
        }
        if keep_last_k is not None:
            summary["canon"]["vacuumed"] = INC.vacuum_state(
                canon_state_dir, keep_last_k
            )

    # everything user-facing comes off the persisted state — the raw
    # delta (and every older crawl) is out of the picture from here on
    state = INC.read_edge_state(
        spark, os.path.join(state_dir, f"v{summary['state_version']}")
    )
    report = INC.edge_report(state)
    conflicts = INC.conflicts_from_stats(state.stats, KQ.FUNCTIONAL_PREDS)
    summary = dict(
        summary,
        edges=state.stats.count(),
        conflicted_keys=conflicts.count(),
    )
    if keep_last_k is not None:
        # retention AFTER the fold + reads above: never deletes the
        # version just written (it is the newest committed)
        summary["vacuumed"] = INC.vacuum_state(state_dir, keep_last_k)
    return report, conflicts, summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages delta parquet")
    ap.add_argument("--state", required=True, help="standing state dir")
    ap.add_argument("--report-out", default=None, help="optional parquet out")
    ap.add_argument(
        "--canon-state", default=None,
        help="optional standing canonical-map state dir: the delta's "
        "mention surfaces fold into stable canonical components",
    )
    ap.add_argument(
        "--keep-last-k", type=int, default=None,
        help="retention: vacuum committed state versions (v<N> "
        "directories) older than the newest K — a version whose segments "
        "a kept version still lists is retired, the rest deleted; "
        "default keeps all",
    )
    args = ap.parse_args(argv)
    # Spark's Python workers import the engine too, and they see this
    # process's environment as the session starts, not its sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    )

    from pyspark.sql import SparkSession

    from relation_extraction_transformer_spark.operators import (
        incremental as INC,
    )
    from relation_extraction_transformer_spark.sources import tables as TB

    spark = (
        SparkSession.builder.appName("maintain_kg")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        pages = spark.read.parquet(args.pages)
        report, conflicts, summary = maintain(
            spark, pages, args.state, keep_last_k=args.keep_last_k,
            canon_state_dir=args.canon_state,
        )
        if args.report_out:
            TB.write_table(
                report, os.path.join(args.report_out, "report"),
                fmt="parquet", cluster_by=INC.EDGE_KEYS,
            )
            TB.write_table(
                conflicts, os.path.join(args.report_out, "conflicts"),
                fmt="parquet", cluster_by=["subj", "pred"],
            )
        print(json.dumps(summary))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
