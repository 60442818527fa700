#!/usr/bin/env python
"""Query timing and plan-dump tool.

Separate from the FROZEN bench.py: this file times registered queries
into noop sinks and dumps normalized ``.explain("formatted")`` plans.
Per-layer splits of the pipeline and the folds come from
``perfbench/run.py --trace 1``.  Usage:

    python bench_extra.py queries q1_pricing_summary dup_clusters ...
    python bench_extra.py plans OUT_DIR [names...]   # dump explain(formatted)

A plan dump also holds the plan of every frame the query
``localCheckpoint``s on its way, in order: an iterative operator's
rounds run behind those checkpoints, so its final plan alone is one
``Scan ExistingRDD``.

Environment contract matches bench.py ($SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS); numbers printed here never go into the driver's
JSON line.
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

# reuse bench.py's session and paths so configs match
from bench import CPUS, SF_DIR, make_spark  # noqa: E402


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
    ... -> ``v0``, ``v1``, ...), ``#<exprId>`` suffixes, ``plan_id=``,
    ``RDD[<id>]`` and the random names of ``Observation``s.  Lambda
    variables are keyed by exprId, not name, so a name reused across
    lambdas (SQL text) and a fresh name per lambda (the Column API)
    normalize alike."""
    text = text.replace(os.path.dirname(os.path.abspath(__file__)), "<repo>")
    text = text.replace(os.path.abspath(SF_DIR), "<sf_dir>")
    text = _renumber(r"lambda \w+#(\d+)", "lambda v{}", text)
    text = _renumber(r"#(\d+)", "#{}", text)
    text = _renumber(r"plan_id=(\d+)", "plan_id={}", text)
    text = _renumber(r"RDD\[(\d+)\]", "RDD[{}]", text)
    return _renumber(
        r"\b([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})\b",
        "observation{}", text,
    )


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def section_plans(spark, out_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entry
    from pyspark.sql.classic.dataframe import DataFrame

    qs = entry.queries()
    # match the bench's warehouse-section scan config so adaptive reads
    # (tb) see the same split counts the timed run sees
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    os.makedirs(out_dir, exist_ok=True)
    real_checkpoint = DataFrame.localCheckpoint
    for name in names:
        checkpoints: list[str] = []

        def recorded(df, *args, **kwargs):
            checkpoints.append(_explain(df))
            return real_checkpoint(df, *args, **kwargs)

        DataFrame.localCheckpoint = recorded
        try:
            df = qs[name](spark, SF_DIR)
        finally:
            DataFrame.localCheckpoint = real_checkpoint
        plan = "".join(
            f"== localCheckpoint {i} ==\n{p}\n"
            for i, p in enumerate(checkpoints, 1)
        ) + _explain(df)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(normalize_plan(plan))
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode not in ("queries", "plans"):
        raise SystemExit(__doc__)
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "queries":
        section_queries(spark, sys.argv[2:])
    else:
        section_plans(spark, sys.argv[2], sys.argv[3:])
    spark.stop()


if __name__ == "__main__":
    main()
