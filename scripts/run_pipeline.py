#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (north-rule shape):

    zip -r ret_spark.zip relation_extraction_transformer_spark
    spark-submit --py-files ret_spark.zip scripts/run_pipeline.py \
        --pages s3://bucket/pages_iceberg_or_parquet \
        --out   s3://bucket/kg_out \
        --run-id 2026-08-16-a --n-buckets 4096 --buckets-per-group 64

Sandbox smoke:

    python scripts/run_pipeline.py --synthetic 500 \
        --out /tmp/kg_out --run-id demo

The job is checkpoint-resumable: rerunning with the same --out skips
buckets recorded in the manifest (see plans/lineage.py).  After triples,
--build-graph materializes canonical nodes/edges.
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ.setdefault("OMP_NUM_THREADS", "1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table path (parquet/Iceberg)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --pages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-group", type=int, default=4)
    ap.add_argument("--build-graph", action="store_true")
    ap.add_argument("--salt-partitions", type=int, default=0,
                    help="salted repartition width before inference (0=off)")
    args = ap.parse_args()
    # Spark's Python workers import the engine too, and they see this
    # process's environment as the session starts, not its sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"kg-pipeline-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from relation_extraction_transformer_spark.functions import skew as SKEW
    from relation_extraction_transformer_spark.plans import lineage as LIN
    from relation_extraction_transformer_spark.sources import pages as PG

    if args.synthetic:
        pages = PG.synthetic_pages(spark, args.synthetic, seed=42)
    else:
        # routes through the lakehouse IO layer: parquet path here,
        # Iceberg catalog table when RETS_TABLE_FORMAT=iceberg (see
        # sources/tables.py for the spark-submit --packages/--conf recipe)
        from relation_extraction_transformer_spark.sources import tables as TB

        pages = TB.read_table(spark, args.pages)

    if args.salt_partitions:
        pages = pages.withColumn(
            "host", SKEW.host_of(pages["url"])
        )
        pages = SKEW.salted_repartition(
            pages, ["host", "lang"], args.salt_partitions
        ).drop("host")

    report = LIN.materialize_triples_resumable(
        spark, pages, args.out, run_id=args.run_id,
        n_buckets=args.n_buckets, buckets_per_group=args.buckets_per_group,
    )
    print(
        f"run {report.run_id}: buckets done={len(report.buckets_done)} "
        f"skipped={len(report.buckets_skipped)} rows={report.rows_out}"
    )

    if args.build_graph:
        from relation_extraction_transformer_spark.plans import graph as GR

        triples = spark.read.parquet(f"{args.out}/triples")
        nodes, edges = GR.build_graph(triples, spark)
        GR.write_graph(nodes, edges, args.out)
        print(
            f"graph: nodes={spark.read.parquet(args.out + '/nodes').count()} "
            f"edges={spark.read.parquet(args.out + '/edges').count()}"
        )

    spark.stop()


if __name__ == "__main__":
    main()
