"""Lakehouse table IO: Iceberg in production, parquet in this sandbox.

The north rule targets Iceberg tables of web pages and nodes/edges
outputs.  This sandbox ships no Iceberg jars, so the engine routes all
table IO through this module: the SAME DataFrame code path, with the
format switched by ``RETS_TABLE_FORMAT`` (or the ``fmt`` argument).

Iceberg specifics handled here when enabled:
- writes go through ``writeTo(table).createOrReplace()`` (catalog tables,
  not paths), picking up partition specs via ``partitionedBy``
- reads use ``spark.read.table`` so snapshot isolation / time travel work
- dynamic partition overwrite (``mode="dynamic"``) maps to
  ``overwritePartitions()``

Storage layout: every batch parquet file the engine writes comes from
:func:`write_table`, compressed with :data:`PARQUET_CODEC` (zstd,
Iceberg's default parquet codec since 1.4, which the Iceberg branch
leaves to the table's properties) and with each output partition
sorted by the table's key, which each call site fixes as
``cluster_by``:

- graph ``nodes`` by ``canonical_id``; ``edges`` by ``(src, pred, dst)``
- edge state ``stats`` by ``(subj, pred, obj)``
- canonical-map ``nodes`` segments by ``node_id``
- the maintenance report by ``(subj, pred, obj)``; conflicts by
  ``(subj, pred)``
- resumable triples by ``(url, sent_id, pair_id)``; bucketed pages by
  ``url``; the lineage manifest by ``bucket``

The graph, state and triples keys are unique per row, so those files'
contents do not depend on the order in which a task met its rows.  The
sort is a ``sortWithinPartitions``: no shuffle and no extra job.
Parquet files written with another codec (state written before zstd
was the codec) stay readable: each column chunk records its codec.

To enable on a real cluster:
    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hive ... \
      RETS_TABLE_FORMAT=iceberg ...
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the parquet codec of every file the engine writes
PARQUET_CODEC = "zstd"


def table_format() -> str:
    return os.environ.get("RETS_TABLE_FORMAT", "parquet").lower()


def read_table(spark: SparkSession, location: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or table_format()
    if fmt == "iceberg":
        return spark.read.table(location)
    return spark.read.parquet(location)


def write_table(
    df: DataFrame,
    location: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
) -> None:
    """Write ``df`` as a table: the one batch parquet writer of the
    engine.  ``mode`` is a Spark save mode, or ``"dynamic"``: replace
    only the ``partition_by`` partitions ``df`` holds rows for.
    ``cluster_by`` is the table's key: each output partition is sorted
    by ``partition_by + cluster_by`` before it is written."""
    fmt = fmt or table_format()
    if cluster_by:
        df = df.sortWithinPartitions(*(partition_by or []), *cluster_by)
    if fmt == "iceberg":
        w = df.writeTo(location)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            w.createOrReplace()
        elif mode == "append":
            w.append()
        else:  # dynamic
            w.overwritePartitions()
        return
    w = df.write.option("compression", PARQUET_CODEC)
    if mode == "dynamic":
        w = w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        w = w.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(location)
