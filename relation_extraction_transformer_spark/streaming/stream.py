"""Structured Streaming operators: incremental page/event ingestion.

The reference is pure batch (SURVEY §2.7); these are the Spark-native
incremental forms of the same computations for continuously crawled pages:

- ``streaming_triples``: readStream over a pages directory -> the SAME
  candidate/inference plan (the plan is stream-batch agnostic because it
  is narrow until the inference UDF, which is stateless per row),
- ``windowed_event_counts``: watermarked tumbling-window aggregation over
  an events stream (late data bounded by the watermark),
- ``run_stream_to_parquet``: a parquet sink, resumable through Spark's
  streaming offset log,
- ``run_streaming_fold``: the 24/7 fold as a ``foreachBatch`` sink;
  each micro-batch folds into the standing edge state and, optionally,
  the canonical map through the batch script's one fold
  (``incremental.fold_pages_delta``), exactly-once through the durable
  ``batch_id`` recorded in Spark's streaming offset log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_PIPELINE
from ..plans import pipeline as PL
from ..sources import tables as TB

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

#: seconds a ``once=True`` run may take before it is stopped
_ONCE_TIMEOUT_S = 300


def _read_pages(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def _start(writer, once: bool):
    """Start ``writer``.  ``once=True`` processes all available input
    and returns the query only after it has terminated; a run that
    outlasts ``_ONCE_TIMEOUT_S`` is stopped and raises ``TimeoutError``,
    so no query is left writing behind the caller."""
    if not once:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(_ONCE_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.id} did not finish within "
            f"{_ONCE_TIMEOUT_S} s; stopped"
        )
    return q


def streaming_triples(
    spark: SparkSession,
    pages_dir: str,
    cfg: PipelineConfig = DEFAULT_PIPELINE,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """readStream(pages parquet dir) -> streaming triples DataFrame.

    The batch plan composes unchanged onto a streaming source because every
    stage before the sink is stateless (no global aggregation on the hot
    path) — exactly why the candidate pipeline was built narrow."""
    pages = _read_pages(spark, pages_dir, max_files_per_trigger)
    return PL.triples_plan(pages, spark, cfg=cfg, keep_probs=False)


def windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (the streaming
    form of the ``tumbling_hourly_counts`` batch query)."""
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "value_cents",
        )
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    once: bool = True,
):
    """Drive a streaming DataFrame into parquet with offset checkpointing;
    ``once=True`` processes all available input then stops (test/batch-
    catchup mode); a run that does not finish in time is stopped and
    raises ``TimeoutError``."""
    # parquet sink supports append only; the watermark finalizes windows so
    # the windowed aggregation is append-compatible
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .format("parquet")
        .option("compression", TB.PARQUET_CODEC)
        .option("path", out_path)
    )
    return _start(writer, once)


def streaming_hll_registers(
    spark: SparkSession, docs_dir: str, schema: str, text_col: str = "text"
) -> DataFrame:
    """Streaming distinct-token cardinality: the HyperLogLog register
    fold (functions/sketches.py) expressed as a STANDARD streaming
    aggregation — ``groupBy(bucket).agg(max(rho))`` over the tokenized
    stream.  No custom stateful operator needed: register state is
    BOUNDED at HLL_M rows (1024) no matter how many tokens stream
    through, which is exactly the sketch property that makes a
    complete-mode distinct-count scale-safe where the exact streaming
    ``COUNT(DISTINCT)`` (unbounded key state) is not.  The emitted
    register frame feeds ``sketches.hll_estimate`` / ``hll_merge``
    unchanged — a batch sketch and a streamed sketch of
    the same data are identical rows (tests pin this)."""
    from pyspark.sql import functions as F

    from ..functions import sketches as SK

    docs = spark.readStream.schema(schema).parquet(docs_dir)
    toks = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return SK.hll_registers(toks, "tok")


def run_streaming_fold(
    spark: SparkSession,
    pages_dir: str,
    state_dir: str,
    checkpoint_path: str,
    canon_state_dir: str | None = None,
    max_files_per_trigger: int = 8,
    once: bool = True,
):
    """Always-on KG maintenance, the streaming form of
    scripts/maintain_kg.py: ``foreachBatch`` folds each micro-batch of
    crawled pages into the edge state under ``state_dir`` and, given
    ``canon_state_dir``, the canonical map there, by one
    ``operators/incremental.py::fold_pages_delta`` call.

    Exactly-once state: the fold version is ``batch_id + 1``, stable
    across restarts through Spark's offset checkpoint, so a re-delivered
    batch replays its committed versions.  State stays bounded per edge
    and per name however long the stream runs.  The stream owns both
    state directories: do not point it at one already advanced by the
    batch script (those versions would read as replays)."""
    from ..operators import incremental as INC

    pages = _read_pages(spark, pages_dir, max_files_per_trigger)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        INC.fold_pages_delta(
            spark, batch_df, state_dir, version=int(batch_id) + 1,
            canon_state_dir=canon_state_dir,
        )

    writer = pages.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_path
    )
    return _start(writer, once)
