"""Scale-safe sequence packing for pretraining corpora.

Sequence packing concatenates documents in a deterministic global order
and cuts the token stream into fixed-length packs (the "document
concatenation" scheme used to build LLM training sequences).  The
defining computation is a GLOBAL running token total ordered by doc id
— which, written as a single ``Window.orderBy(...)`` with no
``partitionBy``, forces every row through ONE task (an ``Exchange
SinglePartition``): fine at test scale, a scale-killer at 100 TB.

This module implements the distributed two-phase form:

  Phase A  — assign each row a *contiguous range shard* of the order
             column (deterministic arithmetic on ``(min, max)``, no
             sampling, so the assignment is reproducible across runs and
             engines), then run the cumsum per shard with a PARTITIONED
             window — all shards in parallel.
  Phase B  — per-shard token totals form a table of only ``n_shards``
             rows; their exclusive prefix sums (the shard offsets) are
             computed driver-side (a bounded, vocabulary-style collect)
             and broadcast-joined back.  No SinglePartition exchange
             anywhere in the plan.

The output is row-identical to the global-window form for ANY shard
count (tests/test_packing.py asserts this, and that the plan contains
no SinglePartition exchange).

Reference parity note: the reference repo has no packing operator; this
is a mandated LLM-training-data-pipeline addition (see SURVEY.md §2
extensions).  The global-window twin lives only in the DuckDB oracle
(plans/sql_queries.py ``pack_segments``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SHARD = "_pack_shard"
_LCUM = "_pack_local_cum"
_OFFSET = "_pack_shard_offset"


def _shard_expr(order_col: str, lo: int, hi: int, n_shards: int):
    """Deterministic contiguous range shard of a numeric order column.

    ``(x - lo) // ceil(span / n)`` maps the closed id range onto
    ``[0, n)`` with order-contiguous buckets — unlike
    ``repartitionByRange`` there is no sampled boundary, so phases A and
    B agree without persisting the sharded frame.  Computed in
    ``decimal(38,0)``: exact for hash-derived doc ids spanning the whole
    int64 range (the previous ``(x - lo) * n / span`` long form
    overflowed under ANSI mode for such ids, and even ``x - lo`` alone
    exceeds int64 when lo < 0 < hi with a huge spread); ``span``/
    ``width`` are Python ints (arbitrary precision) shipped as decimal
    literals.  Spark's decimal division rounds at a bounded scale, but
    rounding is monotone, so the shard id stays non-decreasing in ``x``
    — order-contiguity (the only property phases A/B rely on) is exact
    even where a boundary id lands one bucket over.  Uniform only when
    ids are roughly dense; for pathological id clustering pass a larger
    ``n_shards`` (a skewed shard slows one window task but never changes
    the result).
    """
    span = hi - lo + 1  # python int: exact even past int64
    width = (span + n_shards - 1) // n_shards
    x = F.col(order_col).cast("long").cast("decimal(38,0)")
    # width as a string literal: for the pathological full-int64 id span
    # with tiny n_shards, width itself exceeds int64 (a long lit would
    # overflow); decimal(38,0) holds it exactly
    shard = F.floor(
        (x - F.lit(lo).cast("decimal(38,0)"))
        / F.lit(str(int(width))).cast("decimal(38,0)")
    )
    return shard.cast("int")


def packed_token_offsets(
    docs: DataFrame,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    group_cols: tuple[str, ...] = (),
    n_shards: int | None = None,
) -> DataFrame:
    """Distributed global (or per-group) running token total.

    Returns ``docs`` plus a ``cum_tokens`` column: the inclusive running
    sum of ``tokens_col`` over rows ordered by ``order_col`` (within
    each combination of ``group_cols``, if given — e.g. per-language
    packing).  Equivalent to a single unpartitioned window cumsum, but
    with no single-task stage.

    ``docs`` is consumed by three actions (the bounds aggregate, the
    Phase-B totals collect, and the returned frame).  A caller with a
    heavy upstream plan (curation's LSH near-dedup + BPE encode) passes
    ``docs.localCheckpoint(eager=True)`` so that plan runs once.
    """
    spark = docs.sparkSession
    if n_shards is None:
        n_shards = spark.sparkContext.defaultParallelism * 4

    bounds = docs.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ).first()
    if bounds is None or bounds.lo is None:
        return docs.withColumn("cum_tokens", F.lit(0).cast("long"))
    lo, hi = int(bounds.lo), int(bounds.hi)
    n_shards = max(1, min(int(n_shards), hi - lo + 1))

    sharded = docs.withColumn(
        _SHARD, _shard_expr(order_col, lo, hi, n_shards)
    )

    keys = [*group_cols, _SHARD]
    local_w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_local = sharded.withColumn(
        _LCUM, F.sum(F.col(tokens_col).cast("long")).over(local_w)
    )

    # Phase B: shard totals -> exclusive prefix offsets. The table has at
    # most n_groups * n_shards rows — bounded and tiny (like a vocab), so
    # the prefix sum runs driver-side and goes back as a broadcast join;
    # a window here would reintroduce a SinglePartition exchange.
    totals = (
        sharded.groupBy(*keys)
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("_tok"))
        .collect()
    )
    # None-safe ordering (Spark groupBy keeps NULL keys; Python 3 cannot
    # order None against str/int): nulls sort first, like Spark's default
    totals.sort(
        key=lambda r: tuple((r[k] is not None, r[k]) for k in keys)
    )
    offsets, running = [], {}
    for r in totals:
        g = tuple(r[c] for c in group_cols)
        offsets.append((*[r[k] for k in keys], running.get(g, 0)))
        running[g] = running.get(g, 0) + (r["_tok"] or 0)
    schema = sharded.select(*keys).schema.add(_OFFSET, "long")
    off_df = spark.createDataFrame(offsets, schema).select(
        *[F.col(k).alias(f"_off_{k}") for k in keys], _OFFSET
    )
    # null-safe equi-join so rows in a NULL group / NULL shard still pick
    # up their offset (a plain equi-join would drop them to offset 0 and
    # silently break their running totals)
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_off_{k}"))
        cond = c if cond is None else (cond & c)
    return (
        with_local.join(F.broadcast(off_df), cond, "left")
        .withColumn(
            "cum_tokens", F.coalesce(_OFFSET, F.lit(0)) + F.col(_LCUM)
        )
        .drop(_SHARD, _LCUM, _OFFSET, *[f"_off_{k}" for k in keys])
    )


def pack_segments(
    docs: DataFrame,
    pack_len: int = 512,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    group_cols: tuple[str, ...] = (),
    n_shards: int | None = None,
) -> DataFrame:
    """Assign every document its (pack_id, pack_offset) under fixed-length
    packing, plus a ``crosses_boundary`` flag for docs split across
    packs.  Scale-safe: see module docstring.  ``docs`` is read three
    times: see :func:`packed_token_offsets`."""
    cum = packed_token_offsets(
        docs, tokens_col, order_col, group_cols, n_shards
    )
    start = F.col("cum_tokens") - F.col(tokens_col)
    end_incl = F.col("cum_tokens") - 1
    return cum.select(
        *docs.columns,
        F.floor(start / pack_len).cast("long").alias("pack_id"),
        (start % pack_len).cast("long").alias("pack_offset"),
        (F.floor(start / pack_len) != F.floor(end_incl / pack_len)).alias(
            "crosses_boundary"
        ),
    )
