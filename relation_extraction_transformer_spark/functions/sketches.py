"""HyperLogLog cardinality sketch — cross-engine deterministic, mergeable.

At 100 TB, ``COUNT(DISTINCT token)`` over a web corpus is a full shuffle
of every distinct value; the HLL sketch replaces it with ONE map-side-
combinable ``groupBy(bucket).agg(max(rho))`` over ``m = 2**p`` registers
(a few KB of state regardless of input size), and two register sets merge
with an element-wise MAX — so per-shard / per-day sketches roll up
without touching the raw data again.  This module is the from-scratch
Flajolet-Fusy-Gandouet-Meunier HLL (the reference engine has no sketch
surface at all; ivan-bilan/Relation-Extraction-Transformer consumes
pre-tokenized TACRED JSON — see ``data/loader.py:47`` — so vocabulary
cardinality there is an exact in-memory dict).

Two stored forms of one sketch, with one hash -> register derivation
(:func:`_register`) and one estimate (:func:`_estimate`: the all-integer
harmonic sum, one division and the linear-counting branch):

- the ROW form, one ``(bucket, rho)`` row per non-empty bucket, for the
  single global sketch: :func:`hll_registers` folds it as one
  ``groupBy(bucket).agg(max(rho))`` that combines map-side and stays
  hash-partitioned on the 1024 buckets (``hll_distinct``,
  ``streaming.streaming_hll_registers``); :func:`hll_merge` merges and
  :func:`hll_estimate` estimates it.  An estimate is one row, also on
  empty input, where it is 0.0.
- the PACKED form, one sorted ``array<int>`` column per group holding
  one code ``bucket * 64 + rho`` per non-empty bucket (rho <= 51 fits
  in 6 bits; the sparse encoding of HLL++, Heule et al., EDBT 2013),
  for per-group sketches that live in the group's own aggregate row
  (the per-edge url counts of operators/incremental.py and the
  per-host language counts of ``kg_host_stats``).  A value's sketch is
  ``array(hll_code(h))``; sketches merge inside the group's
  ``groupBy`` as :func:`hll_union`, reduced by :func:`hll_reduce` to
  each bucket's max rho; :func:`hll_estimate_regs` estimates one row's
  array with no aggregation.

Cross-engine determinism (module-header rules of plans/sql_queries.py):

- the hash is the pipeline's one stable hash, ``minhash.stable_id``
  (60 bits, identical in Spark and DuckDB through ``BASE_HASH_DUCK``;
  xxhash64 has no DuckDB twin);
- the register harmonic sum is computed as an exact BIGINT: each
  register contributes ``2**(51 - rho)`` (rho in 1..51 -> term in
  1..2**50) and each empty bucket ``2**51``; the total is at most
  ``1024 * 2**51 = 2**61`` — no floats until the final division;
- the estimate is ``_B_LIT / scaled_sum`` — ONE IEEE double division of
  two identically-computed values (the int64->double conversion of the
  sum is correctly rounded in both engines), then ``ROUND(x, 3)``;
- the small-range (linear counting) branch compares the ROUNDed raw
  estimate, so both engines take the same branch even at a boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .minhash import BASE_HASH_DUCK, stable_id

# p = 10 -> m = 1024 registers (standard error 1.04/sqrt(m) ~ 3.25%)
HLL_P = 10
HLL_M = 1 << HLL_P
# the md5-derived hash carries 60 usable bits; p=10 go to the bucket,
# the remaining 50 feed the leading-zero count, so rho ranges 1..51
_HASH_BITS = 60
_RHO_BITS = _HASH_BITS - HLL_P  # 50
_RHO_MAX = _RHO_BITS + 1  # 51
# a packed register is bucket * _CODE_RHO + rho; rho <= 51 < 64
_CODE_RHO = 64
# alpha_m * m^2 * 2^51 precomputed in Python to one double literal, so
# both engines do a single division by the scaled sum:
#   alpha_1024 = 0.7213 / (1 + 1.079/1024)
_B_LIT = 1.7013287633207432e21
# linear-counting threshold: 2.5 * m
_LC_THRESHOLD = 2.5 * HLL_M


def _register(h: str) -> tuple[Column, Column]:
    """The one hash -> register derivation, from the 60-bit hash
    column ``h``: ``(bucket, rho)``, the low p bits and the leading
    zeros of the upper 50 bits + 1."""
    x = F.expr(f"{h} DIV {HLL_M}")  # upper 50 bits
    return (
        F.col(h) % HLL_M,
        # bin(x) has no leading zeros, so rho = 51 - bit_length(x);
        # x = 0 -> 51
        F.when(x == 0, F.lit(_RHO_MAX))
        .otherwise(F.lit(_RHO_MAX) - F.length(F.bin(x)))
        .cast("int"),
    )


def _term_sql(rho: str) -> str:
    """One present register's exact share of the harmonic sum."""
    return f"CAST(pow(2, {_RHO_MAX} - {rho}) AS BIGINT)"


def _estimate(n_present: Column, present_sum: Column) -> list[Column]:
    """``(v_zero, scaled_sum, est_hll)`` from the count of present
    registers and their summed terms: the all-integer harmonic sum (see
    module header), one division and the ROUND-gated linear-counting
    branch.  Small groups (the per-edge case) always land in the
    linear-counting regime, where the estimate is near-exact."""
    v_zero = (F.lit(HLL_M) - n_present).cast("long")
    scaled = (
        F.coalesce(present_sum, F.lit(0)) + v_zero * F.lit(1 << _RHO_MAX)
    ).cast("long")
    raw = F.round(F.lit(_B_LIT) / scaled.cast("double"), 3)
    est = F.when(
        (v_zero > 0) & (raw <= F.lit(_LC_THRESHOLD)),
        # linear counting: m * ln(m / V)
        F.round(
            F.lit(float(HLL_M))
            * F.log(F.lit(float(HLL_M)) / v_zero.cast("double")),
            3,
        ),
    ).otherwise(raw)
    return [
        v_zero.alias("v_zero"),
        scaled.alias("scaled_sum"),
        est.alias("est_hll"),
    ]


# Row form: the global sketch ---------------------------------------------


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """The global sketch of ``col``: ``(bucket, rho)`` with one row per
    NON-EMPTY bucket (empty buckets are implicit).

    One narrow projection + one groupBy(max) — the register fold is the
    :func:`hll_merge` of one-value sketches.  The aggregation is
    map-side combinable and lands on at most ``HLL_M`` groups, so the
    shuffle is O(partitions * m) regardless of input size."""
    bucket, rho = _register("h")
    return hll_merge(
        df.select(stable_id(F.col(col)).alias("h")).select(
            bucket.alias("bucket"), rho.alias("rho")
        )
    )


def hll_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge register frames: element-wise register MAX.  This is the
    whole point at scale — per-shard / per-day sketches union + one
    small groupBy, never re-reading the raw data."""
    out = register_dfs[0]
    for other in register_dfs[1:]:
        out = out.unionAll(other)
    return out.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """One row ``(v_zero, scaled_sum, est_hll)`` from a register frame,
    also for an empty one (``v_zero = m``, ``est_hll`` 0.0)."""
    agg = registers.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr(_term_sql("rho"))).alias("present_sum"),
    )
    return agg.select(*_estimate(F.col("n_present"), F.col("present_sum")))


# Packed form: one sketch per aggregate row ---------------------------------


def hll_code(h: str) -> Column:
    """The packed register ``bucket * 64 + rho`` of one value, from its
    :func:`~.minhash.stable_id` hash column ``h``; ``array(hll_code(h))``
    is the value's sketch."""
    bucket, rho = _register(h)
    return (bucket * _CODE_RHO + rho).cast("int")


def hll_union(regs: str) -> Column:
    """Aggregate expression: every code of the group's ``regs`` arrays,
    sorted.  :func:`hll_reduce` over the result is the merged sketch."""
    return F.array_sort(F.flatten(F.collect_list(regs)))


def hll_reduce(regs: str) -> Column:
    """The sketch of a sorted code array column ``regs``: one code per
    bucket, its max rho.  Codes of one bucket sit together, largest
    rho last, so a code is kept when the next one starts another bucket
    (element-wise register MAX).  ``regs`` is a column, not an
    expression, so the lambda reads it without sorting it again."""
    return F.expr(
        f"filter({regs}, (x, i) -> coalesce("
        f"try_element_at({regs}, i + 2) DIV {_CODE_RHO} "
        f"!= x DIV {_CODE_RHO}, true))"
    )


def hll_estimate_regs(regs: str) -> Column:
    """``est_hll`` of one row's packed sketch column ``regs``: no
    aggregation, the same integer sum and branch as
    :func:`hll_estimate`."""
    present_sum = F.expr(
        f"aggregate({regs}, 0L, (a, x) -> a + "
        f"{_term_sql(f'x % {_CODE_RHO}')})"
    )
    return _estimate(F.size(regs), present_sum)[2]


def duck_hll_by_sql(source_cte: str, keys: list[str], col: str) -> str:
    """DuckDB twin of a per-group packed sketch and
    :func:`hll_estimate_regs`: it keeps each group's registers as
    ``(bucket, max rho)`` rows, the pairs the packed codes hold.  Emits
    CTEs ending in ``hll_by_est`` with columns ``(*keys, est_hll)``."""
    ks = ", ".join(keys)
    return f"""
    hll_by_h AS (
      SELECT {ks},
             {BASE_HASH_DUCK.format(x=col)} AS h
      FROM {source_cte}
    ),
    hll_by_regs AS (
      SELECT {ks}, h % {HLL_M} AS bucket,
             MAX(CASE WHEN h // {HLL_M} = 0 THEN {_RHO_MAX}
                      ELSE {_RHO_MAX} - length(bin(h // {HLL_M})) END) AS rho
      FROM hll_by_h GROUP BY {ks}, bucket
    ),
    hll_by_sum AS (
      SELECT {ks}, COUNT(*) AS n_present,
             CAST(SUM(CAST(pow(2, {_RHO_MAX} - rho) AS BIGINT)) AS BIGINT)
               AS present_sum
      FROM hll_by_regs GROUP BY {ks}
    ),
    hll_by_est AS (
      SELECT {ks},
             CASE WHEN v_zero > 0 AND raw <= {_LC_THRESHOLD}
                  THEN ROUND({float(HLL_M)} * LN({float(HLL_M)} / v_zero), 3)
                  ELSE raw END AS est_hll
      FROM (
        SELECT {ks}, v_zero,
               ROUND({_B_LIT!r} / CAST(scaled_sum AS DOUBLE), 3) AS raw
        FROM (
          SELECT {ks},
                 {HLL_M} - n_present AS v_zero,
                 CAST(COALESCE(present_sum, 0)
                      + ({HLL_M} - n_present)
                        * CAST(pow(2, {_RHO_MAX}) AS BIGINT)
                      AS BIGINT) AS scaled_sum
          FROM hll_by_sum
        )
      )
    )"""


def duck_hll_sql(source_cte: str, col: str) -> str:
    """DuckDB twin of :func:`hll_registers` + :func:`hll_estimate`
    over ``source_cte`` (a CTE name exposing ``col``).  Emits CTEs
    ending in ``hll_est`` with columns ``(m, v_zero, scaled_sum,
    est_hll)``.  Kept apart from :func:`duck_hll_by_sql` because the
    oracle text of ``hll_distinct`` is frozen."""
    return f"""
    hll_h AS (
      SELECT {BASE_HASH_DUCK.format(x=col)} AS h
      FROM {source_cte}
    ),
    hll_regs AS (
      SELECT h % {HLL_M} AS bucket,
             MAX(CASE WHEN h // {HLL_M} = 0 THEN {_RHO_MAX}
                      ELSE {_RHO_MAX} - length(bin(h // {HLL_M})) END) AS rho
      FROM hll_h GROUP BY 1
    ),
    hll_sum AS (
      SELECT COUNT(*) AS n_present,
             SUM(CAST(pow(2, {_RHO_MAX} - rho) AS BIGINT)) AS present_sum
      FROM hll_regs
    ),
    hll_est AS (
      SELECT m, v_zero, scaled_sum,
             CASE WHEN v_zero > 0 AND raw <= {_LC_THRESHOLD}
                  THEN ROUND({float(HLL_M)} * LN({float(HLL_M)} / v_zero), 3)
                  ELSE raw END AS est_hll
      FROM (
        SELECT {HLL_M} AS m,
               {HLL_M} - n_present AS v_zero,
               CAST(COALESCE(present_sum, 0)
                    + ({HLL_M} - n_present) * CAST(pow(2, {_RHO_MAX}) AS BIGINT)
                    AS BIGINT) AS scaled_sum,
               ROUND({_B_LIT!r} / CAST(CAST(COALESCE(present_sum, 0)
                    + ({HLL_M} - n_present) * CAST(pow(2, {_RHO_MAX}) AS BIGINT)
                    AS BIGINT) AS DOUBLE), 3) AS raw
        FROM hll_sum
      )
    )"""


# Count-min sketch ----------------------------------------------------------
#
# The heavy-hitter companion to HLL: fixed d x w counter grid, est(x) =
# min_j grid[j][h_j(x)] — an upper bound on the true count that is exact
# unless every row collides.  Like the HLL above it is (a) built by ONE
# map-side-combinable groupBy onto d*w cells regardless of input size,
# (b) mergeable by cell-wise SUM, and (c) cross-engine exact: the per-row
# hash is the stable hash of the value with the row index prefixed, and
# every quantity is integer arithmetic end-to-end.

CMS_D = 4
CMS_W = 256


def cms_hash(col, j: int) -> F.Column:
    """Row-j hash: stable_id of '<j>|<value>' modulo the grid width."""
    return (stable_id(F.concat(F.lit(f"{j}|"), col)) % CMS_W).cast("int")


def cms_sketch(df: DataFrame, col: str) -> DataFrame:
    """(j, cell, cnt) counter grid — at most CMS_D * CMS_W rows."""
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        cms_hash(F.col(col), j).alias("cell"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("s")
    )
    return rows.groupBy(
        F.col("s.j").alias("j"), F.col("s.cell").alias("cell")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(sketch: DataFrame, candidates: DataFrame, col: str) -> DataFrame:
    """Join candidate values against the grid: min over the d rows."""
    probes = candidates.select(
        F.col(col),
        *[cms_hash(F.col(col), j).alias(f"c{j}") for j in range(CMS_D)],
    )
    out = probes
    for j in range(CMS_D):
        s = sketch.filter(F.col("j") == j).select(
            F.col("cell").alias(f"c{j}"), F.col("cnt").alias(f"n{j}")
        )
        out = out.join(s, f"c{j}")
    return out.select(
        col,
        F.least(*[F.col(f"n{j}") for j in range(CMS_D)]).alias("est_cnt"),
    )


def duck_cms_sql(source_cte: str, col: str) -> str:
    """DuckDB twin: CTEs ending in ``cms_grid`` (j, cell, cnt)."""
    # the line break inside each cell expression is part of the frozen
    # cms_heavy_hitters oracle text
    cells = [
        duck_cms_probe(col, j).replace(
            ") AS BIGINT)", ")\n" + " " * 18 + "AS BIGINT)"
        )
        for j in range(CMS_D)
    ]
    rows = "\n      UNION ALL\n".join(
        f"""      SELECT {j} AS j,
             {cells[j]} AS cell
      FROM {source_cte}"""
        for j in range(CMS_D)
    )
    return f"""
    cms_cells AS (
{rows}
    ),
    cms_grid AS (
      SELECT j, cell, COUNT(*) AS cnt FROM cms_cells GROUP BY j, cell
    )"""


def duck_cms_probe(col_expr: str, j: int) -> str:
    h = BASE_HASH_DUCK.format(x=f"'{j}|' || {col_expr}")
    return f"CAST({h} % {CMS_W} AS INTEGER)"
