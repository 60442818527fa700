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

One keyed implementation: every sketch step takes a list of group
keys, and the global sketch is the zero-key case (``keys=[]``: one
register set, one estimate row — also on empty input, where the
estimate is 0.0).  Registers fold by :func:`hll_registers_by`, merge by
:func:`hll_merge` and estimate by :func:`hll_estimate_by`.

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

from pyspark.sql import DataFrame
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
# alpha_m * m^2 * 2^51 precomputed in Python to one double literal, so
# both engines do a single division by the scaled sum:
#   alpha_1024 = 0.7213 / (1 + 1.079/1024)
_B_LIT = 1.7013287633207432e21
# linear-counting threshold: 2.5 * m
_LC_THRESHOLD = 2.5 * HLL_M


def hll_registers_by(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Per-group HLL registers: ``(*keys, bucket, rho)`` with one row
    per NON-EMPTY bucket per group (empty buckets are implicit — a
    sparse representation, so a group with k distinct values carries at
    most min(k, m) rows).  With ``keys=[]`` this is the global sketch.

    One narrow projection + one groupBy(max) — the register fold is the
    :func:`hll_merge` of one-value sketches.  The aggregation is
    map-side combinable and lands on at most ``HLL_M`` groups per key,
    so the shuffle is O(partitions * m) regardless of input size."""
    h = stable_id(F.col(col))
    x = F.expr(f"h DIV {HLL_M}")  # upper 50 bits
    return hll_merge(
        keys,
        df.select(*keys, h.alias("h")).select(
            *keys,
            (F.col("h") % HLL_M).alias("bucket"),
            # rho = leading zeros of the 50-bit field + 1; bin(x) has no
            # leading zeros, so rho = 51 - bit_length(x); x = 0 -> 51
            F.when(x == 0, F.lit(_RHO_MAX))
            .otherwise(F.lit(_RHO_MAX) - F.length(F.bin(x)))
            .cast("int")
            .alias("rho"),
        ),
    )


def hll_merge(keys: list[str], *register_dfs: DataFrame) -> DataFrame:
    """Merge register frames: element-wise register MAX per group.  This
    is the whole point at scale — per-shard / per-day sketches union +
    one small groupBy, never re-reading the raw data."""
    out = register_dfs[0]
    for other in register_dfs[1:]:
        out = out.unionAll(other)
    return out.groupBy(*keys, "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate_by(registers: DataFrame, keys: list[str]) -> DataFrame:
    """Per-group estimate ``(*keys, v_zero, scaled_sum, est_hll)`` from
    register frames: the all-integer harmonic sum (see module header),
    one division and the ROUND-gated linear-counting branch.  Small
    groups (the per-edge case) always land in the linear-counting
    regime, where the estimate is near-exact.  With ``keys=[]`` it is
    one row, also for an empty register frame (``v_zero = m``,
    ``est_hll`` 0.0)."""
    agg = registers.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(f"CAST(pow(2, {_RHO_MAX} - rho) AS BIGINT)")
        ).alias("present_sum"),
    )
    v_zero = (F.lit(HLL_M) - F.col("n_present")).cast("long")
    scaled = (
        F.coalesce(F.col("present_sum"), F.lit(0))
        + v_zero * F.lit(1 << _RHO_MAX)
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
    return agg.select(
        *keys,
        v_zero.alias("v_zero"),
        scaled.alias("scaled_sum"),
        est.alias("est_hll"),
    )


def duck_hll_by_sql(source_cte: str, keys: list[str], col: str) -> str:
    """DuckDB twin of hll_registers_by + hll_estimate_by: emits CTEs
    ending in ``hll_by_est`` with columns ``(*keys, est_hll)``."""
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
    """DuckDB twin of the zero-key hll_registers_by + hll_estimate_by
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
