"""Position-vector operators (SURVEY §2.2 P6-P9).

The reference computes, per candidate sentence:

- subject/object relative-position sequences
  ``[-start..-1, 0 x span, 1..len-end-1]`` (ref:data/loader.py:292-295)
- logarithmic position binning ``sign(x)*(floor(log2(|x|))+1)``
  (ref:data/loader.py:214-228)
- the shifted diagonal-attention range ``[96-l .. 96+l-2]``
  (ref:data/loader.py:142-143)
- the 1-based instance position vector (ref:data/loader.py:120)

All are expressed as Spark SQL array expressions (no UDFs).  The binning is
implemented as an integer-exact CASE chain (bit-length) rather than
``floor(log2(x))`` so results cannot drift across libm implementations;
a DuckDB-dialect builder shares the same chain for oracle queries.
The Spark builders return SQL text for one ``F.expr`` call (see
functions/masking.py for why).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import constants as C

# Highest bin needed for 32-bit ints; sentence positions only need 7
# (|pos| <= ABS_MAX_LEN-1 = 95) but the generic operator supports any int.
_MAX_BIN = 31


def log2_bin_duckdb(var: str) -> str:
    """CASE-chain SQL for sign(x)*(floor(log2(|x|))+1), 0 -> 0.

    Integer-exact: bin(x) = bit_length(x) for x > 0.  Valid in both Spark
    SQL and DuckDB (plain CASE/WHEN on integers); the DuckDB oracle uses it.
    """
    pos_whens = " ".join(
        f"WHEN {var} >= {1 << (b - 1)} THEN {b}" for b in range(_MAX_BIN, 0, -1)
    )
    neg_whens = " ".join(
        f"WHEN -({var}) >= {1 << (b - 1)} THEN -{b}" for b in range(_MAX_BIN, 0, -1)
    )
    return (
        f"CASE WHEN {var} = 0 THEN 0 "
        f"WHEN {var} > 0 THEN (CASE {pos_whens} END) "
        f"ELSE (CASE {neg_whens} END) END"
    )


def log2_bin_sql(var: str) -> str:
    """Spark SQL for sign(x)*(floor(log2(|x|))+1), 0 -> 0, over a scalar
    int expression.

    Integer-exact like :func:`log2_bin_duckdb`, but via
    ``length(bin(|x|))`` (= bit_length for positive ints — the same
    trick sketches.py uses for the HLL rho): the binning runs once per
    array ELEMENT on the inference hot path, and one bin/length pair is
    ~3x cheaper than the 62-branch CASE chain (measured).  Values
    match the CASE chain for |x| <= 2^31-1, pinned by the golden vectors
    in tests/test_positions.py; INT_MIN and bigints >= 2^31 are outside
    that tested domain."""
    mag_bits = f"CAST(length(bin(CAST(abs({var}) AS BIGINT))) AS INT)"
    return (
        f"CASE WHEN {var} = 0 THEN 0 WHEN {var} > 0 THEN {mag_bits} "
        f"ELSE -{mag_bits} END"
    )


def bin_positions_sql(arr: str) -> str:
    """P9: bin every element of an int array (ref:data/loader.py:214-228)."""
    return f"transform({arr}, x -> {log2_bin_sql('x')})"


_EMPTY_INT_ARRAY = "CAST(array() AS ARRAY<INT>)"


def get_positions_sql(start: str, end: str, length: str) -> str:
    """P8: position sequence relative to a [start, end] span
    (ref:data/loader.py:292-295).

    ``[-start..-1] ++ [0]*(end-start+1) ++ [1..length-end-1]``

    Guards against Spark's descending ``sequence`` when a side is empty.
    """
    head = (
        f"CASE WHEN {start} > 0 THEN sequence(-{start}, -1) "
        f"ELSE {_EMPTY_INT_ARRAY} END"
    )
    mid = f"array_repeat(0, CAST({end} - {start} + 1 AS INT))"
    tail_n = f"CAST({length} - {end} - 1 AS INT)"
    tail = (
        f"CASE WHEN {tail_n} > 0 THEN sequence(1, {tail_n}) "
        f"ELSE {_EMPTY_INT_ARRAY} END"
    )
    return (
        f"concat(CAST({head} AS ARRAY<INT>), {mid}, CAST({tail} AS ARRAY<INT>))"
    )


def binned_span_positions_sql(start: str, end: str, length: str) -> str:
    """get_positions followed by log2 binning, as used on the inference path
    (ref:data/loader.py:166-184)."""
    return bin_positions_sql(get_positions_sql(start, end, length))


def relative_position_range(length: Column, max_len: int = C.ABS_MAX_LEN) -> Column:
    """P7: shifted diagonal-attention index range ``[96-l .. 96+l-2]``
    (length ``2l-1``) (ref:data/loader.py:142-143)."""
    return F.when(
        length > 0, F.sequence(F.lit(max_len) - length, F.lit(max_len) + length - 2)
    ).otherwise(F.array().cast("array<int>")).cast("array<int>")


def inst_position(token_ids: Column) -> Column:
    """P6: 1-based position for non-PAD ids, 0 for PAD
    (ref:data/loader.py:120)."""
    return F.transform(
        token_ids, lambda x, i: F.when(x != C.PAD_ID, i + 1).otherwise(F.lit(0))
    )


# ---------------------------------------------------------------------------
# DuckDB-dialect builders (oracle SQL).  DuckDB's scalar range(a,b) is
# exclusive-end and returns [] when a >= b, which matches python range().
# ---------------------------------------------------------------------------

def get_positions_duckdb(start: str, end: str, length: str) -> str:
    return (
        f"list_concat(list_concat("
        f"range(-({start}), 0), "
        f"list_transform(range(1, {end} - {start} + 2), __z -> 0)), "
        f"range(1, {length} - {end}))"
    )


def bin_positions_duckdb(arr_expr: str) -> str:
    return f"list_transform({arr_expr}, __x -> ({log2_bin_duckdb('__x')}))"
