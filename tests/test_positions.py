"""Golden tests for position operators.

The four binning vectors are the reference's own unit tests
(ref:tests/test_positional_binning.py:12-38), reproduced verbatim as data.
"""

import pyspark.sql.functions as F
import pytest

from relation_extraction_transformer_spark.functions import positions as P

GOLDEN_BINNING = [
    (
        [-3, -2, -1, 0, 1, 2, 3, 4, 5, 6, 7, 8],
        [-2, -2, -1, 0, 1, 2, 2, 3, 3, 3, 3, 4],
    ),
    (
        list(range(-10, 11)),
        [-4, -4, -4, -3, -3, -3, -3, -2, -2, -1, 0, 1, 2, 2, 3, 3, 3, 3, 4, 4, 4],
    ),
    (
        list(range(0, 21)),
        [0, 1, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 4, 4, 4, 4, 5, 5, 5, 5, 5],
    ),
    (
        list(range(-10, 1)),
        [-4, -4, -4, -3, -3, -3, -3, -2, -2, -1, 0],
    ),
]


@pytest.mark.parametrize("inp,expected", GOLDEN_BINNING)
def test_bin_positions_golden(spark, inp, expected):
    df = spark.createDataFrame([(inp,)], "arr: array<int>")
    out = df.select(F.expr(P.bin_positions_sql("arr")).alias("b")).first()["b"]
    assert out == expected


def test_bin_positions_large_values(spark):
    # generic ints, not just sentence positions
    inp = [1023, 1024, 1025, -1023, -1024, 2**30, -(2**30), 2**31 - 1,
           -(2**31 - 1)]
    exp = [10, 11, 11, -10, -11, 31, -31, 31, -31]
    df = spark.createDataFrame([(inp,)], "arr: array<int>")
    out = df.select(F.expr(P.bin_positions_sql("arr")).alias("b")).first()["b"]
    assert out == exp


def _py_get_positions(s, e, n):
    # ref:data/loader.py:292-295
    return list(range(-s, 0)) + [0] * (e - s + 1) + list(range(1, n - e))


@pytest.mark.parametrize(
    "s,e,n",
    [(0, 0, 1), (0, 0, 5), (2, 4, 10), (0, 3, 4), (7, 9, 10), (5, 5, 6), (3, 3, 12)],
)
def test_get_positions(spark, s, e, n):
    df = spark.createDataFrame([(s, e, n)], "s: int, e: int, n: int")
    out = df.select(
        F.expr(P.get_positions_sql("s", "e", "n")).alias("p")
    ).first()["p"]
    assert out == _py_get_positions(s, e, n)


@pytest.mark.parametrize("l", [1, 2, 5, 96])
def test_relative_position_range(spark, l):
    df = spark.createDataFrame([(l,)], "l: int")
    out = df.select(
        P.relative_position_range(F.col("l")).alias("r")
    ).first()["r"]
    assert out == list(range(96 - l, 96 + l - 1))  # ref:data/loader.py:142-143


def test_inst_position(spark):
    df = spark.createDataFrame([([5, 9, 1, 0, 0],)], "ids: array<int>")
    out = df.select(P.inst_position(F.col("ids")).alias("p")).first()["p"]
    assert out == [1, 2, 3, 0, 0]  # ref:data/loader.py:120


def test_duckdb_dialect_matches_spark():
    """The DuckDB builders must agree with the Spark columns element-wise."""
    import duckdb

    sql = f"""
    SELECT {P.bin_positions_duckdb(P.get_positions_duckdb('2', '4', '10'))} AS b
    """
    got = duckdb.sql(sql).fetchone()[0]
    import numpy as np

    raw = _py_get_positions(2, 4, 10)
    a = np.array(raw)
    a[a > 0] = np.floor(np.log2(a[a > 0])) + 1
    a[a < 0] = -np.floor(np.log2(-a[a < 0])) - 1
    assert got == a.tolist()
