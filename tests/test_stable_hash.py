"""The pipeline's one stable hash (functions/minhash.py) agrees across its
three forms: the Column form ``stable_id``, the Spark-SQL text
``base_hash_sql`` and the DuckDB text ``BASE_HASH_DUCK`` each equal
Python's ``int(md5(s).hexdigest()[1:16], 16)``, lie in [0, 2**60) and map
NULL to NULL.  Entity ids, delta splits and sketch registers are
compared across engines through this equality.
"""

import hashlib

import duckdb
import pyspark.sql.functions as F

from relation_extraction_transformer_spark.functions import minhash as MH

INPUTS = ["", " ", "ü", "Zürich", "🦉", ("Zürich 🦉 " * 112)[:1000], None]


def _py(s):
    if s is None:
        return None
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[1:16], 16)


def test_column_spark_sql_and_duckdb_forms_equal_python_md5(spark):
    assert len(INPUTS[5]) == 1000
    rows = list(enumerate(INPUTS))
    want = [_py(s) for s in INPUTS]
    assert all(0 <= w < 1 << 60 for w in want if w is not None)
    assert want[-1] is None

    df = spark.createDataFrame(rows, "i int, s string")
    column = [
        r.h
        for r in df.select("i", MH.stable_id(F.col("s")).alias("h"))
        .orderBy("i")
        .collect()
    ]
    spark_sql = [
        r.h
        for r in df.selectExpr("i", f"{MH.base_hash_sql('s')} AS h")
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {MH.BASE_HASH_DUCK.format(x='s')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert column == want
    assert spark_sql == want
    assert duck == want
