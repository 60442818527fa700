"""Scale-safe sequence packing (operators/packing.py).

The contract: the two-phase range-sharded cumsum must be ROW-IDENTICAL
to the naive global-window form for any shard count, and its physical
plan must contain no SinglePartition exchange (the thing that makes the
naive form a one-task bottleneck at 100 TB)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from relation_extraction_transformer_spark.operators import packing as PK

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
        )
    )


def _global_pack(docs, pack_len, group_cols=()):
    """The naive single-window twin (what the DuckDB oracle runs)."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return docs.select(
        *docs.columns,
        F.floor(start / pack_len).cast("long").alias("pack_id"),
        (start % pack_len).cast("long").alias("pack_offset"),
        (F.floor(start / pack_len) != F.floor((cum - 1) / pack_len)).alias(
            "crosses_boundary"
        ),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n_shards", [1, 3, 17])
def test_sharded_matches_global_window(spark, n_shards):
    docs = _docs(spark).drop("lang")
    got = PK.pack_segments(docs, pack_len=512, n_shards=n_shards)
    want = _global_pack(docs, 512)
    assert _rows(got) == _rows(want)


def test_grouped_packing_matches_per_group_window(spark):
    docs = _docs(spark)
    got = PK.pack_segments(
        docs, pack_len=128, group_cols=("lang",), n_shards=5
    )
    want = _global_pack(docs, 128, group_cols=("lang",))
    assert _rows(got) == _rows(want)


def test_plan_has_no_single_partition_exchange(spark):
    df = PK.pack_segments(_docs(spark).drop("lang"), pack_len=512)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan  # shard offsets go back broadcast


def test_sparse_nonuniform_ids(spark):
    # clustered, non-dense ids: shard skew must not change the answer
    rows = [(i, 10 + i % 7) for i in [1, 2, 3, 1000000, 1000001, 5000000]]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = PK.pack_segments(docs, pack_len=16, n_shards=8)
    want = _global_pack(docs, 16)
    assert _rows(got) == _rows(want)


def test_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "doc_id long, n_tokens int")
    assert PK.pack_segments(empty, pack_len=8).count() == 0
    one = spark.createDataFrame([(42, 20)], "doc_id long, n_tokens int")
    [r] = PK.pack_segments(one, pack_len=8).collect()
    assert (r.pack_id, r.pack_offset, r.crosses_boundary) == (0, 0, True)


def test_pack_segments_survives_null_group_values(spark):
    """Review r4: a NULL group value (e.g. lang=NULL from an upstream
    source) previously crashed the driver-side offset sort (None is not
    orderable against str) and, with a plain equi-join, would silently
    zero the null group's shard offsets.  The null group must pack like
    any other group."""
    import pyspark.sql.functions as F

    from relation_extraction_transformer_spark.operators import packing as PK

    rows = [(i, None if i % 3 == 0 else f"l{i % 2}", 100) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = PK.pack_segments(
        docs, pack_len=256, group_cols=("lang",), n_shards=4
    ).collect()
    assert len(out) == 30
    # within each group (incl. the null group) the running total over
    # doc_id order must be i_th * 100 — independently recomputed here
    by_group: dict = {}
    for r in sorted(out, key=lambda r: r.doc_id):
        k = r.lang
        by_group[k] = by_group.get(k, 0) + 1
        pos = by_group[k]
        assert r.pack_id == ((pos - 1) * 100) // 256, (r.lang, r.doc_id)
        assert r.pack_offset == ((pos - 1) * 100) % 256


def test_full_int64_span_ids_no_ansi_overflow(spark):
    """ADVICE r4: hash-derived doc ids (e.g. xxhash64 output) span nearly
    the whole int64 range; the shard expression must not overflow under
    ANSI mode (Spark 4 default) and must still match the global window."""
    imax = 2**63 - 1
    rows = [
        (-imax - 1, 10), (-imax // 2, 20), (-3, 30), (0, 40),
        (7, 50), (imax // 3, 60), (imax - 1, 70), (imax, 80),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    for n_shards in (1, 4, 64):
        got = PK.pack_segments(docs, pack_len=64, n_shards=n_shards)
        want = _global_pack(docs, 64)
        assert _rows(got) == _rows(want), n_shards
