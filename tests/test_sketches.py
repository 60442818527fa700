"""HyperLogLog sketch tests: exact register parity vs a pure-Python
oracle, the merge property, partition independence, and accuracy bounds.
Each law runs on both stored forms: with no key on the row form (the
global sketch) and with one key on the packed form (one sorted
``regs`` array per group, built and merged inside the group's one
groupBy).
"""

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from relation_extraction_transformer_spark.functions import sketches as SK
from relation_extraction_transformer_spark.functions.minhash import stable_id


def _py_registers(values):
    """Independent register oracle: same md5-hex[2..16] hash, pure
    Python int arithmetic (no Spark, no SQL)."""
    regs = {}
    for v in values:
        h = int(hashlib.md5(v.encode()).hexdigest()[1:16], 16)
        bucket = h % SK.HLL_M
        x = h // SK.HLL_M
        rho = SK._RHO_MAX if x == 0 else SK._RHO_MAX - x.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def _py_estimate(regs):
    v_zero = SK.HLL_M - len(regs)
    scaled = sum(1 << (SK._RHO_MAX - r) for r in regs.values()) + v_zero * (
        1 << SK._RHO_MAX
    )
    raw = round(SK._B_LIT / float(scaled), 3)
    if v_zero > 0 and raw <= SK._LC_THRESHOLD:
        return round(float(SK.HLL_M) * math.log(SK.HLL_M / v_zero), 3)
    return raw


def _toks(spark, n, prefix="tok"):
    """tok0..tok<n-1>, with the key column grp = i % 2."""
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("tok"),
        (F.col("id") % 2).alias("grp"),
    )


def _groups(n, keys):
    """The groups of ``_toks(n)``: key tuple -> its tokens.  With no key
    there is one group, also for n = 0."""
    if not keys:
        return {(): [f"tok{i}" for i in range(n)]}
    out = {}
    for i in range(n):
        out.setdefault((i % 2,), []).append(f"tok{i}")
    return out


def _packed_merge(sketches):
    """Merge per-group packed sketches ``(grp, regs)`` in one groupBy."""
    return (
        sketches.groupBy("grp")
        .agg(SK.hll_union("regs").alias("regs"))
        .withColumn("regs", SK.hll_reduce("regs"))
    )


def _packed(df):
    """Per-group packed sketch of ``tok``: the merge of one-value
    sketches, as the edge state builds its url sketch."""
    return _packed_merge(
        df.select("grp", stable_id(F.col("tok")).alias("h")).select(
            "grp", F.array(SK.hll_code("h")).alias("regs")
        )
    )


def _sketch(df, keys):
    """Comparable rows of the sketch of ``tok``: ``(bucket, rho)`` of the
    row form with no key; ``(grp, regs)`` of the packed form with one."""
    if not keys:
        return sorted(map(tuple, SK.hll_registers(df, "tok").collect()))
    return sorted((r.grp, tuple(r.regs)) for r in _packed(df).collect())


def _decoded(regs):
    """A packed array as ``{bucket: rho}``; each bucket appears once."""
    out = {c // SK._CODE_RHO: c % SK._CODE_RHO for c in regs}
    assert len(out) == len(regs) and list(regs) == sorted(regs), regs
    return out


KEYS = pytest.mark.parametrize(
    "keys", [[], ["grp"]], ids=["no_key", "one_key"]
)


def test_registers_match_python_oracle(spark):
    """Both forms hold exactly the oracle's registers: the row form for
    all tokens, the packed form for each group."""
    df = _toks(spark, 3000)
    got = {r.bucket: r.rho for r in SK.hll_registers(df, "tok").collect()}
    assert got == _py_registers([f"tok{i}" for i in range(3000)])
    packed = {r.grp: _decoded(r.regs) for r in _packed(df).collect()}
    groups = _groups(3000, ["grp"])
    assert packed == {g: _py_registers(v) for (g,), v in groups.items()}


def test_registers_partition_independent(spark):
    df = _toks(spark, 2000)
    for keys in ([], ["grp"]):
        assert _sketch(df.repartition(1), keys) == _sketch(
            df.repartition(7), keys
        )


@KEYS
def test_merge_equals_union_sketch(spark, keys):
    """sketch(A) merge sketch(B) == sketch(A union B), EXACTLY — the
    property that lets per-shard sketches roll up without re-reading
    shards.  A and B overlap to exercise the max."""
    a = _toks(spark, 1500)                       # tok0..tok1499
    b = _toks(spark, 2500).filter(F.col("tok") >= F.lit("tok1"))
    union = a.unionAll(b).distinct()
    if not keys:
        merged = sorted(map(tuple, SK.hll_merge(
            SK.hll_registers(a, "tok"), SK.hll_registers(b, "tok"),
        ).collect()))
    else:
        merged = sorted(
            (r.grp, tuple(r.regs))
            for r in _packed_merge(_packed(a).unionAll(_packed(b))).collect()
        )
    assert merged == _sketch(union, keys)


@KEYS
def test_estimate_matches_python_and_is_accurate(spark, keys):
    """Estimate equals the pure-Python computation bit-for-bit, and the
    relative error stays inside 3 standard errors (1.04/sqrt(1024) ~
    3.25% -> <10%) at both the linear-counting and HLL regimes.  On
    empty input the global sketch is still one row, estimate 0.0."""
    for n in (0, 150, 800, 6000):
        df = _toks(spark, n)
        if not keys:
            got = {
                (): r.est_hll
                for r in SK.hll_estimate(
                    SK.hll_registers(df, "tok")).collect()
            }
        else:
            got = {
                (r.grp,): r.est_hll
                for r in _packed(df).select(
                    "grp", SK.hll_estimate_regs("regs").alias("est_hll")
                ).collect()
            }
        groups = _groups(n, keys)
        assert set(got) == set(groups), (n, sorted(got))
        for g, vals in groups.items():
            want = _py_estimate(_py_registers(vals))
            assert got[g] == want, (n, g, got[g], want)
            assert abs(got[g] - len(vals)) <= 0.10 * len(vals), (n, g, got[g])


def test_duplicates_do_not_move_estimate(spark):
    """Cardinality, not count: replicating every value 20x leaves the
    registers (and so the estimate) identical, in both forms."""
    df = _toks(spark, 1000)
    fat = df.crossJoin(spark.range(20).select(F.lit(1).alias("_x"))).select(
        "tok", "grp"
    )
    for keys in ([], ["grp"]):
        assert _sketch(df, keys) == _sketch(fat, keys)


# Count-min sketch ----------------------------------------------------------


def _py_cms(values):
    """Pure-Python CMS grid oracle: same '<j>|<value>' md5 hash."""
    grid = {}
    for v in values:
        for j in range(SK.CMS_D):
            h = int(
                hashlib.md5(f"{j}|{v}".encode()).hexdigest()[1:16], 16
            ) % SK.CMS_W
            grid[(j, h)] = grid.get((j, h), 0) + 1
    return grid


def test_cms_grid_matches_python_oracle(spark):
    vals = [f"t{i % 300}" for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "tok: string")
    got = {(r.j, r.cell): r.cnt for r in SK.cms_sketch(df, "tok").collect()}
    assert got == _py_cms(vals)


def test_cms_estimate_upper_bounds_and_finds_heavy_hitters(spark):
    """est >= exact always (CMS guarantee), and with 300 distinct values
    in a 4x256 grid the planted heavy hitter is estimated exactly or
    within the classic eps*N slack."""
    vals = [f"t{i % 300}" for i in range(1500)] + ["whale"] * 400
    df = spark.createDataFrame([(v,) for v in vals], "tok: string")
    sk = SK.cms_sketch(df, "tok")
    from collections import Counter

    exact = Counter(vals)
    cand = spark.createDataFrame(
        [(t,) for t in sorted(exact)], "tok: string"
    )
    est = {r.tok: r.est_cnt for r in SK.cms_estimate(sk, cand, "tok").collect()}
    n = len(vals)
    for tok, cnt in exact.items():
        assert est[tok] >= cnt, tok
        # eps = e/w; overcount <= eps*N with prob 1 - e^-d; allow 2x slack
        assert est[tok] - cnt <= 2 * 2.718 * n / SK.CMS_W, tok
    assert est["whale"] == max(est.values())


def test_cms_partition_independent(spark):
    vals = [(f"t{i % 100}",) for i in range(800)]
    a = spark.createDataFrame(vals, "tok: string").repartition(1)
    b = spark.createDataFrame(vals, "tok: string").repartition(9)
    assert sorted(map(tuple, SK.cms_sketch(a, "tok").collect())) == sorted(
        map(tuple, SK.cms_sketch(b, "tok").collect())
    )


def test_host_stats_sketch_matches_exact_distinct_langs(spark):
    """kg_host_stats (r7: per-host distinct langs via the keyed HLL
    sketch — mergeable state for the 24/7 host scorer) must agree with
    the exact COUNT(DISTINCT lang) on the fixture: per-host language
    cardinality is tiny, so the estimate sits in the linear-counting
    regime where it is exact after rounding."""
    from pyspark.sql import functions as F

    from relation_extraction_transformer_spark.functions.skew import (
        host_of,
    )
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    got = {
        r.host: r.est_langs
        for r in KQ.KG_REGISTRY["kg_host_stats"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    exact = {
        r.host: r.n
        for r in spark.read.parquet(KQ.PAGES_PARQUET)
        .select(host_of(F.col("url")).alias("host"), "lang")
        .groupBy("host")
        .agg(F.count_distinct("lang").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for h, n in exact.items():
        assert round(got[h]) == n, (h, got[h], n)
