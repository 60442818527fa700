"""Shared MinHash / LSH-band core.

One implementation used by BOTH near-dup surfaces so the LSH
parameters (k, bands, salt format, band digest) and the exact Jaccard
verification (:func:`verify_pairs`) cannot diverge:

- document near-dup (plans/sql_queries.py: minhash_bands,
  minhash_candidate_pairs, ngram_jaccard_buckets) over word
  :data:`WORD_SHINGLE_N`-gram shingles
- entity canonicalization (operators/canonicalize.py) over char
  :data:`CHAR_SHINGLE_N`-gram shingles of normalized names

The LSH shape and both shingle sizes are the constants below, not
arguments: each Spark form and its DuckDB twin reads them when called.

Scale shape (round-3 rewrite): signatures are NARROW — one projection
computes the per-shingle base hashes as an array column and each of the k
min-hashes as ``array_min(transform(...))`` over it, then a stack()
unpivot to band rows.  ZERO shuffle until the single equi-join on
(band, band_hash) — round 2 exploded to one row per shingle and
aggregated back (a full shuffle of every shingle); the array form keeps
each document in its own row end to end and is ~2x faster measured.
Never an all-pairs comparison.

Hashing: each shingle is md5'd ONCE into a 60-bit integer, and the k
signatures are universal affine transforms ((h mod P) * a_k + b_k) mod P
(P = 2^31 - 1) of that base hash — the standard datasketch-style
construction.  Round 1 computed k separate salted md5s per shingle; one
md5 + k multiply-adds is ~4x cheaper on the dominant dedup-path cost.
Every fragment has a DuckDB twin built HERE (``duck_*``) so the Spark
plan and the oracle SQL can never diverge.

The 60-bit base hash is the pipeline's one stable hash, and this module
is its only home, in three forms: :func:`stable_id` (Column),
:func:`base_hash_sql` (Spark SQL text) and :data:`BASE_HASH_DUCK`
(DuckDB text).  Entity ids (operators/linking.py), the HLL and
count-min sketches (functions/sketches.py) and every oracle-paired
query that hashes a value use these forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_K = 8
MINHASH_BANDS = 2  # 2 bands x 4 rows
CHAR_SHINGLE_N = 3  # entity names: character trigrams of ^name$
WORD_SHINGLE_N = 3  # documents: word 3-grams

_P = (1 << 31) - 1  # Mersenne prime; (h%P)*a + b stays well under 2^63


def _affine_consts(k: int) -> tuple[int, int]:
    a = (k * 1103515245 + 12345) % _P or 1
    b = (k * 2654435761 + 1013904223) % _P
    return a, b


def stable_id(col) -> Column:
    """Cross-engine-stable 60-bit hash: md5 hex chars [2..16] read as a
    BIGINT, so always in [0, 2**60) and NULL for NULL.  DuckDB computes
    the same value with :data:`BASE_HASH_DUCK` (xxhash64 has no DuckDB
    twin), which is what makes linking -> canonicalization -> graph and
    the sketches oracle-checkable end to end; tests/test_stable_hash.py
    checks all three forms against Python's md5."""
    return F.conv(F.substring(F.md5(col), 2, 15), 16, 10).cast("long")


def base_hash_sql(x: str) -> str:
    """:func:`stable_id` as Spark SQL text, for the SQL-text builders."""
    return f"CAST(conv(substring(md5({x}), 2, 15), 16, 10) AS BIGINT)"


# :func:`stable_id` as DuckDB text; fill with ``.format(x=<sql expr>)``
BASE_HASH_DUCK = "CAST(('0x' || substr(md5({x}), 2, 15)) AS BIGINT)"


# Horner multiplier for combining token hashes into shingle hashes
# (< 2^31 so (acc % P) * A + h stays well inside int64 in both engines)
_WORD_A = 1103515245


def word_shingle_hashes_sql(text: str) -> str:
    """Word n-gram (n = :data:`WORD_SHINGLE_N`) shingle HASHES without
    building shingle strings: hash each token once (md5 -> 60-bit ->
    mod P), then combine n consecutive token hashes with a Horner chain
    mod P.  Round 3 measurement: the
    round-2 form spent most of its time in split+slice+concat_ws string
    construction, not in md5 — hashing tokens and combining
    arithmetically removes the string building entirely.  Short texts
    fall back to the whole-text hash (one shingle).  DuckDB twin:
    :func:`duck_word_shingle_hashes` (identical arithmetic)."""
    n = WORD_SHINGLE_N
    th = f"transform(split({text}, ' '), t -> {base_hash_sql('t')} % {_P})"
    # Horner chain via slice + zip_with, NOT element_at inside a lambda:
    # a lambda body referencing th would re-evaluate the whole token-hash
    # array per element (O(len^2) md5s — measured 10x slower); as slice
    # arguments th is a top-level subexpression, computed once per row
    m = f"size({th}) - {n - 1}"
    acc = f"slice({th}, 1, {m})"
    for j in range(1, n):
        acc = (
            f"zip_with({acc}, slice({th}, {1 + j}, {m}), "
            f"(a, b) -> (a * {_WORD_A} + b) % {_P})"
        )
    return (
        f"CASE WHEN size({th}) >= {n} THEN {acc} "
        f"ELSE array({base_hash_sql(text)} % {_P}) END"
    )


def duck_word_shingle_hashes(text_col: str) -> str:
    """DuckDB twin of :func:`word_shingle_hashes_sql` — same base hash, same
    mod-P Horner combination, 1-based list indexing.  The token-hash
    array is inlined at each use (no CTE/subquery needed by callers); the
    oracle recomputing it is irrelevant at gate scale."""
    n = WORD_SHINGLE_N
    base = BASE_HASH_DUCK.format(x="t")
    th = f"list_transform(string_split({text_col}, ' '), t -> ({base}) % {_P})"
    acc = f"({th})[i]"
    for j in range(1, n):
        acc = f"(({acc}) * {_WORD_A} + ({th})[i+{j}]) % {_P}"
    whole = BASE_HASH_DUCK.format(x=text_col)
    return (
        f"CASE WHEN len({th}) >= {n} THEN "
        f"list_transform(range(1, len({th}) - {n - 2}), i -> {acc}) "
        f"ELSE [({whole}) % {_P}] END"
    )


def word_shingles(col: Column) -> Column:
    """Word :data:`WORD_SHINGLE_N`-gram shingles of a space-tokenized text
    column; short texts fall back to the whole text as one shingle."""
    n = WORD_SHINGLE_N
    toks = F.split(col, " ")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(col))


def char_shingles_sql(text: str) -> str:
    """Character :data:`CHAR_SHINGLE_N`-gram shingles of ^text$ (boundary-
    marked); short strings fall back to the whole marked string."""
    n = CHAR_SHINGLE_N
    s = f"concat('^', {text}, '$')"
    return (
        f"CASE WHEN length({s}) >= {n} "
        f"THEN transform(sequence(1, length({s}) - {n} + 1), "
        f"i -> substr({s}, i, {n})) "
        f"ELSE array({s}) END"
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    shingles: str | None = None,
    hashes: str | None = None,
) -> DataFrame:
    """(id_col, shingle-array SQL) -> (id_col, band, band_hash), one row
    per band.  Signature i = min over shingles of the i-th universal
    affine transform of the shingle's base hash.

    Pass, as SQL text, either ``shingles`` (string array; each element
    is md5-hashed here — the char-shingle path) or ``hashes``
    (precomputed integer hash array — the word path via
    :func:`word_shingle_hashes_sql`, which skips shingle string
    construction).

    Narrow by construction: hash array in one projection, then k
    ``array_min(transform(...))`` projections — no explode, no groupBy,
    no Exchange anywhere in this function."""
    if hashes is None:
        if shingles is None:
            raise ValueError("minhash_bands: pass either shingles or hashes")
        hashes = f"transform({shingles}, s -> {base_hash_sql('s')})"
    k, bands = MINHASH_K, MINHASH_BANDS
    rows_per_band = k // bands
    hashed = df.selectExpr(id_col, f"{hashes} AS __hs")
    sigs = hashed.selectExpr(
        id_col,
        *[
            f"array_min(transform(__hs, h -> {_affine_sql('h', i)})) AS sig{i}"
            for i in range(k)
        ],
    )
    band_cols = [
        f"{b}, md5(concat_ws('|', "
        + ", ".join(
            f"CAST(sig{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    ]
    return sigs.selectExpr(
        id_col,
        f"stack({bands}, " + ", ".join(band_cols) + ") AS (band, band_hash)",
    )


def _affine_sql(h: str, k: int) -> str:
    """The k-th universal affine transform of hash ``h``; the same text
    is valid Spark SQL and DuckDB."""
    a, b = _affine_consts(k)
    return f"(({h} % {_P}) * {a} + {b}) % {_P}"


# ---- DuckDB twins (used by plans/sql_queries.py and plans/kg_sql.py) ----


def duck_word_shingles(text_col: str) -> str:
    n = WORD_SHINGLE_N
    toks = f"string_split({text_col}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        f"ELSE [{text_col}] END"
    )


def duck_char_shingles(col: str) -> str:
    n = CHAR_SHINGLE_N
    mk = f"('^' || {col} || '$')"
    return (
        f"CASE WHEN len({mk}) >= {n} THEN "
        f"list_transform(range(1, len({mk}) - {n - 2}), "
        f"i -> substr({mk}, CAST(i AS INT), {n})) ELSE [{mk}] END"
    )


def duck_minhash_ctes(
    source: str,
    id_col: str,
    shingles_expr: str | None = None,
    prefix: str = "mh",
    hashes_expr: str | None = None,
) -> str:
    """CTE text '<prefix>_sh AS (...), <prefix>_sigs AS (...),
    <prefix>_bands AS (...)' — the DuckDB value-twin of
    :func:`minhash_bands` (unnest + GROUP BY form; the Spark side uses
    narrow array expressions — same min over the same affine transforms
    of the same base hashes, so values are identical).  Embed after a
    WITH keyword."""
    k, bands = MINHASH_K, MINHASH_BANDS
    rows_per_band = k // bands
    sig_cols = ", ".join(f"MIN({_affine_sql('h', i)}) AS sig{i}" for i in range(k))
    band_selects = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, md5(concat_ws('|', "
        + ", ".join(
            f"CAST(sig{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + f")) AS band_hash FROM {prefix}_sigs"
        for b in range(bands)
    )
    if hashes_expr is not None:
        sh_cte = (
            f"SELECT {id_col}, unnest({hashes_expr}) AS h FROM {source}"
        )
    else:
        base = BASE_HASH_DUCK.format(x="s")
        sh_cte = (
            f"SELECT {id_col}, {base} AS h "
            f"FROM (SELECT {id_col}, unnest({shingles_expr}) AS s "
            f"FROM {source})"
        )
    return f"""
    {prefix}_sh AS (
      {sh_cte}
    ),
    {prefix}_sigs AS (
      SELECT {id_col}, {sig_cols} FROM {prefix}_sh GROUP BY {id_col}
    ),
    {prefix}_bands AS (
      {band_selects}
    )"""


def band_candidate_pairs(
    bands_df: DataFrame,
    id_col: str,
    out_a: str = "src",
    out_b: str = "dst",
) -> DataFrame:
    """Self-equi-join on (band, band_hash), id_a < id_b, distinct.  The
    only join in the near-dup path — AQE-skew-splittable at scale.

    The band rows are ``localCheckpoint``ed (eagerly) before the
    self-join, so the shingle hashing + k min-hash projections — the
    dominant cost of the whole dedup path — run ONCE instead of once per
    join side.  Unlike a ``persist()``, the checkpoint leaves no entry in
    the session's cache manager: Spark's context cleaner frees its blocks
    once the returned plan is garbage-collected, so a long-lived session
    calling this per rebuild or per fold accumulates nothing.  The join
    re-shuffles on (band, band_hash) either way.  Band rows are a few
    small rows per input row; at true 100 TB scale a pipeline would
    materialize them to a table instead, the same idea durable."""
    bands_df = bands_df.localCheckpoint(eager=True)
    a, b = bands_df.alias("a"), bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b)
        )
        .distinct()
    )


def verify_pairs(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str,
    threshold: float,
    out_a: str = "src",
    out_b: str = "dst",
) -> DataFrame:
    """Exact Jaccard verification of LSH candidates: ``(out_a, out_b)``
    pairs and ``(id_col, s)`` DISTINCT shingle sets, which each caller
    builds (char trigrams of names, word 3-grams of documents) ->
    ``(out_a, out_b, jac)`` for the pairs with ``jac >= threshold``.
    Two equi-joins with the sets table, then array ops per pair."""
    def side(out: str, s: str) -> DataFrame:
        return sets.select(F.col(id_col).alias(out), F.col("s").alias(s))

    return (
        pairs.join(side(out_a, "s1"), out_a)
        .join(side(out_b, "s2"), out_b)
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn(
            "jac",
            F.col("inter") / (F.size("s1") + F.size("s2") - F.col("inter")),
        )
        .filter(F.col("jac") >= threshold)
        .select(out_a, out_b, "jac")
    )
