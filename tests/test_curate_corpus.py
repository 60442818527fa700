"""End-to-end gate for scripts/curate_corpus.py (VERDICT r3 #6): run the
extracted curate() stages on the real sf0.001 documents table, pin the
funnel counts, and check each stage's output against the corresponding
oracle-paired contract query."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "scripts")
)

from curate_corpus import curate  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def run(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return curate(spark, docs, pack_len=512)


def test_funnel_counts_monotone_and_complete(run):
    stages, report = run
    order = ["input", "after_quality_filter", "after_exact_dedup",
             "after_near_dedup", "after_sampling"]
    assert list(report) == order
    vals = [report[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert vals[0] > 0 and vals[-1] > 0
    # packing is 1:1 with sampling survivors
    assert stages["packed"].count() == report["after_sampling"]


def test_quality_stage_matches_contract_query(run, spark):
    """Stage 1 keeps exactly the docs the corpus_filter_decisions query
    keeps, modulo its non_english gate (the script balances languages by
    sampling instead of dropping)."""
    import __spark_entry__ as entry

    stages, _ = run
    dec = entry.queries()["corpus_filter_decisions"](spark, SF_DIR)
    want = {
        r.doc_id
        for r in dec.collect()
        if r.drop_reasons in ("", "non_english")
    }
    got = {r.doc_id for r in stages["quality"].select("doc_id").collect()}
    assert got == want


def test_exact_dedup_stage_keeps_lowest_id_per_content(run, spark):
    stages, _ = run
    quality = stages["quality"]
    want = {
        r.keep_id
        for r in quality.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"))
        .collect()
    }
    got = {r.doc_id for r in stages["exact_dedup"].select("doc_id").collect()}
    assert got == want


def test_sampling_stage_matches_contract_query(run, spark):
    """Stage 4 membership must be the stratified_sample query's md5
    criterion restricted to near-dedup survivors (the uniform is a pure
    function of doc_id, so set-intersection is exact)."""
    import __spark_entry__ as entry

    stages, _ = run
    sample_all = {
        r.doc_id
        for r in entry.queries()["stratified_sample"](spark, SF_DIR).collect()
    }
    before = {r.doc_id for r in stages["near_dedup"].select("doc_id").collect()}
    got = {r.doc_id for r in stages["sampled"].select("doc_id").collect()}
    assert got == before & sample_all


def test_packed_output_shape(run):
    stages, _ = run
    packed = stages["packed"].collect()
    assert {c for c in stages["packed"].columns} == {
        "doc_id", "lang", "text", "n_tokens", "pack_id", "pack_offset"
    }
    # per-language pack ids start at 0 and offsets stay within pack_len
    by_lang = {}
    for r in packed:
        by_lang.setdefault(r.lang, []).append(r)
        assert 0 <= r.pack_offset < 512
    for lang, rows in by_lang.items():
        assert min(r.pack_id for r in rows) == 0, lang


def test_bpe_packing_mode(spark):
    """--bpe-merges: the funnel tokenizes the sampled corpus with a
    learned merge table and packs by BPE token counts; every pack count
    must equal the driver-side encode of that doc's text."""
    from relation_extraction_transformer_spark.operators import bpe as BPE

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stages, report = curate(spark, docs, pack_len=256, bpe_merges=25)
    assert report["bpe_merges_learned"] == 25
    merges = BPE.learn_bpe(stages["sampled"], n_merges=25)
    packed = stages["packed"].collect()
    assert len(packed) == report["after_sampling"]
    for r in packed[:40]:
        want = sum(
            len(BPE.encode_word(w, merges))
            for w in r.text.split(" ") if w
        )
        assert r.n_tokens == want, r.doc_id
    # packing by BPE counts is internally consistent: offsets < pack_len
    assert all(0 <= r.pack_offset < 256 for r in packed)


def test_funnel_counts_golden(run):
    """Deterministic end-to-end funnel at sf0.001 — pinned so a silent
    semantic change in any stage fails loudly.  (Update deliberately if
    a stage's contract changes.)"""
    _, report = run
    assert report == {
        "input": 500,
        "after_quality_filter": 500,
        "after_exact_dedup": 500,
        "after_near_dedup": 477,
        "after_sampling": 249,
    }


def _word_trigram_jaccard(x, y):
    def grams(text):
        toks = text.split(" ")
        if len(toks) < 3:
            return {text}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    a, b = grams(x), grams(y)
    return len(a & b) / len(a | b)


def test_near_dedup_keepers_match_union_find(run, union_find):
    """The near-dedup stage against an independent resolver: every LSH
    candidate over the exact-dedup survivors is re-scored with
    pure-Python word 3-gram Jaccard, and the engine must verify exactly
    those at or above 0.1.  A union-find merges them, and the stage must
    keep exactly the lowest doc_id of each component plus every doc in
    no verified pair."""
    from relation_extraction_transformer_spark.functions import minhash as MH

    stages, _ = run
    exact = stages["exact_dedup"]
    texts = {r.doc_id: r.text for r in exact.collect()}
    cand = MH.band_candidate_pairs(
        MH.minhash_bands(
            exact, "doc_id", hashes=MH.word_shingle_hashes_sql("text")
        ),
        "doc_id",
    )
    sets = exact.select(
        "doc_id", F.array_distinct(MH.word_shingles(F.col("text"))).alias("s")
    )
    verified = {
        (r.src, r.dst)
        for r in MH.verify_pairs(cand, sets, "doc_id", 0.1).collect()
    }
    want = {
        (r.src, r.dst)
        for r in cand.collect()
        if _word_trigram_jaccard(texts[r.src], texts[r.dst]) >= 0.1
    }
    assert verified == want and want
    comp = union_find(want)
    keepers = {d for d in texts if comp.get(d, d) == d}
    got = {r.doc_id for r in stages["near_dedup"].select("doc_id").collect()}
    assert got == keepers


def test_curate_releases_all_cache_entries(spark):
    """A long-lived session must not accumulate cache entries per
    curate() call: after clearCache(), a curate() run (near-dedup bands,
    packer input) leaves the session's CacheManager empty."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    spark.catalog.clearCache()
    curate(spark, docs, pack_len=256)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_semantic_dedup_stage_drops_planted_embedding_dups(spark):
    """VERDICT r5 #6: with an embeddings frame supplied, the funnel runs
    a SemDeDup stage after near-dedup — planted exact-copy embeddings
    must drop (keeper = lower doc_id), reported as its own funnel row."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select(F.col("vec_id").alias("doc_id"), "embedding")
    # plant: every 50th doc's embedding overwrites its successor's
    src = emb.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1).alias("doc_id"), "embedding"
    )
    planted = emb.join(src.select("doc_id"), "doc_id", "left_anti") \
        .unionByName(src)
    stages, report = curate(spark, docs, embeddings=planted)
    keys = list(report)
    assert keys.index("after_semantic_dedup") == \
        keys.index("after_near_dedup") + 1
    assert report["after_semantic_dedup"] <= report["after_near_dedup"]
    near = {r.doc_id for r in stages["near_dedup"].select("doc_id").collect()}
    sem = {r.doc_id
           for r in stages["semantic_dedup"].select("doc_id").collect()}
    want_drops = {
        k + 1 for k in range(0, 500, 50) if k in near and k + 1 in near
    }
    assert want_drops, "fixture must plant at least one surviving pair"
    assert near - sem == want_drops
    # downstream stages consume the semantic survivors
    sampled = {r.doc_id for r in stages["sampled"].select("doc_id").collect()}
    assert sampled <= sem
