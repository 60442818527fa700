#!/usr/bin/env python
"""Training-corpus curation pipeline: the end-to-end cleaning job the
individual operators exist for, as one spark-submit entry.

    quality filter  ->  exact dedup  ->  MinHash-LSH near-dedup
                    (duplicate-cluster resolution via connected
                    components over verified pairs)
                    ->  [semantic dedup over embeddings, optional]
                    ->  stratified sample  ->  sequence packing

Each stage is the library operator (same expressions as the oracle-paired
contract queries); the job emits the curated corpus plus a per-stage
funnel report — the audit artifact a data-curation run ships with.

    spark-submit --py-files ret_spark.zip scripts/curate_corpus.py \
        --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/curated --pack-len 512

The stage logic lives in :func:`curate` so tests drive it directly
(tests/test_curate_corpus.py pins the sf0.001 funnel counts and checks
stage outputs against the oracle-paired contract queries).

Scale notes: every stage is a narrow projection or a single
aggregation/join already audited for 100 TB shape (see BENCH.md plan
audit) — the near-dedup join is LSH-band-blocked, never all-pairs, and
the packing cumsum is the two-phase range-sharded form from
operators/packing.py — no stratum ever funnels through one task.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
os.environ.setdefault("OMP_NUM_THREADS", "1")


def curate(
    spark,
    docs,
    pack_len: int = 512,
    jaccard: float = 0.1,
    keep_rate_other: float = 0.25,
    bpe_merges: int = 0,
    embeddings=None,
    sem_threshold: float = 0.999,
    sem_cell_size: int = 512,
    sem_cell_cap: int = 4096,
):
    """Run the curation funnel over a (doc_id, lang, text) DataFrame.

    Returns ``(stages, report)``: ``stages`` maps stage name to its
    output DataFrame (lazy; ``packed`` is the final curated corpus) and
    ``report`` carries the per-stage row counts (computed eagerly — the
    funnel audit trail).

    ``embeddings`` (optional, (doc_id, embedding array) DataFrame) adds
    a SemDeDup semantic-dedup stage after near-dedup
    (operators/semdedup.py: cells ∝ corpus size via ``sem_cell_size``,
    per-cell cap ``sem_cell_cap`` — never locally quadratic).

    ``bpe_merges > 0`` additionally learns a BPE merge table of that
    size on the sampled corpus, tokenizes it corpus-wide
    (operators/bpe.py::bpe_encode), and packs by BPE token counts
    instead of whitespace counts — the shape an LLM pretraining pipeline
    actually ships (packs measured in model tokens).  The tokenized
    frame is exposed as ``stages["tokenized"]``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from relation_extraction_transformer_spark.functions import minhash as MH
    from relation_extraction_transformer_spark.operators import bpe as BPE
    from relation_extraction_transformer_spark.operators import (
        canonicalize as CANON,
    )
    from relation_extraction_transformer_spark.operators import packing as PK
    from relation_extraction_transformer_spark.operators import semdedup as SEM

    docs = docs.select("doc_id", "lang", "text")
    stages = {"input": docs}
    report = {"input": docs.count()}

    # 1. quality filter (same gates as the corpus_filter_decisions query,
    # minus its non_english gate — language balance is handled by the
    # stratified sample below, not by dropping)
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    bg = F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    dup_bg = F.when(
        n >= 2,
        F.lit(1.0) - F.size(F.array_distinct(bg)).cast("double") / F.size(bg),
    ).otherwise(F.lit(0.0))
    kept = docs.filter(
        (n >= 10) & (n <= 5000) & (ttr >= 0.2) & (dup_bg <= 0.3)
    )
    stages["quality"] = kept
    report["after_quality_filter"] = kept.count()

    # 2. exact dedup: keep the lowest doc_id per content hash
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    stages["exact_dedup"] = kept
    report["after_exact_dedup"] = kept.count()

    # 3. near-dedup: LSH bands -> candidate pairs -> Jaccard verify ->
    # duplicate-CLUSTER resolution (r6): connected components over the
    # verified-pair graph, keep the lowest doc_id per component.  The
    # old per-pair higher-id drop under-resolves transitive chains —
    # with verified pairs {a~c, b~c} it dropped only c and shipped the
    # near-identical a AND b; one keeper per component is the
    # deterministic answer under any partitioning (the dup_clusters
    # contract query's semantics).
    bands = MH.minhash_bands(
        kept, "doc_id", hashes=MH.word_shingle_hashes_sql("text")
    )
    sh = kept.select(
        "doc_id", F.array_distinct(MH.word_shingles(F.col("text"))).alias("s")
    )
    verified = MH.verify_pairs(
        MH.band_candidate_pairs(bands, "doc_id"), sh, "doc_id", jaccard
    )
    labels = CANON.connected_components(verified)
    kept = (
        CANON.label_components(kept, labels, "doc_id")
        .filter(F.col("component") == F.col("doc_id"))
        .drop("component")
    )
    stages["near_dedup"] = kept
    report["after_near_dedup"] = kept.count()

    # 3b. (optional) semantic dedup: SemDeDup over an embedding column,
    # one keeper (lowest doc_id) per within-cell near-duplicate group
    if embeddings is not None:
        emb = kept.select("doc_id").join(embeddings, "doc_id")
        sem_drop = SEM.semdedup(
            emb, "doc_id", "embedding",
            threshold=sem_threshold,
            target_cell_size=sem_cell_size,
            cell_cap=sem_cell_cap,
        ).filter(F.col("dropped")).select("doc_id")
        kept = kept.join(sem_drop, "doc_id", "left_anti")
        stages["semantic_dedup"] = kept
        report["after_semantic_dedup"] = kept.count()

    # 4. deterministic stratified sample (md5 uniform; no rand())
    u = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("sample"), "doc_id")), 1, 8),
        16, 10,
    ).cast("double") / F.lit(float(1 << 32))
    rate = F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(
        F.lit(keep_rate_other)
    )
    kept = kept.filter(u < rate)
    stages["sampled"] = kept
    report["after_sampling"] = kept.count()

    # 5. (optional) BPE-tokenize the surviving corpus and pack by model
    # tokens; otherwise pack by whitespace token counts
    if bpe_merges > 0:
        merges = BPE.learn_bpe(kept, n_merges=bpe_merges)
        report["bpe_merges_learned"] = len(merges)
        tokenized = BPE.bpe_encode(
            kept.select("doc_id", "lang", "text"), merges
        )
        stages["tokenized"] = tokenized
        to_pack = tokenized.select(
            "doc_id", "lang", "text",
            F.size("bpe_tokens").alias("n_tokens"),
        )
    else:
        to_pack = kept.select(
            "doc_id", "lang", "text",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )

    # 6. sequence packing, per language — scale-safe two-phase form
    # (operators/packing.py).  A plain Window.partitionBy("lang") would
    # funnel the dominant-language stratum through one task; the packer
    # range-shards WITHIN each language and offsets by broadcast shard
    # totals, so no single task ever sees a whole stratum.  The packer
    # runs three actions over its input, whose plan carries the whole
    # funnel (LSH near-dedup, optionally a corpus-wide BPE encode):
    # checkpoint it so that plan runs once.
    packed = PK.pack_segments(
        to_pack.localCheckpoint(eager=True),
        pack_len=pack_len,
        group_cols=("lang",),
    ).select("doc_id", "lang", "text", "n_tokens", "pack_id", "pack_offset")
    stages["packed"] = packed
    return stages, report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet/table")
    ap.add_argument("--out", required=True)
    ap.add_argument("--pack-len", type=int, default=512)
    ap.add_argument("--jaccard", type=float, default=0.1,
                    help="near-dup verify threshold on word-3-gram Jaccard")
    ap.add_argument("--keep-rate-other", type=float, default=0.25,
                    help="sampling rate for non-en strata (en keeps 1.0)")
    ap.add_argument("--bpe-merges", type=int, default=0,
                    help="if > 0, learn a BPE merge table of this size on "
                         "the sampled corpus and pack by BPE token counts")
    ap.add_argument("--embeddings", default=None,
                    help="optional (vec_id|doc_id, embedding) parquet; "
                         "adds a SemDeDup semantic-dedup stage")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("curate-corpus")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from relation_extraction_transformer_spark.sources import tables as TB

    docs = TB.read_table(spark, args.docs)
    embeddings = None
    if args.embeddings:
        embeddings = TB.read_table(spark, args.embeddings)
        if "vec_id" in embeddings.columns:
            embeddings = embeddings.withColumnRenamed("vec_id", "doc_id")
        embeddings = embeddings.select("doc_id", "embedding")
    stages, report = curate(
        spark,
        docs,
        pack_len=args.pack_len,
        jaccard=args.jaccard,
        keep_rate_other=args.keep_rate_other,
        bpe_merges=args.bpe_merges,
        embeddings=embeddings,
    )
    TB.write_table(stages["packed"], os.path.join(args.out, "curated"))
    report["packs"] = (
        spark.read.parquet(os.path.join(args.out, "curated"))
        .select("lang", "pack_id").distinct().count()
    )

    with open(os.path.join(args.out, "report.json"), "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
