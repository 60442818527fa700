"""Plan-quality regression guards (SURVEY §4 / 100 TB discipline).

These assert the *shape* of the physical plans — the properties that keep
the pipeline viable at 1000-executor scale — so a future refactor cannot
silently reintroduce a wide-key shuffle, a per-row Python UDF, or an
unpruned scan.
"""

import os

import pytest
from pyspark.sql import functions as F

from relation_extraction_transformer_spark.plans import kg_sql as KQ

PAGES = KQ.PAGES_PARQUET


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_triples_plan_is_shuffle_free_and_pruned(spark):
    """scan -> triples: zero Exchange, lang filter pushed to parquet,
    ReadSchema pruned to url/html/lang (text/warc_ts never read)."""
    from relation_extraction_transformer_spark.plans import pipeline as PL

    pages = spark.read.parquet(PAGES)
    triples = PL.triples_plan(pages, spark, keep_probs=False)
    plan = _plan(triples)
    assert "Exchange" not in plan, "candidate pipeline must stay narrow"
    assert plan.count("MapInPandas") == 1, "exactly one Arrow UDF (inference)"
    assert "BatchEvalPython" not in plan, "no per-row Python anywhere"
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "text" not in scan[0].split("ReadSchema")[1].replace(
        "extracted_text", ""
    ), f"scan must not read the text column: {scan}"
    assert "EqualTo(lang,en)" in plan or "lang" in plan.split("PushedFilters")[1].split("]")[0], (
        "lang predicate must reach the parquet scan"
    )


def test_alias_dictionary_is_a_local_relation_of_the_gazetteer(spark):
    """The alias dictionary is an inline table: its optimized plan holds
    no ``LogicalRDD`` (a Python RDD whose build runs Python workers),
    and its rows are the ones a pure-Python derivation from the
    gazetteer gives."""
    import hashlib
    import re

    from relation_extraction_transformer_spark.operators import linking as L
    from relation_extraction_transformer_spark.sources import gazetteer as G

    d = L.entity_dictionary(spark)
    optimized = d._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in optimized, optimized

    def sid(s):
        return int(hashlib.md5(s.encode()).hexdigest()[1:16], 16)

    want = []
    for phrase, typ in G.build_gazetteer().items():
        aliases = [(phrase, 0)]
        if typ == "PERSON" and " " in phrase:
            aliases.append((phrase.split(" ")[-1], 1))
        for alias, rank in aliases:
            norm = re.sub(r"\s+", " ", alias.strip().lower())
            want.append((norm, phrase, typ, rank, sid(f"{typ}:{phrase}")))
    assert sorted(map(tuple, d.collect())) == sorted(want)


def test_linking_has_no_window_and_no_fact_side_exchange(spark):
    """Entity linking: best-candidate selection is an array argmin over a
    broadcast dictionary — no Window operator, no Exchange keyed on fact
    columns (the only Exchanges aggregate the tiny dictionary)."""
    from relation_extraction_transformer_spark.operators import linking as L

    triples = spark.read.parquet(KQ.TRIPLES_PARQUET)
    linked = L.link_triples(triples, L.entity_dictionary(spark))
    plan = _plan(linked)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the fact side must never shuffle: every shuffle Exchange in this plan
    # keys on the dictionary aggregation (alias_norm), never on triple
    # columns; BroadcastExchange (shipping the tiny dictionary) is fine
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "alias_norm" in line, (
                f"unexpected fact-side exchange: {line.strip()}"
            )


def test_near_dup_queries_block_on_lsh_bands(spark):
    """minhash_candidate_pairs and ngram_jaccard_buckets must join on
    (band, band_hash) — never an all-pairs or size-bucket join."""
    import __spark_entry__ as entry

    for name in ("minhash_candidate_pairs", "ngram_jaccard_buckets"):
        df = entry.queries()[name](spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        assert "band_hash" in plan, f"{name} must block on LSH bands"
        assert "CartesianProduct" not in plan, f"{name} must not cross-join"


def test_inference_input_scan_prunes_probs(spark):
    """keep_probs=False must not materialize the 42-float probs array."""
    from relation_extraction_transformer_spark.plans import pipeline as PL

    pages = spark.read.parquet(PAGES)
    t = PL.triples_plan(pages, spark, keep_probs=False)
    assert "probs" not in t.columns


def test_ann_ivf_broadcasts_centroids(spark):
    """IVF cell assignment must broadcast the tiny centroid table, never
    shuffle the candidate side for it."""
    import __spark_entry__ as entry

    df = entry.queries()["ann_ivf_topk"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_band_self_join_reuses_cached_signatures(spark):
    """Round-2 verdict item 2: the LSH band self-join must not compute the
    minhash signatures once per join side.  band_candidate_pairs
    checkpoints the band rows, so BOTH sides of the self-join read them
    back (Scan ExistingRDD) and the plan holds no signature computation
    (no array_min over shingle hashes)."""
    import __spark_entry__ as entry

    for name in ("minhash_candidate_pairs", "ngram_jaccard_buckets"):
        df = entry.queries()[name](spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        assert "Scan ExistingRDD" in plan, (
            f"{name}: band rows must come from the checkpoint"
        )
        assert "array_min" not in plan, (
            f"{name}: minhash signatures must not be recomputed"
        )


def test_minhash_bands_plan_is_narrow(spark):
    """Round-3 rewrite: the signature computation must be shuffle-free —
    base hashes + k array_min(transform(...)) projections, no explode/
    groupBy (round 2 shuffled every shingle)."""
    import __spark_entry__ as entry

    df = entry.queries()["minhash_bands"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # r8: a single ROUND-ROBIN input-balancing exchange is permitted
    # (sql_queries.tb — fires only when the scan under-fills the
    # cluster, identity at production split counts); the signature
    # computation itself must still never shuffle, so any exchange in
    # the plan must be the round-robin one, never a hash repartition
    # of shingles or an aggregation exchange
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, (
                f"minhash signatures must not shuffle: {line}"
            )
    assert "HashAggregate" not in plan, "no per-shingle aggregation"
    assert "explode" not in plan, "no shingle explode (stack unpivot ok)"


def test_bpe_encode_plan_is_narrow(spark):
    """Corpus-wide BPE encoding must be embarrassingly parallel: exactly
    one MapInPandas, zero Exchange (the merge table travels in the
    closure, not through a join)."""
    from relation_extraction_transformer_spark.operators import bpe as BPE

    docs = spark.createDataFrame(
        [(i, "low lower lowest") for i in range(20)],
        "doc_id long, text string",
    )
    merges = [("l", "o"), ("lo", "w"), ("low", "</w>")]
    plan = _plan(BPE.bpe_encode(docs, merges))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_vocab_ranked_plan_has_no_single_partition_exchange(spark):
    """Round-5 rewrite: frequency ranking must never funnel the whole
    vocab through one task — the two-phase (partitioned window +
    broadcast offsets) form replaces the global Window.orderBy, so the
    plan must contain no SinglePartition exchange (the packing.py
    discipline, applied to the last remaining global window)."""
    from relation_extraction_transformer_spark.plans import sql_queries as Q

    df = Q.REGISTRY["vocab_ranked"].spark(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, (
        "offsets must come back as a broadcast join"
    )


def test_pii_redaction_plan_is_a_pure_map_stage(spark):
    """PII scrub: planted-concat + 3 regexp_replace chains + md5 must
    compile to a single narrow projection over the pruned scan — zero
    Exchange, zero Python (the 100-TB shape: redaction costs one pass)."""
    from relation_extraction_transformer_spark.plans import sql_queries as Q

    df = Q.REGISTRY["pii_redaction"].spark(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "doc_id" in scan[0] and "lang" not in scan[0], (
        f"scan must read only doc_id/text: {scan}"
    )


def test_boilerplate_lines_broadcasts_the_boilerplate_set(spark):
    """Line-level dedup: the document-frequency aggregation is the only
    wide stage; the tiny df>=T boilerplate set must come back as a
    BroadcastHashJoin (a shuffle join here would re-shuffle the whole
    line stream at 100 TB)."""
    from relation_extraction_transformer_spark.plans import sql_queries as Q

    df = Q.REGISTRY["boilerplate_lines"].spark(
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_semdedup_pairwise_stage_is_cell_keyed_not_all_pairs(spark):
    """SemDeDup's scale claim is that clustering bounds the quadratic
    term: the pairwise stage must be an EQUI-join on the cell key.  The
    only permitted nested-loop is the deliberate 4-row broadcast
    centroid crossJoin of the assignment stage."""
    from relation_extraction_transformer_spark.plans import sql_queries as Q

    df = Q.REGISTRY["semdedup_drops"].spark(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, (
        "only the bounded centroid crossJoin may be nested-loop"
    )
    assert "cell" in plan


def test_dup_clusters_plan_depth_is_bounded(spark):
    """The components loop localCheckpoints per round, so the final plan
    must be shallow (a scan of checkpointed labels joined to documents)
    — not an exponentially grown join tree."""
    import __spark_entry__ as entry

    df = entry.queries()["dup_clusters"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("ExistingRDD") >= 1, "labels must be checkpointed"
    assert len(plan.splitlines()) < 60, (
        f"plan unexpectedly deep ({len(plan.splitlines())} lines) — "
        "did the per-round localCheckpoint disappear?"
    )


def test_hll_plan_is_jvm_side_with_partial_aggregation(spark):
    """The sketch path must stay whole-stage-codegen JVM: no Python at
    all, and the register groupBy must partially aggregate map-side
    (the property that makes the shuffle O(partitions x 1024) rather
    than O(tokens))."""
    from relation_extraction_transformer_spark.functions import sketches as SK

    toks = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    plan = _plan(SK.hll_registers(toks, "tok"))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "partial_max" in plan, "register max must combine map-side"
    assert "Exchange SinglePartition" not in plan, (
        "register frame must stay hash-partitioned (1024 buckets)"
    )


def test_edge_fold_is_one_aggregation_and_its_report_a_projection(
    spark, tmp_path, monkeypatch
):
    """A fold onto a standing edge state writes one dataset whose plan
    has exactly one aggregation Exchange (the read state and the delta
    merge in one groupBy), and the report over a read state is a
    projection: no Exchange and no join."""
    from relation_extraction_transformer_spark.operators import (
        incremental as INC,
    )
    from relation_extraction_transformer_spark.sources import tables as TB
    from test_tables import _fold_edges

    obs = spark.createDataFrame(
        [(f"s{i % 3}", "p", f"o{i % 5}", f"https://h.example/{i}", 0.5,
          1_700_000_000 + i) for i in range(40)],
        "subj string, pred string, obj string, url string, prob double, "
        "ts long",
    )
    state_dir = str(tmp_path / "edges")
    _fold_edges(spark, obs.where(F.col("ts") % 2 == 0), state_dir)
    written = []
    real_write = TB.write_table

    def recorded(df, *args, **kwargs):
        written.append(_plan(df))
        return real_write(df, *args, **kwargs)

    monkeypatch.setattr(TB, "write_table", recorded)
    s = _fold_edges(spark, obs.where(F.col("ts") % 2 == 1), state_dir)
    assert len(written) == 1, "one dataset per edge version"
    exchanges = [
        line for line in written[0].splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 1, exchanges

    state = INC.read_edge_state(
        spark, os.path.join(state_dir, f"v{s['state_version']}"))
    report = _plan(INC.edge_report(state))
    assert "Exchange" not in report and "Join" not in report, report


def test_cms_plan_is_jvm_side_with_partial_aggregation(spark):
    from relation_extraction_transformer_spark.functions import sketches as SK

    toks = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    plan = _plan(SK.cms_sketch(toks, "tok"))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "partial_count" in plan, "grid counts must combine map-side"
    assert "Exchange SinglePartition" not in plan


def test_khop_seed_pick_and_frontier_joins_are_scale_shaped(
    spark, raw_graph_plans
):
    """kg_khop's seed pick must plan as TakeOrderedAndProject (per-
    partition top-k + driver merge of 2 rows), never a global sort
    through one partition; each BFS round must broadcast the (small)
    frontier against the cached edge list (InMemoryTableScan — the
    edges are persisted once, hash-partitioned on subj) rather than
    shuffling the edges per round; and nothing drops to per-row
    Python."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    out = KQ._kg_khop_spark(spark, "")
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan, "seed pick must be top-k"
    assert "Exchange SinglePartition" not in plan
    assert "InMemoryTableScan" in plan, "edge cache must back each round"
    assert "BroadcastHashJoin" in plan, "frontier side must broadcast"
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_fusion_and_conflicts_plans_are_scale_shaped(spark):
    """kg_fusion: pruned scan + partial aggregation before the edge-key
    shuffle.  kg_conflicts: the window runs partitioned by (subj, pred)
    — never an Exchange SinglePartition (a global window would funnel
    every candidate fact through one task)."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    fusion = _plan(KQ._kg_fusion_spark(spark, ""))
    assert "BatchEvalPython" not in fusion and "MapInPandas" not in fusion
    scan = [l for l in fusion.splitlines() if "ReadSchema" in l][0]
    read = scan.split("ReadSchema")[1]
    assert "subj_type" not in read and "sent_id" not in read, (
        f"fusion must prune unused columns: {read}"
    )
    assert "partial_count" in fusion, "map-side combine before the shuffle"

    conflicts = _plan(KQ._kg_conflicts_spark(spark, ""))
    assert "SinglePartition" not in conflicts, (
        "conflict window must stay partitioned by (subj, pred)"
    )
    assert "BatchEvalPython" not in conflicts


def test_type_violations_broadcasts_the_constraint_table(spark):
    """The 10-row ontology joins broadcast against the fact stream —
    zero fact-side Exchange before the aggregation."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    plan = _plan(KQ._kg_type_violations_spark(spark, ""))
    assert "BroadcastHashJoin" in plan, "constraint join must broadcast"
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ntriples_serialization_plan(spark):
    """Serialization is JVM string expressions over the distinct-fact
    aggregation: exactly the distinct's shuffle, nothing Python-side,
    scan pruned to the three fact columns."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    plan = _plan(KQ._kg_ntriples_spark(spark, ""))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    read = scan.split("ReadSchema")[1]
    assert "prob" not in read and "url" not in read, (
        f"export must prune to subj/pred/obj: {read}"
    )
