"""Entity linking, canonicalization, and graph materialization tests."""

import os
from decimal import Decimal

import pyspark.sql.functions as F
import pytest

from relation_extraction_transformer_spark.operators import canonicalize as CANON
from relation_extraction_transformer_spark.operators import linking as LINK
from relation_extraction_transformer_spark.plans import graph as GRAPH
from relation_extraction_transformer_spark.plans import kg_sql as KQ
from relation_extraction_transformer_spark.plans import pipeline as PL
from relation_extraction_transformer_spark.sources import pages as PG


def test_connected_components_known_graph(spark):
    # two components: {1,2,3,4} via chain, {10, 11}; 20 isolated via self-edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src: long, dst: long"
    )
    got = {
        (r.node_id, r.component)
        for r in CANON.connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20)}


def test_connected_components_long_chain(spark):
    # a 40-node path exercises label shortcutting (log-round convergence)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src: long, dst: long"
    )
    comps = CANON.connected_components(edges)
    assert comps.select("component").distinct().count() == 1
    assert comps.agg(F.min("component")).first()[0] == 0


_DEC = [Decimal(9 * 10**37 + i) for i in range(7)]


@pytest.mark.parametrize(
    "ids, id_type, ansi",
    [
        # 0.01 .. 0.08: distinct doubles that all round to the same integer
        ([round(0.01 * k, 2) for k in range(1, 9)], "double", None),
        ([f"n{k:03d}" for k in range(12)], "string", None),
        # ids near the decimal(38,0) ceiling: any sum of labels overflows
        (_DEC, "decimal(38,0)", None),
        (_DEC, "decimal(38,0)", "false"),
    ],
    ids=["fractional_double", "string", "decimal_ansi_default",
         "decimal_ansi_off"],
)
def test_connected_components_id_types(spark, union_find, ids, id_type, ansi):
    # the stop test counts changed labels, so it never depends on the
    # ids' numeric image
    path = list(zip(ids, ids[1:]))
    edges = spark.createDataFrame(path, f"src {id_type}, dst {id_type}")
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    try:
        if ansi is not None:
            spark.conf.set(key, ansi)
        got = {
            r.node_id: r.component
            for r in CANON.connected_components(edges).collect()
        }
    finally:
        spark.conf.set(key, before)
    assert got == union_find(path)


def _forbid_driver_actions(monkeypatch, frame, who):
    """Make collect/count/first/take on ``frame``'s class raise, so only
    checkpoints can act until the patches are undone."""

    def no_action(*args, **kwargs):
        raise AssertionError(f"{who} ran a driver action")

    for name in ("collect", "count", "first", "take"):
        monkeypatch.setattr(type(frame), name, no_action)


def test_connected_components_convergence_adds_no_job(
    spark, union_find, monkeypatch
):
    """Only CC's own localCheckpoints act: the stop test rides the
    round's checkpoint, so no collect/count/first/take runs."""
    paths = [
        [(i, i + 1) for i in range(60)],
        [(f"s{i:03d}", f"s{i + 1:03d}") for i in range(60)],
    ]
    frames = [
        spark.createDataFrame(paths[0], "src long, dst long"),
        spark.createDataFrame(paths[1], "src string, dst string"),
    ]
    _forbid_driver_actions(monkeypatch, frames[0], "connected_components")
    comps = [CANON.connected_components(f) for f in frames]
    monkeypatch.undo()
    for path, comp in zip(paths, comps):
        assert {
            r.node_id: r.component for r in comp.collect()
        } == union_find(path)


def test_resolution_leaves_no_cache_entries(spark, tmp_path):
    """A long-lived session that rebuilds the graph, folds name deltas
    and runs the LSH queries must not accumulate cache entries: every
    intermediate an operator materializes is released by that operator."""
    import __spark_entry__ as entry
    from relation_extraction_transformer_spark.operators import (
        incremental_canon as IC,
    )

    triples = spark.createDataFrame(
        [
            ("Alice Turner", "works_for", "Acme Corp", 0.9, "u1"),
            ("alice turner", "works_for", "Acme Corp.", 0.8, "u2"),
            ("Bob Stone", "lives_in", "Springfield", 0.7, "u3"),
        ],
        "subj string, pred string, obj string, prob double, url string",
    )
    state_dir = str(tmp_path / "canon")
    os.makedirs(state_dir)
    text = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(1, text), (2, text), (3, "an unrelated short note")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "sf" / "documents.parquet"))
    spark.catalog.clearCache()
    for run in range(2):
        nodes, edges = GRAPH.build_graph(triples, spark)
        GRAPH.write_graph(nodes, edges, str(tmp_path / f"graph{run}"))
    for delta in (
        [(1, "kumquat zeppelin alpha"), (2, "kumquat zeppelin alphq")],
        [(3, "kumquat zeppelin alpha x"), (4, "lonely surface")],
    ):
        IC.fold_mentions_delta(
            spark,
            spark.createDataFrame(delta, "node_id long, name string"),
            state_dir,
        )
    pairs = entry.queries()["minhash_candidate_pairs"](
        spark, str(tmp_path / "sf")
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_build_graph_links_each_triple_once(spark, tmp_path):
    """build_graph links the triples once: the LSH band and verify
    checkpoints, the canon-map checkpoint and both writes of write_graph
    read one materialized copy of the linked triples, so a build plus a
    write reads every input row exactly once."""
    rows = [
        (s, p, o, 0.5 + 0.01 * (i % 40), f"u{i % 23}")
        for i, (s, p, o) in enumerate(
            (f"{first} {last}", pred, org)
            for first in ("Alice", "alice", "Alicia", "Bob", "Quintar")
            for last in ("Turner", "Turnr", "Stone")
            for pred in ("works_for", "lives_in")
            for org in ("Acme Corp", "Acme Corp.", "Springfield", "Globex")
        )
    ]
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj string, prob double, url string"
    ).repartition(3)
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    counted = triples.mapInPandas(count_rows, triples.schema)
    nodes, edges = GRAPH.build_graph(counted, spark)
    out = str(tmp_path / "graph")
    GRAPH.write_graph(nodes, edges, out)
    assert seen.value == len(rows)
    written = spark.read.parquet(f"{out}/edges").agg(F.sum("weight"))
    assert written.first()[0] == len(rows)


def test_linking_best_candidate(spark):
    dictionary = LINK.entity_dictionary(spark)
    df = spark.createDataFrame(
        [
            ("Alice Turner", "PERSON"),   # exact canonical
            ("turner", "PERSON"),         # family-name alias, ambiguous ->
                                          # lowest entity_id wins
            ("Acme Corp", "ORGANIZATION"),
            ("Unknownia", "CITY"),        # unlinkable
        ],
        "subj: string, subj_type: string",
    ).withColumn("obj", F.lit("x")).withColumn("obj_type", F.lit("CITY"))
    linked = LINK.link_triples(df, dictionary).collect()
    by_surface = {r.subj: r for r in linked}
    assert by_surface["Alice Turner"].subj_canonical == "Alice Turner"
    assert by_surface["Acme Corp"].subj_canonical == "Acme Corp"
    # alias rank 1 link still resolves to SOME Turner person
    assert by_surface["turner"].subj_canonical.endswith("Turner")
    # unlinkable keeps surface and synthesizes a stable id
    assert by_surface["Unknownia"].subj_canonical == "Unknownia"
    assert by_surface["Unknownia"].subj_entity_id is not None
    # determinism of ambiguous links
    linked2 = {r.subj: r.subj_entity_id for r in LINK.link_triples(df, dictionary).collect()}
    assert linked2 == {r.subj: r.subj_entity_id for r in linked}


def test_link_surface_pre_aggregated_dictionary_matches_inline(spark):
    """Round 5: aggregate_dictionary + pre_aggregated=True (the
    materialized-dictionary path that makes the sort-merge join AQE
    skew-splittable, bench.py skew_join section) must link identically
    to the inline form, broadcast and sort-merge alike."""
    dictionary = LINK.entity_dictionary(spark)
    agg = LINK.aggregate_dictionary(dictionary)
    df = spark.createDataFrame(
        [("Alice Turner", "PERSON"), ("turner", "PERSON"),
         ("Acme Corp", "ORGANIZATION"), ("Unknownia", "CITY")],
        "surface: string, ner_type: string",
    )

    def rows(d, pre, bc):
        return sorted(
            tuple(r)
            for r in LINK.link_surface(
                df, d, "surface", "ner_type", "ent",
                broadcast_dict=bc, pre_aggregated=pre,
            ).collect()
        )

    want = rows(dictionary, False, True)
    assert rows(agg, True, True) == want
    assert rows(agg, True, False) == want
    assert rows(dictionary, False, False) == want


def test_minhash_blocking_finds_near_duplicates(spark):
    names = spark.createDataFrame(
        [
            (1, "alice turner"),
            (2, "alice turner"),      # exact dup
            (3, "alicia turner"),     # near dup
            (4, "globex inc"),
        ],
        "node_id: long, name: string",
    )
    bands = CANON.minhash_band_hashes(names, "name")
    pairs = CANON.candidate_pairs(bands)
    verified = {
        (r.src, r.dst)
        for r in CANON.verify_pairs_jaccard(pairs, names, 0.5).collect()
    }
    assert (1, 2) in verified
    assert all(4 not in p for p in verified)


def test_build_graph_end_to_end(spark):
    pages = PG.synthetic_pages(spark, 40, seed=11, partitions=4)
    triples = PL.triples_plan(pages, spark, keep_probs=False)
    nodes, edges = GRAPH.build_graph(triples, spark)
    n_nodes = nodes.count()
    n_edges = edges.count()
    assert n_nodes > 5 and n_edges > 5
    # every edge endpoint resolves to a node
    node_ids = {r.canonical_id for r in nodes.collect()}
    for r in edges.select("src", "dst").collect():
        assert r.src in node_ids and r.dst in node_ids
    # weights aggregate multiple evidence rows
    assert edges.agg(F.max("weight")).first()[0] >= 1


def _char_trigram_jaccard(x, y):
    def grams(name):
        s = f"^{name}$"
        return {s[i:i + 3] for i in range(len(s) - 2)}

    a, b = grams(x), grams(y)
    return len(a & b) / len(a | b)


def test_build_graph_canonical_ids_match_union_find(spark, union_find):
    """build_graph's canonical ids against an independent resolver.
    Every LSH candidate is re-scored with pure-Python Jaccard over the
    char trigrams of ``^name$``: the engine must verify exactly the
    candidates at or above the threshold.  Those pairs are merged by a
    union-find, and each raw node must carry its component's lowest id:
    one nodes row per component with its member count, and every triple
    counted on the edge between its endpoints' components."""
    import re
    from collections import Counter

    planted = [
        # a chain: holdings~holding and holdings~holdngs verify,
        # holding~holdngs is below the threshold
        ("Quintar Holdings", "owns", "Zorblax Industries"),
        ("quintar holding", "owns", "Zorblax Industrie"),
        ("Quintar  Holdngs", "owns", "zorblax industry"),
        ("Quintar Holdings Ltd", "owns", "Zorblax Indust"),
        ("Merovia Bank", "funds", "Zorblax Industries Inc"),
        ("merovia banks", "funds", "Quintar Holdings"),
        ("Alice Turner", "works_for", "Acme Corp"),
        ("alice turner", "works_for", "Merovia Bank"),
    ]
    triples = spark.createDataFrame(
        [(s, p, o, 0.9, f"u{i}") for i, (s, p, o) in enumerate(planted)],
        "subj string, pred string, obj string, prob double, url string",
    )
    nodes, edges = GRAPH.build_graph(triples, spark)

    linked = LINK.link_triples(
        triples.withColumn("subj_type", F.lit(None).cast("string"))
        .withColumn("obj_type", F.lit(None).cast("string")),
        LINK.entity_dictionary(spark),
    ).collect()
    surfaces = {}
    for r in linked:
        for nid, name in ((r.subj_entity_id, r.subj_canonical),
                          (r.obj_entity_id, r.obj_canonical)):
            surfaces.setdefault(nid, set()).add(
                re.sub(r"\s+", " ", name.strip().lower())
            )
    names = {nid: min(v) for nid, v in surfaces.items()}
    ndf = spark.createDataFrame(
        list(names.items()), "node_id long, name string"
    )
    cdf = CANON.candidate_pairs(CANON.minhash_band_hashes(ndf, "name"))
    cand = {(r.src, r.dst) for r in cdf.collect()}
    verified = {
        (r.src, r.dst)
        for r in CANON.verify_pairs_jaccard(
            cdf, ndf, CANON.JACCARD_THRESHOLD
        ).collect()
    }
    want = {
        (a, b) for a, b in cand
        if _char_trigram_jaccard(names[a], names[b]) >= CANON.JACCARD_THRESHOLD
    }
    assert verified == want
    comp = union_find(want)
    label = {nid: comp.get(nid, nid) for nid in names}
    # the planted chain is one component although its ends do not verify
    by_name = {v: k for k, v in names.items()}
    chain = ("quintar holdings", "quintar holding", "quintar holdngs")
    assert len({label[by_name[n]] for n in chain}) == 1

    assert {
        r.canonical_id: r.merged_surface_forms for r in nodes.collect()
    } == Counter(label.values())
    assert {
        (r.src, r.pred, r.dst): r.weight for r in edges.collect()
    } == Counter(
        (label[r.subj_entity_id], r.pred, label[r.obj_entity_id])
        for r in linked
    )


def test_both_engines_and_the_fold_follow_the_one_threshold(
    spark, monkeypatch, tmp_path
):
    """The entity threshold has one definition,
    ``CANON.JACCARD_THRESHOLD``, which Spark's ``build_graph``, its DuckDB
    twin (``kg_nodes``) and the canonical fold read when called.  The
    frozen triples' names hold no verified pair at the shipped value, so
    the cross-engine ``kg_nodes`` check never sees a merge.  Lowered to
    0.4, names merge: both engines still agree, on a node count unlike
    the shipped one, and two folds of the crawl's names equal their
    rebuild, merges included (one joins names of different folds, so a
    fold that ignored the constant would split it)."""
    import duckdb
    from relation_extraction_transformer_spark.operators import (
        incremental_canon as IC,
    )

    con = duckdb.connect()

    def duck_nodes():
        sql = KQ._graph_common_sql() + KQ._KG_NODES_SELECT
        return sorted(con.sql(sql).fetchall())

    shipped = len(duck_nodes())
    monkeypatch.setattr(CANON, "JACCARD_THRESHOLD", 0.4)
    want = duck_nodes()
    nodes, _ = GRAPH.build_graph(KQ._frozen_triples(spark), spark)
    assert sorted(map(tuple, nodes.collect())) == want
    assert len(want) != shipped
    assert any(merged > 1 for *_, merged in want)

    mentions = IC.mention_names(KQ._frozen_triples(spark))
    parity = F.col("node_id") % 2
    state_dir = str(tmp_path / "canon")
    os.makedirs(state_dir)
    for d in (0, 1):
        IC.fold_mentions_delta(spark, mentions.where(parity == d), state_dir)
    folded, _ = IC.read_canon_state(spark, os.path.join(state_dir, "v2"))
    rebuilt = {
        r.node_id: r.component for r in IC.canon_state(mentions).collect()
    }
    assert {r.node_id: r.component for r in folded.collect()} == rebuilt
    assert any(n != c for n, c in rebuilt.items())


def test_linking_dictionary_reduction_preserves_argmin(spark):
    """The per-(alias, rank, type) min-entity reduction must not change
    any link: verify against a brute-force pandas argmin over the FULL
    unreduced dictionary."""
    import pandas as pd

    dictionary = LINK.entity_dictionary(spark)
    full = dictionary.toPandas()
    df = spark.createDataFrame(
        [(s, t) for s in ("Alice Turner", "turner", "Acme Corp", "Paris",
                          "hassan", "1990", "Nobody Here")
         for t in ("PERSON", "ORGANIZATION", "CITY", "DATE")],
        "subj: string, subj_type: string",
    ).withColumn("obj", F.lit("x")).withColumn("obj_type", F.lit("CITY"))
    linked = {(r.subj, r.subj_type): (r.subj_entity_id, r.subj_canonical)
              for r in LINK.link_triples(df, dictionary).collect()}

    for (surface, typ), (got_id, got_canon) in linked.items():
        norm = " ".join(surface.strip().lower().split())
        cands = full[full.alias_norm == norm]
        if len(cands) == 0:
            assert got_canon == surface
            continue
        best = min(
            cands.itertuples(),
            key=lambda c: (c.alias_rank, 0 if c.ner_type == typ else 1,
                           c.entity_id),
        )
        assert got_id == best.entity_id, (surface, typ)
        assert got_canon == best.canonical_name, (surface, typ)


def test_linking_sort_merge_path_matches_broadcast(spark):
    """Round-2 verdict item 6: the big-dictionary path.  With the
    broadcast hint off and auto-broadcast disabled, the SAME linking plan
    must run as a shuffle join (SortMergeJoin/ShuffledHashJoin, AQE
    skew-join eligible) and produce row-identical results to the
    broadcast path."""
    import pyspark.sql.functions as F

    triples = spark.read.parquet(KQ.TRIPLES_PARQUET)
    dictionary = LINK.entity_dictionary(spark)

    cols = ["subj", "obj", "subj_entity_id", "obj_entity_id",
            "subj_canonical", "obj_canonical"]
    want = sorted(
        map(tuple, LINK.link_triples(triples, dictionary)
            .select(cols).collect())
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        linked = LINK.link_triples(
            triples, dictionary, broadcast_dict=False
        )
        plan = linked._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        got = sorted(map(tuple, linked.select(cols).collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want


def test_triangle_count_matches_bruteforce(spark):
    """kg_triangle_count's degree-oriented compact-forward join vs an
    independent adjacency-set brute force over the frozen triples
    artifact — guards the orientation logic (a shared-bug risk between
    the Spark plan and its DuckDB twin, which use the same algorithm)."""
    import itertools

    import pandas as pd

    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    row = KQ.KG_REGISTRY["kg_triangle_count"].spark(spark, "").toPandas().iloc[0]

    tri = pd.read_parquet(KQ.TRIPLES_PARQUET, columns=["subj", "obj"])
    tri = tri[tri.subj != tri.obj]
    edges = {tuple(sorted(p)) for p in zip(tri.subj, tri.obj)}
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n_tri = sum(
        1
        for v, nbrs in adj.items()
        for x, y in itertools.combinations(sorted(nbrs), 2)
        if v < x and y in adj[x]  # v smallest name -> count once
    )
    n_wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    assert int(row.n_nodes) == len(adj)
    assert int(row.n_edges) == len(edges)
    assert int(row.n_wedges) == n_wedges
    assert int(row.n_triangles) == n_tri
    assert row.clustering == round(3.0 * n_tri / n_wedges, 6)


def _python_kcore(edges, k):
    """Peel undirected ``edges`` with an unbounded while-loop to the
    true fixpoint: sorted (node, core degree) of the k-core."""
    while True:
        deg: dict[str, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        kept = {e for e in edges if e[0] in alive and e[1] in alive}
        if kept == edges:
            return sorted((n, d) for n, d in deg.items() if d >= k)
        edges = kept


def test_kcore_matches_unbounded_python_peel(spark):
    """kg_kcore peels to its fixpoint; its DuckDB twin unrolls a fixed
    _KCORE_ROUNDS rounds.  This gate peels the same graph with an
    unbounded Python while-loop to the true fixpoint and asserts
    identical survivors + degrees — proving the peeling logic and,
    through the oracle pairing, that the twin's rounds reach the
    fixpoint on the frozen graph."""
    import pandas as pd

    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    got = (
        KQ.KG_REGISTRY["kg_kcore"].spark(spark, "").toPandas()
        .sort_values("node").reset_index(drop=True)
    )

    tri = pd.read_parquet(KQ.TRIPLES_PARQUET, columns=["subj", "obj"])
    tri = tri[tri.subj != tri.obj]
    edges = {tuple(sorted(p)) for p in zip(tri.subj, tri.obj)}
    want = pd.DataFrame(
        _python_kcore(edges, KQ._KCORE_K), columns=["node", "core_degree"]
    )
    assert got.node.tolist() == want.node.tolist()
    assert got.core_degree.astype(int).tolist() == want.core_degree.tolist()


def test_kcore_peels_band_graph_to_fixpoint_and_raises_at_cap(
    spark, monkeypatch
):
    """A 60-node band graph (i ~ i+1..i+4) has an empty 8-core, and
    peeling it takes 8 rounds, more than the DuckDB twin's unroll.  The
    Spark peel reaches the true fixpoint without a driver action (only
    its checkpoints act), and a graph still peeling at the round cap
    raises instead of returning survivors."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    band = [
        (f"n{i:02d}", f"n{j:02d}")
        for i in range(60)
        for j in range(i + 1, min(i + 5, 60))
    ]
    edges = spark.createDataFrame(band, "a string, b string")
    monkeypatch.setattr(KQ, "_und_edges", lambda spark, triples=None: edges)
    with monkeypatch.context() as no_actions:
        _forbid_driver_actions(no_actions, edges, "kg_kcore")
        got = KQ._kg_kcore_spark(spark, "")
    assert _python_kcore(set(band), KQ._KCORE_K) == []
    assert got.collect() == []

    monkeypatch.setattr(KQ, "_KCORE_MAX_ROUNDS", 4)
    with pytest.raises(RuntimeError, match="kg_kcore did not converge"):
        KQ._kg_kcore_spark(spark, "")


def test_dup_clusters_matches_independent_union_find(spark):
    """Round 5: the dup_clusters contract query (connected components
    over LSH candidate pairs, lowest-id keeper) must agree with an
    independent driver-side union-find over the same pairs, and be a
    fixpoint (one more propagation round changes nothing)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r.doc_a, r.doc_b)
        for r in entry.queries()["minhash_candidate_pairs"](
            spark, sf
        ).collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in entry.queries()["dup_clusters"](spark, sf).collect()
    }
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(got) == n_docs
    for doc_id, (cluster_id, keep) in got.items():
        want = find(doc_id) if doc_id in parent else doc_id
        assert cluster_id == want, (doc_id, cluster_id, want)
        assert keep == (cluster_id == doc_id)


def test_dup_clusters_oracle_round_scheme_converges_on_long_chains():
    """Review r5: the DuckDB oracle unrolls propagate+shortcut rounds; a
    plain-propagation unroll only covered diameter == rounds.  Simulate
    the exact per-round semantics of the generated SQL on a 50-node path
    (the worst case for min-label spread) and require full convergence
    within _CC_ROUNDS — the shortcut must give super-linear reach."""
    from relation_extraction_transformer_spark.plans.sql_queries import (
        _CC_ROUNDS,
    )

    n = 50
    sym = [(i, i + 1) for i in range(n - 1)] + [
        (i + 1, i) for i in range(n - 1)
    ]
    labels = {i: i for i in range(n)}
    for _ in range(_CC_ROUNDS):
        prop = dict(labels)
        for src, dst in sym:  # neighbor-min propagation (p_k)
            prop[dst] = min(prop[dst], labels[src])
        labels = {  # label shortcut (l_k)
            node: prop.get(comp, comp) for node, comp in prop.items()
        }
    assert set(labels.values()) == {0}, sorted(set(labels.values()))


def test_pagerank_converges_and_plan_stays_bounded(spark, raw_graph_plans):
    """VERDICT r5 #5: n_iters is a parameter and the rank frame is
    localCheckpointed every 5 rounds inside the loop.  (a) successive-
    iterate L1 deltas shrink (the damped power iteration is a
    contraction), (b) plan depth at 12 iterations is no deeper than at
    5 (the pre-r6 plan grew linearly per iteration), for PageRank and
    for label propagation, which share the loop.  The result is left
    unmaterialized (``raw_graph_plans``), so the plan is the loop's."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    def ranks(k):
        df = KQ._kg_pagerank_spark(spark, "", n_iters=k)
        return {r.node: r.pagerank for r in df.collect()}

    r = {k: ranks(k) for k in (1, 2, 4, 5, 9, 10)}

    def l1(a, b):
        return sum(abs(a[n] - b[n]) for n in a)

    d_early, d_mid, d_late = (
        l1(r[1], r[2]), l1(r[4], r[5]), l1(r[9], r[10])
    )
    assert d_early > d_mid > d_late, (d_early, d_mid, d_late)
    assert d_late < 0.15 * d_early, "power iteration is not contracting"

    # default-iteration result unchanged by the parameterization
    default = {
        row.node: row.pagerank
        for row in KQ._kg_pagerank_spark(spark, "").collect()
    }
    assert default == r[KQ._PR_ITERS]

    def plan_lines(op, **rounds):
        df = op(spark, "", **rounds)
        return len(
            df._jdf.queryExecution().executedPlan().toString().splitlines()
        )

    for op, arg in (
        (KQ._kg_pagerank_spark, "n_iters"),
        (KQ._kg_communities_spark, "n_rounds"),
    ):
        assert plan_lines(op, **{arg: 12}) <= plan_lines(op, **{arg: 5}), (
            f"in-loop localCheckpoint missing: {op.__name__}'s plan grew "
            f"with {arg}"
        )


# kg_khop / kg_link_prediction brute-force parity ---------------------------


def test_khop_matches_python_bfs(spark):
    """Multi-source BFS distances equal a pure-Python BFS over the same
    frozen triples, seeds picked by the same (outdeg DESC, subj) order."""
    from collections import deque

    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    tri = spark.read.parquet(KQ.TRIPLES_PARQUET)
    edges = {(r.subj, r.obj) for r in tri.select("subj", "obj").collect()}
    outdeg = {}
    adj = {}
    for s, o in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
        adj.setdefault(s, []).append(o)
    seeds = sorted(outdeg, key=lambda s: (-outdeg[s], s))[: KQ._KHOP_SEEDS]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        if dist[n] >= KQ._KHOP_K:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)
    got = {(r.node, r.dist) for r in KQ._kg_khop_spark(spark, "").collect()}
    assert got == set(dist.items())


def test_link_prediction_matches_python_brute_force(spark):
    """Common-neighbor counts exact, Adamic-Adar within float tolerance,
    vs a pure-Python wedge enumeration on the same frozen triples."""
    import math
    from itertools import combinations

    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    tri = spark.read.parquet(KQ.TRIPLES_PARQUET)
    und = {
        (min(r.subj, r.obj), max(r.subj, r.obj))
        for r in tri.select("subj", "obj").collect()
        if r.subj != r.obj
    }
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for v, ns in nbrs.items():
        for u, w in combinations(sorted(ns), 2):
            cn, aa = want.get((u, w), (0, 0.0))
            want[(u, w)] = (cn + 1, aa + 1.0 / math.log(len(ns)))
    want = {
        p: s
        for p, s in want.items()
        if s[0] >= KQ._LP_MIN_CN and p not in und
    }
    rows = KQ._kg_link_prediction_spark(spark, "").collect()
    got = {(r.u, r.w): (r.cn, r.aa_score) for r in rows}
    assert set(got) == set(want)
    for p in want:
        assert got[p][0] == want[p][0], p
        assert abs(got[p][1] - want[p][1]) < 1e-8, p


def test_link_prediction_hub_cap(spark, raw_graph_plans):
    """max_middle_degree: capped output is the brute force restricted to
    middles of degree <= cap (a subset of uncapped pairs, never larger
    cn), and the degree filter sits BELOW the wedge self-join in the
    optimized plan — hubs are pruned before the Theta(deg^2) blowup."""
    import math
    from itertools import combinations

    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    cap = 3
    tri = spark.read.parquet(KQ.TRIPLES_PARQUET)
    und = {
        (min(r.subj, r.obj), max(r.subj, r.obj))
        for r in tri.select("subj", "obj").collect()
        if r.subj != r.obj
    }
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for v, ns in nbrs.items():
        if len(ns) > cap:  # hub middles contribute no wedges
            continue
        for u, w in combinations(sorted(ns), 2):
            cn, aa = want.get((u, w), (0, 0.0))
            want[(u, w)] = (cn + 1, aa + 1.0 / math.log(len(ns)))
    want = {
        p: s
        for p, s in want.items()
        if s[0] >= KQ._LP_MIN_CN and p not in und
    }
    capped_df = KQ._kg_link_prediction_spark(spark, "", max_middle_degree=cap)
    capped = {
        (r.u, r.w): (r.cn, r.aa_score) for r in capped_df.collect()
    }
    assert set(capped) == set(want)
    for p, (cn, aa) in want.items():
        assert capped[p][0] == cn, p
        assert abs(capped[p][1] - aa) < 1e-8, p
    uncapped = {
        (r.u, r.w): r.cn
        for r in KQ._kg_link_prediction_spark(spark, "").collect()
    }
    assert set(capped) <= set(uncapped)
    for p in capped:
        assert capped[p][0] <= uncapped[p]
    # plan shape: the cap filter prints BELOW (after) the wedge
    # self-join line — i.e. it executes before the join, in its inputs
    plan = (
        KQ._kg_link_prediction_spark(spark, "", max_middle_degree=cap)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    lines = plan.splitlines()
    join_idx = [i for i, ln in enumerate(lines) if "Join" in ln]
    filt_idx = [
        i for i, ln in enumerate(lines)
        if "Filter" in ln and f"<= {cap}" in ln
    ]
    assert filt_idx, plan
    assert min(join_idx) < max(filt_idx), plan


def test_wcc_matches_python_union_find(spark):
    """kg_wcc equals a pure-Python union-find with min-id relabeling
    over the same frozen triples."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    tri = spark.read.parquet(KQ.TRIPLES_PARQUET)
    und = {
        (min(r.subj, r.obj), max(r.subj, r.obj))
        for r in tri.select("subj", "obj").collect()
        if r.subj != r.obj
    }
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in und:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {
        n: min(members)
        for members in comp.values()
        for n in members
    }
    got = {r.node: r.component for r in KQ._kg_wcc_spark(spark, "").collect()}
    assert got == want


# --- kg_communities: synchronous label propagation --------------------------


def _lpa_python(edges, n_rounds=5):
    """Independent synchronous LPA: neighbor-majority, ties to min label."""
    import collections

    adj = collections.defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    labels = {v: v for v in adj}
    for _ in range(n_rounds):
        new = {}
        for v, nbs in adj.items():
            cnt = collections.Counter(labels[u] for u in nbs)
            best = min(((-c, l) for l, c in cnt.items()))
            new[v] = best[1]
        labels = new
    return labels


def _communities(spark, rows, n_rounds=5):
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    tri = spark.createDataFrame(
        [(s, "p", o) for s, o in rows], "subj string, pred string, obj string"
    )
    return {
        r.node: r.community
        for r in KQ._kg_communities_spark(
            spark, "", triples=tri, n_rounds=n_rounds
        ).collect()
    }


def test_lpa_splits_planted_clusters_and_matches_independent_impl(spark):
    """Two 5-cliques joined by one bridge edge: LPA must keep them as
    two communities, exactly matching the independent Python LPA."""
    import itertools

    ca = [f"a{i}" for i in range(5)]
    cb = [f"b{i}" for i in range(5)]
    edges = (
        list(itertools.combinations(ca, 2))
        + list(itertools.combinations(cb, 2))
        + [("a0", "b0")]
    )
    got = _communities(spark, edges)
    assert got == _lpa_python(edges)
    assert len({got[v] for v in ca}) == 1
    assert len({got[v] for v in cb}) == 1
    assert got["a1"] != got["b1"], "bridged cliques must stay separate"


def test_lpa_matches_independent_impl_on_artifact_graph(spark):
    """Round-for-round parity with the Python implementation on the
    real frozen entity graph, and partition invariance."""
    from pyspark.sql import functions as F

    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    und = KQ._und_edges(spark)
    edges = [(r.a, r.b) for r in und.collect()]
    want = _lpa_python(edges, n_rounds=3)
    tri = spark.read.parquet(KQ.TRIPLES_PARQUET)
    for parts in (None, 7):
        t = tri if parts is None else tri.repartition(parts)
        got = {
            r.node: r.community
            for r in KQ._kg_communities_spark(
                spark, "", triples=t, n_rounds=3
            ).collect()
        }
        assert got == want
