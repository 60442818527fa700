"""Lakehouse IO layer (sources/tables.py): the single seam where parquet
(sandbox) swaps for Iceberg (production) without touching pipeline code,
and the one writer of every parquet file: its layout law (zstd, rows
sorted by the table's key) and its upgrade law (state written with
another codec still folds, resolves and vacuums)."""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from relation_extraction_transformer_spark.operators import (
    incremental as INC,
)
from relation_extraction_transformer_spark.operators import (
    incremental_canon as IC,
)
from relation_extraction_transformer_spark.plans import graph as GRAPH
from relation_extraction_transformer_spark.plans import kg_sql as KQ
from relation_extraction_transformer_spark.sources import pages as PG
from relation_extraction_transformer_spark.sources import tables as TB


def test_write_table_partitions_and_reads_back(spark, tmp_path):
    out = str(tmp_path / "pages_tbl")
    pages = PG.synthetic_pages(spark, 80, seed=3)
    TB.write_table(pages, out, partition_by=["lang"])
    back = TB.read_table(spark, out)
    assert back.count() == 80
    # lang partitioning makes the pipeline's lang filter a partition-
    # pruning predicate: the en-only scan reads only the en directory
    plan = (
        back.filter(F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "lang=en" in plan or "PartitionFilters: [isnotnull(lang" in plan


def test_read_table_catalog_path(spark, tmp_path):
    """fmt='iceberg' resolves a CATALOG TABLE NAME via spark.read.table —
    exercised here against a registered view (no Iceberg jars in this
    sandbox; the code path is identical, only the catalog differs)."""
    PG.synthetic_pages(spark, 20, seed=5).createOrReplaceTempView(
        "pages_catalog_test"
    )
    got = TB.read_table(spark, "pages_catalog_test", fmt="iceberg")
    assert got.count() == 20
    assert set(got.columns) == {"url", "warc_ts", "html", "lang", "text"}


def test_run_pipeline_reads_through_table_layer(spark, tmp_path):
    """run_pipeline --pages goes through TB.read_table, so a table-format
    switch needs no script change; smoke the parquet branch end to end."""
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "kg_out")
    TB.write_table(PG.synthetic_pages(spark, 40, seed=9), src)

    from relation_extraction_transformer_spark.plans import lineage as LIN

    pages = TB.read_table(spark, src)
    report = LIN.materialize_triples_resumable(
        spark, pages, out, run_id="tables-test", n_buckets=4,
        buckets_per_group=2,
    )
    assert report.rows_out > 0
    assert spark.read.parquet(f"{out}/triples").count() == report.rows_out


def _obs(spark, n_edges=15):
    """Edge observations (subj, pred, obj, url, prob, ts), each edge seen
    from a few urls."""
    rows = [
        (f"s{i % 4}", f"p{i % 3}", f"o{i}", f"https://h{j}.example/{i}",
         round(0.4 + ((i + j) % 50) / 100, 2), 1_700_000_000 + i * 60 + j)
        for i in range(n_edges)
        for j in range(1 + i % 4)
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, url string, "
        "prob double, ts long"
    )


def _fold_edges(spark, obs, state_dir):
    """One committed edge fold, as ``fold_pages_delta`` makes it."""
    return INC.fold_version(
        state_dir, None,
        lambda base, out: INC._write_edge_fold(spark, obs, base, out),
    )


def _names(spark, rows):
    return spark.createDataFrame(rows, "node_id long, name string")


def _files(path):
    return sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _codecs(path):
    """The codec of every column chunk of every parquet file under path."""
    out = set()
    for f in _files(path):
        meta = pq.ParquetFile(f).metadata
        out |= {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
    return out


def _assert_layout(path, key):
    """Every file under ``path`` is zstd throughout and holds its rows in
    strictly increasing ``key`` order; returns the rows checked."""
    assert _codecs(path) == {"ZSTD"}, path
    n = 0
    for f in _files(path):
        t = pq.read_table(f, columns=key)
        rows = list(zip(*(t.column(k).to_pylist() for k in key)))
        assert all(a < b for a, b in zip(rows, rows[1:])), (f, key)
        n += len(rows)
    return n


def test_every_written_table_is_zstd_and_sorted_by_its_key(spark, tmp_path):
    """The layout law over the graph tables, a committed edge state
    version (a merge of a read state with a delta: one dataset) and the
    segments of a canonical-map version."""
    nodes, edges = GRAPH.build_graph(
        spark.read.parquet(KQ.TRIPLES_PARQUET), spark
    )
    out = str(tmp_path / "graph")
    GRAPH.write_graph(nodes, edges, out)
    assert _assert_layout(f"{out}/nodes", ["canonical_id"]) == nodes.count()
    assert _assert_layout(
        f"{out}/edges", ["src", "pred", "dst"]) == edges.count()

    obs = _obs(spark)
    edge_dir = str(tmp_path / "edges")
    for i in range(2):
        _fold_edges(spark, obs.where(F.crc32("url") % 2 == i), edge_dir)
    v2 = os.path.join(edge_dir, "v2")
    n_edges = obs.select(*INC.EDGE_KEYS).distinct().count()
    # one dataset per edge version: the sketches live in the stats rows
    assert os.listdir(v2) == ["stats"]
    assert _assert_layout(f"{v2}/stats", INC.EDGE_KEYS) == n_edges

    canon_dir = str(tmp_path / "canon")
    names = [(i * 7919 % 1000, f"{chr(97 + i % 26)}name {i:04d} standing")
             for i in range(40)]
    for day in (names[:30], names[30:]):
        IC.fold_mentions_delta(spark, _names(spark, day), canon_dir)
    manifest = INC.read_manifest(os.path.join(canon_dir, "v2"))
    assert len(manifest["nodes"]) == 2, "fixture drifted: v2 merged"
    for v, rows in manifest["nodes"]:
        path = INC.segment_path(canon_dir, v, "nodes")
        assert _assert_layout(path, ["node_id"]) == rows


_STEM = "kumquat zeppelin orchestra northern fjords"


def test_a_state_written_with_snappy_folds_on_and_vacuums(
    spark, tmp_path, monkeypatch
):
    """The upgrade law: v1 of an edge state and of a canonical map
    written with snappy (the codec before zstd), then two zstd folds.
    Both states equal their rebuilds, the canonical manifest still lists
    the snappy segment beside the zstd ones (a read mixes the codecs),
    and after vacuum_state(keep_last_k=1) the newest version still reads
    the same."""
    obs = _obs(spark)
    part = F.crc32("url") % 3
    # v1 holds 30 unrelated names and two components of one stem; the
    # bridge of day 2 merges them (see test_incremental_canon's module
    # doc), so v2 relabels node 20 of the snappy segment
    days = [
        [(10, f"{_STEM} alpha"), (20, f"{_STEM} beta")]
        + [(100 + i, f"{chr(97 + i % 26)}name {i:04d} standing")
           for i in range(30)],
        [(30, f"{_STEM} alpha bet")],
        [(500, "glimmering sasquatch syndicate western canyons"),
         (501, "glimmering sasquatch syndicate western canyonz")],
    ]
    edge_dir, canon_dir = str(tmp_path / "edges"), str(tmp_path / "canon")
    with monkeypatch.context() as m:
        m.setattr(TB, "PARQUET_CODEC", "snappy")
        _fold_edges(spark, obs.where(part == 0), edge_dir)
        IC.fold_mentions_delta(spark, _names(spark, days[0]), canon_dir)
    assert _codecs(os.path.join(edge_dir, "v1")) == {"SNAPPY"}
    assert _codecs(os.path.join(canon_dir, "v1")) == {"SNAPPY"}
    stats = [
        IC.fold_mentions_delta(spark, _names(spark, day), canon_dir)
        for day in days[1:]
    ]
    for i in (1, 2):
        _fold_edges(spark, obs.where(part == i), edge_dir)
    assert stats[0]["touched_components"] == 1, "fixture drifted: no merge"
    assert _codecs(os.path.join(edge_dir, "v3")) == {"ZSTD"}
    segments = INC.read_manifest(os.path.join(canon_dir, "v3"))["nodes"]
    assert [v for v, _rows in segments] == [1, 3]

    def edge_rows():
        state = INC.read_edge_state(spark, os.path.join(edge_dir, "v3"))
        return sorted(map(tuple, INC.edge_report(state).collect()))

    def canon_rows():
        nodes, _ = IC.read_canon_state(
            spark, os.path.join(canon_dir, "v3"))
        return sorted(map(tuple, nodes.collect()))

    want_edges = sorted(
        map(tuple, INC.edge_report(INC.edge_state(obs)).collect()))
    want_canon = sorted(map(tuple, IC.canon_state(
        _names(spark, [r for day in days for r in day])).collect()))
    assert edge_rows() == want_edges
    assert canon_rows() == want_canon

    assert INC.vacuum_state(edge_dir, 1) == [1, 2]
    assert INC.vacuum_state(canon_dir, 1) == [1, 2]
    assert sorted(os.listdir(canon_dir)) == ["_r1", "v3"]
    assert _codecs(INC.segment_path(canon_dir, 1, "nodes")) == {"SNAPPY"}
    assert edge_rows() == want_edges
    assert canon_rows() == want_canon
