"""The benchmark's workloads.  Each one generates its inputs from the seed,
runs one closed-loop operation through the engine's public functions,
checks that operation's output, runs an end-of-run correctness gate, and,
in a traced run, splits the operation into the engine's layers.

Layer names are the engine's module names.  Spark fuses several modules
into one stage, so the fused ones are measured by cumulative-prefix noop
runs: each step runs the plan up to one more layer and writes it to the
``noop`` sink, and a layer's time is its step minus the step before.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from relation_extraction_transformer_spark import oracle_pipeline as OP
from relation_extraction_transformer_spark import weights as W
from relation_extraction_transformer_spark.config import DEFAULT_PIPELINE
from relation_extraction_transformer_spark.operators import canonicalize as CANON
from relation_extraction_transformer_spark.operators import incremental as INC
from relation_extraction_transformer_spark.operators import incremental_canon as IC
from relation_extraction_transformer_spark.operators import linking as LINK
from relation_extraction_transformer_spark.operators import ner as NER
from relation_extraction_transformer_spark.plans import graph as GR
from relation_extraction_transformer_spark.plans import pipeline as PL
from relation_extraction_transformer_spark.sources import gazetteer as G
from relation_extraction_transformer_spark.sources import pages as PG

from . import inputs
from .procstat import dir_bytes
from .tracing import NO_SPANS

JACCARD = 0.6  # build_graph / fold_mentions_delta default threshold

#: layers whose Spark counters come from the event log
SPARK_LAYERS = (
    "pages", "candidates", "inference", "linking", "canonicalize", "graph",
    "incremental", "incremental_canon",
)

#: every per-layer value a traced run reports; a layer the workload never
#: calls reports 0
LAYER_METRICS = (
    "pipeline.plan_build_s",
    "pages.scan_extract_s", "pages.rows",
    "candidates.wall_s", "candidates.sentences", "candidates.mentions",
    "candidates.pairs",
    "inference.wall_s", "inference.candidates_per_s", "inference.triple_yield",
    "kernel.forward_candidates_per_s", "kernel.word_ids_s",
    "linking.wall_s", "linking.linked_share",
    "canonicalize.lsh_s", "canonicalize.candidate_pairs",
    "canonicalize.verify_s", "canonicalize.verified_pairs",
    "canonicalize.verify_yield", "canonicalize.cc_s", "canonicalize.cc_jobs",
    "graph.aggregate_write_s", "graph.nodes", "graph.edges",
    "graph.bytes_written",
    "incremental.fold_s", "incremental.report_s", "incremental.version_bytes",
    "incremental.standing_edges",
    "incremental_canon.fold_s", "incremental_canon.new_nodes",
    "incremental_canon.touched_components", "incremental_canon.version_bytes",
    "incremental_canon.bytes_per_new_node",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_parquet(pdf: pd.DataFrame, path: str, parts: int) -> None:
    """Write a pandas table as ``parts`` parquet files, so Spark
    reads it with ``parts`` tasks."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pdf.iloc[chunk].to_parquet(
            os.path.join(path, f"part-{i:04d}.parquet"), index=False,
            coerce_timestamps="us",  # Spark reads no nanosecond timestamps
        )


def _diff(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0.0) - b.get(k, 0.0) for k in set(a) | set(b)}


class Workload:
    """Shared plumbing; subclasses define the inputs and the operation."""

    name = ""
    #: ops an untraced run measures at least.  The JVM is still warming up
    #: over these: each op costs less CPU than the one before.
    MIN_OPS = 2

    def __init__(self, spark, work: str, seed: int, max_ops: int, parts: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.max_ops = max_ops
        self.parts = parts
        self.rec = NO_SPANS

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def read(self, *p: str):
        return self.spark.read.parquet(self.path(*p))

    # interface ---------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def op(self, k: int) -> dict:
        """Run operation ``k``; returns ``bytes_written``."""
        raise NotImplementedError

    def check_op(self, k: int, res: dict) -> list[str]:
        """Untimed: the errors in op ``k``'s output."""
        raise NotImplementedError

    def gate(self, full: bool) -> list[str]:
        """Untimed end-of-run correctness gate; returns errors.  ``full``
        adds the checks too slow for every run (traced runs do them)."""
        raise NotImplementedError

    def ladder(self, k: int, res: dict) -> None:
        """Traced run, after the traced op ``k``: run the cumulative-prefix
        steps and collect the counts (needs the live session)."""
        raise NotImplementedError

    def layers(self, k: int, res: dict, ev: dict) -> tuple[dict, dict]:
        """From the spans, counts and event-log rows ``ev`` (by job tag):
        (this workload's layer metrics, its Spark counters by layer).
        ``run.py`` reports 0 for the layers a workload never calls."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# resolve: entity resolution at scale (linking, LSH, verify, CC, aggregation)
# ---------------------------------------------------------------------------


def _link_dictionary() -> dict[str, tuple[int, int, str]]:
    """alias -> best (alias_rank, entity_id, canonical_name), re-derived
    from the gazetteer data; with untyped triples the type-match score is
    the same for every candidate, so the best candidate is the minimum."""
    best: dict[str, tuple[int, int, str]] = {}
    for phrase, typ in G.build_gazetteer().items():
        eid = inputs.stable_id(f"{typ}:{phrase}")
        aliases = [(phrase, 0)]
        if typ == "PERSON" and " " in phrase:
            aliases.append((phrase.split(" ")[-1], 1))
        for alias, rank in aliases:
            key = inputs.normalize(alias)
            cand = (rank, eid, phrase)
            if key not in best or cand < best[key]:
                best[key] = cand
    return best


def _shingles(name: str) -> set[str]:
    s = f"^{name}$"
    return {s[i:i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else {s}


def _jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y)


def union_find_components(spark, names: dict[int, str]) -> tuple[dict, list]:
    """In-process reference for canonicalization over ``names``
    (node_id -> normalized name): the engine's LSH candidates and Jaccard
    verification give the verified pairs; each is re-checked here, and an
    independent union-find merges them.  Returns (node -> component,
    errors), the component being the smallest node id, as the engine
    labels it."""
    ndf = spark.createDataFrame(
        pd.DataFrame({"node_id": list(names), "name": list(names.values())}),
        "node_id long, name string",
    )
    verified = CANON.verify_pairs_jaccard(
        CANON.candidate_pairs(CANON.minhash_band_hashes(ndf, "name")),
        ndf, JACCARD,
    ).collect()
    errs = [
        f"verified pair ({r.src}, {r.dst}) below Jaccard {JACCARD}"
        for r in verified
        if _jaccard(names[r.src], names[r.dst]) < JACCARD
    ][:5]
    parent = {i: i for i in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in verified:
        a, b = find(r.src), find(r.dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in names}, errs


class Resolve(Workload):
    """Triples with Zipf-popular entities and seeded surface variants; one
    op is ``build_graph`` + ``write_graph`` on them."""

    name = "resolve"
    MIN_OPS = 3
    N_ENTITIES = 2_500
    N_TRIPLES = 20_000

    def setup(self) -> None:
        self.tdf = inputs.resolve_triples(
            self.seed, self.N_ENTITIES, self.N_TRIPLES
        )
        write_parquet(self.tdf, self.path("triples"), self.parts)
        self._oracle = self._raw_nodes()

    def _raw_nodes(self) -> dict:
        """In-process re-derivation of linking: per surface its node id
        and canonical name; per node its name and mention count."""
        best = _link_dictionary()
        node_of, canon_of = {}, {}
        for s in pd.unique(pd.concat([self.tdf["subj"], self.tdf["obj"]])):
            norm = inputs.normalize(s)
            if norm in best:
                _, node_of[s], canon_of[s] = best[norm]
            else:
                node_of[s], canon_of[s] = inputs.stable_id(norm), s
        ends = pd.concat([self.tdf["subj"], self.tdf["obj"]])
        nodes = pd.DataFrame({
            "node_id": ends.map(node_of).to_numpy(dtype=np.int64),
            "name": ends.map(canon_of),
        }).groupby("node_id").agg(
            name=("name", "min"), mention_count=("name", "size")
        )
        return {"node_of": node_of, "nodes": nodes}

    def op(self, k: int) -> dict:
        out = self.path("graph")
        with self.rec.span("graph.build_graph", k):
            nodes, edges = GR.build_graph(self.read("triples"), self.spark)
        with self.rec.span("graph.write_graph", k):
            GR.write_graph(nodes, edges, out)
        return {"bytes_written": dir_bytes(out)}

    def check_op(self, k: int, res: dict) -> list[str]:
        n = self.read("graph", "nodes").agg(
            F.sum("mention_count"), F.sum("merged_surface_forms")
        ).first()
        w = self.read("graph", "edges").agg(F.sum("weight")).first()[0]
        want = (2 * self.N_TRIPLES, len(self._oracle["nodes"]), self.N_TRIPLES)
        got = (n[0], n[1], w)
        return [] if got == want else [
            f"op {k}: (mentions, surfaces, weight) {got} != {want}"
        ]

    def gate(self, full: bool) -> list[str]:
        raw = self._oracle["nodes"]
        comp, errs = union_find_components(
            self.spark, {i: inputs.normalize(n) for i, n in raw["name"].items()}
        )
        comp = pd.Series(comp)
        want_nodes = (
            raw.assign(canonical_id=comp)
            .reset_index()
            .sort_values("node_id")
            .groupby("canonical_id")
            .agg(
                name=("name", "first"),
                mention_count=("mention_count", "sum"),
                merged_surface_forms=("node_id", "size"),
            )
            .reset_index()
        )
        got_nodes = self.read("graph", "nodes").toPandas()
        if not _same_rows(got_nodes, want_nodes, ["canonical_id"]):
            errs.append("nodes differ from the union-find components")
        node_of = self._oracle["node_of"]
        want_edges = (
            pd.DataFrame({
                "src": self.tdf["subj"].map(node_of).map(comp),
                "pred": self.tdf["pred"],
                "dst": self.tdf["obj"].map(node_of).map(comp),
                "prob": self.tdf["prob"],
            })
            .groupby(["src", "pred", "dst"])
            .agg(weight=("prob", "size"), max_prob=("prob", "max"))
            .reset_index()
        )
        got_edges = self.read("graph", "edges").select(
            "src", "pred", "dst", "weight", "max_prob"
        ).toPandas()
        if not _same_rows(got_edges, want_edges, ["src", "pred", "dst"]):
            errs.append("edges differ from the re-derived aggregation")
        return errs

    def ladder(self, k: int, res: dict) -> None:
        rec, op = self.rec, "ladder"
        tr = self.read("triples").withColumn(
            "subj_type", F.lit(None).cast("string")
        ).withColumn("obj_type", F.lit(None).cast("string"))
        with rec.span("ladder.linking", op):
            linked = LINK.link_triples(tr, LINK.entity_dictionary(self.spark))
            noop(linked)
        # raw nodes and canonicalization, composed as build_graph does
        ends = linked.select(
            F.col("subj_entity_id").alias("node_id"),
            F.col("subj_canonical").alias("name"),
        ).unionByName(linked.select(
            F.col("obj_entity_id").alias("node_id"),
            F.col("obj_canonical").alias("name"),
        ))
        names = ends.groupBy("node_id").agg(F.min("name").alias("name")).select(
            "node_id", LINK.normalize_surface(F.col("name")).alias("name")
        )
        with rec.span("ladder.lsh", op):
            cand = CANON.candidate_pairs(CANON.minhash_band_hashes(names, "name"))
            noop(cand)
        with rec.span("ladder.verify", op):
            verified = CANON.verify_pairs_jaccard(cand, names, JACCARD)
            noop(verified)
        with rec.span("ladder.cc", op):
            CANON.connected_components(verified)
        with rec.span("ladder.count", op):
            self._counts = {
                "cand": cand.count(),
                "verified": verified.count(),
                "linked": linked.select(
                    F.avg(
                        (F.col("subj_entity_id") != LINK.stable_id(
                            LINK.normalize_surface(F.col("subj")))).cast("int")
                        + (F.col("obj_entity_id") != LINK.stable_id(
                            LINK.normalize_surface(F.col("obj")))).cast("int")
                    ) / 2
                ).first()[0],
                "nodes": self.read("graph", "nodes").count(),
                "edges": self.read("graph", "edges").count(),
            }

    def layers(self, k: int, res: dict, ev: dict) -> tuple[dict, dict]:
        d = self.rec.duration
        c = self._counts
        m = {
            "linking.wall_s": d("ladder.linking", "ladder"),
            "linking.linked_share": c["linked"],
            "canonicalize.lsh_s": d("ladder.lsh", "ladder")
            - d("ladder.linking", "ladder"),
            "canonicalize.candidate_pairs": c["cand"],
            "canonicalize.verify_s": d("ladder.verify", "ladder")
            - d("ladder.lsh", "ladder"),
            "canonicalize.verified_pairs": c["verified"],
            "canonicalize.verify_yield": c["verified"] / max(c["cand"], 1),
            "canonicalize.cc_s": d("ladder.cc", "ladder")
            - d("ladder.verify", "ladder"),
            "canonicalize.cc_jobs": ev.get("ladder.cc", {}).get("jobs", 0),
            "graph.aggregate_write_s": d("graph.write_graph", k),
            "graph.nodes": c["nodes"],
            "graph.edges": c["edges"],
            "graph.bytes_written": res["bytes_written"],
        }
        spark = {
            "linking": ev.get("ladder.linking", {}),
            "canonicalize": _diff(
                ev.get("ladder.cc", {}), ev.get("ladder.linking", {})
            ),
            "graph": ev.get("graph.write_graph", {}),
        }
        return m, spark


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, key: list[str]) -> bool:
    cols = list(want.columns)
    if len(got) != len(want):
        return False
    a = got[cols].sort_values(key).reset_index(drop=True)
    b = want[cols].sort_values(key).reset_index(drop=True)
    return all(np.array_equal(a[c].to_numpy(), b[c].to_numpy()) for c in cols)


# ---------------------------------------------------------------------------
# daily_fold: 24/7 maintenance (edge-state fold, report, canonical-map fold)
# ---------------------------------------------------------------------------


class DailyFold(Workload):
    """Standing edge state from a page history and a standing canonical
    map; one op folds one day of new pages and new mention names."""

    name = "daily_fold"
    HISTORY_PAGES = 300
    DAY_PAGES = 300
    STANDING_NAMES = 3_000
    DAY_NAMES = 300
    ORACLE_PAGES = 12

    def setup(self) -> None:
        n_days = self.max_ops + 1  # day 0 is the warm op
        h, p = self.HISTORY_PAGES, self.DAY_PAGES
        # the generator behind sources.pages.synthetic_pages, run in the
        # benchmark process: page i is a pure function of (i, seed)
        for part, ids in [("history", range(h))] + [
            (f"d{d}", range(h + d * p, h + (d + 1) * p)) for d in range(n_days)
        ]:
            write_parquet(
                pd.DataFrame(
                    [PG.render_page(i, self.seed) for i in ids],
                    columns=["url", "warc_ts", "html", "text", "lang"],
                ),
                self.path("pages", f"part={part}"), self.parts,
            )
        standing, days = inputs.canon_names(
            self.seed, self.STANDING_NAMES, n_days, self.DAY_NAMES
        )
        self.names = [standing] + days
        write_parquet(inputs.names_frame(standing), self.path("names", "standing"),
                      self.parts)
        for d, names in enumerate(days):
            write_parquet(inputs.names_frame(names), self.path("names", f"d{d}"), 1)
        INC.fold_pages_delta(self.spark, self.read("pages", "part=history"),
                             self.path("edges"))
        IC.fold_mentions_delta(self.spark, self.read("names", "standing"),
                               self.path("canon"))
        self.folded: list[int] = []

    def op(self, k: int) -> dict:
        rec = self.rec
        with rec.span("incremental.fold_pages_delta", k, tag="incremental"):
            s = INC.fold_pages_delta(
                self.spark, self.read("pages", f"part=d{k}"), self.path("edges")
            )
        vdir = self.path("edges", f"v{s['state_version']}")
        with rec.span("incremental.edge_report", k, tag="incremental"):
            noop(INC.edge_report(INC.read_edge_state(self.spark, vdir)))
        with rec.span("incremental_canon.fold_mentions_delta", k,
                      tag="incremental_canon"):
            c = IC.fold_mentions_delta(
                self.spark, self.read("names", f"d{k}"), self.path("canon")
            )
        self.folded.append(k)
        edge_b = dir_bytes(vdir)
        canon_b = dir_bytes(self.path("canon", f"v{c['state_version']}"))
        return {"bytes_written": edge_b + canon_b, "edge_version": s,
                "canon_version": c, "edge_bytes": edge_b, "canon_bytes": canon_b}

    def _n_obs(self, version: int) -> int:
        return self.read("edges", f"v{version}", "stats").agg(
            F.sum("n_obs")).first()[0]

    def check_op(self, k: int, res: dict) -> list[str]:
        v = res["edge_version"]["state_version"]
        triples = self._n_obs(v) - self._n_obs(v - 1)
        errs = []
        if res["edge_version"]["replayed"] or res["canon_version"]["replayed"]:
            errs.append(f"op {k}: a fresh day was treated as a replay")
        if triples <= 0 or res["canon_version"]["new_nodes"] <= 0:
            errs.append(f"op {k}: the day folded nothing")
        return errs

    def _obs(self, pages):
        """Observation rows exactly as the page fold builds them."""
        triples = PL.triples_plan(pages, self.spark, keep_probs=False)
        return triples.select("url", "subj", "pred", "obj", "prob").join(
            pages.select(
                "url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")
            ), "url",
        )

    def gate(self, full: bool) -> list[str]:
        errs = self._oracle_check()
        latest = INC.latest_version(self.path("edges"))
        state = INC.read_edge_state(self.spark, self.path("edges", f"v{latest}"))
        keys = state.stats.select(*INC.EDGE_KEYS)
        reg_keys = state.regs.select(*INC.EDGE_KEYS).distinct()
        if keys.subtract(reg_keys).count() or reg_keys.subtract(keys).count():
            errs.append("edge state: stats and sketch registers disagree")
        if full:
            # fold == rebuild for the edge report.  Each delta is
            # re-extracted on its own, as the fold extracted it: the
            # inference's float32 GEMMs round differently with batch
            # composition, so one pass over all pages can move a
            # probability in its 7th digit.
            obs = None
            for part in ["history"] + [f"d{d}" for d in self.folded]:
                o = self._obs(self.read("pages", f"part={part}"))
                obs = o if obs is None else obs.unionByName(o)
            rebuilt = INC.edge_report(INC.edge_state(obs)).collect()
            folded = INC.edge_report(state).collect()
            if sorted(map(tuple, rebuilt)) != sorted(map(tuple, folded)):
                errs.append("edge report: fold != rebuild")
        # fold == rebuild for the canonical map: the folded components
        # must be those of a union-find over all names seen so far
        all_names = set(self.names[0]).union(
            *(self.names[1 + d] for d in self.folded))
        comp, uf_errs = union_find_components(
            self.spark, {inputs.stable_id(n): n for n in all_names})
        errs += uf_errs
        latest = INC.latest_version(self.path("canon"))
        folded = IC.read_canon_state(
            self.spark, self.path("canon", f"v{latest}"))[0]
        got = {(r.node_id, r.name, r.component) for r in folded.collect()}
        want = {(inputs.stable_id(n), n, comp[inputs.stable_id(n)])
                for n in all_names}
        if got != want:
            errs.append("canonical map: fold != rebuild")
        return errs

    def _oracle_check(self) -> list[str]:
        """Triples of a fixed page sample must equal the single-process
        oracle's."""
        sample = self.read("pages", "part=d0").orderBy("url").limit(
            self.ORACLE_PAGES)
        rows = [r.asDict() for r in sample.select("url", "html", "lang").collect()]
        model = DEFAULT_PIPELINE.model
        vocab = G.static_vocab()
        want = {
            (t.url, t.sent_id, t.pair_id): (t.subj, t.pred, t.obj)
            for t in OP.run_oracle_pipeline(
                rows, W.generate_weights(model, vocab_size=len(vocab)), model,
                vocab=vocab, cap=DEFAULT_PIPELINE.max_pairs_per_sentence,
            )
        }
        if not want:
            return ["oracle: the page sample produced no triples"]
        got = {
            (r.url, r.sent_id, r.pair_id): (r.subj, r.pred, r.obj)
            for r in PL.triples_plan(sample, self.spark, keep_probs=False)
            .collect()
        }
        return [] if got == want else [
            f"oracle: {len(set(got.items()) ^ set(want.items()))} triples differ"
        ]

    def ladder(self, k: int, res: dict) -> None:
        rec, op = self.rec, "ladder"
        pages = self.read("pages", f"part=d{k}")
        arts = PL.build_artifacts(self.spark)
        builds = []
        for _ in range(3):
            with rec.span("ladder.plan_build", op) as s:
                PL.triples_plan(pages, self.spark, keep_probs=False)
            builds.append(s["end"] - s["start"])
        self._plan_build_s = float(np.median(builds))
        with rec.span("ladder.pages", op):
            noop(PG.extract_text(pages).filter(F.col("lang") == "en"))
        with rec.span("ladder.candidates", op):
            noop(PL.candidates_plan(pages, arts))
        with rec.span("ladder.inference", op):
            noop(PL.triples_plan(pages, self.spark, keep_probs=False))
        with rec.span("ladder.count", op):
            extracted = PG.extract_text(pages).filter(F.col("lang") == "en")
            sentences = NER.split_sentences(extracted, text_col="extracted_text")
            mentions = NER.detect_mentions(NER.tokenize(sentences))
            self._counts = {
                "rows": pages.count(),
                "sentences": sentences.count(),
                "mentions": mentions.agg(F.sum(F.size("mentions"))).first()[0],
                "pairs": PL.candidates_plan(pages, arts).count(),
                "triples": PL.triples_plan(pages, self.spark,
                                           keep_probs=False).count(),
                "standing_edges": self.read(
                    "edges", f"v{res['edge_version']['state_version']}",
                    "stats").count(),
            }

    def layers(self, k: int, res: dict, ev: dict) -> tuple[dict, dict]:
        d = self.rec.duration
        c = self._counts
        inf_s = d("ladder.inference", "ladder") - d("ladder.candidates", "ladder")
        new_nodes = res["canon_version"]["new_nodes"]
        m = {
            "pipeline.plan_build_s": self._plan_build_s,
            "pages.scan_extract_s": d("ladder.pages", "ladder"),
            "pages.rows": c["rows"],
            "candidates.wall_s": d("ladder.candidates", "ladder")
            - d("ladder.pages", "ladder"),
            "candidates.sentences": c["sentences"],
            "candidates.mentions": c["mentions"],
            "candidates.pairs": c["pairs"],
            "inference.wall_s": inf_s,
            "inference.candidates_per_s": c["pairs"] / inf_s if inf_s > 0 else 0.0,
            "inference.triple_yield": c["triples"] / max(c["pairs"], 1),
            "incremental.fold_s": d("incremental.fold_pages_delta", k),
            "incremental.report_s": d("incremental.edge_report", k),
            "incremental.version_bytes": res["edge_bytes"],
            "incremental.standing_edges": c["standing_edges"],
            "incremental_canon.fold_s": d(
                "incremental_canon.fold_mentions_delta", k),
            "incremental_canon.new_nodes": new_nodes,
            "incremental_canon.touched_components":
                res["canon_version"]["touched_components"],
            "incremental_canon.version_bytes": res["canon_bytes"],
            "incremental_canon.bytes_per_new_node":
                res["canon_bytes"] / max(new_nodes, 1),
        }
        spark = {
            "pages": ev.get("ladder.pages", {}),
            "candidates": _diff(
                ev.get("ladder.candidates", {}), ev.get("ladder.pages", {})),
            "inference": _diff(
                ev.get("ladder.inference", {}), ev.get("ladder.candidates", {})),
            "incremental": ev.get("incremental", {}),
            "incremental_canon": ev.get("incremental_canon", {}),
        }
        return m, spark


WORKLOADS = {w.name: w for w in (Resolve, DailyFold)}
