"""DuckDB oracle pairs for the KG-construction pipeline stages.

Round 1 ran the kg_* queries rows-only ("no_oracle").  Everything except
the transformer forward pass IS SQL-expressible, so this module pairs:

- ``kg_candidates``: pages -> sentence split -> tokenize -> gazetteer
  longest-match NER -> pair generation (plans/pipeline.py:71-86), both
  sides reading the frozen ``artifacts/kg_pages.parquet``
- ``kg_nodes`` / ``kg_edges``: frozen triples -> entity linking ->
  minhash-LSH + trigram-Jaccard canonicalization -> connected components
  (recursive CTE on the oracle side) -> node/edge aggregation, both sides
  reading ``artifacts/kg_triples.parquet``
- ``media_meta``: binary-payload metadata extraction over the frozen
  ``artifacts/kg_media.parquet``

``kg_triples`` itself stays rows-only: its forward pass is gated by the
NumPy-oracle parity suite (tests/test_end_to_end.py), not by SQL.

Cross-engine notes: entity ids, delta splits and sketch registers use
the one stable hash of functions/minhash.py (``stable_id`` / its DuckDB
text ``BASE_HASH_DUCK``: md5-hex -> BIGINT, identical in both engines);
the HLL sketches are functions/sketches.py's keyed fold, whose global
case is the zero-key one; the sentence split emulates
Spark's lookbehind regex ``(?<=\\.)\\s+`` with a replace-then-split (RE2
has no lookbehind); binary payloads hash via md5(upper(hex(payload)))
because DuckDB's md5 only accepts VARCHAR.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_PIPELINE
from ..functions import minhash as MH
from ..operators import canonicalize as CANON
from ..operators import fixpoint as FX
from ..operators import linking as LINK
from ..sources import gazetteer as G
from .sql_queries import QuerySpec

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
ARTIFACTS = os.path.join(_REPO, "artifacts")
PAGES_PARQUET = os.path.join(ARTIFACTS, "kg_pages.parquet")
TRIPLES_PARQUET = os.path.join(ARTIFACTS, "kg_triples.parquet")
MEDIA_PARQUET = os.path.join(ARTIFACTS, "kg_media.parquet")

KG_REGISTRY: dict[str, QuerySpec] = {}


def _gazetteer_values() -> str:
    return ", ".join(
        f"({LINK.sql_quote(p)}, {LINK.sql_quote(t)})"
        for p, t in sorted(G.build_gazetteer().items())
    )


# DuckDB fragment builders -------------------------------------------------

_NORM = "lower(trim(regexp_replace({x}, '\\s+', ' ', 'g')))"


def _norm(x: str) -> str:
    return _NORM.format(x=x)


def _sid(x: str) -> str:
    return MH.BASE_HASH_DUCK.format(x=x)


def _char_shingle_bands_sql(names_cte: str) -> str:
    """names_cte must expose (node_id, nname).  Emits CTEs ending in
    cbands (node_id, band, band_hash) plus a shing CTE for the Jaccard
    verify — built from the SAME dual-dialect minhash core the Spark side
    uses (functions/minhash.py)."""
    return f"""
    shing AS (
      SELECT node_id, {MH.duck_char_shingles('nname')} AS sh
      FROM {names_cte}
    ),
    {MH.duck_minhash_ctes('shing', 'node_id', 'sh', prefix='cb')},
    cbands AS (SELECT node_id, band, band_hash FROM cb_bands)"""


# kg_candidates -------------------------------------------------------------


def _kg_candidates_oracle() -> str:
    return rf"""
    WITH pages AS (
      SELECT url, decode(html) AS page_html, lang
      FROM read_parquet('{PAGES_PARQUET}')
    ),
    sents AS (
      SELECT url,
             string_split(
               regexp_replace(regexp_extract(page_html, '<p>(.*)</p>', 1),
                              '\.\s+', '.' || chr(1), 'g'),
               chr(1)) AS arr
      FROM pages WHERE lang = 'en'
    ),
    sent AS (
      SELECT url, unnest(range(len(arr))) AS sent_id,
             unnest(arr) AS sentence
      FROM sents
    ),
    tok AS (
      SELECT url, sent_id, string_split(sentence, ' ') AS toks
      FROM sent
      WHERE len(sentence) > 0
        AND len(string_split(sentence, ' ')) BETWEEN 1 AND 96
    ),
    grams AS (
      SELECT url, sent_id,
             unnest(starts) AS m_start, unnest(ends) AS m_end,
             unnest(surfs) AS surface
      FROM (
        SELECT url, sent_id,
          list_concat(range(len(toks)),
            CASE WHEN len(toks) >= 2 THEN range(len(toks) - 1)
                 ELSE []::BIGINT[] END) AS starts,
          list_concat(range(len(toks)),
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(len(toks) - 1), i -> i + 1)
                 ELSE []::BIGINT[] END) AS ends,
          list_concat(
            list_transform(range(len(toks)), i -> toks[i + 1]),
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(len(toks) - 1),
                                     i -> toks[i + 1] || ' ' || toks[i + 2])
                 ELSE []::VARCHAR[] END) AS surfs
        FROM tok
      )
    ),
    gaz(phrase, ner_type) AS (VALUES {_gazetteer_values()}),
    hits AS (
      SELECT g.url, g.sent_id, g.m_start, g.m_end, g.surface, z.ner_type
      FROM grams g JOIN gaz z ON g.surface = z.phrase
    ),
    kept AS (
      SELECT * FROM hits h
      WHERE NOT EXISTS (
        SELECT 1 FROM hits o
        WHERE o.url = h.url AND o.sent_id = h.sent_id
          AND o.m_start <= h.m_start AND o.m_end >= h.m_end
          AND (o.m_end - o.m_start) > (h.m_end - h.m_start)
      )
    ),
    pairs AS (
      SELECT s.url, s.sent_id,
             ROW_NUMBER() OVER (
               PARTITION BY s.url, s.sent_id
               ORDER BY s.m_start, s.m_end, o.m_start, o.m_end) - 1 AS pair_id,
             s.surface AS subj_surface, s.ner_type AS subj_type,
             o.surface AS obj_surface, o.ner_type AS obj_type
      FROM kept s JOIN kept o
        ON o.url = s.url AND o.sent_id = s.sent_id
       AND (o.m_start <> s.m_start OR o.m_end <> s.m_end)
      WHERE s.ner_type IN ('PERSON', 'ORGANIZATION')
    )
    SELECT url, CAST(sent_id AS INT) AS sent_id,
           CAST(pair_id AS INT) AS pair_id,
           subj_surface, subj_type, obj_surface, obj_type
    FROM pairs WHERE pair_id < {DEFAULT_PIPELINE.max_pairs_per_sentence}
    """


def _kg_candidates_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import pipeline as PL

    pages = spark.read.parquet(PAGES_PARQUET)
    arts = PL.build_artifacts(spark)
    return PL.candidates_plan(pages, arts).select(
        "url", "sent_id", "pair_id", "subj_surface", "subj_type",
        "obj_surface", "obj_type",
    )


KG_REGISTRY["kg_candidates"] = QuerySpec(
    spark=_kg_candidates_spark, oracle=_kg_candidates_oracle()
)


# kg_nodes / kg_edges -------------------------------------------------------


def _graph_common_sql() -> str:
    """CTE chain from the frozen triples parquet to canon_map/linked —
    the DuckDB twin of operators/linking.py + operators/canonicalize.py +
    plans/graph.py:24-69 (connected components as a recursive CTE)."""
    return f"""
    WITH RECURSIVE tri AS (
      SELECT * FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    dict0(alias, canonical_name, ner_type, alias_rank) AS (
      VALUES {LINK.dictionary_values()}
    ),
    dict AS (
      SELECT {_norm(x='alias')} AS alias_norm, canonical_name, ner_type,
             alias_rank,
             {_sid(x="ner_type || ':' || canonical_name")} AS entity_id
      FROM dict0
    ),
    sbest AS (
      SELECT url, sent_id, pair_id, entity_id, canonical_name FROM (
        SELECT t.url, t.sent_id, t.pair_id, d.entity_id, d.canonical_name,
               ROW_NUMBER() OVER (
                 PARTITION BY t.url, t.sent_id, t.pair_id
                 ORDER BY d.alias_rank,
                          CASE WHEN d.ner_type = t.subj_type THEN 0 ELSE 1 END,
                          d.entity_id) AS rn
        FROM tri t LEFT JOIN dict d ON {_norm(x='t.subj')} = d.alias_norm
      ) WHERE rn = 1
    ),
    obest AS (
      SELECT url, sent_id, pair_id, entity_id, canonical_name FROM (
        SELECT t.url, t.sent_id, t.pair_id, d.entity_id, d.canonical_name,
               ROW_NUMBER() OVER (
                 PARTITION BY t.url, t.sent_id, t.pair_id
                 ORDER BY d.alias_rank,
                          CASE WHEN d.ner_type = t.obj_type THEN 0 ELSE 1 END,
                          d.entity_id) AS rn
        FROM tri t LEFT JOIN dict d ON {_norm(x='t.obj')} = d.alias_norm
      ) WHERE rn = 1
    ),
    linked AS (
      SELECT t.url, t.sent_id, t.pair_id, t.pred, t.prob,
             COALESCE(s.entity_id, {_sid(x=_norm(x='t.subj'))})
               AS subj_entity_id,
             COALESCE(s.canonical_name, t.subj) AS subj_canonical,
             COALESCE(o.entity_id, {_sid(x=_norm(x='t.obj'))})
               AS obj_entity_id,
             COALESCE(o.canonical_name, t.obj) AS obj_canonical
      FROM tri t
      JOIN sbest s ON s.url = t.url AND s.sent_id = t.sent_id
                  AND s.pair_id = t.pair_id
      JOIN obest o ON o.url = t.url AND o.sent_id = t.sent_id
                  AND o.pair_id = t.pair_id
    ),
    ends AS (
      SELECT subj_entity_id AS node_id, subj_canonical AS name FROM linked
      UNION ALL
      SELECT obj_entity_id AS node_id, obj_canonical AS name FROM linked
    ),
    raw_nodes AS (
      SELECT node_id, min(name) AS name, count(*) AS mention_count
      FROM ends GROUP BY node_id
    ),
    names AS (
      SELECT node_id, {_norm(x='name')} AS nname FROM raw_nodes
    ),
    {_char_shingle_bands_sql('names')},
    cand AS (
      SELECT DISTINCT a.node_id AS src, b.node_id AS dst
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.node_id < b.node_id
    ),
    dsh AS (
      SELECT node_id, list_distinct(sh) AS s FROM shing
    ),
    verified AS (
      SELECT src, dst FROM (
        SELECT c.src, c.dst,
               len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter_cnt,
               len(a.s) AS na, len(b.s) AS nb
        FROM cand c JOIN dsh a ON a.node_id = c.src
                    JOIN dsh b ON b.node_id = c.dst
      )
      WHERE CAST(inter_cnt AS DOUBLE) / (na + nb - inter_cnt)
            >= {CANON.JACCARD_THRESHOLD}
    ),
    sym AS (
      SELECT src, dst FROM verified
      UNION
      SELECT dst AS src, src AS dst FROM verified
    ),
    reach(node_id, lbl) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node_id
    ),
    comps AS (
      SELECT node_id, min(lbl) AS component FROM reach GROUP BY node_id
    ),
    canon_map AS (
      SELECT r.node_id, COALESCE(c.component, r.node_id) AS canonical_id,
             r.name, r.mention_count
      FROM raw_nodes r LEFT JOIN comps c ON c.node_id = r.node_id
    )"""


_KG_NODES_SELECT = """
    SELECT canonical_id, min_by(name, node_id) AS name,
           CAST(SUM(mention_count) AS BIGINT) AS mention_count,
           count(*) AS merged_surface_forms
    FROM canon_map GROUP BY canonical_id
    """

KG_REGISTRY["kg_nodes"] = QuerySpec(
    spark=None,  # filled below
    oracle=_graph_common_sql() + _KG_NODES_SELECT,
)

KG_REGISTRY["kg_edges"] = QuerySpec(
    spark=None,  # filled below
    oracle=_graph_common_sql()
    + """
    SELECT cs.canonical_id AS src, l.pred, co.canonical_id AS dst,
           count(*) AS weight, max(l.prob) AS max_prob
    FROM linked l
    JOIN canon_map cs ON cs.node_id = l.subj_entity_id
    JOIN canon_map co ON co.node_id = l.obj_entity_id
    GROUP BY cs.canonical_id, l.pred, co.canonical_id
    """,
)


def _frozen_triples(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(TRIPLES_PARQUET)


def _kg_nodes_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import graph as GR

    nodes, _edges = GR.build_graph(_frozen_triples(spark), spark)
    return nodes


def _kg_edges_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import graph as GR

    _nodes, edges = GR.build_graph(_frozen_triples(spark), spark)
    return edges.drop("source_urls")


KG_REGISTRY["kg_nodes"].spark = _kg_nodes_spark
KG_REGISTRY["kg_edges"].spark = _kg_edges_spark


# media_meta ----------------------------------------------------------------


def _media_meta_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = spark.read.parquet(MEDIA_PARQUET)
    return m.select(
        "media_id", "kind", "mime", "width", "height", "duration_ms",
        F.length("payload").alias("n_bytes"),
        F.md5(F.upper(F.hex(F.col("payload")))).alias("payload_md5"),
    )


def _media_features_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    feats = MM.extract_media_features(spark.read.parquet(MEDIA_PARQUET))
    # digest the float32 feature vector as exact integers (x * 1e6,
    # half-even) — float-to-string formatting differs across engines,
    # integer strings do not
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "features",
                    lambda x: F.bround(x.cast("double") * 1000000)
                    .cast("bigint")
                    .cast("string"),
                ),
            )
        ).alias("features_digest"),
        "decoder",
    )


_HEX_DIGITS = "0123456789ABCDEF"

KG_REGISTRY["media_features"] = QuerySpec(
    spark=_media_features_spark,
    # the stub extractor's bucket b counts bytes with high nibble b
    # (256-bin histogram reshaped 16x16 and row-summed), i.e. occurrences
    # of hex digit b at odd positions of the payload's hex string; the
    # float32 division cnt/len is reproduced with REAL/REAL arithmetic
    oracle=f"""
    WITH m AS (
      SELECT media_id, kind, payload, upper(hex(payload)) AS hx,
             octet_length(payload) AS n_bytes
      FROM read_parquet('{MEDIA_PARQUET}')
    ),
    feat AS (
      SELECT media_id, kind, n_bytes,
             list_transform(range(16), b ->
               CAST(ROUND(CAST(
                 CAST(len(list_filter(range(n_bytes),
                   i -> substr(hx, CAST(2*i+1 AS INT), 1)
                        = substr('{_HEX_DIGITS}', CAST(b+1 AS INT), 1)))
                   AS REAL)
                 / CAST(GREATEST(n_bytes, 1) AS REAL)
               AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      FROM m
    )
    SELECT media_id, kind, CAST(n_bytes AS INT) AS n_bytes,
           md5(array_to_string(q, ',')) AS features_digest,
           'stub-histogram' AS decoder
    FROM feat
    """,
)


def _media_frames_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    frames = MM.sample_frames(spark.read.parquet(MEDIA_PARQUET))
    return frames.select(
        "media_id", "frame_idx", "frame_ts_ms",
        F.md5(F.upper(F.hex(F.col("frame")))).alias("frame_md5"),
        "sampler",
    )


KG_REGISTRY["media_frames"] = QuerySpec(
    spark=_media_frames_spark,
    # the sampler's byte slice [start, start+16) maps to hex chars
    # [2*start+1 .. 2*start+32] (DuckDB has no BLOB slicing; the hex
    # string slices byte-aligned), start = (i*997) % max(1, len-16)
    oracle=f"""
    WITH m AS (
      SELECT media_id, upper(hex(payload)) AS hx,
             GREATEST(1, octet_length(payload) - 16) AS modulus,
             duration_ms
      FROM read_parquet('{MEDIA_PARQUET}') WHERE kind = 'video'
    ),
    f AS (
      SELECT media_id, hx, modulus,
             unnest(range(LEAST(8, GREATEST(1, duration_ms // 1000))))
               AS frame_idx
      FROM m
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 1000 AS INT) AS frame_ts_ms,
           md5(substr(hx, CAST(2 * ((frame_idx * 997) % modulus) + 1 AS INT),
                      32)) AS frame_md5,
           'stub-slice' AS sampler
    FROM f
    """,
)


def _kg_host_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl statistics — the aggregation a crawl pipeline runs
    to score/throttle hosts (spam domains, skew detection).  The pages
    corpus is Pareto-skewed by host (sources/pages.py), so this is also
    the query whose group sizes motivate salted_repartition.

    The per-host distinct-language count is an HLL SKETCH
    (functions/sketches.py, VERDICT r6 #9): the exact COUNT(DISTINCT)
    is not mergeable state — at crawl scale the host scorer folds daily
    deltas, so the column must be register-mergeable like the edge
    rollup's url counts.  The sketch is the packed form, built inside
    the one ``groupBy(host)`` beside the counts, so there is no join.
    Per-host language cardinality sits deep in the linear-counting
    regime where the estimate is near-exact (pytest gate: == exact on
    the fixture).  Both engines compute the same all-integer register
    sketch, so the oracle hash still pins byte equality."""
    from ..functions import sketches as SK
    from ..functions.skew import host_of

    pages = spark.read.parquet(PAGES_PARQUET).select(
        host_of(F.col("url")).alias("host"),
        F.length("text").alias("chars"),
        MH.stable_id(F.col("lang")).alias("h"),
    )
    return (
        pages.withColumn("regs", F.array(SK.hll_code("h")))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("chars").alias("total_chars"),
            F.round(
                F.sum("chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_chars"),
            SK.hll_union("regs").alias("regs"),
        )
        .withColumn("regs", SK.hll_reduce("regs"))
        .select(
            "host", "n_pages",
            SK.hll_estimate_regs("regs").alias("est_langs"),
            "total_chars", "avg_chars",
        )
    )


def _kg_host_stats_oracle() -> str:
    from ..functions import sketches as SK

    return f"""
    WITH src AS (
      SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
             lang, length(text) AS chars
      FROM read_parquet('{PAGES_PARQUET}')
    ),
    {SK.duck_hll_by_sql('src', ['host'], 'lang')},
    stats AS (
      SELECT host,
             COUNT(*) AS n_pages,
             CAST(SUM(chars) AS BIGINT) AS total_chars,
             ROUND(CAST(SUM(chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
      FROM src GROUP BY 1
    )
    SELECT s.host, n_pages, e.est_hll AS est_langs, total_chars, avg_chars
    FROM stats s JOIN hll_by_est e ON s.host = e.host
    """


KG_REGISTRY["kg_host_stats"] = QuerySpec(
    spark=_kg_host_stats_spark,
    oracle=_kg_host_stats_oracle(),
)


def _media_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over binary media payloads (the media twin of
    dedup_exact).  The frozen media fixture has unique payloads, so —
    like dedup_exact — the query self-plants a deterministic duplicated
    slice (every media_id divisible by 20 re-inserted at media_id +
    1,000,000) identically in both engines, proving the non-empty path."""
    media = spark.read.parquet(MEDIA_PARQUET).select("media_id", "payload")
    planted = media.unionAll(
        media.filter(F.col("media_id") % 20 == 0).select(
            (F.col("media_id") + 1000000).alias("media_id"), "payload"
        )
    )
    return (
        planted.groupBy(
            F.md5(F.upper(F.hex("payload"))).alias("content_md5")
        )
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("media_id").alias("canonical_media_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


KG_REGISTRY["media_dedup"] = QuerySpec(
    spark=_media_dedup_spark,
    oracle=f"""
    WITH planted AS (
      SELECT media_id, payload FROM read_parquet('{MEDIA_PARQUET}')
      UNION ALL
      SELECT media_id + 1000000 AS media_id, payload
      FROM read_parquet('{MEDIA_PARQUET}') WHERE media_id % 20 = 0
    )
    SELECT md5(upper(hex(payload))) AS content_md5,
           COUNT(*) AS dup_count, MIN(media_id) AS canonical_media_id
    FROM planted GROUP BY md5(upper(hex(payload))) HAVING COUNT(*) > 1
    """,
)


KG_REGISTRY["media_meta"] = QuerySpec(
    spark=_media_meta_spark,
    oracle=f"""
    SELECT media_id, kind, mime, width, height, duration_ms,
           CAST(octet_length(payload) AS INT) AS n_bytes,
           md5(upper(hex(payload))) AS payload_md5
    FROM read_parquet('{MEDIA_PARQUET}')
    """,
)


def _media_real_features_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec decode surface (round 5): genuine BMP / PCM-WAV / MBMP
    payloads decoded from scratch (functions/codecs.py) and featurized.
    Rows-only: the decode math (FFT bands, pixel stats) has no DuckDB
    form — the hard gate is tests/test_codecs.py, whose WAV oracle is
    the INDEPENDENT stdlib ``wave`` implementation.  Scalar projections
    only (rows-only canonicalization requires pandas-sortable columns —
    the round-1 media_features lesson)."""
    from ..operators import multimodal as MM

    feats = MM.extract_media_features(MM.synthetic_real_media(spark, 60, seed=5))
    return feats.select(
        "media_id", "kind", "decoder", "n_bytes", "sha1",
        F.round(
            F.sqrt(
                F.aggregate(
                    "features",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ),
            6,
        ).alias("feature_norm"),
    )


KG_REGISTRY["media_real_features"] = QuerySpec(
    spark=_media_real_features_spark, oracle=None
)


def _url_canonical_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization + dedup: tracking params,
    fragments, www prefixes, case-variant hosts and trailing slashes all
    alias the same resource, and a crawler that misses this refetches
    (and a dedup that misses it double-counts).  The frozen fixture's
    urls are already clean, so — like dedup_exact / media_dedup — the
    query self-plants deterministic messy variants (every 10th article:
    a ?utm/#fragment variant and an upper-cased www./trailing-slash
    variant) identically in both engines, then canonicalizes and groups.
    Pure narrow string expressions + one groupBy — scale-safe."""
    pages = spark.read.parquet(PAGES_PARQUET).select("url")
    art = F.regexp_extract("url", r"([0-9]+)$", 1).cast("long")
    tenth = pages.filter(art % 10 == 0)
    planted = pages.unionAll(
        tenth.select(
            F.concat(F.col("url"), F.lit("?utm_source=feed&ref=rss#frag"))
            .alias("url")
        )
    ).unionAll(
        tenth.select(
            F.concat(
                F.regexp_replace("url", r"^https://", "https://WWW."),
                F.lit("/"),
            ).alias("url")
        )
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("url")), r"[?#].*$", ""),
            r"^https://www\.", "https://",
        ),
        r"/$", "",
    )
    return (
        planted.select(canon.alias("canonical_url"), "url")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("url").alias("first_variant"),
        )
    )


KG_REGISTRY["url_canonical_dedup"] = QuerySpec(
    spark=_url_canonical_dedup_spark,
    oracle=f"""
    WITH pages AS (
      SELECT url FROM read_parquet('{PAGES_PARQUET}')
    ),
    tenth AS (
      SELECT url FROM pages
      -- TRY_CAST: Spark's cast-to-long yields NULL (filtered) on a url
      -- without trailing digits; a plain DuckDB CAST would instead error
      WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 10 = 0
    ),
    planted AS (
      SELECT url FROM pages
      UNION ALL
      SELECT url || '?utm_source=feed&ref=rss#frag' FROM tenth
      UNION ALL
      SELECT regexp_replace(url, '^https://', 'https://WWW.') || '/'
      FROM tenth
    )
    SELECT regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '[?#].*$', ''),
               '^https://www\\.', 'https://'),
             '/$', '') AS canonical_url,
           COUNT(*) AS n_variants,
           MIN(url) AS first_variant
    FROM planted
    GROUP BY 1
    """,
)


def _kg_degree_distribution_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-analytics surface over the extracted KG: in/out degree
    distribution of the distinct (subj -> obj) edge set — the first
    sanity report a graph build ships (hub detection, skew sizing for
    the downstream joins).  Two groupBys over a distinct edge list."""
    from .graph import degree_distribution

    return degree_distribution(spark.read.parquet(TRIPLES_PARQUET))


KG_REGISTRY["kg_degree_distribution"] = QuerySpec(
    spark=_kg_degree_distribution_spark,
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT subj, obj FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    degs AS (
      SELECT 'out' AS direction, subj AS node, COUNT(*) AS degree
      FROM edges GROUP BY subj
      UNION ALL
      SELECT 'in' AS direction, obj AS node, COUNT(*) AS degree
      FROM edges GROUP BY obj
    )
    SELECT direction, degree, COUNT(*) AS n_nodes
    FROM degs GROUP BY direction, degree
    """,
)


_PR_ITERS = 5
_PR_DAMP = 0.85


def _kg_pagerank_spark(
    spark: SparkSession,
    sf_dir: str,
    triples: DataFrame | None = None,
    n_iters: int = _PR_ITERS,
) -> DataFrame:
    """PageRank over the extracted entity graph, {_PR_ITERS} power
    iterations at damping {_PR_DAMP} — the canonical iterative graph
    algorithm, expressed as repeated (pr JOIN edges ON src -> groupBy
    dst) rounds.  Cross-engine exactness: every per-edge contribution
    and every new rank is ROUND(..., 12)-quantized to DECIMAL(28,12)
    before the order-independent DECIMAL sum, so Spark and DuckDB agree
    bit-for-bit (module header rules).  Dangling-node mass is dropped
    (identically in both engines) rather than redistributed.

    Scale shape: per iteration one shuffle join on src + one aggregation
    on dst — the standard distributed PR round; the edge cache is
    hash-partitioned on the join key so power iterations reuse its
    partitioning, and ``fixpoint.rounds`` checkpoints the rank frame
    periodically so plan depth stays bounded at any ``n_iters`` (r6; the
    fixture's 5 rounds fit under one window)."""
    tri = triples if triples is not None else spark.read.parquet(
        TRIPLES_PARQUET
    )
    # the cache is hash-partitioned on subj — the per-iteration join key —
    # so every power-iteration join reads the cached partitioning instead
    # of re-exchanging the edge list (InMemoryTableScan preserves
    # outputPartitioning); the one irreducible shuffle per round is the
    # contribution groupBy on dst
    edges = (
        tri.select("subj", "obj").distinct()
        .repartition(F.col("subj")).persist()
    )
    nodes = (
        edges.select(F.col("subj").alias("node"))
        .unionAll(edges.select(F.col("obj").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    # HALF_UP rounding via F.round in BOTH init values — python round()
    # is half-even and can disagree with the engines' ROUND at a
    # boundary digit
    base = F.round(F.lit(0.15) / F.lit(float(n)), 12)
    out_deg = edges.groupBy(F.col("subj").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # r8: the out-degree join is LOOP-INVARIANT — attach it to the edge
    # cache once instead of re-joining the edge list against out_deg in
    # every power iteration (an edge-sized join x n_iters at scale).
    # Same per-edge (pr / outdeg) contributions, values unchanged.
    edges_deg = edges.join(
        out_deg.withColumnRenamed("node", "subj"), "subj"
    ).persist()
    pr = nodes.withColumn(
        "pr",
        F.round(F.lit(1.0) / F.lit(float(n)), 12).cast("decimal(28,12)"),
    )

    def power_step(pr: DataFrame) -> DataFrame:
        contrib = (
            edges_deg.join(pr.withColumnRenamed("node", "subj"), "subj")
            .select(
                F.col("obj").alias("node"),
                F.round(
                    F.col("pr").cast("double") / F.col("outdeg"), 12
                ).cast("decimal(28,12)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                base
                + F.lit(_PR_DAMP)
                * F.coalesce(F.col("mass").cast("double"), F.lit(0.0)),
                12,
            ).cast("decimal(28,12)").alias("pr"),
        )

    pr = FX.rounds(pr, power_step, n_iters)
    return _materialize_release(
        pr.select("node", F.col("pr").cast("double").alias("pagerank")),
        edges, nodes, edges_deg,
    )


def _pagerank_oracle() -> str:
    iters = ""
    prev = "pr0"
    for k in range(1, _PR_ITERS + 1):
        iters += f""",
    c{k} AS (
      SELECT e.obj AS node,
             SUM(CAST(ROUND(CAST(p.pr AS DOUBLE) / d.outdeg, 12)
                      AS DECIMAL(28,12))) AS mass
      FROM edges e
      JOIN {prev} p ON p.node = e.subj
      JOIN outdeg d ON d.node = e.subj
      GROUP BY e.obj
    ),
    pr{k} AS (
      SELECT n.node,
             CAST(ROUND((SELECT base FROM consts)
                        + CAST({_PR_DAMP} AS DOUBLE)
                          * COALESCE(CAST(c.mass AS DOUBLE),
                                     CAST(0.0 AS DOUBLE)),
                        12) AS DECIMAL(28,12)) AS pr
      FROM nodes n LEFT JOIN c{k} c ON c.node = n.node
    )"""
        prev = f"pr{k}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT subj, obj FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    nodes AS (
      SELECT subj AS node FROM edges UNION SELECT obj FROM edges
    ),
    consts AS (
      SELECT COUNT(*) AS n,
             ROUND(CAST(0.15 AS DOUBLE) / COUNT(*), 12) AS base
      FROM nodes
    ),
    outdeg AS (
      SELECT subj AS node, COUNT(*) AS outdeg FROM edges GROUP BY subj
    ),
    pr0 AS (
      SELECT node,
             CAST(ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM consts), 12)
                  AS DECIMAL(28,12)) AS pr
      FROM nodes
    ){iters}
    SELECT node, CAST(pr AS DOUBLE) AS pagerank FROM {prev}
    """


KG_REGISTRY["kg_pagerank"] = QuerySpec(
    spark=_kg_pagerank_spark, oracle=_pagerank_oracle()
)


def _materialize_release(df: DataFrame, *handles: DataFrame) -> DataFrame:
    """Eagerly materialize a (small) query result, then unpersist the
    intermediate caches that fed it.  The graph-analytics queries run
    inside the driver's long-lived 50+-query session; without this,
    every invocation pins new MEMORY_AND_DISK entries for the session's
    lifetime."""
    out = df.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return out


def _und_edges(
    spark: SparkSession, triples: DataFrame | None = None
) -> DataFrame:
    """Distinct undirected (a < b) edge set of the extracted entity
    graph — shared by the triangle census and the k-core peel.
    ``triples`` overrides the artifact read (bench.py times the same
    operators over a corpus-sized triples frame)."""
    tri = triples if triples is not None else spark.read.parquet(
        TRIPLES_PARQUET
    )
    return (
        tri.filter(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .distinct()
    )


def _und_degrees(edges: DataFrame, deg_col: str = "deg") -> DataFrame:
    """Undirected degree per node: one union + one groupBy."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias(deg_col))
    )


def _kg_triangle_count_spark(
    spark: SparkSession, sf_dir: str, triples: DataFrame | None = None
) -> DataFrame:
    """Triangle census + global clustering coefficient of the extracted
    entity graph — the standard structure report for a freshly built KG
    (community density, hub sanity).

    Algorithm: degree-oriented "compact-forward" counting.  Undirected
    edges are oriented from the endpoint with the smaller (degree, node)
    to the larger, making a DAG in which every triangle is a unique
    directed path u -> v -> w plus the closing edge u -> w.  Counting
    therefore chains two EQUI-joins: paths (e1 join e3 on the middle
    node) closed by e2 on (u, w) — each triangle generated exactly once,
    no non-equi pair predicate and no double-enumeration of out-neighbor
    pairs.  The orientation is the 100-TB-scale load-bearing choice: it
    bounds every out-degree by O(sqrt(m)), so total path candidates are
    O(m^1.5) on any graph (the classic compact-forward result the
    GraphFrames/Spark triangle count also relies on).  Wedges =
    sum_v C(deg_v, 2) in exact integer arithmetic (DIV 2 on the always-
    even product — double division would lose bits past 2^53 at hub
    degrees); clustering = 3*triangles/wedges, one IEEE double division
    + ROUND(,6) so both engines agree bit-for-bit."""
    und = _und_edges(spark, triples).persist()
    deg = _und_degrees(und).persist()
    keyed = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b"
    )
    # a < b lexically always (least/greatest), so (da < db) or equal-degree
    # falls back to the lexical order — a strict total order
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).persist()
    paths = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        "v",
    )
    triangles = paths.join(
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
    )
    n_tri = triangles.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) DIV 2"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    return _materialize_release(
        node_stats.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles").cast("double")
                    / F.col("n_wedges"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        ),
        und, deg, oriented,
    )


KG_REGISTRY["kg_triangle_count"] = QuerySpec(
    spark=_kg_triangle_count_spark,
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
      FROM read_parquet('{TRIPLES_PARQUET}')
      WHERE subj <> obj
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND und.a < und.b)
                  THEN und.a ELSE und.b END AS src,
             CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND und.a < und.b)
                  THEN und.b ELSE und.a END AS dst
      FROM und
      JOIN deg x ON x.node = und.a
      JOIN deg y ON y.node = und.b
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM oriented e1
      JOIN oriented e3 ON e3.src = e1.dst
      JOIN oriented e2 ON e2.src = e1.src AND e2.dst = e3.dst
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           CASE WHEN (SELECT SUM(deg * (deg - 1) // 2) FROM deg) > 0
                THEN ROUND(3.0 * CAST((SELECT n_triangles FROM tri) AS DOUBLE)
                           / (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT)
                              FROM deg), 6)
                ELSE 0.0 END AS clustering
    """,
)


_KCORE_K = 8
# the DuckDB twin unrolls this many peel rounds; the frozen fixture's
# peel is stable after 2, so the twin's rows are the Spark fixpoint's
_KCORE_ROUNDS = 4
_KCORE_MAX_ROUNDS = 100


def _kg_kcore_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=_KCORE_K) of the extracted entity graph by
    iterative peeling: drop every node whose degree in the surviving
    subgraph is < k, re-induce, repeat until a round peels no edge
    (``fixpoint.fixpoint``: a graph still peeling in round
    _KCORE_MAX_ROUNDS raises).  The DuckDB twin unrolls _KCORE_ROUNDS
    rounds; the pytest gate checks the survivors against an unbounded
    while-loop peel in plain Python.

    Scale shape: each round is one degree aggregation plus two joins
    against the (shrinking) alive set — the same driver-loop shape as the
    canonicalizer's min-label propagation.  Each round's edge frame is
    localCheckpoint()-ed: the round references its input FOUR times
    (twice in the degree union, once per join side), so an
    unmaterialized loop grows the logical plan ~4^rounds and OOMs the
    driver during analysis long before any data moves — the checkpoint
    pins plan depth constant, exactly as in canonicalize.py.  At real
    scale the alive set is additionally broadcast once it fits (it only
    shrinks)."""
    edges0 = _und_edges(spark).persist()

    def degrees(e: DataFrame) -> DataFrame:
        return _und_degrees(e, "core_degree")

    def peel(edges: DataFrame, changed) -> DataFrame:
        alive = degrees(edges).filter(F.col("core_degree") >= _KCORE_K)

        def mark(end: str) -> DataFrame:
            return alive.select(
                F.col("node").alias(end), F.lit(True).alias(f"{end}_ok")
            )

        # outer joins keep the peeled edges up to the round's checkpoint:
        # counted there, at the top of the plan, the stop test cannot be
        # pruned by an empty-relation rewrite (an Observation under a
        # semi-join's empty side is, and then never fills)
        marked = edges.join(mark("a"), "a", "left").join(
            mark("b"), "b", "left"
        )
        kept = F.col("a_ok").isNotNull() & F.col("b_ok").isNotNull()
        return changed(marked, ~kept).where(kept).select("a", "b")

    edges = FX.fixpoint(edges0, peel, "kg_kcore", _KCORE_MAX_ROUNDS)
    return _materialize_release(
        degrees(edges).filter(F.col("core_degree") >= _KCORE_K), edges0
    )


def _kcore_oracle() -> str:
    rounds = ""
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds += f""",
    d{r} AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev}
      ) GROUP BY node
    ),
    a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT node FROM a{r}) AND b IN (SELECT node FROM a{r})
    )"""
        prev = f"e{r}"
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
      FROM read_parquet('{TRIPLES_PARQUET}')
      WHERE subj <> obj
    ){rounds}
    SELECT node, COUNT(*) AS core_degree FROM (
      SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev}
    ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    """


KG_REGISTRY["kg_kcore"] = QuerySpec(
    spark=_kg_kcore_spark, oracle=_kcore_oracle()
)


def _kg_edge_history_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal provenance per extracted triple — the KG-versioning
    report: when was each (subj, pred, obj) first/last observed in the
    crawl, from how many urls/hosts, and at what peak model confidence.
    The crawl timestamp lives on the pages table, so this is the
    url-keyed triples<->pages join the lineage/metrics design assumes;
    timestamps are exchanged as epoch-second BIGINTs (tz-naive vs
    tz-aware datetime dtypes would drift between engines even when the
    instants match).

    Scale shape: both sides shuffle-partition on url (the natural key
    both tables already carry); pages is projected to (url, ts) before
    the join so the 100-TB html/text columns never move; the final
    aggregation is one groupBy on the triple key."""
    tri = spark.read.parquet(TRIPLES_PARQUET).select(
        "url", "subj", "pred", "obj", "prob"
    )
    pages = spark.read.parquet(PAGES_PARQUET).select(
        "url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")
    )
    return (
        tri.join(pages, "url")
        .withColumn(
            "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.round(F.max("prob"), 6).alias("max_prob"),
        )
    )


KG_REGISTRY["kg_edge_history"] = QuerySpec(
    spark=_kg_edge_history_spark,
    oracle=f"""
    WITH tri AS (
      SELECT url, subj, pred, obj, prob
      FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    pages AS (
      SELECT url, CAST(epoch(warc_ts) AS BIGINT) AS ts
      FROM read_parquet('{PAGES_PARQUET}')
    )
    SELECT t.subj, t.pred, t.obj,
           COUNT(*) AS n_obs,
           COUNT(DISTINCT t.url) AS n_urls,
           COUNT(DISTINCT regexp_extract(t.url, 'https://([^/]+)/', 1))
             AS n_hosts,
           MIN(p.ts) AS first_seen,
           MAX(p.ts) AS last_seen,
           ROUND(MAX(t.prob), 6) AS max_prob
    FROM tri t JOIN pages p ON p.url = t.url
    GROUP BY t.subj, t.pred, t.obj
    """,
)


# kg_khop -------------------------------------------------------------------

_KHOP_K = 3
_KHOP_SEEDS = 2


def _kg_khop_spark(
    spark: SparkSession,
    sf_dir: str,
    triples: DataFrame | None = None,
    k: int = _KHOP_K,
) -> DataFrame:
    """Multi-source BFS over the directed entity graph: min hop distance
    from the {_KHOP_SEEDS} highest-out-degree nodes (the hub entities a
    KG exploration always starts from) to everything reachable within
    {_KHOP_K} hops — the neighborhood-expansion query behind "show me
    the 3-hop context of this entity".

    Seeds are picked by (out-degree DESC, subj ASC) — a total order, so
    both engines choose identically; the pick is orderBy().limit(),
    which Spark plans as TakeOrdered (distributed per-partition top-k +
    driver merge of {_KHOP_SEEDS} rows — no single-partition Exchange).

    Scale shape: the edge list is persisted hash-partitioned on subj
    (the per-round join key, same reuse trick as kg_pagerank), each
    round is one join + one min-aggregation, and the frontier — NOT the
    full visited set — drives the next join, so round cost tracks the
    frontier size.  Plan depth is bounded by k (3 here); an unbounded-k
    variant would run through fixpoint.fixpoint like the k-core peel,
    with a checkpoint per round and a stop when the frontier is empty."""
    tri = triples if triples is not None else spark.read.parquet(
        TRIPLES_PARQUET
    )
    edges = (
        tri.select("subj", "obj").distinct()
        .repartition(F.col("subj")).persist()
    )
    seeds = (
        edges.groupBy("subj")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .orderBy(F.col("outdeg").desc(), F.col("subj"))
        .limit(_KHOP_SEEDS)
        .select("subj")
    )
    dist = seeds.select(F.col("subj").alias("node"), F.lit(0).alias("dist"))
    frontier = dist
    for hop in range(1, k + 1):
        frontier = (
            frontier.join(
                edges.withColumnRenamed("subj", "node"), "node"
            )
            .select(F.col("obj").alias("node"), F.lit(hop).alias("dist"))
            .distinct()
        )
        dist = dist.unionAll(frontier)
    out = dist.groupBy("node").agg(F.min("dist").alias("dist"))
    return _materialize_release(out, edges)


KG_REGISTRY["kg_khop"] = QuerySpec(
    spark=_kg_khop_spark,
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT subj, obj FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    seeds AS (
      SELECT subj FROM (
        SELECT subj, COUNT(*) AS outdeg FROM edges GROUP BY subj
        ORDER BY outdeg DESC, subj LIMIT {_KHOP_SEEDS}
      )
    ),
    reach(node, d) AS (
      SELECT subj, 0 FROM seeds
      UNION
      SELECT e.obj, r.d + 1
      FROM reach r JOIN edges e ON e.subj = r.node
      WHERE r.d < {_KHOP_K}
    )
    SELECT node, MIN(d) AS dist FROM reach GROUP BY node
    """,
)


# kg_link_prediction --------------------------------------------------------

_LP_MIN_CN = 2


def _kg_link_prediction_spark(
    spark: SparkSession,
    sf_dir: str,
    triples: DataFrame | None = None,
    max_middle_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over the undirected entity graph:
    for every NON-adjacent pair sharing >= {_LP_MIN_CN} neighbors, the
    common-neighbor count and the Adamic-Adar score (sum of 1/ln(deg)
    over shared neighbors — rare shared neighbors weigh more).  This is
    the "suggest missing edges" report a freshly extracted KG ships to
    curators.

    Cross-engine exactness: each 1/ln(deg) term is ROUND(...,12) ->
    DECIMAL(28,12) BEFORE the order-independent DECIMAL sum (module
    header rules; a middle node of a wedge always has deg >= 2, so
    ln(deg) >= ln 2 and the division is safe).

    Scale shape: wedge enumeration joins the symmetric adjacency list
    with itself on the middle node — Theta(sum deg^2) pairs, the
    irreducible cost of EXACT common-neighbor counting; at 100 TB the
    hub nodes dominate, so ``max_middle_degree`` caps which nodes may
    serve as the wedge MIDDLE: the degree filter runs on the
    sym-adjacency frame BEFORE the self-join, so a hub of degree d
    contributes 0 wedges instead of d^2.  The trade is explicit
    under-counting — a pair whose only shared neighbors are hubs drops
    out, and surviving pairs' cn / Adamic-Adar scores count non-hub
    witnesses only (hub-mediated evidence is the least informative —
    the same reasoning as Adamic-Adar's own 1/ln(deg) downweighting,
    taken to its limit).  Default None = exact.  The existing-edge
    anti-join and the >= {_LP_MIN_CN} filter keep the output linear in
    the wedge count, never materialized all-pairs."""
    und = _und_edges(spark, triples).persist()
    deg = _und_degrees(und)
    sym = und.select(
        F.col("a").alias("v"), F.col("b").alias("n")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("n")))
    # attach the middle's degree BEFORE the self-join: the hub cap (and
    # the aa_term it feeds) must prune wedges at their source, not
    # after the Theta(deg^2) blowup has already happened
    middles = sym.join(deg.withColumnRenamed("node", "v"), "v")
    if max_middle_degree is not None:
        middles = middles.filter(F.col("deg") <= max_middle_degree)
    # wedge: middle v adjacent to both u and w, u < w lexically
    left = middles.select(F.col("v"), F.col("n").alias("u"), F.col("deg"))
    right = middles.select(F.col("v"), F.col("n").alias("w"))
    wedges = left.join(right, "v").filter(F.col("u") < F.col("w"))
    scored = (
        wedges.select(
            "u",
            "w",
            F.round(
                F.lit(1.0) / F.log(F.col("deg").cast("double")), 12
            ).cast("decimal(28,12)").alias("aa_term"),
        )
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("aa_term").alias("aa_dec"),
        )
        .filter(F.col("cn") >= _LP_MIN_CN)
    )
    out = (
        scored.join(
            und,
            (scored.u == und.a) & (scored.w == und.b),
            "left_anti",
        )
        .select(
            "u", "w", "cn", F.col("aa_dec").cast("double").alias("aa_score")
        )
    )
    return _materialize_release(out, und)


KG_REGISTRY["kg_link_prediction"] = QuerySpec(
    spark=_kg_link_prediction_spark,
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
      FROM read_parquet('{TRIPLES_PARQUET}')
      WHERE subj <> obj
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    sym AS (
      SELECT a AS v, b AS n FROM und
      UNION ALL
      SELECT b AS v, a AS n FROM und
    ),
    scored AS (
      SELECT l.n AS u, r.n AS w,
             COUNT(*) AS cn,
             SUM(CAST(ROUND(1.0 / LN(CAST(d.deg AS DOUBLE)), 12)
                      AS DECIMAL(28,12))) AS aa_dec
      FROM sym l
      JOIN sym r ON r.v = l.v AND l.n < r.n
      JOIN deg d ON d.node = l.v
      GROUP BY l.n, r.n
      HAVING COUNT(*) >= {_LP_MIN_CN}
    )
    SELECT s.u, s.w, s.cn, CAST(s.aa_dec AS DOUBLE) AS aa_score
    FROM scored s
    ANTI JOIN und e ON e.a = s.u AND e.b = s.w
    """,
)


# kg_wcc --------------------------------------------------------------------


def _kg_wcc_spark(
    spark: SparkSession, sf_dir: str, triples: DataFrame | None = None
) -> DataFrame:
    """Weakly connected components of the entity graph — the first
    partitioning report over a freshly built KG (how many disconnected
    knowledge islands did extraction produce, and how big is the giant
    component).  Reuses operators/canonicalize.connected_components:
    min-label propagation with label SHORTCUTTING (labels jump to their
    label's label, so convergence is O(log diameter) shuffle rounds,
    not O(diameter)) and a localCheckpoint per round for constant plan
    depth — the same machinery the canonicalization stage and
    dup_clusters already trust at scale."""
    from ..operators import canonicalize as CANON

    und = _und_edges(spark, triples)
    comps = CANON.connected_components(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return comps.select(
        F.col("node_id").alias("node"), "component"
    )


KG_REGISTRY["kg_wcc"] = QuerySpec(
    spark=_kg_wcc_spark,
    oracle=f"""
    WITH RECURSIVE und AS (
      SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
      FROM read_parquet('{TRIPLES_PARQUET}')
      WHERE subj <> obj
    ),
    sym AS (
      SELECT a AS src, b AS dst FROM und
      UNION
      SELECT b AS src, a AS dst FROM und
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    """,
)


# kg_edge_history_incremental ------------------------------------------------


def _kg_edge_history_incremental_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental twin of kg_edge_history: the crawl is split into two
    deterministic deltas (md5(url) parity — content-keyed, so the split
    is partitioning-independent), each delta folds into mergeable
    per-edge state (operators/incremental.py), the states merge, and the
    report comes off the MERGED state only.  The DuckDB oracle computes
    the same rollup from the FULL crawl in one pass — so the driver's
    hash comparison IS the merge==rebuild law, checked cross-engine.
    Distinct-url counts come from the per-edge HLL register state
    (bounded, mergeable) rather than COUNT(DISTINCT) (not mergeable);
    both engines run the identical sketch."""
    from ..operators import incremental as INC

    tri = spark.read.parquet(TRIPLES_PARQUET).select(
        "url", "subj", "pred", "obj", "prob"
    )
    pages = spark.read.parquet(PAGES_PARQUET).select(
        "url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")
    )
    obs = tri.join(pages, "url")
    parity = MH.stable_id(F.col("url")) % 2
    s0 = INC.edge_state(obs.where(parity == 0))
    s1 = INC.edge_state(obs.where(parity == 1))
    return INC.edge_report(INC.merge_edge_state(s0, s1))


def _edge_history_incremental_oracle() -> str:
    from ..functions.sketches import duck_hll_by_sql

    return f"""
    WITH obs AS (
      SELECT t.subj, t.pred, t.obj, t.url, t.prob,
             CAST(epoch(p.warc_ts) AS BIGINT) AS ts
      FROM read_parquet('{TRIPLES_PARQUET}') t
      JOIN read_parquet('{PAGES_PARQUET}') p ON p.url = t.url
    ),
    {duck_hll_by_sql("obs", ["subj", "pred", "obj"], "url").lstrip()},
    stats AS (
      SELECT subj, pred, obj,
             COUNT(*) AS n_obs,
             MIN(ts) AS first_seen,
             MAX(ts) AS last_seen,
             ROUND(MAX(prob), 6) AS max_prob,
             -SUM(CAST(ROUND(ln(1 - LEAST(prob, 0.999999)), 6)
                       AS DECIMAL(18,6))) AS score_dec
      FROM obs GROUP BY subj, pred, obj
    )
    SELECT s.subj, s.pred, s.obj, s.n_obs, s.first_seen, s.last_seen,
           s.max_prob, CAST(s.score_dec AS DOUBLE) AS fused_score,
           e.est_hll AS est_urls
    FROM stats s
    JOIN hll_by_est e
      ON e.subj = s.subj AND e.pred = s.pred AND e.obj = s.obj
    """


KG_REGISTRY["kg_edge_history_incremental"] = QuerySpec(
    spark=_kg_edge_history_incremental_spark,
    oracle=_edge_history_incremental_oracle(),
)


def _kg_canonical_map_incremental_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental twin of the canonicalization chain (r7,
    operators/incremental_canon.py): the corpus's distinct normalized
    mention surfaces split into two deterministic deltas (md5(name)
    parity), delta 0 bootstraps the standing component map, delta 1
    FOLDS in via the reduced-graph fold — and the result
    must equal the single-pass batch canonicalization, which is exactly
    what the DuckDB oracle computes.  The driver's hash comparison IS
    the fold==rebuild law for canonical ids, checked cross-engine.

    The fixture's 127 surfaces share no pair at the threshold, so — like
    dedup_exact / media_dedup — the query self-plants near-duplicate
    variants (``name || ' co'`` for every surface whose stable id is
    ≡ 0 mod 5) identically in both engines, proving the MERGE path of
    the law non-trivially (planted variants that band-collide fold
    into their base's component; which ones collide is a deterministic
    md5 fact, identical cross-engine)."""
    from ..operators import incremental_canon as IC

    base = IC.mention_names(spark.read.parquet(TRIPLES_PARQUET))
    planted = base.where(F.col("node_id") % 5 == 0).select(
        F.concat(F.col("name"), F.lit(" co")).alias("name")
    )
    mentions = (
        base.select("name")
        .unionAll(planted)
        .distinct()
        .select(MH.stable_id(F.col("name")).alias("node_id"), "name")
    )
    # node_id is the stable id of name, so this is the md5(name) parity
    parity = F.col("node_id") % 2
    nodes0 = IC.canon_state(mentions.where(parity == 0)).localCheckpoint(
        eager=True
    )
    folded, _stats = IC.fold_into(nodes0, mentions.where(parity == 1))
    return IC.resolve_nodes([nodes0, folded])


def _canonical_map_incremental_oracle() -> str:
    return f"""
    WITH RECURSIVE tri AS (
      SELECT * FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    surf AS (
      -- UNION ALL + outer DISTINCT: inside a WITH RECURSIVE clause
      -- DuckDB gives plain UNION recursive-union semantics here and
      -- skipped the dedup entirely (observed 2x1520 rows)
      SELECT {_norm(x='subj')} AS nname FROM tri
      UNION ALL
      SELECT {_norm(x='obj')} FROM tri
    ),
    dn AS (SELECT DISTINCT nname FROM surf),
    withplants AS (
      SELECT nname FROM dn
      UNION ALL
      SELECT nname || ' co' FROM dn WHERE ({_sid(x='nname')}) % 5 = 0
    ),
    names AS (
      SELECT DISTINCT {_sid(x='nname')} AS node_id, nname FROM withplants
    ),
    {_char_shingle_bands_sql('names')},
    cand AS (
      SELECT DISTINCT a.node_id AS src, b.node_id AS dst
      FROM cbands a JOIN cbands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.node_id < b.node_id
    ),
    dsh AS (
      SELECT node_id, list_distinct(sh) AS s FROM shing
    ),
    verified AS (
      SELECT src, dst FROM (
        SELECT c.src, c.dst,
               len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter_cnt,
               len(a.s) AS na, len(b.s) AS nb
        FROM cand c JOIN dsh a ON a.node_id = c.src
                    JOIN dsh b ON b.node_id = c.dst
      )
      WHERE CAST(inter_cnt AS DOUBLE) / (na + nb - inter_cnt) >= {CANON.JACCARD_THRESHOLD}
    ),
    sym AS (
      SELECT src, dst FROM verified
      UNION
      SELECT dst AS src, src AS dst FROM verified
    ),
    reach(node_id, lbl) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node_id
    ),
    comps AS (
      SELECT node_id, min(lbl) AS component FROM reach GROUP BY node_id
    )
    SELECT n.node_id, n.nname AS name,
           COALESCE(c.component, n.node_id) AS component
    FROM names n LEFT JOIN comps c ON c.node_id = n.node_id
    """


KG_REGISTRY["kg_canonical_map_incremental"] = QuerySpec(
    spark=_kg_canonical_map_incremental_spark,
    oracle=_canonical_map_incremental_oracle(),
)


# kg_fusion / kg_conflicts ---------------------------------------------------
#
# Knowledge fusion (Dong et al. 2014, "Knowledge Vault"): the extractor
# emits one scored observation per (sentence, pair) — the reference
# scores instances independently and never aggregates across documents
# (ref eval.py:77-99 writes per-instance probabilities and stops there).
# A KG under construction must FUSE those observations into one belief
# per candidate fact, then resolve contradictions among single-valued
# predicates.  Both are pure aggregations + partitioned windows: scale-
# safe (no SinglePartition exchange, no all-pairs).
#
# Cross-engine exactness: noisy-or fusion is 1 - prod(1 - p_i); a double
# product is order-dependent, so both engines sum per-observation
# ROUND(ln(1 - p), 6) quantized to DECIMAL(18,6) (the unigram_logprob
# pattern) and report the negated sum as the fused score — the same
# monotone ranking, bit-exact under any partitioning.

# Single-valued ("functional") predicates in the TACRED relation
# inventory: a person is born/dies in one city, on one date; an org
# dissolves once and is headquartered in one country.
FUNCTIONAL_PREDS = (
    "per:city_of_birth",
    "per:city_of_death",
    "per:country_of_death",
    "per:date_of_death",
    "org:dissolved",
    "org:country_of_headquarters",
)


def _fused_triples(
    spark: SparkSession, triples: DataFrame | None = None
) -> DataFrame:
    """Per distinct (subj, pred, obj): observation count, source-url
    breadth, and the noisy-or fused score as an exact DECIMAL."""
    if triples is None:
        triples = spark.read.parquet(TRIPLES_PARQUET)
    from ..operators.incremental import noisy_or_term

    obs = triples.select("subj", "pred", "obj", "url", "prob")
    return (
        obs.withColumn("nl", noisy_or_term())
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.countDistinct("url").alias("n_urls"),
            (-F.sum("nl")).alias("score_dec"),
        )
    )


_FUSED_SQL = f"""
    obs AS (
      SELECT subj, pred, obj, url, prob
      FROM read_parquet('{TRIPLES_PARQUET}')
    ),
    fused AS (
      SELECT subj, pred, obj,
             COUNT(*) AS n_obs,
             COUNT(DISTINCT url) AS n_urls,
             -SUM(CAST(ROUND(ln(1 - LEAST(prob, 0.999999)), 6)
                       AS DECIMAL(18,6))) AS score_dec
      FROM obs GROUP BY subj, pred, obj
    )"""


def _kg_fusion_spark(
    spark: SparkSession, sf_dir: str, triples: DataFrame | None = None
) -> DataFrame:
    return _fused_triples(spark, triples).select(
        "subj", "pred", "obj", "n_obs", "n_urls",
        F.col("score_dec").cast("double").alias("fused_score"),
    )


KG_REGISTRY["kg_fusion"] = QuerySpec(
    spark=_kg_fusion_spark,
    oracle=f"""
    WITH {_FUSED_SQL.strip()}
    SELECT subj, pred, obj, n_obs, n_urls,
           CAST(score_dec AS DOUBLE) AS fused_score
    FROM fused
    """,
)


def _kg_conflicts_spark(
    spark: SparkSession, sf_dir: str, triples: DataFrame | None = None
) -> DataFrame:
    """Truth discovery for functional predicates: among contradicting
    objects for one (subj, pred), keep the fused-score winner and report
    its margin over the runner-up.  One partitioned window over the
    already-fused (vocabulary-sized per key) candidate table — the heavy
    lifting stays in the fusion aggregation.  The window itself lives in
    operators/incremental.py::conflicts_from_stats so the 24/7 fold-in
    path resolves conflicts off STANDING state with the same code."""
    from ..operators.incremental import conflicts_from_stats

    return conflicts_from_stats(
        _fused_triples(spark, triples), FUNCTIONAL_PREDS
    )


KG_REGISTRY["kg_conflicts"] = QuerySpec(
    spark=_kg_conflicts_spark,
    oracle=f"""
    WITH {_FUSED_SQL.strip()},
    ranked AS (
      SELECT subj, pred, obj, n_obs, score_dec,
             ROW_NUMBER() OVER w AS rn,
             LEAD(score_dec, 1) OVER w AS runner_dec,
             COUNT(*) OVER (PARTITION BY subj, pred) AS n_candidates,
             CAST(SUM(n_obs) OVER (PARTITION BY subj, pred) AS BIGINT)
               AS total_obs
      FROM fused
      WHERE pred IN {FUNCTIONAL_PREDS!r}
      WINDOW w AS (PARTITION BY subj, pred
                   ORDER BY score_dec DESC, n_obs DESC, obj ASC)
    )
    SELECT subj, pred,
           obj AS winner_obj,
           n_obs AS winner_obs,
           n_candidates, total_obs,
           CAST(score_dec AS DOUBLE) AS winner_score,
           CAST(score_dec - runner_dec AS DOUBLE) AS margin
    FROM ranked
    WHERE rn = 1 AND n_candidates >= 2
    """,
)


# kg_type_violations ---------------------------------------------------------
#
# Schema validation (SHACL-style domain/range constraints): every TACRED
# relation has a declared subject and object entity type (the reference
# hard-codes the pairing only implicitly, via its per-relation training
# data — ref data/loader.py:60-74 maps types to ids but never validates
# them).  A KG under construction validates extracted facts against the
# ontology BEFORE fusion; violations are either extractor noise or NER
# mis-typing and get quarantined, not loaded.  Shape: broadcast the
# constraint table (one row per predicate) against the fact stream, one
# map-side-combinable groupBy — zero fact-side shuffle beyond the agg.

# Declared (domain, range) per predicate, from the public TACRED schema.
TYPE_CONSTRAINTS = (
    ("per:city_of_birth", "PERSON", "CITY"),
    ("per:city_of_death", "PERSON", "CITY"),
    ("per:cities_of_residence", "PERSON", "CITY"),
    ("per:country_of_death", "PERSON", "COUNTRY"),
    ("per:date_of_death", "PERSON", "DATE"),
    ("per:title", "PERSON", "TITLE"),
    ("per:employee_of", "PERSON", "ORGANIZATION"),
    ("org:country_of_headquarters", "ORGANIZATION", "COUNTRY"),
    ("org:dissolved", "ORGANIZATION", "DATE"),
    ("org:members", "ORGANIZATION", "ORGANIZATION"),
)


def _kg_type_violations_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    cons = spark.createDataFrame(
        list(TYPE_CONSTRAINTS), "pred string, expected_subj string, expected_obj string"
    )
    t = spark.read.parquet(TRIPLES_PARQUET).select(
        "subj", "subj_type", "pred", "obj", "obj_type"
    )
    j = t.join(F.broadcast(cons), "pred")
    bad_dom = F.col("subj_type") != F.col("expected_subj")
    bad_rng = F.col("obj_type") != F.col("expected_obj")
    viol = (
        F.when(bad_dom & bad_rng, F.lit("both"))
        .when(bad_dom, F.lit("domain"))
        .otherwise(F.lit("range"))
    )
    flagged = j.where(bad_dom | bad_rng).withColumn("violation", viol)
    facts = flagged.select(
        "pred", "subj_type", "obj_type", "violation",
        "expected_subj", "expected_obj", "subj", "obj",
    )
    return (
        facts.groupBy(
            "pred", "subj_type", "obj_type", "violation",
            "expected_subj", "expected_obj",
        )
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.countDistinct("subj", "obj").alias("n_facts"),
        )
    )


KG_REGISTRY["kg_type_violations"] = QuerySpec(
    spark=_kg_type_violations_spark,
    oracle=f"""
    WITH cons(pred, expected_subj, expected_obj) AS (
      VALUES {", ".join(f"('{p}', '{d}', '{r}')" for p, d, r in TYPE_CONSTRAINTS)}
    ),
    flagged AS (
      SELECT t.pred, t.subj_type, t.obj_type,
             CASE WHEN t.subj_type <> c.expected_subj
                   AND t.obj_type <> c.expected_obj THEN 'both'
                  WHEN t.subj_type <> c.expected_subj THEN 'domain'
                  ELSE 'range' END AS violation,
             c.expected_subj, c.expected_obj, t.subj, t.obj
      FROM read_parquet('{TRIPLES_PARQUET}') t
      JOIN cons c ON c.pred = t.pred
      WHERE t.subj_type <> c.expected_subj OR t.obj_type <> c.expected_obj
    )
    SELECT pred, subj_type, obj_type, violation,
           expected_subj, expected_obj,
           COUNT(*) AS n_obs,
           COUNT(DISTINCT (subj, obj)) AS n_facts
    FROM flagged
    GROUP BY pred, subj_type, obj_type, violation, expected_subj, expected_obj
    """,
)


# kg_ntriples ----------------------------------------------------------------


def _kg_ntriples_spark(
    spark: SparkSession, sf_dir: str, triples: DataFrame | None = None
) -> DataFrame:
    """KG publish step: distinct extracted facts serialized as RDF
    N-Triples statements (functions/rdf.py) — a pure JVM map stage over
    the distinct-fact aggregation, bytes identical in both engines."""
    from ..functions import rdf as R

    if triples is None:
        triples = spark.read.parquet(TRIPLES_PARQUET)
    facts = triples.select("subj", "pred", "obj").distinct()
    return facts.select(
        R.ntriple_line(
            F.col("subj"), F.col("pred"), F.col("obj")
        ).alias("ntriple")
    )


def _kg_ntriples_oracle() -> str:
    from ..functions import rdf as R

    return f"""
    WITH facts AS (
      SELECT DISTINCT subj, pred, obj
      FROM read_parquet('{TRIPLES_PARQUET}')
    )
    SELECT {R.duck_ntriple_sql("subj", "pred", "obj")} AS ntriple
    FROM facts
    """


KG_REGISTRY["kg_ntriples"] = QuerySpec(
    spark=_kg_ntriples_spark,
    oracle=_kg_ntriples_oracle(),
)


# kg_communities -------------------------------------------------------------

_LPA_ROUNDS = 5


def _kg_communities_spark(
    spark: SparkSession,
    sf_dir: str,
    triples: DataFrame | None = None,
    n_rounds: int = _LPA_ROUNDS,
) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation (Raghavan
    et al. 2007) over the undirected entity graph — denser-than-
    connectivity structure (WCC finds islands; LPA finds neighborhoods
    inside them).  Each round every node adopts its neighbors' majority
    label, ties to the smallest label; synchronous updates + the
    deterministic tie-break make the result exact across engines and
    partitionings (asynchronous LPA is run-order dependent — useless as
    an oracle-checked operator).

    Scale shape: per round one edge⋈label join (both sides hash-
    partitioned on the join key) and two map-side-combinable groupBys;
    fixpoint.rounds localCheckpoints the label frame periodically
    (r8: each round references its predecessor exactly ONCE, so lazy
    chaining grows the plan linearly, not exponentially — a periodic
    truncation bounds depth at any round count while letting the rounds
    in between run as one job instead of one job per round; the
    per-round eager checkpoint was round-trip overhead, not a depth
    necessity).  The winner pick is a groupBy MIN over a (neg-count,
    label) struct — never a SinglePartition window."""
    und = _und_edges(spark, triples)
    sym = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def lpa_step(labels: DataFrame) -> DataFrame:
        nb = (
            sym.join(
                labels.select(
                    F.col("node").alias("dst"), "label"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            nb.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label"),
                    )
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label"))
        )

    labels = FX.rounds(labels, lpa_step, n_rounds)
    return labels.select("node", F.col("label").alias("community"))


def _communities_oracle(n_rounds: int = _LPA_ROUNDS) -> str:
    rounds = []
    for i in range(1, n_rounds + 1):
        rounds.append(f"""
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT s.src AS node, l.label,
               ROW_NUMBER() OVER (
                 PARTITION BY s.src
                 ORDER BY COUNT(*) DESC, l.label ASC
               ) AS rn
        FROM sym s JOIN l{i - 1} l ON l.node = s.dst
        GROUP BY s.src, l.label
      ) WHERE rn = 1
    )""")
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
      FROM read_parquet('{TRIPLES_PARQUET}')
      WHERE subj <> obj
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM und
      UNION ALL
      SELECT b AS src, a AS dst FROM und
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM sym
    ),{",".join(rounds)}
    SELECT node, label AS community FROM l{n_rounds}
    """


KG_REGISTRY["kg_communities"] = QuerySpec(
    spark=_kg_communities_spark,
    oracle=_communities_oracle(),
)


# kg_entity_profiles ---------------------------------------------------------


def _kg_entity_profiles_spark(
    spark: SparkSession, sf_dir: str, triples: DataFrame | None = None
) -> DataFrame:
    """Entity cards — the per-entity summary a KG front end serves: how
    many distinct facts the entity heads (out) and fills (in), total
    supporting observations, and its best-attested fact by fused score
    (deterministic ties: pred then obj ascending).  Pure-object entities
    carry empty-string/0 placeholders so the frame is dense cross-engine
    (no NULL-ordering hazards).  Shape: three aggregations of the fused
    fact table + one partitioned window, all keyed on the entity —
    nothing wider than the fusion groupBy itself."""
    from pyspark.sql import Window

    fused = _fused_triples(spark, triples)
    out = fused.groupBy(F.col("subj").alias("entity")).agg(
        F.count(F.lit(1)).alias("out_facts"),
        F.sum("n_obs").alias("n_obs_out"),
    )
    w = Window.partitionBy("subj").orderBy(
        F.col("score_dec").desc(), F.col("pred").asc(), F.col("obj").asc()
    )
    top = (
        fused.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("subj").alias("entity"),
            F.col("pred").alias("top_pred"),
            F.col("obj").alias("top_obj"),
            F.col("score_dec").cast("double").alias("top_score"),
        )
    )
    inn = fused.groupBy(F.col("obj").alias("entity")).agg(
        F.count(F.lit(1)).alias("in_facts")
    )
    return (
        out.join(top, "entity")
        .join(inn, "entity", "full_outer")
        .select(
            "entity",
            F.coalesce("out_facts", F.lit(0)).alias("out_facts"),
            F.coalesce("in_facts", F.lit(0)).alias("in_facts"),
            F.coalesce("n_obs_out", F.lit(0)).alias("n_obs_out"),
            F.coalesce("top_pred", F.lit("")).alias("top_pred"),
            F.coalesce("top_obj", F.lit("")).alias("top_obj"),
            F.coalesce("top_score", F.lit(0.0)).alias("top_score"),
        )
    )


KG_REGISTRY["kg_entity_profiles"] = QuerySpec(
    spark=_kg_entity_profiles_spark,
    oracle=f"""
    WITH {_FUSED_SQL.strip()},
    outs AS (
      SELECT subj AS entity, COUNT(*) AS out_facts,
             CAST(SUM(n_obs) AS BIGINT) AS n_obs_out
      FROM fused GROUP BY subj
    ),
    tops AS (
      SELECT entity, top_pred, top_obj, top_score FROM (
        SELECT subj AS entity, pred AS top_pred, obj AS top_obj,
               CAST(score_dec AS DOUBLE) AS top_score,
               ROW_NUMBER() OVER (
                 PARTITION BY subj
                 ORDER BY score_dec DESC, pred ASC, obj ASC
               ) AS rn
        FROM fused
      ) WHERE rn = 1
    ),
    ins AS (
      SELECT obj AS entity, COUNT(*) AS in_facts FROM fused GROUP BY obj
    )
    SELECT
      COALESCE(o.entity, i.entity) AS entity,
      COALESCE(o.out_facts, 0) AS out_facts,
      COALESCE(i.in_facts, 0) AS in_facts,
      COALESCE(o.n_obs_out, 0) AS n_obs_out,
      COALESCE(t.top_pred, '') AS top_pred,
      COALESCE(t.top_obj, '') AS top_obj,
      COALESCE(t.top_score, 0.0) AS top_score
    FROM outs o
    JOIN tops t ON t.entity = o.entity
    FULL OUTER JOIN ins i ON i.entity = o.entity
    """,
)
