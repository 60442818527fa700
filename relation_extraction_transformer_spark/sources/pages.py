"""Synthetic Common-Crawl-style pages source (BASELINE.json input_hint).

Schema: ``url string, warc_ts timestamp, html binary, text string,
lang string``.  Generation is distributed (``spark.range`` +
``mapInPandas``) and deterministic per page id regardless of partitioning:
each row derives its own ``np.random.default_rng((seed, page_id))`` stream,
so the same (seed, n_pages) always yields byte-identical pages — the basis
of the byte-identical ``extract_text`` invariant test.

Host distribution is deliberately skewed (Pareto over a small host pool)
to exercise the salted-repartition path at scale.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gazetteer as G

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "de", "fr")


def _render_sentence(rng: np.random.Generator) -> str:
    t = G.TEMPLATES[int(rng.integers(0, len(G.TEMPLATES)))]
    p = G.PERSONS[int(rng.integers(0, len(G.PERSONS)))]
    p2 = G.PERSONS[int(rng.integers(0, len(G.PERSONS)))]
    return t.format(
        P=p,
        P2=p2,
        O=G.ORGS[int(rng.integers(0, len(G.ORGS)))],
        T=G.TITLES[int(rng.integers(0, len(G.TITLES)))],
        Y=G.YEARS[int(rng.integers(0, len(G.YEARS)))],
        CITY=G.CITIES[int(rng.integers(0, len(G.CITIES)))],
        COUNTRY=G.COUNTRIES[int(rng.integers(0, len(G.COUNTRIES)))],
        AGE=G.AGES[int(rng.integers(0, len(G.AGES)))],
        NAT=G.NATIONALITIES[int(rng.integers(0, len(G.NATIONALITIES)))],
    )


def render_page(page_id: int, seed: int) -> tuple[str, dt.datetime, bytes, str, str]:
    """Deterministic page for one id — shared by the Spark generator and
    the oracle (single code path; generation is not under parity test)."""
    rng = np.random.default_rng((seed, page_id))
    # skewed host: Pareto tail clamped to a 40-host pool; host 0 is hot
    host_idx = min(int(rng.pareto(0.7)), 39)
    host = f"host{host_idx}.example.com"
    lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
    n_sent = int(rng.integers(1, 6))
    sentences = [_render_sentence(rng) for _ in range(n_sent)]
    text = " ".join(sentences)
    url = f"https://{host}/articles/{page_id}"
    title = f"Article {page_id}"
    html = (
        f"<html><head><title>{title}</title></head><body><p>{text}</p>"
        f"</body></html>"
    ).encode("utf-8")
    ts = _EPOCH + dt.timedelta(seconds=int(page_id))
    return url, ts, html, text, lang


def synthetic_pages(
    spark: SparkSession, n_pages: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [render_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    rng_df = spark.range(n_pages, numPartitions=partitions)
    return rng_df.mapInPandas(gen, schema=schema)


def extract_text(pages: DataFrame) -> DataFrame:
    """Byte-identical text extraction per url (north-rule invariant).

    JVM-side: lenient byte decode + anchored regexp body extraction; no
    Python.  ``cast(binary AS string)`` instead of ``decode(_, 'UTF-8')``
    because ANSI decode ABORTS THE WHOLE JOB on one invalid byte sequence
    ([MALFORMED_CHARACTER_CODING]) — at 10^12 crawled pages malformed
    bytes are guaranteed; the cast wraps bytes without validating, still
    byte-identical on valid UTF-8 (tests/test_end_to_end.py) and
    extraction-correct even when garbage precedes the body
    (tests/test_robustness.py).  On this controlled HTML shape the
    extraction is exact; real-world HTML would swap in a pandas-UDF
    extractor behind the same column contract.
    """
    body = F.regexp_extract(
        F.col("html").cast("string"), "<p>(.*)</p>", 1
    )
    return pages.withColumn("extracted_text", body)


def extract_text_html(
    pages: DataFrame, html_col: str = "html", out_col: str = "extracted_text"
) -> DataFrame:
    """General real-world HTML -> text extraction (SURVEY §2.7 UDF 1).

    The from-scratch scanner in functions/html_text.py (see its module
    docstring for the exact byte-level semantics) wrapped in an
    Arrow-batched pandas UDF: batches cross to Python once per Arrow
    batch, the scan itself is index-jumping ``str.find`` work (no regex
    backtracking blowups on adversarial markup).  Survives unclosed
    tags, script/style bodies, comments hiding tags, ``>`` inside
    quoted attributes, entities, and malformed UTF-8 — byte-identical
    to an independent regex-chain oracle on the messy fixture set
    (tests/test_html_extract.py).

    Use :func:`extract_text` (pure JVM regexp) when the corpus shape is
    controlled, as in the synthetic benchmark; this UDF is the path for
    crawled HTML.  On the synthetic corpus the two agree with the
    ``text`` column exactly (same fixture suite).
    """
    from pyspark.sql.functions import pandas_udf

    from ..functions.html_text import html_bytes_to_text

    @pandas_udf("string")
    def _extract(col: pd.Series) -> pd.Series:
        return col.map(html_bytes_to_text)

    return pages.withColumn(out_col, _extract(F.col(html_col)))
