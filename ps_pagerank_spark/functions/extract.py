"""Canonical link + text extraction from Common-Crawl-style pages.

This is the ONE extraction spec (FIXTURES.md §1): the pure functions here are
used both by the engine's vectorized pandas UDFs and by the single-process
test oracle, which is what makes "byte-identical extracted text per url"
checkable. The reference repo consumes pre-built edge lists
(c-single-threaded/pagerank.c:64-88), so this layer is new engine surface
mandated by BASELINE.json's ``input_hint``.

Spec (stdlib-only):
  links: regex ``<a\\s[^>]*href="([^"]*)"`` over the decoded html; each href
    resolved with ``urllib.parse.urljoin(page_url, href)``; keep http(s)
    only; strip ``#fragment``; drop self-loops; dedupe per page preserving
    first occurrence.
  text: remove ``<script>…</script>`` and ``<style>…</style>`` blocks, strip
    all tags, collapse whitespace runs to single spaces, strip ends,
    encode UTF-8.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ps_pagerank_spark.session import drop_zip_importers

HREF_RE = re.compile(r'<a\s[^>]*href="([^"]*)"')
SCRIPT_RE = re.compile(r"<script\b.*?</script>", re.DOTALL | re.IGNORECASE)
STYLE_RE = re.compile(r"<style\b.*?</style>", re.DOTALL | re.IGNORECASE)
TAG_RE = re.compile(r"<[^>]*>")
WS_RE = re.compile(r"\s+")


def extract_links_py(page_url: str, html: bytes | str) -> list[str]:
    """Pure-Python canonical link extractor (the oracle and the UDF body)."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    out: list[str] = []
    seen: set[str] = set()
    for href in HREF_RE.findall(html):
        absu = urljoin(page_url, href)
        if not (absu.startswith("http://") or absu.startswith("https://")):
            continue
        absu = absu.split("#", 1)[0]
        if absu == page_url or not absu:
            continue
        if absu not in seen:
            seen.add(absu)
            out.append(absu)
    return out


def extract_text_py(html: bytes | str) -> str:
    """Pure-Python canonical text extractor. Returns a unicode str whose
    UTF-8 encoding is the byte-identity contract."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    s = SCRIPT_RE.sub(" ", html)
    s = STYLE_RE.sub(" ", s)
    s = TAG_RE.sub(" ", s)
    s = WS_RE.sub(" ", s)
    return s.strip()


_LINKS_SCHEMA = T.StructType(
    [
        T.StructField("src_url", T.StringType(), False),
        T.StructField("dst_url", T.StringType(), False),
    ]
)

_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def extract_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html, …) → links(src_url, dst_url), order-free.

    ``mapInPandas`` streams Arrow batches of (url, html), which batches
    the JVM↔Python transfer; inside a batch the scan is NOT vectorized —
    a per-page Python loop calls ``extract_links_py`` (regex over the
    html, ``urljoin`` per href). Catalyst prunes the scan to exactly
    (url, html) — no other page columns are read.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            srcs: list[str] = []
            dsts: list[str] = []
            for url, html in zip(pdf["url"].values, pdf[html_col].values):
                for dst in extract_links_py(url, html):
                    srcs.append(url)
                    dsts.append(dst)
            yield pd.DataFrame({"src_url": srcs, "dst_url": dsts})

    return pages.select("url", html_col).mapInPandas(gen, schema=_LINKS_SCHEMA)


def extract_texts(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html, …) → (url, text) with the canonical text spec."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            texts = [extract_text_py(h) for h in pdf[html_col].values]
            yield pd.DataFrame({"url": pdf["url"].values, "text": texts})

    return pages.select("url", html_col).mapInPandas(gen, schema=_TEXT_SCHEMA)


def normalize_links(links: DataFrame) -> DataFrame:
    """Set-dedupe links and drop self-loops (idempotent after the UDF's
    per-page first-occurrence dedupe; a global safety net for multi-snapshot
    unions where the same page appears in several WARC segments)."""
    return (
        links.filter(F.col("src_url") != F.col("dst_url"))
        .dropDuplicates(["src_url", "dst_url"])
    )
