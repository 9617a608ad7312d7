"""Canonical link + text extraction from Common-Crawl-style pages.

This is the ONE extraction spec (FIXTURES.md §1): the pure functions here are
the single-process test oracle and the spec the engine's UDFs must equal —
the text UDF calls ``extract_text_py``; the link UDF runs the same regex as
Arrow RE2 kernels (``_scan_links``) and is tested byte-identical to
``extract_links_py``. The reference repo consumes pre-built edge lists
(c-single-threaded/pagerank.c:64-88), so this layer is new engine surface
mandated by BASELINE.json's ``input_hint``.

Spec (stdlib-only; ``extract_links_py`` is its executable form):
  links: regex ``<a\\s[^>]*href="([^"]*)"`` over the decoded html; each href
    resolved with ``urllib.parse.urljoin(page_url, href)``, dropping an
    href it rejects (ValueError, e.g. an unclosed IPv6 bracket in the
    href, or in the page url, whose page then yields no links); keep
    http(s) only; strip ``#fragment``; drop self-loops; dedupe per page
    preserving first occurrence.
  text: remove ``<script>…</script>`` and ``<style>…</style>`` blocks, strip
    all tags, collapse whitespace runs to single spaces, strip ends,
    encode UTF-8.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from urllib.parse import urljoin

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ps_pagerank_spark.session import drop_zip_importers

HREF_RE = re.compile(r'<a\s[^>]*href="([^"]*)"')
SCRIPT_RE = re.compile(r"<script\b.*?</script>", re.DOTALL | re.IGNORECASE)
STYLE_RE = re.compile(r"<style\b.*?</style>", re.DOTALL | re.IGNORECASE)
TAG_RE = re.compile(r"<[^>]*>")
WS_RE = re.compile(r"\s+")

# Python's ``\s`` on str, i.e. what HREF_RE's ``\s`` matches; RE2's own
# ``\s`` is ASCII [\t\n\f\r ] only, so the Arrow scan spells it out
PY_SPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def _re2_utf8(ch: str) -> str:
    """RE2 pattern text for the UTF-8 bytes of ``ch``. RE2 runs binary
    inputs in Latin-1 mode, one byte per character, so the scan matches
    the raw html: every delimiter HREF_RE names is one ASCII byte, and no
    byte of a multi-byte (or invalid) sequence is ASCII."""
    return "".join(f"\\x{b:02x}" for b in ch.encode("utf-8"))


# HREF_RE over the raw UTF-8 bytes. RE2's leftmost-first matching makes the
# same choices as Python's backtracking (leftmost ``<a``, greedy ``[^>]*``).
_HREF_RE2 = '<a(?:%s)[^>]*href="([^"]*)"' % "|".join(map(_re2_utf8, PY_SPACE))
# hrefs that urljoin returns unchanged against any http(s) page url:
# absolute http(s) with a non-empty host, printable ASCII without a
# backslash, brackets (IPv6 host checks) or ';' (path params), and no dot
# segment or empty query (urljoin resolves or drops those)
_PLAIN_RE2 = (
    r"^https?://[^/?#\x00-\x20\x7f-\xff\\\[\];]"
    r"[^\x00-\x20\x7f-\xff\\\[\];]*$"
)
_IRREGULAR_RE2 = r"/\.\.?(?:[/?#]|$)|\?(?:#|$)"
# page urls urljoin may reject as a base (see _scan_links)
_ODD_BASE_RE2 = r"[\[\]]|[^\x00-\x7f]"


def extract_links_py(page_url: str, html: bytes | str) -> list[str]:
    """Pure-Python canonical link extractor (the oracle ``extract_links``
    must equal)."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    out: list[str] = []
    seen: set[str] = set()
    for href in HREF_RE.findall(html):
        try:
            absu = urljoin(page_url, href)
        except ValueError:  # e.g. "https://[::1/x": malformed IPv6 host
            continue
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

_LINKS_SCHEMA_ARROW = pa.schema(
    [pa.field("src_url", pa.string(), False), pa.field("dst_url", pa.string(), False)]
)

_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def extract_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html, …) → links(src_url, dst_url), order-free.

    ``mapInArrow`` streams Arrow batches of (url, html) and ``_scan_links``
    extracts each batch with Arrow's RE2 kernels, one call per batch, not
    per page. Python ``urljoin`` runs only on the hrefs that are not
    already plain absolute http(s) URLs (relative, protocol-relative,
    fragment-only or empty hrefs, dot segments, backslashes, control
    characters, non-ASCII). The output equals ``extract_links_py`` page by
    page, byte for byte and in the same order. Catalyst prunes the scan to
    exactly (url, html) — no other page columns are read.
    """

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_importers()
        for batch in batches:
            src, dst = _scan_links(batch.column(0), batch.column(1))
            yield pa.RecordBatch.from_arrays(
                [src, dst], schema=_LINKS_SCHEMA_ARROW
            )

    return pages.select("url", html_col).mapInArrow(gen, schema=_LINKS_SCHEMA)


def _scan_links(urls: pa.Array, html: pa.Array) -> tuple[pa.Array, pa.Array]:
    """``extract_links_py`` over a batch of pages with Arrow kernels:
    returns the (src_url, dst_url) arrays of every page's links, pages in
    batch order, each page's links in first-occurrence order."""
    if pa.types.is_string(html.type) or pa.types.is_large_string(html.type):
        html = html.cast(pa.binary())
    urls = urls.cast(pa.string())
    # every match becomes its href plus '"' (an href holds no '"'); the
    # lazy prefix eats the text between matches. The text after the last
    # match stays, so a page's first `count` pieces are its hrefs.
    marked = pc.replace_substring_regex(
        html, pattern="(?s).*?" + _HREF_RE2, replacement='\\1"'
    )
    count = pc.count_substring_regex(html, pattern=_HREF_RE2)
    pieces = pc.split_pattern(marked, pattern='"')
    lengths = pc.fill_null(pc.list_value_length(pieces), 0).to_numpy()
    count = pc.fill_null(count, 0).to_numpy()
    page = pc.list_parent_indices(pieces).to_numpy()
    index_in_page = np.arange(len(page)) - (np.cumsum(lengths) - lengths)[page]
    is_href = index_in_page < count[page]
    hrefs = pc.list_flatten(pieces).filter(pa.array(is_href))
    page = page[is_href]

    plain = pc.and_not(
        pc.match_substring_regex(hrefs, pattern=_PLAIN_RE2),
        pc.match_substring_regex(hrefs, pattern=_IRREGULAR_RE2),
    )
    # urljoin parses the page url even for an absolute href and may reject
    # it (bracketed or non-ASCII hosts): a page whose url has a bracket or
    # a non-ASCII character resolves every href in _resolve, which drops
    # what urljoin rejects
    odd_base = pc.fill_null(
        pc.match_substring_regex(urls, pattern=_ODD_BASE_RE2), False
    ).to_numpy(zero_copy_only=False)
    plain = pc.and_(plain, pa.array(~odd_base[page]))
    # plain hrefs lose their fragment; the rest are resolved in Python
    dst = pc.replace_substring_regex(hrefs, pattern="#.*", replacement="")
    other = np.flatnonzero(~plain.to_numpy(zero_copy_only=False))
    if len(other):
        bases = urls.take(page[other]).to_pylist()
        joined = [
            _resolve(b, h) for b, h in zip(bases, hrefs.take(other).to_pylist())
        ]
        dst = pc.replace_with_mask(
            dst, pc.invert(plain), pa.array(joined, dst.type)
        )
    dst = dst.cast(pa.string())
    src = urls.take(page)
    # drop non-http(s) (null), empty and self links
    keep = pc.fill_null(
        pc.and_(
            pc.greater(pc.binary_length(dst), 0),
            pc.fill_null(pc.not_equal(dst, src), True),
        ),
        False,
    )
    page = page[keep.to_numpy(zero_copy_only=False)]
    src, dst = src.filter(keep), dst.filter(keep)
    # per-page dedupe, first occurrence wins
    first = np.sort(
        pa.table({"p": page, "d": dst, "i": np.arange(len(page))})
        .group_by(["p", "d"], use_threads=False)
        .aggregate([("i", "min")])["i_min"]
        .to_numpy()
    )
    return src.take(first), dst.take(first)


def _resolve(page_url: str, href: bytes) -> bytes | None:
    """One non-plain href the way ``extract_links_py`` resolves it: UTF-8
    bytes of the fragment-free absolute http(s) URL, else None."""
    try:
        absu = urljoin(page_url, href.decode("utf-8", errors="replace"))
    except ValueError:
        return None
    if not (absu.startswith("http://") or absu.startswith("https://")):
        return None
    return absu.split("#", 1)[0].encode("utf-8")


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
