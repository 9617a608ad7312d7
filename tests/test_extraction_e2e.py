"""SURVEY §5.2 items 3/4/6: end-to-end page-table pipeline with the
byte-identity contract, randomized-graph oracles, partition invariance.

The input_hint's per-row invariant — extracted text byte-identical per url
between the engine's pandas-UDF path and the single-process oracle path —
is asserted here verbatim.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ps_pagerank_spark.functions.extract import (
    extract_links,
    extract_links_py,
    extract_text_py,
    extract_texts,
    normalize_links,
)
from ps_pagerank_spark.operators.graph import (
    encode_edges,
    encode_vertices,
    vertices_from_links,
)
from ps_pagerank_spark.operators.pagerank import pagerank
from ps_pagerank_spark.sources.edgelist import edges_from_pairs
from ps_pagerank_spark.sources.pages import (
    pages_df_from_edges,
    pages_pdf_from_edges,
    synth_powerlaw_edges,
    url_of,
)
from tests.oracle import pagerank_ref, verify_pagerank_equation


@pytest.fixture(scope="module")
def graph():
    edges = [(int(s), int(d)) for s, d in synth_powerlaw_edges(150, 700, seed=9)]
    return 150, edges


@pytest.fixture(scope="module")
def pages(spark, graph):
    n, edges = graph
    return pages_df_from_edges(spark, n, edges).cache()


def test_text_byte_identical_per_url(spark, pages, graph):
    """Engine (distributed pandas UDF) vs oracle (single process): the
    UTF-8 bytes of the extracted text must match per url, byte for byte."""
    n, edges = graph
    got = {
        r["url"]: r["text"] for r in extract_texts(pages).collect()
    }
    oracle_pdf = pages_pdf_from_edges(n, edges)
    for url, html in zip(oracle_pdf["url"], oracle_pdf["html"]):
        assert got[url].encode("utf-8") == extract_text_py(html).encode("utf-8")
    assert len(got) == n


def test_links_match_oracle(spark, pages, graph):
    n, edges = graph
    got = {
        (r["src_url"], r["dst_url"])
        for r in normalize_links(extract_links(pages)).collect()
    }
    oracle_pdf = pages_pdf_from_edges(n, edges)
    want = set()
    for url, html in zip(oracle_pdf["url"], oracle_pdf["html"]):
        for dst in extract_links_py(url, html):
            want.add((url, dst))
    assert got == want


def test_pages_to_pagerank_end_to_end(spark, pages, graph):
    """Full pipeline: pages → links → dictionary → edges → PageRank; the
    converged per-vertex scores must match the NumPy oracle run on the
    oracle-extracted edge list (allclose 1e-6, the north-star criterion),
    and satisfy the per-row fixed-point equation (verify_pagerank.m)."""
    n, edges = graph
    links = normalize_links(extract_links(pages))
    vertices = encode_vertices(vertices_from_links(links), mode="zip")
    enc = encode_edges(links, vertices)
    res = pagerank(spark, enc, eps=1e-10, dangling_mode="redistribute")
    url2id = {r["url"]: r["vertex_id"] for r in vertices.collect()}
    got = {r["vertex_id"]: r["rank"] for r in res.ranks.collect()}

    # oracle graph in the engine's id space
    dedup = sorted({(s, d) for s, d in edges if s != d})
    oedges = [(url2id[url_of(s)], url2id[url_of(d)]) for s, d in dedup]
    n_o = len(url2id)
    want, _ = pagerank_ref(
        oedges, n_o, eps=1e-10, dangling_mode="redistribute"
    )
    assert len(got) == n_o
    assert np.allclose(
        np.array([got[i] for i in range(n_o)]), want, atol=1e-6, rtol=0
    )
    assert verify_pagerank_equation(
        np.array([got[i] for i in range(n_o)]),
        oedges,
        dangling_mode="redistribute",
    )


@pytest.mark.parametrize("dangling_mode", ["none", "redistribute"])
def test_random_graph_vs_oracle(spark, dangling_mode):
    """Seeded random digraph (hubs, dangling, isolated ids) vs NumPy oracle
    (SURVEY §5.2 item 4)."""
    rng = np.random.default_rng(123)
    n = 80
    src = rng.integers(0, n, 400)
    dst = rng.integers(0, n, 400)
    edges = sorted({(int(s), int(d)) for s, d in zip(src, dst) if s != d})
    df = edges_from_pairs(spark, edges)
    verts = spark.range(n).selectExpr("id AS vertex_id")
    res = pagerank(
        spark, df, vertices=verts, eps=1e-10, dangling_mode=dangling_mode
    )
    got = np.array(
        [r["rank"] for r in res.ranks.orderBy("vertex_id").collect()]
    )
    want, _ = pagerank_ref(edges, n, eps=1e-10, dangling_mode=dangling_mode)
    assert np.allclose(got, want, atol=1e-6, rtol=0)


def test_url_expr_no_truncation_above_1m(spark):
    """Regression: the distributed synthesizer once built urls with
    ``F.lpad(..., 6, '0')``, which TRUNCATES ids longer than 6 digits —
    above 1M vertices distinct pages collided onto one url. The column
    expression must match ``url_of`` exactly at any id."""
    from ps_pagerank_spark.sources.pages import _url_expr

    ids = [0, 7, 999_999, 1_000_000, 1_234_567, 4_000_000]
    df = spark.createDataFrame([(i,) for i in ids], "v long").select(
        "v", _url_expr(F.col("v")).alias("url")
    )
    got = {r["v"]: r["url"] for r in df.collect()}
    assert got == {i: url_of(i) for i in ids}


def test_synth_pages_distributed_extracts_generator_edges(spark):
    """synth_pages_distributed → extract_links must reproduce EXACTLY the
    generator's distinct (src, dst) pairs (the expected-count contract
    BENCH/ab_pagerank.py asserts on its ``pages:`` inputs at scale)."""
    from ps_pagerank_spark.sources.pages import (
        synth_edges_distributed,
        synth_pages_distributed,
    )

    n = 400
    pages = synth_pages_distributed(spark, n, avg_out_degree=5, seed=11)
    links = extract_links(pages)
    got = {
        (r["src_url"], r["dst_url"]) for r in links.collect()
    }
    want = {
        (url_of(r["v"]), url_of(r["dst_v"]))
        for r in synth_edges_distributed(spark, n, 5, 11)
        .dropDuplicates(["v", "dst_v"])
        .collect()
    }
    assert got == want
    # per-page first-occurrence dedupe means counts match too (no dupes)
    assert links.count() == len(want)


def test_partition_invariance(spark):
    """SURVEY §5.2 item 6: identical scores at 2 / 8 / 32 partitions."""
    rng = np.random.default_rng(7)
    edges = sorted(
        {
            (int(s), int(d))
            for s, d in zip(rng.integers(0, 60, 300), rng.integers(0, 60, 300))
            if s != d
        }
    )
    df = edges_from_pairs(spark, edges)
    results = []
    for p in (2, 8, 32):
        res = pagerank(
            spark,
            df,
            fixed_iterations=12,
            dangling_mode="redistribute",
            num_partitions=p,
        )
        results.append(
            {r["vertex_id"]: r["rank"] for r in res.ranks.collect()}
        )
    base = results[0]
    for other in results[1:]:
        assert base.keys() == other.keys()
        for k in base:
            assert math.isclose(base[k], other[k], rel_tol=0, abs_tol=1e-12)


# crafted html pieces for the Arrow-scan property test: tag and attribute
# spellings, every kind of whitespace after "<a" (Python's \s is wider than
# RE2's), unclosed quotes, nested anchors, and hrefs that take urljoin's
# route (relative, protocol-relative, dot segments, fragments, empty,
# backslashes, control characters, non-ASCII) next to plain absolute ones
_HTML_FRAGS = [
    "<a", "<A", "<a ", "<A HREF=\"", " ", "\n", "\t", "\x0b", "\x0c", "\r",
    "\x1c", "\x85", "\xa0", "\u2003", "\u3000", "\u200b", "href=\"", "href=",
    "\"", ">", "</a>", "<a href=\"", "<a\nhref=\"", "<a\x0bhref=\"",
    "<a\xa0href=\"", "<a href=\"", "<a title=\"x\" href=\"",
    "https://x.example/p", "http://y.example/q?z=1", "//proto.example/r",
    "../up", "./here", "#frag", "", "rel/path", "https://x.example/a/../b",
    "https://x.example/a/./b", "https://x.example/a;p", "https://x.example/a?",
    "https://x.example/a?#f", "https://x.example/a#f", "https://h\\x",
    "https://x.example/a\tb", "https://x.example/a\nb", " https://lead",
    "mailto:a@b", "javascript:void(0)", "ftp://x/y", "HTTPS://X.example/Up",
    "https:///nohost", "https://x.example/self", "http://x.example/p",
    "\xe9", "\xe9\u4e2d", "\udcff", "https://[::1/x", "http://[",
]
# the last two are page urls urljoin rejects as a base (an unclosed IPv6
# bracket; a host that NFKC-normalizes to contain '#'): no links at all
_PAGE_URLS = [
    "https://x.example/self", "http://x.example/p", "https://x.example/d/e.html",
    "https://[::1/p", "https://a\uff03b/p",
]


def _crafted_pages(n: int, seed: int) -> tuple[list, list]:
    """Seeded random pages stitched from _HTML_FRAGS; some carry invalid
    UTF-8 (lone continuation or lead bytes) inside and around hrefs."""
    import random

    rng = random.Random(seed)
    urls, htmls = [], []
    for _ in range(n):
        html = "".join(rng.choice(_HTML_FRAGS) for _ in range(rng.randint(0, 40)))
        raw = html.encode("utf-8", "surrogateescape")
        if rng.random() < 0.1:
            bad = bytes([rng.randint(0x80, 0xFF)])
            raw += bad + b'<a href="https://x.example/' + bad + b'">'
        urls.append(rng.choice(_PAGE_URLS))
        htmls.append(None if rng.random() < 0.01 else raw)
    return urls, htmls


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_arrow_scan_matches_oracle_on_crafted_html(seed):
    """Property: the Arrow-kernel scan returns extract_links_py's links,
    page by page, byte for byte and in first-occurrence order."""
    import pyarrow as pa

    from ps_pagerank_spark.functions.extract import _scan_links

    urls, htmls = _crafted_pages(4000, seed)
    want_src, want_dst = [], []
    for url, html in zip(urls, htmls):
        for dst in extract_links_py(url, html):
            want_src.append(url)
            want_dst.append(dst)
    assert want_dst  # the crafted pages do yield links
    src, dst = _scan_links(pa.array(urls), pa.array(htmls, pa.binary()))
    assert src.to_pylist() == want_src
    assert dst.to_pylist() == want_dst


def test_arrow_scan_edge_cases():
    """Hand-written cases of the scan's contract, including the ones the
    href pattern's greedy/backtracking choices decide."""
    import re

    import pyarrow as pa

    from ps_pagerank_spark.functions.extract import PY_SPACE, _scan_links

    # the scan spells out Python's \s (RE2's \s is ASCII-only)
    assert PY_SPACE == "".join(
        c for c in map(chr, range(0x110000)) if re.match(r"\s", c)
    )
    base = "https://s.example/d/p.html"
    cases = [
        # nested <a: greedy [^>]* takes the last href=" before '>'
        b'<a href="https://a.example/1" <a href="https://a.example/2">',
        # the value runs past '>' to the next quote (the next tag's)
        b'<a href="https://a.example/x> <a href="https://a.example/y">',
        # unclosed last quote: backtrack to the tag's earlier href="
        b'<a href="https://a.example/e" href="https://a.example/f',
        # newline, tab, vertical tab, NBSP, EM SPACE after <a; uppercase
        b'<a\nhref="https://b.example/1"><a\thref="https://b.example/2">'
        b'<a\x0bhref="https://b.example/3"><a\xc2\xa0href="https://b.example/4">'
        b'<a\xe2\x80\x83href="https://b.example/5"><A HREF="https://b.example/6">'
        b'<a\xe2\x80\x8bhref="https://b.example/zero-width-is-not-space">',
        # relative, protocol-relative, dot segments, fragments, empty, self
        b'<a href="q.html#f"><a href="//c.example/r"><a href="../up">'
        b'<a href="#top"><a href=""><a href="https://s.example/d/p.html#x">'
        b'<a href="https://c.example/a?#f"><a href="https://c.example/a/../b">',
        # duplicates (after fragment stripping), invalid UTF-8 in an href
        b'<a href="https://d.example/1#a"><a href="https://d.example/1#b">'
        b'<a href="https://d.example/\xff\xfe"><a href="https://d.example/\xff\xfe">',
    ]
    want = [(base, d) for h in cases for d in extract_links_py(base, h)]
    src, dst = _scan_links(pa.array([base] * len(cases)), pa.array(cases, pa.binary()))
    assert list(zip(src.to_pylist(), dst.to_pylist())) == want
    # an href urljoin rejects is dropped by scan and oracle alike; the
    # page's other links survive
    bad = b'<a href="https://[::1/x"><a href="https://e.example/ok">'
    assert extract_links_py(base, bad) == ["https://e.example/ok"]
    src, dst = _scan_links(pa.array([base]), pa.array([bad], pa.binary()))
    assert dst.to_pylist() == ["https://e.example/ok"]
    assert src.to_pylist() == [base]


def test_extract_links_udf_matches_oracle_in_order(spark):
    """The Spark UDF over crafted pages: same rows as the oracle, in the
    same order (one partition keeps the pages' order)."""
    urls, htmls = _crafted_pages(600, 4)
    pages = spark.createDataFrame(
        list(zip(urls, htmls)), "url string, html binary"
    ).coalesce(1)
    got = [(r["src_url"], r["dst_url"]) for r in extract_links(pages).collect()]
    want = [(u, d) for u, h in zip(urls, htmls) for d in extract_links_py(u, h)]
    assert got == want


# (jobs, tasks) of extract, encode_vertices and encode_edges on the pages
# fixture under the engine defaults
EXPECTED_FRONT_HALF_COUNTS = ((3, 6), (9, 13), (5, 5))


def _run_in_group(spark, group: str, fn):
    """Run ``fn`` with its Spark jobs tagged ``group``; return its result
    and the group's (jobs, completed tasks) from the status tracker."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 5.0
    while True:  # job-end events reach the tracker asynchronously
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos):
            break
        assert time.monotonic() < deadline, "jobs still running"
        time.sleep(0.05)
    tasks = sum(
        st.getStageInfo(s).numCompletedTasks
        for i in infos
        for s in i.stageIds
        if st.getStageInfo(s) is not None
    )
    return out, len(infos), tasks


def _front_half(spark, pages, tag: str) -> dict:
    """links → vertices → edges the way the pages-to-ranks benchmark runs
    them (each frame persisted), with per-phase job/task counts."""
    links, j, t = _run_in_group(
        spark, f"{tag}-extract",
        lambda: _persisted(normalize_links(extract_links(pages))),
    )
    out = {"extract": (j, t)}
    verts, j, t = _run_in_group(
        spark, f"{tag}-vertices",
        lambda: _persisted(encode_vertices(vertices_from_links(links), mode="zip")),
    )
    out["vertices"] = (j, t)
    edges, j, t = _run_in_group(
        spark, f"{tag}-edges", lambda: _persisted(encode_edges(links, verts))
    )
    out["edges"] = (j, t)
    out["rows"] = (
        sorted(links.collect()), sorted(verts.collect()), sorted(edges.collect())
    )
    for df in (links, verts, edges):
        df.unpersist()
    return out


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def test_front_half_default_matches_explicit_partitions(spark, pages):
    """Under the engine defaults (AQE may coalesce cached plans) links,
    vertex ids and edges equal those built at shuffle.partitions=4, and
    the extract and encode phases run at the data's width: the job and
    task counts below (with cached plans kept at 32 partitions the three
    phases ran 65, 138 and 161 tasks)."""
    pages.count()  # the fixture's cache is built outside the counted phases
    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true"
    )
    default = _front_half(spark, pages, "front-default")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        pinned = _front_half(spark, pages, "front-p4")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert default["rows"] == pinned["rows"]
    links, verts, edges = default["rows"]
    assert [v["vertex_id"] for v in verts] == list(range(len(verts)))
    assert len(edges) == len(links)
    assert (default["extract"], default["vertices"], default["edges"]) == (
        EXPECTED_FRONT_HALF_COUNTS
    )


# Ids keep the names of the two CLIs these routes came from: PageRank (once
# jobs/pagerank_job.py) and the graph algorithms.
@pytest.mark.parametrize("algorithm", [
    pytest.param("pagerank", id="pagerank_job"),
    pytest.param("components", id="graph_job"),
])
def test_cli_pages_path_extracts_each_page_once(
    spark, pages, tmp_path, monkeypatch, algorithm
):
    """The CLI --pages path writes vertices and then edges from one links
    frame; it must run the extractor over each page once, not once per
    write, whichever algorithm follows. An accumulator counts the pages fed
    to the extractor."""
    import ps_pagerank_spark.functions.extract as ex
    from jobs.graph_job import main

    pages_path = str(tmp_path / "pages_pq")
    pages.write.parquet(pages_path)
    n_pages = pages.count()
    seen = spark.sparkContext.accumulator(0)
    real = ex.extract_links

    def counting(df, html_col="html"):
        cols = df.select("url", html_col)

        def tap(batches):
            for b in batches:
                seen.add(b.num_rows)
                yield b

        return real(cols.mapInArrow(tap, cols.schema), html_col)

    monkeypatch.setattr(ex, "extract_links", counting)
    main([algorithm, "--pages", pages_path,
          "--catalog", str(tmp_path / "cat")], spark=spark)
    assert seen.value == n_pages
