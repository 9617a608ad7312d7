"""Graph construction: dictionary encoding, dedup, degrees, skew stats.

Maps SURVEY.md §1.2 / §2.4:
  * vertex dictionary — the reference assumes dense ids 0..max
    (c-single-threaded/pagerank.c:60-62,88); at web scale vertex keys are
    urls, so we dictionary-encode with a deterministic dense assignment
    (row_number over url order → 0-based long ids).
  * edge dedup — the north_star mandates a deduplicated (src_id, dst_id)
    table; the reference double-counts duplicates (pagerank.c:94-126), a
    divergence documented in SURVEY.md §2.4.
  * out-degree (A1, pagerank.c:94-101), degree histogram (A5,
    matrix-formats.c:259-302), max in-degree (A4, matrix-formats.c:82-106).

Scale notes: the dictionary join is a plain equi-join on url; `vertices`
is only broadcast-sized in tests — production keeps it a shuffle join and
relies on AQE. row_number over a single ordered window is a serial
bottleneck at 10^12 rows, so `encode_vertices` assigns ids zipWithIndex-
style (partition-local row_number + offset by partition prefix counts),
which is fully parallel and still deterministic given a deterministic
sort key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ps_pagerank_spark.functions import extract


def vertices_from_links(links: DataFrame) -> DataFrame:
    """Distinct url universe of a links(src_url, dst_url) table."""
    return (
        links.select(F.col("src_url").alias("url"))
        .union(links.select(F.col("dst_url").alias("url")))
        .distinct()
    )


def encode_vertices(urls: DataFrame, mode: str = "zip") -> DataFrame:
    """urls(url) → vertices(vertex_id long, url string), dense 0..N−1,
    deterministic (ordered by url), via ``zip_index``. "zip" is the only
    mode; any other raises ValueError."""
    if mode != "zip":
        raise ValueError(f"unknown encode_vertices mode {mode!r}")
    return zip_index(urls)


def zip_index(urls: DataFrame, base_id: int = 0) -> DataFrame:
    """(url) → (vertex_id = base_id + dense rank by url order, url).

    The scalable dense-id assignment: range-partition + partition-local
    row_number + exclusive prefix sum of partition sizes (the classic
    zipWithIndex trick, expressed with DataFrame ops + one tiny driver-side
    prefix sum over per-partition counts). Deterministic given content;
    no single-partition global window anywhere.
    """
    spark = urls.sparkSession
    df = urls.repartitionByRange(F.col("url")).sortWithinPartitions("url")
    df = df.select(
        "url", F.spark_partition_id().alias("_pid")
    )
    # Pin the physical partitioning BEFORE running two actions over it:
    # RangePartitioner samples boundaries with an rdd-id-derived seed, so
    # re-executing the exchange for the second action could pick different
    # boundaries once partitions exceed the sample size — the offsets from
    # action 1 would then disagree with action 2's placement, duplicating
    # or skipping ids. localCheckpoint(eager=False) fixes the RDD (and its
    # range exchange) now and stores its blocks in the first job that
    # computes them: the per-partition counts collect below. The final
    # projection reads those same blocks, so the counts describe exactly
    # the placement the ids are assigned over, with no separate job just
    # to materialize the checkpoint (the pattern PageRank's loop uses).
    df = df.localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["cnt"]
        for r in df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], base_id
    for pid in sorted(counts):
        offsets.append((int(pid), int(acc)))
        acc += counts[pid]
    # partition-local rank + partition offset via a tiny broadcast-joined
    # offsets table (one row per partition). A literal CASE chain here gets
    # P entries deep — slow codegen / 64KB-method fallback at P=10k — while
    # the broadcast hash join stays O(1) per row at any P.
    offsets_df = F.broadcast(
        spark.createDataFrame(offsets, "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy("url")
    return (
        df.select(
            "url", "_pid", (F.row_number().over(w) - 1).cast("long").alias("_rk")
        )
        .join(offsets_df, "_pid")
        .select(
            (F.col("_rk") + F.col("_off")).cast("long").alias("vertex_id"),
            "url",
        )
    )


def encode_edges(links: DataFrame, vertices: DataFrame) -> DataFrame:
    """links(src_url, dst_url) × vertices → deduplicated
    edges(src_id, dst_id). Two equi-joins on url; Catalyst broadcasts when
    vertices is small, AQE handles skew otherwise."""
    src_v = vertices.select(
        F.col("url").alias("src_url"), F.col("vertex_id").alias("src_id")
    )
    dst_v = vertices.select(
        F.col("url").alias("dst_url"), F.col("vertex_id").alias("dst_id")
    )
    return (
        links.join(src_v, "src_url")
        .join(dst_v, "dst_url")
        .select("src_id", "dst_id")
        .dropDuplicates(["src_id", "dst_id"])
    )


def pages_to_edges(spark, pages: DataFrame, catalog) -> DataFrame:
    """The pages → edges front half: extract links, dictionary-encode
    them, write the "vertices" and "edges" tables to ``catalog``
    (plans.catalog.Catalog) and return the edges read back from it."""
    # persisted: the vertex write and the edge write both read links, and
    # an unpersisted frame would run the extractor once for each
    links = extract.normalize_links(extract.extract_links(pages)).persist()
    catalog.overwrite(
        "vertices", encode_vertices(vertices_from_links(links), mode="zip")
    )
    catalog.overwrite(
        "edges", encode_edges(links, catalog.read(spark, "vertices"))
    )
    links.unpersist()
    return catalog.read(spark, "edges")


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """Vertex universe as distinct edge endpoints → (vertex_id)."""
    return (
        edges.select(F.col("src_id").alias("vertex_id"))
        .union(edges.select(F.col("dst_id").alias("vertex_id")))
        .distinct()
    )


def vertices_id_range(spark, edges: DataFrame) -> DataFrame:
    """Reference id-range semantics: every id in [0, max] is a vertex even
    if it never appears (c-single-threaded/pagerank.c:88 — ghost vertices,
    FIXTURES.md §3b)."""
    mx = edges.agg(
        F.greatest(F.max("src_id"), F.max("dst_id")).alias("m")
    ).collect()[0]["m"]
    return spark.range(int(mx) + 1).select(F.col("id").alias("vertex_id"))


def out_degrees(edges: DataFrame) -> DataFrame:
    """A1: edges → outdeg(src_id, deg). Hash agg, map-side partial."""
    return edges.groupBy("src_id").agg(F.count("*").alias("deg"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("dst_id").agg(F.count("*").alias("deg"))


def degree_histogram(edges: DataFrame, direction: str = "in") -> DataFrame:
    """A5: nnz row-distribution histogram (matrix-formats.c:259-302) —
    skew diagnostics. Returns (deg, n_vertices)."""
    deg = in_degrees(edges) if direction == "in" else out_degrees(edges)
    return deg.groupBy("deg").agg(F.count("*").alias("n_vertices"))


def max_in_degree(edges: DataFrame) -> int:
    """A4: ELL-width analog (matrix-formats.c:82-106) — hub threshold stat."""
    row = in_degrees(edges).agg(F.max("deg").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0


def weighted_edges(edges: DataFrame) -> DataFrame:
    """P1 (pagerank.c:117-126): edge→COO transform. The edge DataFrame IS
    the distributed COO matrix: (row=dst_id, col=src_id, value=1/outdeg).
    Returns (src_id, dst_id, w)."""
    deg = out_degrees(edges)
    return edges.join(deg, "src_id").select(
        "src_id", "dst_id", (F.lit(1.0) / F.col("deg")).alias("w")
    )
