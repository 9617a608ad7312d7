"""Structured Streaming ingestion: crawl pages arrive continuously →
links extracted incrementally → edge table grows by catalog appends.

The reference is batch-only (SURVEY.md §2.7 — no streaming surface), but a
Common-Crawl-scale pipeline ingests WARC segments as they land. This module
is the streaming face of the same extraction/encoding operators:

  * ``stream_pages``    — file-source readStream over a landing directory
    (each micro-batch = newly arrived page files). ``maxFilesPerTrigger``
    bounds batch size; schema is the BASELINE.json ``input_hint`` pages
    schema.
  * ``run_edge_ingest`` — ``foreachBatch`` sink over the SAME
    ``functions.extract.extract_links`` Arrow UDF as batch (mapInArrow is
    streaming-capable, so batch and streaming extraction can never
    diverge): per micro-batch, links are normalized, the url dictionary is
    extended incrementally (new urls get ids after the current max —
    existing ids never change), and encoded edges are appended to the
    catalog. Exactly-once: the catalog snapshot records the stream
    batch_id; a replayed batch (restart after failure mid-commit) is
    detected and skipped, making the append idempotent.
  * ``compact_table``   — the one rewrite of a graph table: folds its
    snapshot dirs into one and (re)derives its bucket layout.
  * ``page_stats_stream`` — watermarked sliding-window aggregation
    (pages per lang per window) — the monitoring stream; late pages
    beyond the watermark are dropped deterministically.

Layout: each graph table has one bucketed layout with a fixed key —
``vertices`` is hive-partitioned by ``_bucket = pmod(hash(url), B)`` and
``edges`` by ``_bucket = pmod(hash(src_id), B)``. B is chosen when the table
is bucketed and stored in its catalog layout. A table without a stored
layout (written by ``graph.pages_to_edges``, older code or by hand) is
bucketed once by ``compact_table`` when an ingest run starts, so every
micro-batch sees bucketed tables only.

Scale notes: the dictionary extension is a left-anti join + offset
assignment per micro-batch — O(batch) work, not O(table); edge appends are
partitioned parquet; compaction is a snapshot rewrite (catalog.overwrite)
that readers never observe mid-commit (atomic manifest swap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ps_pagerank_spark.functions.extract import extract_links, normalize_links
from ps_pagerank_spark.operators.graph import (
    encode_edges,
    vertices_from_links,
    zip_index,
)
from ps_pagerank_spark.plans.catalog import Catalog
from ps_pagerank_spark.sources.pages import PAGES_SCHEMA

VERTICES_TABLE = "vertices"
EDGES_TABLE = "edges"
# the fixed bucket key of each graph table, and its columns before bucketing
_BUCKET_KEY = {VERTICES_TABLE: "url", EDGES_TABLE: "src_id"}
_SCHEMA = {
    VERTICES_TABLE: "vertex_id long, url string",
    EDGES_TABLE: "src_id long, dst_id long",
}
DEFAULT_BUCKETS = 64  # suits tests; raise to 2^14 at crawl scale


def stream_pages(
    spark: SparkSession, landing_dir: str, *, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def _with_bucket(df: DataFrame, table: str, buckets: int) -> DataFrame:
    """``df`` plus ``_bucket = pmod(hash(key), buckets)`` on the table's
    fixed key."""
    return df.withColumn(
        "_bucket",
        F.pmod(F.hash(_BUCKET_KEY[table]), F.lit(buckets)).cast("int"),
    )


def _probe(spark: SparkSession, catalog: Catalog, table: str,
           batch: DataFrame) -> DataFrame:
    """The stored rows of ``table`` in the buckets ``batch`` touches.

    The buckets are a few tiny ints; the isin filter becomes a
    PartitionFilter on every snapshot scan, so untouched bucket dirs are
    never read — the probe reads O(touched buckets / B) of the table."""
    touched = [
        r["_bucket"] for r in batch.select("_bucket").distinct().collect()
    ]
    return catalog.read(spark, table).filter(F.col("_bucket").isin(touched))


def _extend_dictionary(
    spark: SparkSession, catalog: Catalog, links: DataFrame
) -> DataFrame:
    """Add unseen urls to the vertices table; return a dictionary slice
    sufficient to encode THIS batch (every batch url is covered).

    New ids continue from ``next_vertex_id`` carried in the snapshot
    props (0 for a new table), assigned by url order within the batch
    (deterministic given batch content). Existing assignments are
    immutable — downstream edge ids never need re-encoding. The unseen-url
    anti-join and the returned slice both read only the buckets the batch
    touches (``_probe``).

    Id assignment is the zip-style prefix encoding shared with batch
    ``encode_vertices`` (operators/graph.zip_index) — partition-local
    row_number + tiny driver prefix sum, no single-partition global window
    serializing the stage.
    """
    buckets = catalog.layout(VERTICES_TABLE)["buckets"]
    batch_urls = _with_bucket(
        vertices_from_links(links), VERTICES_TABLE, buckets
    )
    existing = _probe(spark, catalog, VERTICES_TABLE, batch_urls)
    next_id = catalog.latest_snapshot(VERTICES_TABLE)["props"][
        "next_vertex_id"
    ]
    new_urls = batch_urls.join(existing.select("url"), "url", "left_anti")
    # eager localCheckpoint: the anti-join + zip_index run ONCE; the
    # count, the append, and the returned dictionary slice consume the
    # same materialized id assignment instead of re-executing the lineage
    # (determinism is then locally evident, and the per-batch probe isn't
    # paid three times)
    new_vertices = _with_bucket(
        zip_index(new_urls.select("url"), base_id=next_id),
        VERTICES_TABLE,
        buckets,
    ).localCheckpoint(eager=True)
    n_new = new_vertices.count()
    dictionary = existing.select("vertex_id", "url")
    if n_new == 0:
        return dictionary
    catalog.append(
        VERTICES_TABLE, new_vertices, props={"next_vertex_id": next_id + n_new}
    )
    return dictionary.unionByName(new_vertices.select("vertex_id", "url"))


def run_edge_ingest(
    spark: SparkSession,
    landing_dir: str,
    catalog: Catalog,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 16,
    buckets: int | None = None,
    compact_after: int = 32,
):
    """Start (and for available_now=True, run to completion) the ingest
    stream: pages → links → incremental dictionary → edges appends.

    Exactly-once, two independent layers:
      * fast path — each catalog append records
        ``{"stream_batch_id": i, "stream_ckpt": checkpoint_dir}``; a
        replayed batch from the SAME checkpoint is skipped outright. The
        checkpoint scoping matters: batch ids restart at 0 under a fresh
        checkpoint dir, so a bare id match would silently drop a genuinely
        new batch (or reprocess all of them).
      * content layer — encoded batch edges are anti-joined against the
        existing edges table before the append, so the edges table stays a
        SET (pagerank()'s "deduplicated upstream" contract): re-crawled
        pages, repeated links across segments, and replays from a different
        checkpoint all append zero duplicate rows.

    Bounding the anti-join scan: ``vertices`` is bucketed on ``url`` and
    ``edges`` on ``src_id`` (module docstring), and both per-batch probes
    read only the buckets the BATCH touches — the parquet scan prunes
    whole bucket directories (PartitionFilters). A micro-batch's src ids
    are the batch's own pages (few thousand), so with ``buckets`` sized
    well above the per-batch distinct-src count (e.g. 2^14 at crawl
    scale; the default 64 suits tests) most of a 10^11-edge table never
    gets read. Each append writes ≤ buckets files per table.

    ``buckets`` is a bucketing-time parameter. Before the stream starts,
    each table without a stored layout (missing, or written by
    ``pages_to_edges``, older code or by hand) is bucketed once by
    ``compact_table`` under ``buckets`` (default ``DEFAULT_BUCKETS``).
    Once a table is bucketed, its stored layout is the source of truth for
    the modulus, and an explicit ``buckets`` that disagrees raises
    ValueError — probing with a different modulus than the one the
    ``_bucket`` values were written under would miss existing rows and
    silently duplicate urls/edges. To change the modulus, run
    ``compact_table(..., buckets=n)``.

    Compaction is automatic: Catalog.read unions one scan per appended
    snapshot dir, so an uncompacted table's read plan grows one scan per
    micro-batch. When a table's current snapshot accumulates more than
    ``compact_after`` data dirs, the sink folds it back to ONE dir
    (O(table) work every compact_after batches = amortized O(table /
    compact_after) per batch — the standard LSM trade).
    """
    # before the stream starts: bucket each table that lacks its fixed
    # layout (so the sink never meets another one), and fail fast on a
    # modulus mismatch
    for table in (VERTICES_TABLE, EDGES_TABLE):
        stored = catalog.layout(table)
        if stored is None or stored.get("key") != _BUCKET_KEY[table]:
            compact_table(spark, catalog, table, buckets=buckets)
        elif buckets is not None and buckets != stored["buckets"]:
            raise ValueError(
                f"table {table!r} was bucketed with "
                f"buckets={stored['buckets']} on {stored['key']!r}; "
                f"got buckets={buckets} — the stored layout wins (a "
                "different modulus would break bucket pruning and "
                "deduplication); pass None or run compact_table"
            )

    links = extract_links(stream_pages(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger
    ))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        props = catalog.latest_snapshot(EDGES_TABLE)["props"]
        if (
            props.get("stream_batch_id") == batch_id
            and props.get("stream_ckpt") == checkpoint_dir
        ):
            return  # replay of a committed batch — idempotent skip
        batch_links = normalize_links(batch_df).persist()
        batch_edges = None
        try:
            vertices = _extend_dictionary(spark, catalog, batch_links)
            batch_edges = _with_bucket(
                encode_edges(batch_links, vertices),
                EDGES_TABLE,
                catalog.layout(EDGES_TABLE)["buckets"],
            ).persist()
            existing = _probe(spark, catalog, EDGES_TABLE, batch_edges)
            edges = batch_edges.join(
                existing.select("src_id", "dst_id"),
                ["src_id", "dst_id"],
                "left_anti",
            )
            catalog.append(
                EDGES_TABLE,
                edges,
                props={
                    "stream_batch_id": batch_id,
                    "stream_ckpt": checkpoint_dir,
                },
            )
            for table in (EDGES_TABLE, VERTICES_TABLE):
                snap = catalog.latest_snapshot(table)
                if len(snap["data_dirs"]) > compact_after:
                    compact_table(spark, catalog, table)
        finally:
            batch_links.unpersist()
            if batch_edges is not None:
                batch_edges.unpersist()

    writer = (
        links.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def compact_table(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    *,
    buckets: int | None = None,
) -> int:
    """Rewrite a graph table as ONE snapshot dir in its bucketed layout
    (``_bucket = pmod(hash(key), buckets)`` on the table's fixed key).

    The modulus is ``buckets``, else the stored one, else
    ``DEFAULT_BUCKETS``; ``_bucket`` is always re-derived, so stale values
    under another modulus or key never survive. This one rewrite serves
    three ends:
      * compaction (the LSM step): every append writes ≤ buckets small
        files, so after many micro-batches the table is file-count-bound;
      * bucketing a table written without a layout (``pages_to_edges``,
        older code, by hand), or creating a missing table empty;
      * changing the modulus.
    Readers never observe a partial state — catalog.overwrite is an
    atomic manifest swap. Props carry forward, so the exactly-once stream
    markers survive; for ``vertices``, ``next_vertex_id = max + 1`` is
    recorded when the props lack it. Returns the new snapshot id."""
    last = catalog.latest_snapshot(table)
    stored = catalog.layout(table)
    b = buckets or (stored and stored["buckets"]) or DEFAULT_BUCKETS
    if last is None:
        df, props = spark.createDataFrame([], _SCHEMA[table]), {}
    else:
        df = catalog.read(spark, table).drop("_bucket")
        props = dict(last["props"])
    if table == VERTICES_TABLE and "next_vertex_id" not in props:
        m = df.agg(F.max("vertex_id")).first()[0]
        props["next_vertex_id"] = 0 if m is None else int(m) + 1
    return catalog.overwrite(
        table,
        _with_bucket(df, table, b).repartition("_bucket"),
        props=props,
        partition_by=["_bucket"],
        layout={"key": _BUCKET_KEY[table], "buckets": b},
    )


def page_stats_stream(
    pages: DataFrame,
    *,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked windowed page counts per lang — the crawl-monitoring
    stream (append-mode safe: the watermark closes windows so finalized
    rows can be emitted exactly once)."""
    w = (
        F.window("warc_ts", window, slide)
        if slide
        else F.window("warc_ts", window)
    )
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(w.alias("win"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
