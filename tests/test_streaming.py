"""Structured Streaming ingest: incremental page arrival → link extraction
→ dictionary growth → catalog edge appends; windowed watermarked stats.

Uses the file source with trigger(availableNow) so micro-batches are
deterministic and the test is hermetic.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.graph import pages_to_edges
from ps_pagerank_spark.plans.catalog import Catalog
from ps_pagerank_spark.sources.pages import pages_df_from_edges, url_of
from ps_pagerank_spark.streaming.ingest import (
    PAGES_SCHEMA,
    compact_table,
    page_stats_stream,
    run_edge_ingest,
    stream_pages,
)


def _write_pages(spark, edges, out_dir, *, only_vertices=None):
    """Write a pages parquet file (one WARC-segment stand-in) derived from
    an edge list via the shared synthetic page builder. `only_vertices`
    restricts which page rows are emitted (so later segments contain only
    the newly crawled pages)."""
    n = max(v for e in edges for v in e) + 1
    pages = pages_df_from_edges(spark, n, edges)
    if only_vertices is not None:
        keep = [url_of(v) for v in only_vertices]
        pages = pages.filter(F.col("url").isin(keep))
    pages.coalesce(1).write.mode("append").parquet(out_dir)


@pytest.fixture
def dirs(tmp_path):
    return {
        "landing": str(tmp_path / "landing"),
        "catalog": str(tmp_path / "catalog"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_incremental_edge_ingest(spark, dirs):
    cat = Catalog(dirs["catalog"])
    seg1 = [(0, 1), (1, 2), (2, 0)]
    _write_pages(spark, seg1, dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    e1 = cat.read(spark, "edges")
    v1 = cat.read(spark, "vertices")
    assert e1.count() == 3
    n_v1 = v1.count()
    assert n_v1 == 3
    v1_map = {r["url"]: r["vertex_id"] for r in v1.collect()}

    # second segment arrives: only the newly crawled pages 3 and 4,
    # linking one old url (0) and one new (4)
    seg2 = [(3, 0), (3, 4)]
    _write_pages(spark, seg2, dirs["landing"], only_vertices=[3, 4])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    e2 = cat.read(spark, "edges")
    v2 = cat.read(spark, "vertices")
    assert e2.count() == 5
    assert v2.count() == 5
    # existing assignments immutable; new ids extend past old max
    v2_map = {r["url"]: r["vertex_id"] for r in v2.collect()}
    for url, vid in v1_map.items():
        assert v2_map[url] == vid
    assert min(v2_map[u] for u in set(v2_map) - set(v1_map)) == max(v1_map.values()) + 1

    # edge ids resolve through the dictionary (referential integrity)
    ids = {r["vertex_id"] for r in v2.collect()}
    for r in e2.collect():
        assert r["src_id"] in ids and r["dst_id"] in ids

    # re-running with no new files appends nothing
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    assert cat.read(spark, "edges").count() == 5


def test_page_stats_stream_windows(spark, dirs):
    rows = [
        ("u1", dt.datetime(2026, 1, 1, 0, 1), None, None, "en"),
        ("u2", dt.datetime(2026, 1, 1, 0, 4), None, None, "en"),
        ("u3", dt.datetime(2026, 1, 1, 0, 11), None, None, "de"),
    ]
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(
        dirs["landing"]
    )
    stats = page_stats_stream(
        stream_pages(spark, dirs["landing"]), window="10 minutes"
    )
    out = str(dirs["catalog"]) + "/stats"
    q = (
        stats.writeStream.format("memory")
        .queryName("page_stats")
        .outputMode("complete")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"].minute, r["lang"]): r["n_pages"]
        for r in spark.sql("SELECT * FROM page_stats").collect()
    }
    assert got == {(0, "en"): 2, (10, "de"): 1}


def test_recrawl_keeps_edge_table_a_set(spark, dirs):
    """A re-crawled page arriving in a later segment must not append
    duplicate (src_id, dst_id) rows — pagerank()'s 'deduplicated upstream'
    contract holds across micro-batches, not just within one."""
    cat = Catalog(dirs["catalog"])
    seg1 = [(0, 1), (1, 2), (2, 0)]
    _write_pages(spark, seg1, dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    assert cat.read(spark, "edges").count() == 3

    # page 0 is re-crawled (same links 0→1) plus a genuinely new link 0→3;
    # page 3 is new
    seg2 = [(0, 1), (0, 3), (3, 2)]
    _write_pages(spark, seg2, dirs["landing"], only_vertices=[0, 3])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    edges = cat.read(spark, "edges")
    rows = {(r["src_id"], r["dst_id"]) for r in edges.collect()}
    assert edges.count() == len(rows), "edge table must stay a set"
    assert edges.count() == 5  # 3 originals + (0→3) + (3→2), no dup 0→1


def test_bucketed_antijoin_prunes_scan(spark, dirs):
    """The per-batch dedup anti-join must NOT rescan the whole edges
    table: edges are hive-partitioned by _bucket = pmod(hash(src_id), B)
    and the probe filters to the batch's touched buckets, which becomes a
    PartitionFilter (directory pruning) on every snapshot scan."""
    cat = Catalog(dirs["catalog"])
    _write_pages(spark, [(0, 1), (1, 2), (2, 0)], dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    _write_pages(spark, [(3, 0), (3, 4)], dirs["landing"],
                 only_vertices=[3, 4])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    edges = cat.read(spark, "edges")
    # same ingested edge set as the unbucketed path
    assert edges.count() == 5
    assert len({(r["src_id"], r["dst_id"]) for r in edges.collect()}) == 5
    # the table is bucket-partitioned on disk
    buckets = {r["_bucket"] for r in edges.select("_bucket").collect()}
    assert buckets  # partition column materialized from dir names

    # plan check: a bucket-filtered read shows the filter as a
    # PartitionFilter on the parquet scan (directory pruning), and only
    # matching bucket dirs are listed as input files
    one = sorted(buckets)[0]
    probe = edges.filter(F.col("_bucket") == one)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    # behavioral proof of directory pruning (inputFiles() ignores filters):
    # poison a DIFFERENT bucket's dir with a corrupt parquet file — the
    # pruned probe never opens it, while an unpruned full scan fails
    others = sorted(buckets)[1:]
    if others:
        victim = next(
            f for f in edges.inputFiles() if f"_bucket={others[-1]}/" in f
        )
        poison = os.path.join(
            os.path.dirname(victim.replace("file:", "")), "zzz-poison.parquet"
        )
        with open(poison, "wb") as fh:
            fh.write(b"not a parquet file")
        assert probe.count() > 0  # pruned scan: poison dir never read
        with pytest.raises(Exception):
            cat.read(spark, "edges").count()  # full scan hits the poison
        os.remove(poison)


def test_compact_edges_preserves_set_and_pruning(spark, dirs):
    cat = Catalog(dirs["catalog"])
    _write_pages(spark, [(0, 1), (1, 2), (2, 0)], dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    _write_pages(spark, [(3, 0), (3, 4)], dirs["landing"],
                 only_vertices=[3, 4])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    before = {(r["src_id"], r["dst_id"])
              for r in cat.read(spark, "edges").collect()}
    props_before = dict(cat.latest_snapshot("edges")["props"])
    assert len(cat.latest_snapshot("edges")["data_dirs"]) == 2

    compact_table(spark, cat, "edges")
    snap = cat.latest_snapshot("edges")
    assert len(snap["data_dirs"]) == 1  # folded into one snapshot dir
    assert snap["props"] == props_before  # replay markers survive
    after = cat.read(spark, "edges")
    assert {(r["src_id"], r["dst_id"]) for r in after.collect()} == before
    # partition layout (and thus anti-join pruning) preserved
    one = after.select("_bucket").first()["_bucket"]
    plan = (
        after.filter(F.col("_bucket") == one)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_fresh_checkpoint_batch_not_dropped(spark, dirs, tmp_path):
    """Batch ids restart at 0 under a fresh checkpoint dir; the
    exactly-once guard is scoped by checkpoint location, so a genuinely
    new batch with a recycled id must still be processed."""
    cat = Catalog(dirs["catalog"])
    _write_pages(spark, [(0, 1), (1, 2)], dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    assert cat.read(spark, "edges").count() == 2

    # new landing dir + FRESH checkpoint → its first batch is also id 0
    landing2 = str(tmp_path / "landing2")
    ckpt2 = str(tmp_path / "ckpt2")
    _write_pages(spark, [(3, 4)], landing2, only_vertices=[3, 4])
    run_edge_ingest(spark, landing2, cat, checkpoint_dir=ckpt2)
    assert cat.read(spark, "edges").count() == 3  # not silently dropped


def test_all_duplicate_batch_keeps_table_readable(spark, dirs, tmp_path):
    """An entirely-duplicate micro-batch (replay from a DIFFERENT
    checkpoint, or a full re-crawl) appends ZERO rows after the content
    anti-join. A dynamic partitionBy write of an empty DataFrame produces
    no parquet files, so the snapshot must not reference a fileless dir —
    regression test for the 'Unable to infer schema' crash that made the
    table permanently unreadable."""
    cat = Catalog(dirs["catalog"])
    seg = [(0, 1), (1, 2), (2, 0)]
    _write_pages(spark, seg, dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    assert cat.read(spark, "edges").count() == 3
    snaps_before = len(cat.snapshots("edges"))

    # identical content lands again under a FRESH checkpoint: the
    # batch-id guard does not apply, the content anti-join removes
    # every row → empty partitioned append
    landing2 = str(tmp_path / "landing2")
    ckpt2 = str(tmp_path / "ckpt2")
    _write_pages(spark, seg, landing2)
    run_edge_ingest(spark, landing2, cat, checkpoint_dir=ckpt2)

    snap = cat.latest_snapshot("edges")
    assert len(cat.snapshots("edges")) == snaps_before + 1
    # replay markers recorded even though no data was written
    assert snap["props"]["stream_ckpt"] == ckpt2
    # the table (and thus the NEXT batch's anti-join probe) stays readable
    assert cat.read(spark, "edges").count() == 3
    # and a further genuinely-new batch still ingests on top of it
    _write_pages(spark, [(3, 4)], landing2, only_vertices=[3, 4])
    run_edge_ingest(spark, landing2, cat, checkpoint_dir=ckpt2)
    assert cat.read(spark, "edges").count() == 4


def test_unbucketed_tables_bucketed_once_at_stream_start(spark, dirs):
    """Ingest over edges/vertices tables written without a bucket layout
    (no partition_by in catalog meta, no next_vertex_id in props) buckets
    each table once before the stream starts; the micro-batches then run
    the pruned probes, and the dedup and id continuation still hold."""
    cat = Catalog(dirs["catalog"])
    # unbucketed edges + vertices without next_vertex_id
    cat.append(
        "vertices",
        spark.createDataFrame(
            [(i, url_of(i)) for i in range(3)], "vertex_id long, url string"
        ),
    )
    cat.append(
        "edges",
        spark.createDataFrame([(0, 1), (1, 2)], "src_id long, dst_id long"),
    )

    # new segment: re-links 0→1 (duplicate) and adds 2→0 and page 3
    _write_pages(spark, [(0, 1), (2, 0), (3, 0)], dirs["landing"],
                 only_vertices=[0, 2, 3])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    edges = cat.read(spark, "edges")
    got = {(r["src_id"], r["dst_id"]) for r in edges.collect()}
    assert got == {(0, 1), (1, 2), (2, 0), (3, 0)}  # no dup 0→1
    assert "_bucket" in edges.columns  # bucketed at stream start
    v = cat.read(spark, "vertices")
    vmap = {r["url"]: r["vertex_id"] for r in v.collect()}
    assert vmap[url_of(3)] == 3  # max+1 continuation on the unbucketed table
    # bucketing recorded next_vertex_id; the batch advanced it
    assert cat.latest_snapshot("vertices")["props"]["next_vertex_id"] == 4
    assert cat.layout("edges") == {"key": "src_id", "buckets": 8}

    # the bucketed layout prunes directories
    one = edges.select("_bucket").first()["_bucket"]
    plan = (
        edges.filter(F.col("_bucket") == one)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_ingest_after_batch_front_half(spark, dirs):
    """Ingest, then the batch front half (pages_to_edges) on the same
    catalog, then a further ingest batch. The batch overwrite writes its
    tables unbucketed (it must not inherit the stream's partition spec,
    whose _bucket column its frames lack); the next ingest buckets them
    once and continues vertex ids after the batch dictionary's max."""
    cat = Catalog(dirs["catalog"])
    _write_pages(spark, [(0, 1), (1, 2)], dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])

    seg = [(0, 1), (1, 2), (2, 0), (2, 3)]
    pages_to_edges(spark, pages_df_from_edges(spark, 4, seg), cat)
    assert cat.layout("edges") is None and cat.layout("vertices") is None
    batch_vmap = {
        r["url"]: r["vertex_id"] for r in cat.read(spark, "vertices").collect()
    }
    assert sorted(batch_vmap.values()) == [0, 1, 2, 3]

    _write_pages(spark, [(3, 5), (5, 0)], dirs["landing"],
                 only_vertices=[3, 5])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    assert cat.layout("edges")["key"] == "src_id"
    assert cat.layout("vertices")["key"] == "url"
    vmap = {
        r["url"]: r["vertex_id"] for r in cat.read(spark, "vertices").collect()
    }
    assert {u: vmap[u] for u in batch_vmap} == batch_vmap
    assert vmap[url_of(5)] == 4  # after the batch dictionary's max
    assert cat.latest_snapshot("vertices")["props"]["next_vertex_id"] == 5
    edges = cat.read(spark, "edges")
    got = {(r["src_id"], r["dst_id"]) for r in edges.collect()}
    assert edges.count() == len(got)
    assert got == {(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 0)}


def test_bucketed_dictionary_prunes_scan(spark, dirs):
    """The per-batch unseen-url probe must NOT rescan the whole vertices
    table: it is hive-partitioned by _bucket = pmod(hash(url), B) and the
    batch filters to its touched buckets (PartitionFilters), with
    next_vertex_id carried in snapshot props instead of a max() agg —
    poison-dir proof mirroring test_bucketed_antijoin_prunes_scan."""
    cat = Catalog(dirs["catalog"])
    _write_pages(spark, [(0, 1), (1, 2), (2, 0)], dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    v = cat.read(spark, "vertices")
    assert v.count() == 3
    assert cat.latest_snapshot("vertices")["props"]["next_vertex_id"] == 3
    buckets = {r["_bucket"] for r in v.select("_bucket").collect()}

    # pruned probe plan: filter on _bucket is a PartitionFilter
    one = sorted(buckets)[0]
    probe = v.filter(F.col("_bucket") == one)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split(
        "PartitionFilters", 1
    )[1][:200]

    # behavioral proof: poison a different bucket's dir; a batch touching
    # only other buckets must never open it, while a full scan fails
    others = sorted(buckets)[1:]
    if others:
        victim = next(
            f for f in v.inputFiles() if f"_bucket={others[-1]}/" in f
        )
        poison = os.path.join(
            os.path.dirname(victim.replace("file:", "")), "zzz-poison.parquet"
        )
        with open(poison, "wb") as fh:
            fh.write(b"not a parquet file")
        assert probe.count() > 0  # pruned scan: poison dir never read
        with pytest.raises(Exception):
            cat.read(spark, "vertices").count()  # full scan hits it
        os.remove(poison)


def test_bucket_modulus_is_stored_not_trusted(spark, dirs):
    """The bucket modulus is recorded in the table layout at creation and
    WINS thereafter: a later ingest run passing a different buckets
    raises loudly instead of probing with the wrong modulus (which would
    miss existing rows in the pruned anti-joins and silently duplicate
    urls/edges); passing None (the default) picks up the stored layout,
    and compact_table is the sanctioned way to change it."""
    cat = Catalog(dirs["catalog"])
    _write_pages(spark, [(0, 1), (1, 2), (2, 0)], dirs["landing"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    buckets=8)
    assert cat.layout("edges") == {"key": "src_id", "buckets": 8}
    assert cat.layout("vertices") == {"key": "url", "buckets": 8}

    # a mismatched explicit modulus must raise, not silently corrupt
    _write_pages(spark, [(3, 0), (3, 4)], dirs["landing"],
                 only_vertices=[3, 4])
    with pytest.raises(Exception, match="stored layout wins"):
        run_edge_ingest(spark, dirs["landing"], cat,
                        checkpoint_dir=dirs["ckpt"], buckets=16)

    # default (None) follows the stored layout; ingest works and dedups
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    edges = cat.read(spark, "edges")
    assert edges.count() == 5
    assert len({(r["src_id"], r["dst_id"]) for r in edges.collect()}) == 5
    v = cat.read(spark, "vertices")
    assert v.count() == v.select("url").distinct().count() == 5

    # compaction re-derives _bucket under the new modulus and re-records it
    compact_table(spark, cat, "edges", buckets=16)
    assert cat.layout("edges") == {"key": "src_id", "buckets": 16}
    _write_pages(spark, [(4, 1)], dirs["landing"], only_vertices=[4])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    migrated = cat.read(spark, "edges")
    assert migrated.count() == 6
    # every stored _bucket agrees with the new modulus (no stale values)
    bad = migrated.filter(
        F.col("_bucket") != F.pmod(F.hash("src_id"), F.lit(16)).cast("int")
    )
    assert bad.count() == 0

    # a re-crawl of a page after the modulus change appends no duplicates
    _write_pages(spark, [(0, 1)], dirs["landing"], only_vertices=[0])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"])
    recrawled = cat.read(spark, "edges")
    assert recrawled.count() == 6
    assert recrawled.distinct().count() == 6


def test_auto_compaction_bounds_reader_plan(spark, dirs):
    """Catalog.read unions one scan per appended snapshot dir; without
    compaction a long-running ingest makes the plan unboundedly deep. The
    sink auto-compacts past compact_after data dirs: after many
    micro-batches the current snapshot stays bounded and the edge set is
    unchanged."""
    # 12 single-file segments → maxFilesPerTrigger=1 → 12 micro-batches
    all_edges = set()
    for i in range(12):
        src, dst = 100 + i, 200 + i
        _write_pages(spark, [(src, dst)], dirs["landing"],
                     only_vertices=[src, dst])
        all_edges.add((src, dst))
    cat = Catalog(dirs["catalog"])
    run_edge_ingest(spark, dirs["landing"], cat, checkpoint_dir=dirs["ckpt"],
                    max_files_per_trigger=1, buckets=8,
                    compact_after=4)
    for table in ("edges", "vertices"):
        assert len(cat.latest_snapshot(table)["data_dirs"]) <= 5
    edges = cat.read(spark, "edges")
    v = cat.read(spark, "vertices")
    vmap = {r["vertex_id"]: r["url"] for r in v.collect()}
    got = {(vmap[r["src_id"]], vmap[r["dst_id"]]) for r in edges.collect()}
    assert got == {(url_of(s), url_of(d)) for s, d in all_edges}
    # next_vertex_id survives compaction (props carried forward)
    assert cat.latest_snapshot("vertices")["props"]["next_vertex_id"] == 24


def test_ingest_job_cli_matches_batch_front_half(spark, dirs, tmp_path):
    """jobs/ingest_job.py drives one availableNow run over a landing dir of
    page parquet files (one file per micro-batch); its vertices and edges
    tables hold the same counts as pages_to_edges on the same pages."""
    from jobs.ingest_job import main

    _write_pages(spark, [(0, 1), (1, 2), (2, 0)], dirs["landing"])
    _write_pages(spark, [(3, 0), (3, 4), (4, 1)], dirs["landing"],
                 only_vertices=[3, 4])
    main(["--landing", dirs["landing"], "--catalog", dirs["catalog"],
          "--checkpoint", dirs["ckpt"], "--max-files-per-trigger", "1"],
         spark=spark)

    cat = Catalog(dirs["catalog"])
    batch = Catalog(str(tmp_path / "batch"))
    pages_to_edges(spark, spark.read.parquet(dirs["landing"]), batch)
    for table in ("vertices", "edges"):
        assert (cat.read(spark, table).count()
                == batch.read(spark, table).count()), table
    assert batch.read(spark, "edges").count() == 6
