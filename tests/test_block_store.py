"""csr_block block-store hardening: per-file run-id and presence checks,
stale-store clearing, URI (pyarrow.fs) storage layer, zero-copy local
reads, resume-as-csr_block (every run builds its own store), and the
bucket↔task alignment probe."""

from __future__ import annotations

import dataclasses
import os
import re

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.pagerank import (
    _alignment_fraction,
    _build_csr_blocks,
    _gather_scatter_blocks,
    _read_block,
    pagerank,
    resume_pagerank,
)
from ps_pagerank_spark.plans.catalog import Catalog
from tests.conftest import BIG_EDGES, SMALL_EDGES


def _ranks(res):
    return {r["vertex_id"]: r["rank"] for r in res.ranks.collect()}


def _run_id(bdir) -> str:
    """The run id stamped on the store's block files (all must agree)."""
    ids = {
        pa.ipc.open_file(str(f)).schema.metadata[b"run_id"].decode()
        for f in bdir.glob("blk*.arrow")
    }
    assert len(ids) == 1, ids
    return ids.pop()


def _src_state(edges_df):
    return (
        edges_df.select(F.col("src_id").alias("vertex_id"))
        .distinct()
        .withColumn("rank", F.lit(0.1))
        .repartition(4, "vertex_id")
    )


def _allclose(got: dict, want: dict) -> bool:
    assert got.keys() == want.keys()
    return np.allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)],
        atol=1e-12,
    )


def _bit_equal(got: dict, want: dict) -> bool:
    assert got.keys() == want.keys()
    return np.array_equal(
        np.array([got[v] for v in sorted(got)]).view(np.uint64),
        np.array([want[v] for v in sorted(want)]).view(np.uint64),
    )


def test_csr_block_uri_store_matches_join(spark, big_edges_df, tmp_path):
    """block_dir as a file:// URI goes through the pyarrow.fs layer (the
    non-local store path: full reads, no mmap) and must produce the exact
    join-kernel scores."""
    want = _ranks(pagerank(spark, big_edges_df, num_partitions=4))
    uri = "file://" + str(tmp_path / "blocks_uri")
    got = _ranks(
        pagerank(
            spark, big_edges_df, kernel="csr_block", block_dir=uri,
            num_partitions=4,
        )
    )
    assert got.keys() == want.keys()
    assert all(got[v] == want[v] for v in want)  # same fp path → exact
    # the store landed where the URI points, as Arrow block files only
    names = os.listdir(tmp_path / "blocks_uri")
    assert names and all(re.fullmatch(r"blk\d+\.arrow", n) for n in names)
    _run_id(tmp_path / "blocks_uri")


def test_stale_blocks_cleared_on_rebuild(spark, tmp_path, big_edges_df,
                                         small_edges_df):
    """A reused block_dir must not leak blocks from a previous (bigger)
    graph into the next run: bucket files with no counterpart in the new
    graph are cleared, so scores equal a fresh join-kernel run."""
    bdir = str(tmp_path / "blocks")
    res = pagerank(spark, big_edges_df, kernel="csr_block", block_dir=bdir,
                   num_partitions=4, fixed_iterations=1)
    assert res.phases.get("block_alignment") == 1.0
    n_files_big = len(os.listdir(bdir))
    assert n_files_big > 1
    want = _ranks(pagerank(spark, small_edges_df, num_partitions=4))
    got = _ranks(
        pagerank(spark, small_edges_df, kernel="csr_block", block_dir=bdir,
                 num_partitions=4)
    )
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-15 for v in want)


def test_stale_block_fails_loudly(spark, tmp_path, big_edges_df):
    """Block files from a different run id (stale / overwritten store)
    must abort the job, not silently contribute phantom edges."""
    store = _build_csr_blocks(
        big_edges_df, 4, str(tmp_path / "blocks"), len(set(BIG_EDGES))
    )
    # a handle whose run no longer matches the files on disk — e.g. a
    # concurrent run overwrote the dir after this run built it
    store = dataclasses.replace(store, run_id="deadbeef")
    with pytest.raises(Exception, match="different run|stale"):
        _gather_scatter_blocks(_src_state(big_edges_df), store, 4).collect()


def test_deleted_block_fails_loudly(spark, tmp_path, big_edges_df):
    """Deleting one block file the build listed must make the gather raise
    a RuntimeError naming the store, not skip that bucket's edges."""
    bdir = tmp_path / "blocks"
    store = _build_csr_blocks(big_edges_df, 4, str(bdir), len(set(BIG_EDGES)))
    assert len(store.pkeys) > 1
    (bdir / f"blk{min(store.pkeys)}.arrow").unlink()
    named = re.escape(f"RuntimeError: csr_block store at {str(bdir)!r}")
    with pytest.raises(Exception, match=named):
        _gather_scatter_blocks(_src_state(big_edges_df), store, 4).collect()


def test_local_block_reads_are_zero_copy(spark, tmp_path, big_edges_df):
    """A plain-path block read maps the file: pyarrow allocates nothing.
    The same store read as a file:// URI is copied into Arrow memory."""
    bdir = tmp_path / "blocks"
    store = _build_csr_blocks(big_edges_df, 4, str(bdir), len(set(BIG_EDGES)))
    key = min(store.pkeys)
    before = pa.total_allocated_bytes()
    arrays = _read_block(str(bdir), key, store.run_id)
    assert pa.total_allocated_bytes() == before
    copied = _read_block("file://" + str(bdir), key, store.run_id)
    assert pa.total_allocated_bytes() > before
    for a, b in zip(arrays, copied):
        assert np.array_equal(a, b)


def test_build_weights_are_exact_inverse_out_degree(spark, tmp_path):
    """The build counts each source's out-degree inside its bucket
    (every edge of a source lands in one bucket) and stores
    suw = 1.0/deg. On a power-law graph (many degrees whose reciprocal is
    inexact) every block's suw must equal weighted_edges' Spark-computed
    1/out-degree bit for bit; a build whose bucket counts disagree with
    the vertex aggregate's Σdeg must raise."""
    from ps_pagerank_spark.operators.graph import weighted_edges
    from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

    pairs = sorted({(int(s), int(d)) for s, d in
                    synth_powerlaw_edges(2000, 16000, seed=11)})
    edges = spark.createDataFrame(pairs, "src_id long, dst_id long")
    want = {
        r["src_id"]: r["w"]
        for r in weighted_edges(edges).select("src_id", "w").distinct()
        .collect()
    }
    assert len(set(want.values())) > 10
    bdir = tmp_path / "blocks"
    store = _build_csr_blocks(edges, 4, str(bdir), len(pairs))
    got = {}
    for k in store.pkeys:
        su, _, suw, _, _ = _read_block(str(bdir), k, store.run_id)
        assert suw.dtype == np.float64
        got.update(zip(su.tolist(), suw))
    assert got.keys() == want.keys()
    exp = np.array([want[v] for v in sorted(want)], dtype=np.float64)
    act = np.array([got[v] for v in sorted(want)], dtype=np.float64)
    assert np.array_equal(exp.view(np.uint64), act.view(np.uint64))
    with pytest.raises(RuntimeError, match="vertex aggregate"):
        _build_csr_blocks(edges, 4, None, len(pairs) + 1)


def test_resume_csr_block_identical(spark, tmp_path, big_edges_df):
    """Kill a csr_block run after k iterations, resume with the SAME
    kernel kwargs: bit-identical scores and the same total iteration
    count, on the reference's big graph and on a power-law graph with
    many dangling vertices, where a resume seeded with any other
    redistribute mass would show. The resume rebuilds the store in the
    same block_dir (a new run id); it does not reuse the old one."""
    from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

    pairs = sorted({(int(s), int(d)) for s, d in
                    synth_powerlaw_edges(2000, 16000, seed=11)})
    powerlaw = spark.createDataFrame(pairs, "src_id long, dst_id long")
    for name, edges in (("big", big_edges_df), ("powerlaw", powerlaw)):
        kw = dict(dangling_mode="redistribute", num_partitions=4,
                  kernel="csr_block")
        full = pagerank(spark, edges, block_dir=str(tmp_path / f"{name}_full"),
                        **kw)
        cat = Catalog(str(tmp_path / f"{name}_ckpt"))
        bdir = tmp_path / f"{name}_resume"
        pagerank(spark, edges, block_dir=str(bdir), fixed_iterations=5,
                 checkpoint=cat, checkpoint_every=1, **kw)
        first_run = _run_id(bdir)
        resumed = resume_pagerank(spark, edges, cat, block_dir=str(bdir), **kw)
        assert _run_id(bdir) != first_run
        assert resumed.iterations == full.iterations, name
        assert _bit_equal(_ranks(resumed), _ranks(full)), name


def test_alignment_probe(spark, big_edges_df):
    state = (
        big_edges_df.select(F.col("src_id").alias("vertex_id"))
        .distinct()
        .withColumn("rank", F.lit(0.1))
    )
    aligned = state.repartition(4, "vertex_id")
    assert _alignment_fraction(aligned, 4) == 1.0
    # partition by a DIFFERENT key expression → rows land off-bucket
    misaligned = state.repartition(4, (F.col("vertex_id") + 7).alias("k"))
    assert _alignment_fraction(misaligned, 4) < 1.0


def test_resume_over_changed_graph_rebuilds_store(spark, tmp_path,
                                                 big_edges_df):
    """A block_dir left by a run over a DIFFERENT graph with the same edge
    count is never read: resuming into it gives the same scores as
    resuming into an empty dir, and its run id changes."""
    from ps_pagerank_spark.sources.edgelist import edges_from_pairs

    bdir = tmp_path / "blocks"
    cat = Catalog(str(tmp_path / "ckpt"))
    pagerank(
        spark, big_edges_df, dangling_mode="redistribute", num_partitions=4,
        kernel="csr_block", block_dir=str(bdir), fixed_iterations=3,
        checkpoint=cat, checkpoint_every=1,
    )
    first_run = _run_id(bdir)
    changed = [(3, 2) if e == (1, 2) else e for e in BIG_EDGES]
    assert len(set(changed)) == len(set(BIG_EDGES))
    changed_df = edges_from_pairs(spark, changed)
    kw = dict(
        dangling_mode="redistribute", num_partitions=4, kernel="csr_block",
        fixed_iterations=4,
    )
    reused = resume_pagerank(spark, changed_df, cat, block_dir=str(bdir), **kw)
    assert _run_id(bdir) != first_run
    fresh = resume_pagerank(
        spark, changed_df, cat, block_dir=str(tmp_path / "empty"), **kw
    )
    assert reused.iterations == fresh.iterations == 7
    assert _allclose(_ranks(reused), _ranks(fresh))


def test_cli_resume_keeps_csr_block_kernel(spark, tmp_path, big_edges_df,
                                           monkeypatch):
    """--resume must pass --kernel/--block-dir/--num-partitions through to
    resume_pagerank (a stale workaround used to strip them, silently
    restarting on the join kernel): drive the real CLI dispatch and check
    the resume builds a csr_block store in --block-dir, plus the same
    scores (allclose 1e-12) and total iterations."""
    import ps_pagerank_spark.operators.pagerank as pr
    from jobs.graph_job import main

    edges_path = str(tmp_path / "edges_pq")
    big_edges_df.write.parquet(edges_path)
    cat_dir = str(tmp_path / "cat")
    cat = Catalog(cat_dir)
    bdir = tmp_path / "blocks"

    # eps=1e-6 matches the CLI's --eps default (library default is 1e-8)
    full = pagerank(
        spark, big_edges_df, dangling_mode="redistribute", num_partitions=4,
        kernel="csr_block", eps=1e-6,
    )
    want = _ranks(full)

    # interrupted run: csr_block with a persistent store + checkpoints
    pagerank(
        spark, spark.read.parquet(edges_path), dangling_mode="redistribute",
        num_partitions=4, kernel="csr_block", block_dir=str(bdir), eps=1e-6,
        fixed_iterations=5, checkpoint=cat, checkpoint_every=1,
    )
    first_run = _run_id(bdir)

    built = []
    orig = pr._build_csr_blocks

    def spy(edges, P, block_dir, n_edges):
        built.append((P, block_dir))
        return orig(edges, P, block_dir, n_edges)

    monkeypatch.setattr(pr, "_build_csr_blocks", spy)
    main(
        [
            "pagerank", "--edges", edges_path, "--catalog", cat_dir,
            "--out", "ranks",
            "--dangling", "redistribute", "--kernel", "csr_block",
            "--block-dir", str(bdir), "--num-partitions", "4", "--resume",
        ],
        spark=spark,
    )
    assert built == [(4, str(bdir))]  # resumed AS csr_block, in --block-dir
    assert _run_id(bdir) != first_run
    got = {
        r["vertex_id"]: r["rank"] for r in cat.read(spark, "ranks").collect()
    }
    props = cat.latest_snapshot("ranks")["props"]
    assert props["iterations"] == full.iterations  # same TOTAL count
    assert _allclose(got, want)
