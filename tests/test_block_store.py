"""csr_block block-store hardening: manifest validation, stale-store
clearing, URI (pyarrow.fs) storage layer, resume-as-csr_block, and the
bucket↔task alignment probe."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.pagerank import (
    _MANIFEST,
    _alignment_fraction,
    _attach_csr_blocks,
    pagerank,
    resume_pagerank,
)
from ps_pagerank_spark.plans.catalog import Catalog
from tests.conftest import BIG_EDGES, SMALL_EDGES


def _ranks(res):
    return {r["vertex_id"]: r["rank"] for r in res.ranks.collect()}


def test_csr_block_uri_store_matches_join(spark, big_edges_df, tmp_path):
    """block_dir as a file:// URI goes through the pyarrow.fs layer (the
    non-local store path: streamed writes, full reads, no mmap) and must
    produce the exact join-kernel scores."""
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
    # the store (incl. manifest) landed where the URI points
    assert (tmp_path / "blocks_uri" / _MANIFEST).exists()


def test_stale_blocks_cleared_on_rebuild(spark, tmp_path, big_edges_df,
                                         small_edges_df):
    """A reused block_dir must not leak blocks from a previous (bigger)
    graph into the next run: bucket files with no counterpart in the new
    graph are cleared, so scores equal a fresh join-kernel run."""
    bdir = str(tmp_path / "blocks")
    pagerank(spark, big_edges_df, kernel="csr_block", block_dir=bdir,
             num_partitions=4, fixed_iterations=1)
    n_files_big = len(os.listdir(bdir))
    assert n_files_big > 1
    want = _ranks(pagerank(spark, small_edges_df, num_partitions=4))
    got = _ranks(
        pagerank(spark, small_edges_df, kernel="csr_block", block_dir=bdir,
                 num_partitions=4)
    )
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-15 for v in want)


def test_stale_manifest_fails_loudly(spark, tmp_path, big_edges_df):
    """A manifest from a different run id (stale / overwritten store) must
    abort the job, not silently contribute phantom edges."""
    bdir = str(tmp_path / "blocks")
    pagerank(spark, big_edges_df, kernel="csr_block", block_dir=bdir,
             num_partitions=4, fixed_iterations=1)
    import dataclasses

    store = _attach_csr_blocks(bdir, 4, None)
    assert store is not None
    # a handle whose run no longer matches the on-disk manifest — e.g. a
    # concurrent run overwrote the dir after this run attached it. The
    # per-worker validation cache has never seen this run id, so every
    # worker re-reads the manifest and must refuse.
    store = dataclasses.replace(store, run_id="deadbeef")
    from ps_pagerank_spark.operators.pagerank import _gather_scatter_blocks

    state = (
        big_edges_df.select(F.col("src_id").alias("vertex_id"))
        .distinct()
        .withColumn("rank", F.lit(0.1))
        .repartition(4, "vertex_id")
    )
    with pytest.raises(Exception, match="different run|stale"):
        _gather_scatter_blocks(state, store, 4).collect()


def test_attach_validates_manifest(spark, tmp_path, big_edges_df):
    bdir = str(tmp_path / "blocks")
    res = pagerank(spark, big_edges_df, kernel="csr_block", block_dir=bdir,
                   num_partitions=4, fixed_iterations=1)
    n_edges = len(set(BIG_EDGES))
    assert _attach_csr_blocks(bdir, 4, n_edges) is not None
    assert _attach_csr_blocks(bdir, 8, n_edges) is None  # P
    assert _attach_csr_blocks(bdir, 4, n_edges + 1) is None
    assert _attach_csr_blocks(str(tmp_path / "nope"), 4, None) is None
    assert res.phases.get("block_alignment") == 1.0
    # a store written by an older format version must rebuild, not attach:
    # v2 readers expect per-source suw + narrowed dst/starts
    import json as _json

    mf_path = tmp_path / "blocks" / _MANIFEST
    mf = _json.loads(mf_path.read_text())
    # keys this reader does not use (older builds also recorded src id
    # bounds) are ignored: such a store still attaches
    mf_path.write_text(_json.dumps({**mf, "src_bounds": [1, 11]}))
    assert _attach_csr_blocks(str(bdir), 4, n_edges) is not None
    # stores are float64 only: a float32 store left by an older build
    # must rebuild, not attach
    assert mf["dtype"] == "float64"
    mf_path.write_text(_json.dumps({**mf, "dtype": "float32"}))
    assert _attach_csr_blocks(str(bdir), 4, n_edges) is None
    mf["version"] = 1
    mf_path.write_text(_json.dumps(mf))
    assert _attach_csr_blocks(str(bdir), 4, n_edges) is None


def test_build_weights_are_exact_inverse_out_degree(spark, tmp_path):
    """The build counts each source's out-degree inside its bucket
    (every edge of a source lands in one bucket) and stores
    suw = 1.0/deg. On a power-law graph (many degrees whose reciprocal is
    inexact) every block's suw must equal weighted_edges' Spark-computed
    1/out-degree bit for bit; a build whose bucket counts disagree with
    the vertex aggregate's Σdeg must raise."""
    import json as _json

    from ps_pagerank_spark.operators.graph import weighted_edges
    from ps_pagerank_spark.operators.pagerank import _build_csr_blocks
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
    _build_csr_blocks(edges, 4, str(bdir), len(pairs))
    got = {}
    for k in _json.loads((bdir / _MANIFEST).read_text())["pkeys"]:
        su = np.load(bdir / f"blk{k}_su.npy")
        suw = np.load(bdir / f"blk{k}_suw.npy")
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
    kernel kwargs (previously a TypeError): identical scores and total
    iteration count, reusing the block store via its manifest."""
    full = pagerank(
        spark, big_edges_df, dangling_mode="redistribute", num_partitions=4,
        kernel="csr_block", block_dir=str(tmp_path / "b_full"),
    )
    want = _ranks(full)

    cat = Catalog(str(tmp_path / "ckpt"))
    bdir = str(tmp_path / "b_resume")
    pagerank(
        spark, big_edges_df, dangling_mode="redistribute", num_partitions=4,
        kernel="csr_block", block_dir=bdir, fixed_iterations=5,
        checkpoint=cat, checkpoint_every=1,
    )
    resumed = resume_pagerank(
        spark, big_edges_df, cat, dangling_mode="redistribute",
        num_partitions=4, kernel="csr_block", block_dir=bdir,
    )
    got = _ranks(resumed)
    assert resumed.iterations == full.iterations
    assert np.allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)],
        atol=1e-12,
    )


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


def test_attach_requires_content_fingerprint(spark, tmp_path, big_edges_df):
    """The manifest's edge COUNT alone cannot detect a changed graph with
    the same number of edges; the content fingerprint (bit_xor of per-edge
    xxhash64) must: a resumed run over same-count-different-edges REBUILDS
    the store instead of silently reusing stale blocks."""
    import json as _json

    from ps_pagerank_spark.sources.edgelist import edges_from_pairs
    from tests.conftest import BIG_EDGES

    bdir = tmp_path / "blocks"
    cat = Catalog(str(tmp_path / "ckpt"))
    pagerank(
        spark, big_edges_df, dangling_mode="redistribute", num_partitions=4,
        kernel="csr_block", block_dir=str(bdir), fixed_iterations=3,
        checkpoint=cat, checkpoint_every=1,
    )
    mf = _json.loads((bdir / _MANIFEST).read_text())
    assert mf["edges_fp"] is not None
    # unit level: attach honors the fingerprint
    ok = _attach_csr_blocks(
        str(bdir), 4, mf["n_edges"], fingerprint=mf["edges_fp"]
    )
    assert ok is not None
    assert (
        _attach_csr_blocks(
            str(bdir), 4, mf["n_edges"], fingerprint=mf["edges_fp"] ^ 1
        )
        is None
    )

    # behavioral: same edges → reattach (run_id unchanged); same COUNT but
    # one changed edge → rebuild (run_id rotates)
    resume_pagerank(
        spark, big_edges_df, cat, dangling_mode="redistribute",
        num_partitions=4, kernel="csr_block", block_dir=str(bdir),
    )
    assert _json.loads((bdir / _MANIFEST).read_text())["run_id"] == mf["run_id"]

    changed = [(3, 2) if e == (1, 2) else e for e in BIG_EDGES]
    assert len(changed) == len(BIG_EDGES)
    changed_df = edges_from_pairs(spark, changed)
    resume_pagerank(
        spark, changed_df, cat, dangling_mode="redistribute",
        num_partitions=4, kernel="csr_block", block_dir=str(bdir),
    )
    assert _json.loads((bdir / _MANIFEST).read_text())["run_id"] != mf["run_id"]


def test_cli_resume_keeps_csr_block_kernel(spark, tmp_path, big_edges_df,
                                           monkeypatch):
    """--resume must pass --kernel/--block-dir/--num-partitions through to
    resume_pagerank (a stale workaround used to strip them, silently
    restarting on the join kernel): drive the real CLI dispatch and check
    the store is REATTACHED plus identical scores and total iterations."""
    import ps_pagerank_spark.operators.pagerank as pr
    from jobs.pagerank_job import main

    edges_path = str(tmp_path / "edges_pq")
    big_edges_df.write.parquet(edges_path)
    cat_dir = str(tmp_path / "cat")
    cat = Catalog(cat_dir)
    bdir = str(tmp_path / "blocks")

    # eps=1e-6 matches the CLI's --eps default (library default is 1e-8)
    full = pagerank(
        spark, big_edges_df, dangling_mode="redistribute", num_partitions=4,
        kernel="csr_block", eps=1e-6,
    )
    want = _ranks(full)

    # interrupted run: csr_block with a persistent store + checkpoints
    pagerank(
        spark, spark.read.parquet(edges_path), dangling_mode="redistribute",
        num_partitions=4, kernel="csr_block", block_dir=bdir, eps=1e-6,
        fixed_iterations=5, checkpoint=cat, checkpoint_every=1,
    )

    attached = {}
    orig = pr._attach_csr_blocks

    def spy(*a, **k):
        store = orig(*a, **k)
        attached["ok"] = store is not None
        return store

    monkeypatch.setattr(pr, "_attach_csr_blocks", spy)
    main(
        [
            "--edges", edges_path, "--catalog", cat_dir, "--out", "ranks",
            "--dangling", "redistribute", "--kernel", "csr_block",
            "--block-dir", bdir, "--num-partitions", "4", "--resume",
        ],
        spark=spark,
    )
    assert attached.get("ok") is True  # resumed AS csr_block, store reused
    got = {
        r["vertex_id"]: r["rank"] for r in cat.read(spark, "ranks").collect()
    }
    props = cat.latest_snapshot("ranks")["props"]
    assert props["iterations"] == full.iterations  # same TOTAL count
    assert np.allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)],
        atol=1e-12,
    )
