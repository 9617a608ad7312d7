"""Catalog snapshot semantics + PageRank checkpoint/resume (SURVEY.md §5.2
item 5): kill after iteration k, restart from the catalog checkpoint,
converge to identical scores and identical total iteration count."""

from __future__ import annotations

import numpy as np

from ps_pagerank_spark.operators.graph import vertices_id_range
from ps_pagerank_spark.operators.pagerank import pagerank, resume_pagerank
from ps_pagerank_spark.plans.catalog import Catalog
from ps_pagerank_spark.plans.metrics import append_metrics, partition_lineage
from tests.conftest import BIG_EDGES, BIG_N
from tests.oracle import pagerank_ref


def test_catalog_snapshots(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    df1 = spark.range(3).selectExpr("id AS x")
    df2 = spark.range(3, 6).selectExpr("id AS x")
    s1 = cat.overwrite("t", df1, props={"k": 1})
    s2 = cat.append("t", df2, props={"k": 2})
    assert [s1, s2] == [1, 2]
    assert cat.read(spark, "t").count() == 6  # append sees both
    assert cat.read(spark, "t", snapshot_id=1).count() == 3  # time travel
    assert cat.latest_snapshot("t")["props"] == {"k": 2}
    s3 = cat.overwrite("t", df1)
    assert cat.read(spark, "t", snapshot_id=s3).count() == 3
    assert cat.tables() == ["t"]


def test_time_travel_across_partition_specs(spark, tmp_path):
    """A snapshot written under one partition spec stays readable after an
    overwrite changes the spec: two partitioned appends, an unpartitioned
    overwrite, then a read of the two-dir partitioned snapshot."""
    cat = Catalog(str(tmp_path / "cat"))
    rows = ("id AS x", "CAST(id % 2 AS INT) AS _bucket")
    cat.append("t", spark.range(4).selectExpr(*rows), partition_by=["_bucket"])
    s2 = cat.append("t", spark.range(4, 10).selectExpr(*rows))
    cat.overwrite("t", spark.range(3).selectExpr("id AS x"))
    old = cat.read(spark, "t", snapshot_id=s2)
    assert sorted(r["x"] for r in old.collect()) == list(range(10))
    assert old.filter("_bucket = 1").count() == 5
    assert cat.read(spark, "t").count() == 3


def test_pagerank_resume_identical(spark, tmp_path, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    full = pagerank(
        spark, big_edges_df, vertices=verts, dangling_mode="redistribute",
        num_partitions=4,
    )
    want = {r["vertex_id"]: r["rank"] for r in full.ranks.collect()}

    # interrupted run: stop after 5 iterations, checkpointing every iteration
    cat = Catalog(str(tmp_path / "ckpt"))
    partial = pagerank(
        spark, big_edges_df, vertices=verts, dangling_mode="redistribute",
        num_partitions=4, fixed_iterations=5, checkpoint=cat,
        checkpoint_every=1,
    )
    assert cat.latest_snapshot("pagerank_ranks")["props"]["iter"] == 5

    resumed = resume_pagerank(
        spark, big_edges_df, cat, vertices=verts,
        dangling_mode="redistribute", num_partitions=4,
    )
    got = {r["vertex_id"]: r["rank"] for r in resumed.ranks.collect()}
    assert resumed.iterations == full.iterations  # same TOTAL count
    assert got.keys() == want.keys()
    # bit-identical: the resumed loop is seeded with the exact state and
    # redistribute mass the uninterrupted run carried into iteration 6
    assert np.array_equal(
        np.array([got[v] for v in sorted(got)]).view(np.uint64),
        np.array([want[v] for v in sorted(want)]).view(np.uint64),
    )
    ref, _ = pagerank_ref(BIG_EDGES, BIG_N, dangling_mode="redistribute")
    assert np.allclose([got[v] for v in sorted(got)], ref, atol=1e-6)


def test_resume_without_metrics_raises(spark, tmp_path, big_edges_df):
    """Resume seeds the redistribute mass from the checkpoint's last
    metrics row; a snapshot without one raises instead of guessing."""
    import pytest

    cat = Catalog(str(tmp_path / "bare"))
    state = spark.createDataFrame(
        [(3, 1, False, 0.5)],
        "iter int, vertex_id long, dangling boolean, rank double",
    )
    cat.overwrite("pagerank_ranks", state, props={"iter": 3})
    with pytest.raises(ValueError, match="no metrics"):
        resume_pagerank(spark, big_edges_df, cat, num_partitions=4)


def test_metrics_lineage(spark, tmp_path, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(
        spark, big_edges_df, vertices=verts, fixed_iterations=3, num_partitions=4
    )
    cat = Catalog(str(tmp_path / "m"))
    lineage = partition_lineage(res.ranks)
    assert sum(d["rows"] for d in lineage) == BIG_N
    append_metrics(spark, cat, "run1", res.metrics, lineage)
    got = cat.read(spark, "metrics")
    assert got.count() == 3
    row = got.filter("iter = 3").collect()[0]
    assert row["run_id"] == "run1"
    assert abs(row["l2_delta"] - res.metrics[-1]["l2_delta"]) < 1e-15
    assert sum(x["rows"] for x in row["lineage"]) == BIG_N


def test_catalog_single_writer_lock(spark, tmp_path):
    """Two interleaved writers to one table → the second fails LOUDLY
    (ConcurrentWriteError) while the first's snapshot commits intact;
    a lock abandoned by a dead pid is stolen, not fatal."""
    import pytest

    from ps_pagerank_spark.plans.catalog import ConcurrentWriteError

    cat = Catalog(str(tmp_path / "cw"))
    df = spark.range(3).selectExpr("id AS x")
    cat.overwrite("t", df, props={"k": 1})

    # simulate writer A mid-commit: its lock is on disk with a LIVE pid
    lock = cat._acquire_lock("t")
    with pytest.raises(ConcurrentWriteError):
        cat.append("t", df, props={"k": 2})
    # nothing was lost or half-committed by the failed writer
    assert [s["id"] for s in cat.snapshots("t")] == [1]
    assert cat.read(spark, "t").count() == 3
    lock.unlink()

    # writer that died mid-commit: lock file with a dead pid → stolen
    cat._lock_path("t").write_text("999999999")
    s2 = cat.append("t", df, props={"k": 2})
    assert s2 == 2
    assert cat.read(spark, "t").count() == 6
    assert not cat._lock_path("t").exists()
