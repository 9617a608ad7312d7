"""CC / label propagation / triangles vs serial oracles, on golden graphs
and a seeded random digraph (FIXTURES.md §4)."""

from __future__ import annotations

import time

import numpy as np
import pytest

from ps_pagerank_spark.operators.components import connected_components
from ps_pagerank_spark.operators.labelprop import label_propagation
from ps_pagerank_spark.operators.triangles import triangle_counts
from ps_pagerank_spark.sources.edgelist import edges_from_pairs
from tests.conftest import BIG_EDGES, BIG_N, SMALL_EDGES, SMALL_N
from tests.oracle import components_ref, label_propagation_ref, triangles_ref


def random_graph(n=120, m=700, seed=42):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, size=m)
    dst = rng.integers(0, n, size=m)
    keep = src != dst
    # leave ids [n, n+5] isolated to exercise isolated-vertex handling
    return [(int(s), int(d)) for s, d in zip(src[keep], dst[keep])], n + 6


@pytest.mark.parametrize(
    "edges,n",
    [(SMALL_EDGES, SMALL_N), (BIG_EDGES, BIG_N), random_graph()],
    ids=["small", "big", "random"],
)
def test_connected_components(spark, edges, n):
    df = edges_from_pairs(spark, edges)
    # explicit universe: includes isolated ids beyond the edge id range
    verts = spark.range(n).selectExpr("id AS vertex_id")
    res = connected_components(spark, df, vertices=verts, num_partitions=4)
    got = {r["vertex_id"]: r["component"] for r in res.components.collect()}
    want = components_ref(edges, list(range(n)))
    assert got == want


@pytest.mark.parametrize("iterations", [1, 3])
def test_label_propagation(spark, iterations):
    edges, n = random_graph(n=60, m=240, seed=7)
    df = edges_from_pairs(spark, edges)
    verts = spark.range(n).selectExpr("id AS vertex_id")
    got_df = label_propagation(
        spark, df, vertices=verts, iterations=iterations, num_partitions=4
    )
    got = {r["vertex_id"]: r["label"] for r in got_df.collect()}
    want = label_propagation_ref(edges, list(range(n)), iterations)
    assert got == want


@pytest.mark.parametrize(
    "edges,n",
    [(SMALL_EDGES, SMALL_N), (BIG_EDGES, BIG_N), random_graph()],
    ids=["small", "big", "random"],
)
def test_triangles(spark, edges, n):
    df = edges_from_pairs(spark, edges)
    verts = spark.range(n).selectExpr("id AS vertex_id")
    got_df = triangle_counts(spark, df, vertices=verts, num_partitions=4)
    got = {r["vertex_id"]: r["triangles"] for r in got_df.collect()}
    want = triangles_ref(edges, list(range(n)))
    assert got == want


def test_triangles_direction_invariant(spark):
    """Triangle counts must not change when edge directions flip
    (FIXTURES.md §4 invariant)."""
    edges, n = random_graph(n=50, m=300, seed=11)
    fwd = edges_from_pairs(spark, edges)
    rev = edges_from_pairs(spark, [(d, s) for s, d in edges])
    verts = spark.range(n).selectExpr("id AS vertex_id")
    a = {
        r["vertex_id"]: r["triangles"]
        for r in triangle_counts(spark, fwd, vertices=verts, num_partitions=4).collect()
    }
    b = {
        r["vertex_id"]: r["triangles"]
        for r in triangle_counts(spark, rev, vertices=verts, num_partitions=4).collect()
    }
    assert a == b


def test_triangles_guard_rejects_non_dense_ids(spark):
    """The (deg, id)-packing precondition (0 <= id < 2^32) is enforced IN
    the plan via raise_error: feeding raw non-dictionary-encoded ids must
    fail loudly instead of silently returning wrong counts — and the
    shuffle-partition pin is restored when it fires, whether P was given
    or sized to the (provably small, cached) input."""
    session_p = spark.conf.get("spark.sql.shuffle.partitions")
    bad = edges_from_pairs(
        spark, [(2**32 + 5, 1), (1, 2), (2, 2**32 + 5)]
    )
    with pytest.raises(Exception, match="dictionary-dense"):
        triangle_counts(spark, bad, num_partitions=4).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_p
    bad = bad.cache()
    bad.count()
    with pytest.raises(Exception, match="dictionary-dense"):
        triangle_counts(spark, bad).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_p
    bad.unpersist()


def _job_task_counts(sc, group):
    """(jobs, completed tasks) of one job group. Job-end events reach the
    status store asynchronously, so poll until no job is still running."""
    st = sc.statusTracker()
    deadline = time.monotonic() + 10.0
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        done = all(j is not None and j.status != "RUNNING" for j in jobs)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stage_ids = {s for j in jobs if j is not None for s in j.stageIds}
    stages = [st.getStageInfo(s) for s in stage_ids]
    return len(jobs), sum(s.numCompletedTasks for s in stages if s is not None)


def test_auto_sized_graph_ops(spark):
    """With no num_partitions, CC, label propagation and triangles size
    their shuffles to a provably small input (PageRank's partition floor:
    P = 1 here, not the session's 32), stay exact, and restore
    spark.sql.shuffle.partitions on return. The job and task counts pin
    the sized plans: a stage back at the session width, a second job per
    CC round, or a lazy output left to run after the scope shows up
    here."""
    sc = spark.sparkContext
    session_p = spark.conf.get("spark.sql.shuffle.partitions")
    assert int(session_p) > 1
    edges, n = random_graph()
    df = edges_from_pairs(spark, edges).cache()
    df.count()  # materialized cache: Catalyst knows its exact size
    verts = spark.range(n).selectExpr("id AS vertex_id").cache()
    verts.count()
    universe = list(range(n))
    runs = {
        "cc": lambda: connected_components(spark, df, vertices=verts),
        "lpa": lambda: label_propagation(
            spark, df, vertices=verts, iterations=2
        ),
        "tri": lambda: triangle_counts(spark, df, vertices=verts),
    }
    got, counts = {}, {}
    for name, run in runs.items():
        group = f"auto-sized-{name}"
        sc.setJobGroup(group, group)
        try:
            out = run()
        finally:
            sc.setJobGroup("", "")
        counts[name] = _job_task_counts(sc, group)
        assert spark.conf.get("spark.sql.shuffle.partitions") == session_p
        rows = (out.components if name == "cc" else out).collect()
        got[name] = {r[0]: r[1] for r in rows}
    assert got["cc"] == components_ref(edges, universe)
    assert got["lpa"] == label_propagation_ref(edges, universe, 2)
    assert got["tri"] == triangles_ref(edges, universe)
    assert counts == {"cc": (39, 61), "lpa": (19, 32), "tri": (23, 46)}
    df.unpersist()
    verts.unpersist()


def test_components_max_rounds_raises(spark):
    """A 64-vertex path needs several large-star/small-star rounds; a
    round cap below that must raise instead of returning a partly
    contracted labelling, while the default cap reaches one component."""
    path = [(i, i + 1) for i in range(63)]
    df = edges_from_pairs(spark, path)
    with pytest.raises(RuntimeError, match="no fixed point after 1 rounds"):
        connected_components(spark, df, max_rounds=1, num_partitions=4)
    res = connected_components(spark, df, num_partitions=4)
    got = {r["vertex_id"]: r["component"] for r in res.components.collect()}
    assert got == {v: 0 for v in range(64)}
    assert res.rounds > 1


def test_graph_job_cli_dispatch(spark, tmp_path):
    """jobs/graph_job.py drives all three algorithms through the real CLI
    path (argparse → catalog write) and the catalog tables match direct
    library calls exactly."""
    from jobs.graph_job import main
    from ps_pagerank_spark.plans.catalog import Catalog

    edges = edges_from_pairs(spark, BIG_EDGES)
    edges_path = str(tmp_path / "edges_pq")
    edges.write.parquet(edges_path)
    cat_dir = str(tmp_path / "cat")

    main(["components", "--edges", edges_path, "--catalog", cat_dir,
          "--num-partitions", "4"], spark=spark)
    main(["labelprop", "--edges", edges_path, "--catalog", cat_dir,
          "--iterations", "3", "--num-partitions", "4"], spark=spark)
    main(["triangles", "--edges", edges_path, "--catalog", cat_dir,
          "--out", "tri", "--num-partitions", "4"], spark=spark)

    cat = Catalog(cat_dir)
    got_cc = {r["vertex_id"]: r["component"]
              for r in cat.read(spark, "components").collect()}
    want_cc = {r["vertex_id"]: r["component"]
               for r in connected_components(
                   spark, edges, num_partitions=4).components.collect()}
    assert got_cc == want_cc

    got_lp = {r["vertex_id"]: r["label"]
              for r in cat.read(spark, "labelprop").collect()}
    want_lp = {r["vertex_id"]: r["label"]
               for r in label_propagation(
                   spark, edges, iterations=3, num_partitions=4).collect()}
    assert got_lp == want_lp

    got_tri = {r["vertex_id"]: r["triangles"]
               for r in cat.read(spark, "tri").collect()}
    want_tri = {r["vertex_id"]: r["triangles"]
                for r in triangle_counts(
                    spark, edges, num_partitions=4).collect()}
    assert got_tri == want_tri


def test_graph_job_pagerank_cli(spark, tmp_path):
    """The `pagerank` algorithm of jobs/graph_job.py writes all four of its
    outputs: the ranks table under the default --out (== a direct
    pagerank() call with the CLI's defaults), its {iterations, converged}
    props, one `metrics` row per iteration with the rank vector's partition
    lineage, and the --checkpoint-every checkpoint table."""
    from jobs.graph_job import main
    from ps_pagerank_spark.operators.pagerank import CHECKPOINT_TABLE, pagerank
    from ps_pagerank_spark.plans.catalog import Catalog

    edges = edges_from_pairs(spark, BIG_EDGES)
    edges_path = str(tmp_path / "edges_pq")
    edges.write.parquet(edges_path)
    cat_dir = str(tmp_path / "cat")

    main(["pagerank", "--edges", edges_path, "--catalog", cat_dir,
          "--checkpoint-every", "2", "--num-partitions", "4"], spark=spark)

    cat = Catalog(cat_dir)
    want = pagerank(spark, edges, eps=1e-6, dangling_mode="redistribute",
                    num_partitions=4)
    got = {r["vertex_id"]: r["rank"]
           for r in cat.read(spark, "pagerank").collect()}
    want_ranks = {r["vertex_id"]: r["rank"] for r in want.ranks.collect()}
    assert got.keys() == want_ranks.keys()
    assert np.allclose([got[v] for v in sorted(got)],
                       [want_ranks[v] for v in sorted(got)], atol=1e-12)

    props = cat.latest_snapshot("pagerank")["props"]
    assert props["iterations"] == want.iterations
    assert props["converged"] is True

    metrics = cat.read(spark, "metrics").collect()
    assert sorted(r["iter"] for r in metrics) == list(
        range(1, want.iterations + 1))
    assert all(r["run_id"] == "pagerank" for r in metrics)
    assert all(sum(x["rows"] for x in r["lineage"]) == len(got)
               for r in metrics)
    assert CHECKPOINT_TABLE in cat.tables()
