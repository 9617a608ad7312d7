"""PageRank correctness vs the NumPy oracle on the reference's golden
micro-graphs (FIXTURES.md §3) + the per-row fixed-point equation check
ported from matlab-reference-implementation/verify_pagerank.m:16-34."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.graph import vertices_id_range
from ps_pagerank_spark.operators.pagerank import pagerank, top_k_ranks
from tests.conftest import BIG_EDGES, BIG_N, SMALL_EDGES, SMALL_N
from tests.oracle import pagerank_ref, verify_pagerank_equation


def _ranks_np(res, n):
    rows = res.ranks.collect()
    out = np.zeros(n)
    for r in rows:
        out[r["vertex_id"]] = r["rank"]
    return out


@pytest.mark.parametrize("dangling_mode", ["none", "redistribute"])
@pytest.mark.parametrize("kernel", ["join", "csr_block"])
def test_small_graph(spark, small_edges_df, dangling_mode, kernel):
    verts = vertices_id_range(spark, small_edges_df)
    res = pagerank(
        spark,
        small_edges_df,
        vertices=verts,
        dangling_mode=dangling_mode,
        kernel=kernel,
        num_partitions=4,
    )
    got = _ranks_np(res, SMALL_N)
    want, want_iters = pagerank_ref(SMALL_EDGES, SMALL_N, dangling_mode=dangling_mode)
    assert np.allclose(got, want, atol=1e-6)
    assert res.iterations == want_iters
    assert verify_pagerank_equation(got, SMALL_EDGES, dangling_mode=dangling_mode)
    if dangling_mode == "redistribute":
        assert abs(got.sum() - 1.0) < 1e-9
    else:
        assert got.sum() < 1.0  # dangling mass leaks (pagerank.c:359-368)


@pytest.mark.parametrize("dangling_mode", ["none", "redistribute"])
def test_big_graph_ghost_vertex(spark, big_edges_df, dangling_mode):
    """Vertex 0 never appears in an edge but exists by the id-range rule
    (pagerank.c:88): rank == (1−d)/N in mode 'none'."""
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(
        spark, big_edges_df, vertices=verts, dangling_mode=dangling_mode,
        num_partitions=4,
    )
    got = _ranks_np(res, BIG_N)
    want, want_iters = pagerank_ref(BIG_EDGES, BIG_N, dangling_mode=dangling_mode)
    assert np.allclose(got, want, atol=1e-6)
    assert res.iterations == want_iters
    if dangling_mode == "none":
        assert abs(got[0] - 0.15 / BIG_N) < 1e-12


@pytest.mark.parametrize("dangling_mode", ["none", "redistribute"])
def test_big_graph_ghost_vertex_csr_block(spark, big_edges_df, dangling_mode):
    """csr_block twin of test_big_graph_ghost_vertex: the explicit
    vertices= universe holds isolated ids (vertex 0 and three ids past
    every edge endpoint). They exist only in the universe, never in an
    edge, so the state, the dangling seed and N all come from it while the
    blocks are built from the raw edges."""
    n = BIG_N + 3
    verts = vertices_id_range(spark, big_edges_df).union(
        spark.range(BIG_N, n).select(F.col("id").alias("vertex_id"))
    )
    res = pagerank(
        spark, big_edges_df, vertices=verts, dangling_mode=dangling_mode,
        kernel="csr_block", fixed_iterations=15, num_partitions=4,
    )
    got = _ranks_np(res, n)
    want, _ = pagerank_ref(
        BIG_EDGES, n, fixed_iterations=15, dangling_mode=dangling_mode
    )
    assert res.kernel == "csr_block" and res.iterations == 15
    assert np.allclose(got, want, rtol=0, atol=1e-12)
    isolated = [0, BIG_N, BIG_N + 1, BIG_N + 2]
    if dangling_mode == "none":
        assert all(abs(got[v] - 0.15 / n) < 1e-15 for v in isolated)


def test_prep_job_count(spark, big_edges_df):
    """The prep is one shared vertex aggregate plus one materialization
    per kernel (weighted edges or the block build), so a one-iteration
    run costs a fixed number of Spark jobs per kernel (counted by job
    group); an extra pass over the edges shows up here. A three-iteration
    run pins the loop itself: the extra jobs over the one-iteration run
    are the cost of two more iterations. The join loop is one job per
    iteration (_iterate's fused scalar agg). The csr_block loop keeps AQE
    on for a state this small (_loop_aqe_off), and each of its query
    stages runs as a job of its own: 5 per iteration."""
    sc = spark.sparkContext
    # materialize the cached fixture first: under AQE its first scan is a
    # job of its own, which would land in whichever run reads it first
    big_edges_df.count()
    counts = {}
    for kernel in ("join", "csr_block"):
        for iters in (1, 3):
            group = f"prep-jobs-{kernel}-{iters}"
            sc.setJobGroup(group, group)
            try:
                pagerank(
                    spark, big_edges_df, kernel=kernel,
                    fixed_iterations=iters, dangling_mode="redistribute",
                    num_partitions=4,
                )
            finally:
                sc.setJobGroup("", "")
            counts[kernel, iters] = len(
                sc.statusTracker().getJobIdsForGroup(group)
            )
    assert counts[("join", 1)] == 9 and counts[("csr_block", 1)] == 13
    assert counts[("join", 3)] - counts[("join", 1)] == 2 * 1
    assert counts[("csr_block", 3)] - counts[("csr_block", 1)] == 2 * 5


def test_resume_job_count(spark, big_edges_df, tmp_path):
    """A resumed join run reads its state lazily (iteration 1's job
    materializes the checkpoint of the catalog read), reads it with the
    snapshot's stored schema (no schema-inference job) and takes its
    redistribute mass from the checkpoint's last metrics row, so it runs
    no job of its own before the loop: 10 jobs here, where inferring the
    schema ran 11 and an eager checkpoint plus a Spark recompute of the
    mass ran 13. Counted by job group, like test_prep_job_count."""
    from ps_pagerank_spark.operators.pagerank import resume_pagerank
    from ps_pagerank_spark.plans.catalog import Catalog

    sc = spark.sparkContext
    big_edges_df.count()
    cat = Catalog(str(tmp_path / "ckpt"))
    kw = dict(kernel="join", dangling_mode="redistribute", num_partitions=4)
    pagerank(spark, big_edges_df, fixed_iterations=2, checkpoint=cat,
             checkpoint_every=1, **kw)
    group = "resume-jobs-join"
    sc.setJobGroup(group, group)
    try:
        res = resume_pagerank(spark, big_edges_df, cat, fixed_iterations=1,
                              **kw)
    finally:
        sc.setJobGroup("", "")
    assert res.iterations == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 10


def test_fixed_iterations(spark, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(
        spark, big_edges_df, vertices=verts, fixed_iterations=7, num_partitions=4
    )
    got = _ranks_np(res, BIG_N)
    want, _ = pagerank_ref(BIG_EDGES, BIG_N, fixed_iterations=7)
    assert res.iterations == 7
    assert np.allclose(got, want, atol=1e-12)


def test_topk(spark, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(spark, big_edges_df, vertices=verts, num_partitions=4)
    want, _ = pagerank_ref(BIG_EDGES, BIG_N)
    top = top_k_ranks(res.ranks, 3).collect()
    want_order = np.argsort(-want)[:3]
    assert [r["vertex_id"] for r in top] == list(want_order)


def test_metrics_monotone_delta(spark, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(spark, big_edges_df, vertices=verts, num_partitions=4)
    deltas = [m["l2_delta"] for m in res.metrics]
    assert all(b <= a * 1.0000001 for a, b in zip(deltas[1:], deltas[2:]))


# ---------------------------------------------------------------------------
# iteration-count goldens (reference contract: column 0 of results CSVs,
# openmp/pagerank.c:443-452 — e.g. 68@1e-8 / 168@1e-15 on web-Google,
# results-and-charts/openmp-ggl-8/csr_64-1.txt:1). SNAP graphs aren't
# fetchable here, so the tripwire is pinned on the transcribed big-input
# graph and a seeded synthetic power-law graph: if a kernel change shifts
# the convergence trajectory, these counts drift and the asserts fire.
# ---------------------------------------------------------------------------

# (graph, dangling_mode, eps) -> iterations, from tests.oracle.pagerank_ref
GOLDEN_ITERS = {
    ("big", "none", 1e-8): 106,
    ("big", "none", 1e-15): 206,
    ("big", "redistribute", 1e-8): 106,
    ("big", "redistribute", 1e-15): 205,
    ("syn", "none", 1e-8): 69,
    ("syn", "none", 1e-15): 158,
    ("syn", "redistribute", 1e-8): 16,
    ("syn", "redistribute", 1e-15): 32,
}


def _syn_graph():
    from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

    raw = synth_powerlaw_edges(2000, 16000, seed=11)
    edges = sorted({(int(s), int(d)) for s, d in raw})
    n = max(max(s, d) for s, d in edges) + 1
    return edges, n


def test_iteration_goldens_oracle():
    """The serial oracle reproduces every pinned count (pure NumPy, fast)."""
    syn_edges, syn_n = _syn_graph()
    for (g, mode, eps), want in GOLDEN_ITERS.items():
        edges, n = (BIG_EDGES, BIG_N) if g == "big" else (syn_edges, syn_n)
        _, it = pagerank_ref(edges, n, eps=eps, dangling_mode=mode)
        assert it == want, (g, mode, eps, it, want)


@pytest.mark.parametrize(
    "g,mode,eps",
    [("big", "none", 1e-8), ("syn", "redistribute", 1e-8),
     ("syn", "redistribute", 1e-15)],
)
def test_iteration_goldens_engine(spark, big_edges_df, g, mode, eps):
    """The engine's convergence trajectory matches the pinned counts
    (distributed-sum delta ≡ serial-sum delta at these graph sizes)."""
    if g == "big":
        edges_df, n = big_edges_df, BIG_N
        verts = vertices_id_range(spark, edges_df)
    else:
        syn_edges, n = _syn_graph()
        edges_df = spark.createDataFrame(syn_edges, "src_id long, dst_id long")
        verts = vertices_id_range(spark, edges_df)
    res = pagerank(
        spark, edges_df, vertices=verts, eps=eps, dangling_mode=mode,
        num_partitions=4,
    )
    assert res.converged
    assert res.iterations == GOLDEN_ITERS[(g, mode, eps)]


def test_blob_partials_kernel_equality(spark):
    """The csr_block kernel (blob partials: packed per-dst-range binary
    cells + dense bincount combine) must produce the join kernel's scores
    — on dense dictionary-encoded ids (dense combine) and on ids far above
    the dense-combine cap (sort-fallback combine)."""
    syn_edges, n = _syn_graph()
    edges_df = spark.createDataFrame(syn_edges, "src_id long, dst_id long")
    kw = dict(eps=1e-6, dangling_mode="redistribute", num_partitions=4)
    r_join = pagerank(spark, edges_df, kernel="join", **kw)
    r_blob = pagerank(spark, edges_df, kernel="csr_block", **kw)
    a, b = _ranks_np(r_join, n), _ranks_np(r_blob, n)
    assert np.abs(a - b).max() < 1e-12
    assert r_blob.iterations == r_join.iterations
    # the loop's Catalyst size estimate must grow at most geometrically:
    # a product-estimated update join squares it every iteration, and
    # planning then stalls in BigInteger multiplication ~25 iterations in
    est = r_blob.ranks._jdf.queryExecution().optimizedPlan().stats()
    assert len(str(est.sizeInBytes())) < 30, r_blob.iterations

    # exotic sparse ids: per-range id span >> _BLOB_DENSE_MAX forces the
    # sort-based combine; scores must still agree with the join kernel
    STRIDE = 90_000_000_000
    wide = edges_df.selectExpr(
        f"src_id * {STRIDE} as src_id", f"dst_id * {STRIDE} as dst_id"
    )
    w_join = pagerank(spark, wide, kernel="join", **kw)
    w_blob = pagerank(spark, wide, kernel="csr_block", **kw)
    aw = {r["vertex_id"]: r["rank"] for r in w_join.ranks.collect()}
    bw = {r["vertex_id"]: r["rank"] for r in w_blob.ranks.collect()}
    assert aw.keys() == bw.keys()
    for k in aw:
        assert np.isclose(aw[k], bw[k], rtol=1e-12, atol=1e-15)


def test_kernel_auto_survives_catalyst_drift(spark, big_edges_df, tmp_path,
                                             monkeypatch):
    """If the private Catalyst stats API behind the small-input probe
    breaks (a Spark upgrade renames it), kernel="auto" must fall back to
    the scale path — csr_block at the session's P — and still produce the
    join kernel's scores, never fail or mis-size the run."""
    from ps_pagerank_spark.operators import pagerank as pr
    from ps_pagerank_spark.operators import partitioning

    pdir = str(tmp_path / "edges_drift_parquet")
    big_edges_df.write.parquet(pdir)
    edges = spark.read.parquet(pdir)  # provably small: auto would pick join
    kw = dict(fixed_iterations=10, dangling_mode="redistribute")
    want = pagerank(spark, edges, kernel="join", **kw)

    class _Drifted:
        @property
        def _jdf(self):
            raise AttributeError("simulated Catalyst internals drift")

    real_select = edges.select

    def select(*cols):  # only the probe's select("*") hits the drift
        if len(cols) == 1 and isinstance(cols[0], str) and cols[0] == "*":
            return _Drifted()
        return real_select(*cols)

    monkeypatch.setattr(edges, "select", select)
    assert partitioning._catalyst_small_count(edges) is None

    seen = {}
    real_impl = pr._pagerank_impl

    def spy(s, e, **k):
        seen["P"] = k["num_partitions"]
        return real_impl(s, e, **k)

    monkeypatch.setattr(pr, "_pagerank_impl", spy)
    got = pagerank(spark, edges, **kw)
    assert got.kernel == "csr_block"
    assert seen["P"] == int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = {r["vertex_id"]: r["rank"] for r in want.ranks.collect()}
    b = {r["vertex_id"]: r["rank"] for r in got.ranks.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_kernel_auto_selection(spark, big_edges_df, tmp_path):
    """kernel="auto" (the default): join for provably-small inputs,
    csr_block for unknown/large ones (measured crossover,
    BENCH/BASELINE.md §4) — and the choice never changes scores."""
    from ps_pagerank_spark.sources.edgelist import edges_from_pairs

    pdir = str(tmp_path / "edges_auto_parquet")
    big_edges_df.write.parquet(pdir)
    small = spark.read.parquet(pdir)  # exact file stats -> provably small
    res_small = pagerank(
        spark, small, fixed_iterations=8, dangling_mode="redistribute"
    )
    assert res_small.kernel == "join"

    # RDD-backed frame: Catalyst reports defaultSizeInBytes (unknown) ->
    # the scale kernel. "Unknown" is never treated as small.
    pairs = [(int(r["src_id"]), int(r["dst_id"])) for r in big_edges_df.collect()]
    unknown = edges_from_pairs(spark, pairs)
    res_unk = pagerank(
        spark, unknown, fixed_iterations=8, dangling_mode="redistribute",
        num_partitions=4,
    )
    assert res_unk.kernel == "csr_block"

    # explicit kernels report themselves and auto matches them bit-for-bit
    res_join = pagerank(
        spark, small, fixed_iterations=8, dangling_mode="redistribute",
        kernel="join",
    )
    assert res_join.kernel == "join"
    a = {r["vertex_id"]: r["rank"] for r in res_small.ranks.collect()}
    b = {r["vertex_id"]: r["rank"] for r in res_unk.ranks.collect()}
    c = {r["vertex_id"]: r["rank"] for r in res_join.ranks.collect()}
    assert a.keys() == b.keys() == c.keys()
    for k in a:
        assert a[k] == c[k]
        assert np.isclose(a[k], b[k], rtol=1e-12, atol=1e-15)


def test_wide_id_state_stream_kernel_equality(spark):
    """Ids above int32 make the csr_block kernel pack its blob cells with
    int64 dst ids while the id span stays dense: the only pin on int64
    cells through the dense combine (the stride-9e10 graph in
    test_blob_partials_kernel_equality takes the sort fallback). Same
    micro-graph shifted by 2^33 must produce the same scores from both
    kernels."""
    from ps_pagerank_spark.sources.edgelist import edges_from_pairs
    from tests.conftest import SMALL_EDGES

    OFF = 2**33
    pairs = [(s + OFF, t + OFF) for s, t in SMALL_EDGES]
    edges_df = edges_from_pairs(spark, pairs)
    res_block = pagerank(
        spark, edges_df, dangling_mode="redistribute", kernel="csr_block",
        num_partitions=4,
    )
    res_join = pagerank(
        spark, edges_df, dangling_mode="redistribute", kernel="join",
        num_partitions=4,
    )
    a = {r["vertex_id"]: r["rank"] for r in res_block.ranks.collect()}
    b = {r["vertex_id"]: r["rank"] for r in res_join.ranks.collect()}
    assert a.keys() == b.keys()
    assert all(k >= OFF for k in a)
    for k in a:
        assert np.isclose(a[k], b[k], rtol=1e-12, atol=1e-15)


def test_deleted_knobs_raise(spark, big_edges_df):
    """pagerank() takes exactly these 11 keyword arguments. The deleted
    gather, precision, loop-AQE, hub-split and checkpoint-table knobs, and
    the resume-only values that only resume_pagerank hands to a run, are
    unknown kwargs: TypeError."""
    import inspect

    assert [
        p.name for p in inspect.signature(pagerank).parameters.values()
        if p.kind is p.KEYWORD_ONLY
    ] == [
        "vertices", "d", "eps", "max_iter", "fixed_iterations",
        "dangling_mode", "kernel", "num_partitions", "checkpoint",
        "checkpoint_every", "block_dir",
    ]
    state = spark.createDataFrame(
        [(1, False, 0.5)], "vertex_id long, dangling boolean, rank double"
    )
    for kw in ({"gather": "shuffle"}, {"broadcast_max_vertices": 1},
               {"dtype": "float64"}, {"loop_aqe": "auto"},
               {"hub_threshold": 2}, {"start_state": state},
               {"start_iter": 5}, {"prev_metrics": []},
               {"checkpoint_table": "ranks"}):
        with pytest.raises(TypeError):
            pagerank(spark, big_edges_df, kernel="join", num_partitions=4,
                     **kw)
