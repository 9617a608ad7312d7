"""PageRank correctness vs the NumPy oracle on the reference's golden
micro-graphs (FIXTURES.md §3) + the per-row fixed-point equation check
ported from matlab-reference-implementation/verify_pagerank.m:16-34."""

from __future__ import annotations

import numpy as np
import pytest

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


def test_fixed_iterations(spark, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(
        spark, big_edges_df, vertices=verts, fixed_iterations=7, num_partitions=4
    )
    got = _ranks_np(res, BIG_N)
    want, _ = pagerank_ref(BIG_EDGES, BIG_N, fixed_iterations=7)
    assert res.iterations == 7
    assert np.allclose(got, want, atol=1e-12)


def test_hub_split_same_scores(spark, big_edges_df):
    verts = vertices_id_range(spark, big_edges_df)
    res = pagerank(
        spark, big_edges_df, vertices=verts, hub_threshold=2, num_partitions=4
    )
    got = _ranks_np(res, BIG_N)
    want, _ = pagerank_ref(BIG_EDGES, BIG_N)
    assert np.allclose(got, want, atol=1e-6)


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


def test_csr_block_float32_fixed_point(spark, big_edges_df):
    """Float-precision variant (opencl-float/kernel_csr.cl:3-19 parity):
    the float32 csr_block kernel reaches the same fixed point as double
    within 1e-6, mirroring the reference's float/double agreement at the
    same iteration counts (BASELINE.md note)."""
    syn_edges, n = _syn_graph()
    edges_df = spark.createDataFrame(syn_edges, "src_id long, dst_id long")
    verts = vertices_id_range(spark, edges_df)
    r64 = pagerank(
        spark, edges_df, vertices=verts, eps=1e-6,
        dangling_mode="redistribute", kernel="csr_block", num_partitions=4,
    )
    r32 = pagerank(
        spark, edges_df, vertices=verts, eps=1e-6,
        dangling_mode="redistribute", kernel="csr_block", dtype="float32",
        num_partitions=4,
    )
    a, b = _ranks_np(r64, n), _ranks_np(r32, n)
    assert np.abs(a - b).max() < 1e-6
    assert r32.iterations == r64.iterations


def test_blob_partials_kernel_equality(spark):
    """The csr_block kernel (blob partials: packed per-dst-range binary
    cells + dense bincount combine) must produce the join kernel's scores
    — on dense dictionary-encoded ids (dense combine), on ids far above
    the dense-combine cap (sort-fallback combine), and in float32 mode."""
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

    # float32 mode ships float32 cell values; it must reach the float64
    # join kernel's fixed point within the float32 contract bound
    f_blob = pagerank(
        spark, edges_df, kernel="csr_block", dtype="float32", **kw
    )
    assert np.abs(a - _ranks_np(f_blob, n)).max() < 1e-6


def test_kernel_auto_survives_catalyst_drift(spark, big_edges_df, tmp_path,
                                             monkeypatch):
    """If the private Catalyst stats API behind the small-input probe
    breaks (a Spark upgrade renames it), kernel="auto" must fall back to
    the scale path — csr_block at the session's P — and still produce the
    join kernel's scores, never fail or mis-size the run."""
    from ps_pagerank_spark.operators import pagerank as pr

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
    assert pr._catalyst_small_count(edges) is None

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
