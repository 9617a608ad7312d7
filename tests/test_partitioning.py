"""Skew handling: salted repartition balance, skew stats, hub-split
equivalence (hub path must not change PageRank scores)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ps_pagerank_spark.operators.pagerank import pagerank
from ps_pagerank_spark.operators.partitioning import (
    partition_sizes,
    salted_repartition,
    skew_stats,
)
from ps_pagerank_spark.sources.edgelist import edges_from_pairs


def hub_graph(spark):
    """One mega-hub (vertex 0 → 2000 targets) + a sparse ring."""
    pairs = [(0, i) for i in range(1, 2001)]
    pairs += [(i, (i % 2000) + 1) for i in range(1, 2001)]
    return edges_from_pairs(spark, pairs)


def test_salted_repartition_balances_hub(spark):
    edges = hub_graph(spark)
    plain = edges.repartition(8, "src_id")
    salted = salted_repartition(edges, "src_id", 8, salt=8)
    pmax = max(r["n_rows"] for r in partition_sizes(plain).collect())
    smax = max(r["n_rows"] for r in partition_sizes(salted).collect())
    # hub's 2000 rows hit one partition unsalted; salted spreads them
    assert pmax >= 2000
    assert smax < 1200
    assert salted.count() == edges.count()
    assert salted.columns == edges.columns


def test_skew_stats(spark):
    edges = hub_graph(spark)
    st = skew_stats(edges)
    assert st.n_edges == 4000
    assert st.max_out_deg == 2000
    assert st.n_hubs >= 1
    assert 0 < st.hub_edge_fraction <= 1


def test_hub_split_matches_plain_pagerank(spark):
    edges = hub_graph(spark)
    # kernel pinned: hub split is a join-kernel feature, and kernel="auto"
    # would route this RDD-backed (unknown-size) input to csr_block,
    # silently comparing csr_block to itself
    base = pagerank(spark, edges, fixed_iterations=10,
                    dangling_mode="redistribute", kernel="join")
    split = pagerank(
        spark,
        edges,
        fixed_iterations=10,
        dangling_mode="redistribute",
        hub_threshold=100,
        kernel="join",
    )
    a = {r["vertex_id"]: r["rank"] for r in base.ranks.collect()}
    b = {r["vertex_id"]: r["rank"] for r in split.ranks.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15)


def test_update_join_reuses_agg_exchange_at_custom_P(spark, big_edges_df):
    """Plan audit for the per-iteration physical shape: with
    spark.sql.shuffle.partitions pinned to P and AQE off — exactly what
    pagerank() pins for its run — the contribs aggregation lands on
    hash(dst_id, P), so the update join streams both the state and the
    contribs with NO extra Exchange re-keying the rank vector. The only
    per-iteration exchange is the scatter agg's own (dst_id, P)."""
    import re

    from ps_pagerank_spark.operators.graph import weighted_edges
    from ps_pagerank_spark.operators.pagerank import _gather_scatter_join

    P = 7  # deliberately != the session's default shuffle partitions
    prev = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions",
                  "spark.sql.adaptive.enabled")
    }
    assert int(prev["spark.sql.shuffle.partitions"]) != P
    wedges = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(P))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        wedges = weighted_edges(big_edges_df).repartition(P, "src_id").persist()
        wedges.count()
        state = (
            big_edges_df.select(F.col("src_id").alias("vertex_id"))
            .distinct()
            .withColumn("dangling", F.lit(False))
            .withColumn("rank", F.lit(0.1))
            .repartition(P, "vertex_id")
            .localCheckpoint(eager=True)
        )
        contribs = _gather_scatter_join(state, wedges, None)
        new_state = state.select(
            "vertex_id", "dangling", F.col("rank").alias("_old")
        ).join(contribs, "vertex_id", "left")
        plan = new_state._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(
            r"Exchange hashpartitioning\((\w+)#\d+L?, (\d+)\)", plan
        )
        # every exchange keyed to P — nothing at the old default count
        assert all(n == str(P) for _, n in exchanges), exchanges
        # the rank vector is never re-exchanged: no hashpartitioning on
        # vertex_id anywhere in the per-iteration plan
        assert all(col != "vertex_id" for col, _ in exchanges), exchanges
        # exactly one NEW exchange per iteration: the scatter agg's
        # (dst_id); the src_id ones sit inside the persisted wedges
        # lineage (one-time build, replayed only on cache loss)
        per_iter = [c for c, _ in exchanges if c == "dst_id"]
        assert per_iter == ["dst_id"], exchanges
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        if wedges is not None:
            wedges.unpersist()


def test_loop_aqe_auto_gate_is_kernel_aware():
    """Loop-AQE policy pinned to the measured A/B (BENCH/BASELINE.md
    §4): join = always off (wins at every measured size); csr_block = off
    only when the state carries ≥ threshold rows per partition (P fixed
    tiny tasks lose on near-empty states — the round-4 sf0.1 regression)."""
    from ps_pagerank_spark.operators.pagerank import (
        LOOP_AQE_MIN_ROWS_PER_PARTITION as T,
        _loop_aqe_off,
    )

    # join: always off
    assert _loop_aqe_off("join", 21_000, 32)
    assert _loop_aqe_off("join", 10 * T * 32, 32)
    # csr_block: gates on rows per partition
    assert not _loop_aqe_off("csr_block", 21_000, 32)  # sf0.1 shape
    assert _loop_aqe_off("csr_block", T * 32, 32)  # 64M shape
    assert _loop_aqe_off("csr_block", T * 4, 4)


def test_auto_partitions_tiny_graph_floor(spark, big_edges_df, tmp_path):
    """Tiny-graph loop-partition floor (BENCH/BASELINE.md §4 sweep): a
    provably-small input gets P sized to the data instead of the
    cores-tracking session default; inputs whose size Catalyst cannot
    bound (RDD-backed frames report defaultSizeInBytes) conservatively
    keep the default, so a huge input can never be mis-sized down."""
    import math as _math

    from ps_pagerank_spark.operators.pagerank import pagerank
    from ps_pagerank_spark.operators.partitioning import (
        LOOP_EDGES_PER_BUCKET,
        _auto_partitions,
        _catalyst_small_count,
    )

    # parquet-backed: exact file-size stats -> provably small -> floor
    pdir = str(tmp_path / "edges_parquet")
    big_edges_df.write.parquet(pdir)
    tiny = spark.read.parquet(pdir)
    assert _auto_partitions(32, _catalyst_small_count(tiny)) == 1
    assert _auto_partitions(1, _catalyst_small_count(tiny)) == 1  # never raised
    # uncached RDD-backed frame (createDataFrame from a list): Catalyst
    # reports defaultSizeInBytes (unknown) -> conservatively keep default
    uncached = edges_from_pairs(spark, [(1, 2), (2, 1)])
    assert _catalyst_small_count(uncached) is None
    assert _auto_partitions(32, None) == 32
    # ...but once cached+materialized the exact in-memory size is known
    assert _auto_partitions(32, _catalyst_small_count(big_edges_df)) == 1
    # the floor only changes the physical layout, never the scores
    auto = pagerank(spark, tiny, fixed_iterations=8,
                    dangling_mode="redistribute")
    pinned = pagerank(spark, big_edges_df, fixed_iterations=8,
                      dangling_mode="redistribute", num_partitions=4)
    a = {r["vertex_id"]: r["rank"] for r in auto.ranks.collect()}
    b = {r["vertex_id"]: r["rank"] for r in pinned.ranks.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert _math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15)
    assert LOOP_EDGES_PER_BUCKET >= 100_000  # floor target stays coarse


def test_overlapping_pagerank_on_one_session_rejected(spark, big_edges_df):
    """pagerank() pins session-wide SQLConf; a second overlapping call on
    the SAME session must fail loudly (single-tenant contract) instead of
    silently corrupting the first run's conf — and so must CC, label
    propagation and triangles, which pin the same conf through the same
    scope. The guard must clear even when the inner run raises."""
    import pytest as _pytest

    from ps_pagerank_spark.operators import pagerank as pr
    from ps_pagerank_spark.operators.components import connected_components
    from ps_pagerank_spark.operators.labelprop import label_propagation
    from ps_pagerank_spark.operators.triangles import triangle_counts

    inner_calls = []
    real_impl = pr._pagerank_impl

    def overlapping_impl(s, e, **kw):
        inner_calls.append(kw["kernel"])
        for op in (
            lambda: pr.pagerank(s, e, fixed_iterations=1),
            lambda: connected_components(s, e),
            lambda: label_propagation(s, e, iterations=1),
            lambda: triangle_counts(s, e, num_partitions=4),
        ):
            with _pytest.raises(RuntimeError, match="already running"):
                op()
        return real_impl(s, e, **kw)

    pr._pagerank_impl = overlapping_impl
    try:
        res = pr.pagerank(spark, big_edges_df, fixed_iterations=2,
                          dangling_mode="redistribute")
        assert res.iterations == 2 and inner_calls
    finally:
        pr._pagerank_impl = real_impl

    # guard is released after a failed run too
    with _pytest.raises(TypeError):
        pr.pagerank(spark, big_edges_df, not_a_kwarg=True)
    res2 = pr.pagerank(spark, big_edges_df, fixed_iterations=1)
    assert res2.iterations == 1
