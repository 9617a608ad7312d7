"""Connected components via alternating large-star / small-star hash-min.

The reference has no CC (its pipeline is PageRank-only); the north_star
mandates "connected components via large-star/small-star hash-min" — the
two-phase min-label contraction of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14), which converges in O(log² n) rounds and,
unlike naive min-propagation, needs rounds proportional to log of component
size rather than graph diameter.

Each round is two groupBy-min aggregations + distinct — all shuffle-friendly
hash ops on (u, v) pairs; no per-row Python anywhere. Lineage is truncated
per round with localCheckpoint(eager=False), which runs no action of its
own: the round's convergence signature — a (count, xxhash64 bit_xor)
scalar aggregate — is the one action that computes and stores the new
edge set (the PageRank loop's pattern; an eager checkpoint would add a
second pass per round). Convergence = edge set fixed point;
exactness is guaranteed by the algorithm (signature collision would only
delay, not corrupt: the fixed point re-checks next round). Hitting
``max_rounds`` before the fixed point raises instead of returning a
partly contracted labelling.

Shuffles are sized by operators.partitioning.partition_scope (PageRank's
rule: the session default, floored to the input size when Catalyst proves
it small), and the output is materialized inside that scope.

Output labels are the minimum vertex id of each component (exact, checked
against a union-find oracle in tests/test_graph_algos.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.graph import vertices_from_edges
from ps_pagerank_spark.operators.partitioning import partition_scope


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Directed edges → undirected simple pair set, both orientations."""
    e = edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): m = min({u} ∪ N(u)); emit (v, m) for v ∈ N(u), v > u.

    N(u) is over the UNDIRECTED neighborhood, so the current (directed) edge
    set is symmetrized here every round — after round 1 the state is a star
    forest pointing small-ward and would otherwise have empty large-star
    output."""
    both = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    mins = both.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        both.join(mins, "u")
        .select(
            "u", "v", F.least(F.col("u"), F.col("mv")).alias("m")
        )
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): over parents v ≤ u, m = min; re-point u and all its
    small neighbors at m."""
    o = (
        e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = o.groupBy("u").agg(F.min("v").alias("mv"))
    re_pointed = (
        o.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
    )
    self_edges = mins.select("u", F.col("mv").alias("v"))
    return (
        re_pointed.union(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _signature(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free (ANSI-safe) set signature;
    # the edge set is distinct so xor cancellation can't hide duplicates
    row = e.agg(
        F.count("*").alias("c"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


@dataclass
class ComponentsResult:
    components: DataFrame  # (vertex_id long, component long)
    rounds: int


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    num_partitions: int | None = None,
) -> ComponentsResult:
    """edges(src_id, dst_id) → (vertex_id, component) with component =
    min vertex id; isolated vertices (in `vertices` but no edges) are their
    own component. Raises RuntimeError if the edge set has not reached its
    fixed point after ``max_rounds`` rounds."""
    with partition_scope(spark, edges, num_partitions) as (P, _):
        verts = vertices if vertices is not None else vertices_from_edges(edges)
        e = _symmetrize(edges).repartition(P, "u").localCheckpoint(eager=False)
        sig = _signature(e)
        for rounds in range(1, max_rounds + 1):
            e2 = _small_star(_large_star(e)).repartition(P, "u").localCheckpoint(
                eager=False
            )
            sig2 = _signature(e2)  # the action that materializes e2
            e.unpersist()
            e = e2
            if sig2 == sig:
                break
            sig = sig2
        else:
            raise RuntimeError(
                f"connected_components: no fixed point after {max_rounds} "
                "rounds; the labelling is only partly contracted "
                "(raise max_rounds)"
            )
        # at the fixed point e is a star forest: u → root (root = component
        # min). Materialized here, so it runs at P, not the restored width.
        roots = e.groupBy("u").agg(F.min("v").alias("component"))
        comp = (
            verts.join(roots, verts.vertex_id == roots.u, "left")
            .select(
                "vertex_id",
                F.coalesce(F.col("component"), F.col("vertex_id")).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return ComponentsResult(components=comp, rounds=rounds)
