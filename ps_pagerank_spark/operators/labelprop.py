"""Synchronous label propagation over the undirected graph view.

Absent from the reference (PageRank-only); mandated by the north_star.
Semantics (deterministic, fixture-checkable — FIXTURES.md §2):
  * initial label = vertex id
  * each round, every vertex with ≥1 neighbor takes the most frequent label
    among its neighbors; ties broken by MIN label; isolated vertices keep
    their own label
  * fixed iteration count (synchronous LP does not converge in general —
    bipartite graphs oscillate — so the contract is "exact state after K
    rounds", matched against the serial oracle)

Physical plan per round: join labels to edges on one side (shuffle-hash /
sort-merge on vertex key), count (vertex, label) pairs (hash agg with
map-side partials), pick argmax per vertex with a (count DESC, label ASC)
row_number window partitioned by vertex — no global sort, no Python.
Shuffles are sized by operators.partitioning.partition_scope (PageRank's
rule), and every round is materialized inside that scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.components import _symmetrize
from ps_pagerank_spark.operators.graph import vertices_from_edges
from ps_pagerank_spark.operators.partitioning import partition_scope


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    iterations: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """edges(src_id, dst_id) → (vertex_id long, label long) after
    `iterations` synchronous rounds."""
    with partition_scope(spark, edges, num_partitions) as (P, _):
        verts = vertices if vertices is not None else vertices_from_edges(edges)
        verts = verts.select("vertex_id")
        und = _symmetrize(edges).repartition(P, "v").persist()
        und.count()
        labels = verts.select("vertex_id", F.col("vertex_id").alias("label"))
        labels = labels.repartition(P, "vertex_id").localCheckpoint(eager=True)
        w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("label"))
        for _ in range(iterations):
            neigh_labels = (
                und.join(labels, und.v == labels.vertex_id)
                .groupBy("u", "label")
                .agg(F.count("*").alias("cnt"))
            )
            top = (
                neigh_labels.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("u").alias("vertex_id"), F.col("label").alias("_new"))
            )
            new_labels = (
                labels.join(top, "vertex_id", "left")
                .select(
                    "vertex_id",
                    F.coalesce(F.col("_new"), F.col("label")).alias("label"),
                )
                .repartition(P, "vertex_id")
                .localCheckpoint(eager=True)
            )
            labels.unpersist()
            labels = new_labels
        und.unpersist()
    return labels
