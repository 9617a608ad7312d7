"""Per-vertex triangle counting with degree-ordered orientation.

Absent from the reference; mandated by the north_star. Exact counts on the
undirected simple graph (direction, self-loops, duplicates dropped).

Algorithm (the classic O(m^{3/2}) compact-forward scheme expressed as two
equi-joins):
  1. orient every undirected edge from the "smaller" endpoint to the
     "larger" under the total order (degree, vertex_id) — bounding oriented
     out-degree by O(√m), which is what makes the wedge join survive
     power-law skew (a web-scale hub has huge degree but tiny oriented
     out-degree);
  2. wedges: self-join oriented edges on the pivot u: (u→v, u→w), v ≺ w;
  3. close: semi-join wedges against oriented edges (v→w) → one row per
     triangle (u ≺ v ≺ w);
  4. per-vertex counts: one partial-aggregated groupBy per corner role
     over the persisted triangle set, union, final sum — three thin
     shuffles of ≤V pre-aggregated rows instead of exploding 3·|tris|
     corner rows through one.

The (degree, id) total order is packed into a single long
(deg·2^32 + id), so wedge rows carry three longs — not two structs —
through the widest shuffle. Validity bound: vertex ids < 2^32 (the
dictionary encoder emits dense 0..N−1, so this holds to 4.3B vertices).

All joins are equi-joins Catalyst can plan (sort-merge / shuffled-hash /
broadcast by stats + AQE). Shuffles are sized by
operators.partitioning.partition_scope (PageRank's rule), and the output
is materialized inside that scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.graph import vertices_from_edges
from ps_pagerank_spark.operators.partitioning import partition_scope


def triangle_counts(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """edges(src_id, dst_id) → (vertex_id long, triangles long)."""
    with partition_scope(spark, edges, num_partitions) as (P, _):
        return _triangle_counts(edges, vertices, P)


def _triangle_counts(
    edges: DataFrame, vertices: DataFrame | None, P: int
) -> DataFrame:
    verts = (vertices if vertices is not None else vertices_from_edges(edges)).select(
        "vertex_id"
    )
    und = (
        edges.select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("x"))
        .union(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    # total order (degree, id) packed into one long: ord = deg·2^32 + id
    # (ids are dictionary-dense < 2^32 — see module docstring). The packing
    # precondition (0 ≤ id < 2^32, deg < 2^31) is enforced IN the plan:
    # raise_error fires on the first violating row instead of silently
    # returning wrong counts for non-dictionary-encoded inputs; the branch
    # is a per-row comparison, no extra Spark job.
    def _ord(id_col: str) -> F.Column:
        ok = (
            (F.col(id_col) >= 0)
            & (F.col(id_col) < F.lit(2**32))
            & (F.col("deg") < F.lit(2**31))
        )
        packed = F.shiftleft(F.col("deg").cast("long"), 32) + F.col(id_col)
        return F.when(ok, packed).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "triangle_counts requires dictionary-dense ids "
                        "(0 <= id < 2^32) and degree < 2^31; got id="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(" deg="),
                    F.col("deg").cast("string"),
                )
            ).cast("long")
        )

    da = deg.select(F.col("x").alias("a"), _ord("x").alias("ord_a"))
    db = deg.select(F.col("x").alias("b"), _ord("x").alias("ord_b"))
    lower_first = F.col("ord_a") < F.col("ord_b")
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.greatest("ord_a", "ord_b").alias("_vord"),
        )
        .repartition(P, "u")
        .persist()
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("_vord").alias("o1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("_vord").alias("o2"))
    # wedge (v1 ≺ v2 under the same total order used to orient); ords are
    # dropped before the widest shuffle — closing only needs the ids
    wedges = (
        e1.join(e2, "u").filter(F.col("o1") < F.col("o2")).select("u", "v1", "v2")
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2").persist()
    per_role = [
        tris.groupBy(F.col(c).alias("vertex_id")).agg(
            F.count("*").alias("_t")
        )
        for c in ("u", "v1", "v2")
    ]
    counts = (
        per_role[0]
        .unionByName(per_role[1])
        .unionByName(per_role[2])
        .groupBy("vertex_id")
        .agg(F.sum("_t").alias("triangles"))
    )
    out = verts.join(counts, "vertex_id", "left").select(
        "vertex_id",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )
    out = out.localCheckpoint(eager=True)
    tris.unpersist()
    oriented.unpersist()
    return out
