"""Salted src-hash partitioning and skew diagnostics (north rule:
"partitions edges by salted src-hash with explicit high-degree-hub
splitting to tame skew").

The reference handles row skew with OpenMP guided scheduling
(openmp/pagerank.c:289 ``schedule(guided,1024)``) and the hybrid ELL+COO
format split (README.md:80-88). In Spark the equivalents are:

  * AQE skew-join splitting (enabled in session defaults) — runtime fix;
  * **salted repartition** (here) — plan-time fix: spread one heavy hash
    bucket across ``salt`` sub-partitions so no single task owns a hub's
    whole edge list;
  * **hub split** (operators/pagerank._split_hubs) — algebraic fix: route
    high-out-degree sources through a broadcast join so their fan-out
    never concentrates in one shuffle partition.

Salting trades one extra shuffle column for bounded task size; the
aggregation side is unaffected because groupBy(dst) re-shuffles anyway
and Spark's partial (map-side) aggregation pre-collapses each salted
sub-partition's contribution — the same partial+final pattern as the
reference's chunk accumulators (openmp/pagerank.c:341-394).

Every graph operator (PageRank, connected components, label propagation,
triangles) sizes its shuffles through one scope, ``partition_scope``: P
is the caller's ``num_partitions`` or the session default floored to the
input size, and ``spark.sql.shuffle.partitions`` is pinned to P for the
call and restored after it.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tiny-graph partition floor (measured sweep, BENCH/BASELINE.md §4, raw
# BENCH/psweep_sf01_r5.json; a cell reruns as BENCH/ab_pagerank.py with
# num_partitions in its kwargs): at
# the session's cores-tracking default P, a small graph runs P near-empty
# tasks per stage AND duplicates each dst's partial across up to P source
# buckets. Sizing P to the data (~400k edges per bucket) cut the sf0.1
# (1.62M-edge) best-rep median PageRank iteration 0.451 -> 0.360 s
# (csr_block, P=2) and 0.254 -> 0.193 s (join, P=8); the same floor cut
# CC, label propagation and triangles on a 4k-edge graph from 716, 406
# and 389 tasks to 67, 41 and 51 (BENCH/ab_graph_op_sizing.json).
# Applied only when num_partitions is not given AND the input is provably
# small: the decision reads Catalyst's sizeInBytes (free — no scan) and
# only pays an exact count() when that estimate is already under
# SMALL_GRAPH_STATS_BYTES. Unpersisted multi-join inputs carry wild
# product-of-children overestimates and RDD-backed frames report
# defaultSizeInBytes (Long.Max) — both conservatively keep the session
# default, so a 100 TB input can never be mis-sized down.
LOOP_EDGES_PER_BUCKET = 400_000
SMALL_GRAPH_STATS_BYTES = 256 << 20

# Enforces the documented single-tenant session contract: a graph
# operator pins session-wide SQLConf (shuffle partitions; PageRank's loop
# AQE) and restores it in ``finally``, so two OVERLAPPING calls on the
# same SparkSession would silently corrupt each other's conf
# (last-writer-wins restore). Rather than corrupt, fail loudly and point
# at spark.newSession().
_ACTIVE_SESSIONS: set[str] = set()
_ACTIVE_LOCK = threading.Lock()


def _session_key(spark: SparkSession) -> str:
    try:  # one SQLConf per JVM session — the thing the pins actually mutate
        return str(spark._jsparkSession.sessionUUID())
    except Exception:  # pragma: no cover — connect/mocked sessions
        return str(id(spark))


def _catalyst_small_count(edges: DataFrame) -> "int | None":
    """Exact edge count IF Catalyst's free sizeInBytes estimate proves the
    input small (< SMALL_GRAPH_STATS_BYTES), else None. Unknown sizes
    (RDD-backed frames report defaultSizeInBytes = Long.Max) and anything
    large return None — a 100 TB input never pays the count() and is never
    treated as small."""
    try:
        # fresh Dataset handle: a memoized QueryExecution on `edges` may
        # predate a persist() and still carry the un-cached estimate
        est = int(str(
            edges.select("*")._jdf.queryExecution().optimizedPlan()
            .stats().sizeInBytes()
        ))
    except Exception:  # internal stats API unavailable: treat as unknown
        return None
    if est >= SMALL_GRAPH_STATS_BYTES:
        return None
    return edges.count()  # provably small -> exact count is cheap


def _auto_partitions(default_p: int, small_n: "int | None") -> int:
    """Partition count when the caller didn't pin one: the session
    default, floored to ceil(n_edges / LOOP_EDGES_PER_BUCKET) for inputs
    that are provably tiny (small_n from _catalyst_small_count). Never
    raises P above the session default."""
    if default_p <= 1 or small_n is None:
        return default_p
    return max(1, min(default_p, -(-small_n // LOOP_EDGES_PER_BUCKET)))


@contextmanager
def partition_scope(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: "int | None" = None,
    *,
    probe: bool = False,
) -> Iterator[tuple[int, "int | None"]]:
    """Size a graph operator's shuffles and pin them for its duration.

    Yields ``(P, small_n)``. P is ``num_partitions`` when given, else the
    session's ``spark.sql.shuffle.partitions`` floored by
    _auto_partitions. small_n is the exact edge count when Catalyst proves
    the input small, else None; it is probed only when the floor needs it
    or ``probe`` asks for it (PageRank's kernel="auto" reads it), so a
    call pays at most one count(). ``spark.sql.shuffle.partitions`` is set
    to P inside the scope and restored on exit, even on failure — so
    every aggregate and join the operator plans lands on P partitions,
    and work left lazy past the scope would run at the restored width.

    Single-tenant contract: the pin is session-wide, so a second scope on
    the same SparkSession while one is open raises RuntimeError instead
    of silently corrupting the first call's conf. Run concurrent work on
    ``spark.newSession()`` (shared SparkContext and cache, isolated
    SQLConf) with DataFrames built there.
    """
    skey = _session_key(spark)
    with _ACTIVE_LOCK:
        if skey in _ACTIVE_SESSIONS:
            raise RuntimeError(
                "a graph operator is already running on this SparkSession; "
                "it pins session-wide SQLConf (single-tenant contract). "
                "Run the second job on spark.newSession() and build its "
                "edges DataFrame there."
            )
        _ACTIVE_SESSIONS.add(skey)
    try:
        prev_p = spark.conf.get("spark.sql.shuffle.partitions")
        need_probe = probe or (not num_partitions and int(prev_p) > 1)
        small_n = _catalyst_small_count(edges) if need_probe else None
        P = num_partitions or _auto_partitions(int(prev_p), small_n)
        spark.conf.set("spark.sql.shuffle.partitions", str(P))
        try:
            yield P, small_n
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_p)
    finally:
        with _ACTIVE_LOCK:
            _ACTIVE_SESSIONS.discard(skey)


def salted_repartition(
    df: DataFrame, key: str, num_partitions: int, salt: int = 8
) -> DataFrame:
    """Repartition by ``pmod(hash(key) * salt + salt_bucket, P)``: rows of
    one key land in ``salt`` different partitions instead of one. Use for
    skewed build sides whose downstream op is key-agnostic or re-aggregates
    (map-side partial aggregation absorbs the split)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt))
    ).repartition(num_partitions, F.col(key), F.col("_salt")).drop("_salt")


@dataclass
class SkewStats:
    n_edges: int
    n_src: int
    max_out_deg: int
    p99_out_deg: int
    hub_threshold: int
    n_hubs: int
    hub_edge_fraction: float


def skew_stats(edges: DataFrame, *, hub_quantile: float = 0.999) -> SkewStats:
    """Degree-skew diagnostics feeding the hub-split threshold (the Spark
    analog of the reference's ELL-width tuning, matrix-formats.c:164-165).

    Hubs = sources with out-degree ≥ the `hub_quantile` quantile;
    `hub_threshold` is reported as (quantile − 1) so that passing it to
    ``pagerank(hub_threshold=...)`` (which splits strictly-greater) selects
    exactly this hub set.
    """
    deg = edges.groupBy("src_id").agg(F.count("*").alias("deg")).persist()
    try:
        n_src = deg.count()
        n_edges = int(deg.agg(F.sum("deg")).collect()[0][0] or 0)
        qs = deg.approxQuantile("deg", [0.99, hub_quantile], 0.001)
        p99, thr = int(qs[0]), int(qs[1]) - 1
        hub_agg = deg.filter(F.col("deg") > thr).agg(
            F.count("*").alias("n"), F.coalesce(F.sum("deg"), F.lit(0)).alias("e")
        ).collect()[0]
        mx = int(deg.agg(F.max("deg")).collect()[0][0] or 0)
        return SkewStats(
            n_edges=n_edges,
            n_src=n_src,
            max_out_deg=mx,
            p99_out_deg=p99,
            hub_threshold=thr,
            n_hubs=int(hub_agg["n"]),
            hub_edge_fraction=(int(hub_agg["e"]) / n_edges) if n_edges else 0.0,
        )
    finally:
        deg.unpersist()


def partition_sizes(df: DataFrame) -> DataFrame:
    """(partition_id, n_rows) — direct evidence of balance for tests and
    the metrics table's per-partition lineage."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("n_rows"))
    )
