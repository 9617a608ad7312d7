"""One PageRank rep per process, calling the shipping pagerank().

    python BENCH/ab_pagerank.py <checkout> <input> '<pagerank kwargs json>' [<cpus>]

Imports the engine from <checkout>, builds the input on a local[<cpus>]
session (default 4), caches it, runs ``pagerank(spark, edges, **kwargs)``
once and prints one JSON line: the call's wall (including a count of the
ranks), its phases, every iteration's seconds, the steady-iteration median
(iteration 1 dropped), the iteration count, the kernel that ran, the rank
sum and a sha256 of the ranks (vertex_id-sorted ids, then rank bits), so
two arms can be checked for bit-identical ranks. ``jobs`` counts the
Spark jobs of the call. ``store_bytes`` is the total size of the
csr_block store's ``blk*`` files when the kwargs name a ``block_dir`` (a
path or a ``file://``-style URI; the run leaves that store in place),
else null. A ``num_partitions`` in the kwargs also sizes the input
build's shuffles, so a rep's rows and rank bits do not depend on the
session default. <input> is one of:

- a TPC-H testdata directory, read by ``tpch_graph_edges``;
- ``powerlaw:<vertices>:<edges>:<seed>``: a deduplicated
  ``synth_powerlaw_edges`` graph;
- ``hub:<edges>:<vertices>:<hub_degree>``: uniform ``xxhash64`` edges over
  ``spark.range`` plus vertex 0 with ``hub_degree`` distinct out-edges,
  deduplicated (needs ``hub_degree < vertices``);
- ``skew:<edges>``: ``synthetic_edges`` over ``edges // 16`` vertices, the
  same rows at any <cpus> (``skew:64000000`` is 63,994,671 edges);
- ``pages:<pages>:<deg>:<seed>``: ``synth_pages_distributed`` in a
  temporary parquet dir, then perfbench pages-to-ranks' front half:
  ``front.extract_s`` times ``normalize_links(extract_links(pages))``,
  ``front.encode_s`` ``encode_vertices(..., mode="zip")`` plus
  ``encode_edges``, each persisted and counted. The link and edge counts
  must equal the distinct ``(v, dst_v)`` pairs of
  ``synth_edges_distributed``, else the harness exits 1. ``front`` is
  null for the other inputs.

The harness changes into <checkout> before Spark starts: Python workers
put the driver's working directory first on ``sys.path``, so started
anywhere else they would import that directory's engine. Relative paths
in <input> and the kwargs therefore resolve against <checkout>.
``worker_engine`` is the directory ``ps_pagerank_spark`` was imported from
inside one mapInArrow task; when it is not under <checkout> the harness
prints it and exits with status 1.

Alternate two checkouts across invocations for an A/B, or two <cpus>
values (BENCH/scaling.py); each rep is a fresh JVM. Examples:

    python BENCH/ab_pagerank.py . testdata/sf0.1 \\
        '{"kernel": "join", "eps": 1e-6, "dangling_mode": "redistribute"}'
    python BENCH/ab_pagerank.py . powerlaw:100000:1200000:7 \\
        '{"kernel": "csr_block", "fixed_iterations": 3,
          "dangling_mode": "redistribute", "num_partitions": 4}'
    python BENCH/ab_pagerank.py . pages:400000:18:42 \\
        '{"kernel": "csr_block", "eps": 1e-6, "dangling_mode": "redistribute"}' 4
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def synthetic_edges(spark, n_edges: int, n_verts: int):
    """Deterministic skewed digraph: 90% uniform xxhash edges + 10% into a
    1k-vertex hub set (power-law-ish in-degree, the web-graph shape)."""
    from pyspark.sql import functions as F

    base = spark.range(n_edges)
    src = F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_verts))
    dst_u = F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(n_verts))
    dst_h = F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(1000))
    hubby = F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(10)) == 0
    return (
        base.select(
            src.alias("src_id"),
            F.when(hubby, dst_h).otherwise(dst_u).alias("dst_id"),
        )
        .filter(F.col("src_id") != F.col("dst_id"))
        .dropDuplicates(["src_id", "dst_id"])
    )


def _pages(spark, spec: str):
    """The encoded edges of a ``pages:`` input and the front half's record."""
    from ps_pagerank_spark.functions.extract import extract_links, normalize_links
    from ps_pagerank_spark.operators.graph import (
        encode_edges,
        encode_vertices,
        vertices_from_links,
    )
    from ps_pagerank_spark.sources.pages import (
        synth_edges_distributed,
        synth_pages_distributed,
    )

    n, deg, seed = (int(x) for x in spec.split(":")[1:])
    tmp = tempfile.mkdtemp(prefix="ab_pages_")
    atexit.register(shutil.rmtree, tmp, True)
    synth_pages_distributed(spark, n, deg, seed).write.parquet(tmp + "/pages")
    t0 = time.perf_counter()
    links = normalize_links(extract_links(spark.read.parquet(tmp + "/pages")))
    n_links = links.persist().count()
    t1 = time.perf_counter()
    vertices = encode_vertices(vertices_from_links(links), mode="zip").persist()
    n_vertices = vertices.count()
    edges = encode_edges(links, vertices).persist()
    n_edges = edges.count()
    t2 = time.perf_counter()
    links.unpersist()
    expected = (
        synth_edges_distributed(spark, n, deg, seed)
        .dropDuplicates(["v", "dst_v"]).count()
    )
    if n_links != expected or n_edges != expected:
        print(f"{n_links} links and {n_edges} edges, expected {expected}",
              file=sys.stderr)
        sys.exit(1)
    return edges, {
        "extract_s": round(t1 - t0, 3), "encode_s": round(t2 - t1, 3),
        "links": n_links, "vertices": n_vertices, "edges": n_edges,
    }


def _edges(spark, spec: str):
    """The input's edges and its front-half record (None unless pages)."""
    kind, _, args = spec.partition(":")
    if kind == "pages":
        return _pages(spark, spec)
    if kind == "skew":
        return synthetic_edges(spark, int(args), int(args) // 16), None
    if kind == "powerlaw":
        import numpy as np
        import pandas as pd

        from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

        n_v, n_e, seed = (int(x) for x in args.split(":"))
        pairs = np.unique(synth_powerlaw_edges(n_v, n_e, seed=seed), axis=0)
        return spark.createDataFrame(
            pd.DataFrame(pairs, columns=["src_id", "dst_id"])
        ), None
    if kind == "hub":
        from pyspark.sql import functions as F

        n_e, n_v, hub_deg = (int(x) for x in args.split(":"))
        uniform = spark.range(n_e - hub_deg).select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_v)).alias("src_id"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_v)).alias("dst_id"),
        )
        hub = spark.range(1, hub_deg + 1).select(
            F.lit(0).cast("long").alias("src_id"), F.col("id").alias("dst_id")
        )
        return uniform.unionByName(hub).distinct(), None
    from ps_pagerank_spark.sources.edgelist import tpch_graph_edges

    return tpch_graph_edges(spark, spec), None


def _store_bytes(block_dir: str | None) -> int | None:
    if block_dir is None:
        return None
    from pyarrow import fs as pafs

    from ps_pagerank_spark.operators.pagerank import _store_fs

    fs, inner = _store_fs(block_dir)
    infos = fs.get_file_info(pafs.FileSelector(inner, allow_not_found=True))
    return sum(i.size for i in infos if i.base_name.startswith("blk"))


def _worker_engine(spark) -> str:
    """The directory ps_pagerank_spark is imported from inside one
    mapInArrow task."""

    def where(batches):
        import pyarrow as pa

        import ps_pagerank_spark

        for _ in batches:
            pass
        path = os.path.dirname(os.path.abspath(ps_pagerank_spark.__file__))
        yield pa.RecordBatch.from_pydict({"path": [path]})

    return spark.range(1, numPartitions=1).mapInArrow(
        where, "path string"
    ).first()["path"]


def main(checkout: str, spec: str, kwargs: dict, cpus: int = 4) -> None:
    checkout = os.path.abspath(checkout)
    os.chdir(checkout)
    sys.path.insert(0, checkout)
    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.pagerank import pagerank

    P = kwargs.get("num_partitions")
    spark = get_spark(
        master=f"local[{cpus}]", app_name="ab_pagerank",
        extra_conf={"spark.sql.shuffle.partitions": str(P)} if P else None,
    )
    worker_engine = _worker_engine(spark)
    if not worker_engine.startswith(checkout + os.sep):
        print(f"workers import ps_pagerank_spark from {worker_engine}, "
              f"not from {checkout}", file=sys.stderr)
        spark.stop()
        sys.exit(1)
    edges, front = _edges(spark, spec)
    edges = edges.persist()
    n_edges = edges.count()
    sc = spark.sparkContext
    sc.setJobGroup("ab_pagerank", "ab_pagerank")
    t0 = time.perf_counter()
    res = pagerank(spark, edges, **kwargs)
    res.ranks.count()
    wall = time.perf_counter() - t0
    sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("ab_pagerank"))
    iter_s = [m["elapsed_s"] for m in res.metrics]
    steady = iter_s[1:] or iter_s
    ranks = res.ranks.toPandas().sort_values("vertex_id")
    digest = hashlib.sha256(
        ranks["vertex_id"].to_numpy().tobytes()
        + ranks["rank"].to_numpy().tobytes()
    ).hexdigest()
    print(json.dumps({
        "checkout": checkout,
        "engine": os.path.dirname(sys.modules["ps_pagerank_spark"].__file__),
        "worker_engine": worker_engine,
        "input": spec, "kwargs": kwargs, "cpus": cpus, "front": front,
        "n_edges": n_edges, "kernel": res.kernel,
        "iterations": res.iterations, "jobs": jobs, "wall_s": round(wall, 3),
        "phases": res.phases,
        "steady_median_s": round(statistics.median(steady), 4),
        "iter_s": [round(s, 4) for s in iter_s],
        "rank_sum": res.ranks.agg({"rank": "sum"}).collect()[0][0],
        "ranks_sha256": digest,
        "store_bytes": _store_bytes(kwargs.get("block_dir")),
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], json.loads(sys.argv[3]),
         *(int(c) for c in sys.argv[4:5]))
