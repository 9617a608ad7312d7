"""One PageRank A/B rep per process, calling the shipping pagerank().

    python BENCH/ab_pagerank.py <checkout> <input> '<pagerank kwargs json>'

Imports the engine from <checkout>, builds the input on a local[4]
session, caches it, runs ``pagerank(spark, edges, **kwargs)`` once and
prints one JSON line: the call's wall (including a count of the ranks),
its phases, every iteration's seconds, the steady-iteration median
(iteration 1 dropped), the iteration count, the kernel that ran, the
rank sum and a sha256 of the ranks (vertex_id-sorted ids, then rank
bits), so two arms can be checked for bit-identical ranks. <input> is
a TPC-H testdata directory (read by ``tpch_graph_edges``),
``powerlaw:<vertices>:<edges>:<seed>`` (a deduplicated
``synth_powerlaw_edges`` graph) or ``hub:<edges>:<vertices>:<hub_degree>``
(uniform ``xxhash64`` edges over ``spark.range`` plus vertex 0 with
``hub_degree`` distinct out-edges, deduplicated; needs
``hub_degree < vertices``). ``jobs`` counts the Spark jobs of the call.
``store_bytes`` is the total size of the csr_block store's ``blk*`` files
when the kwargs name a ``block_dir`` (a path or a ``file://``-style URI;
the run leaves that store in place), else null.

The harness changes into <checkout> before Spark starts: Python workers
put the driver's working directory first on ``sys.path``, so started
anywhere else they would import that directory's engine. Relative paths
in <input> and the kwargs therefore resolve against <checkout>.
``worker_engine`` is the directory ``ps_pagerank_spark`` was imported from
inside one mapInArrow task; when it is not under <checkout> the harness
prints it and exits with status 1.

Alternate two checkouts across invocations for an interleaved A/B; each
rep is a fresh JVM, so no arm inherits the other's caches. Examples:

    python BENCH/ab_pagerank.py . testdata/sf0.1 \\
        '{"kernel": "join", "eps": 1e-6, "dangling_mode": "redistribute"}'
    python BENCH/ab_pagerank.py . powerlaw:100000:1200000:7 \\
        '{"kernel": "csr_block", "fixed_iterations": 3,
          "dangling_mode": "redistribute", "num_partitions": 4}'
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time


def _edges(spark, spec: str):
    if spec.startswith("powerlaw:"):
        import numpy as np
        import pandas as pd

        from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

        n_v, n_e, seed = (int(x) for x in spec.split(":")[1:])
        pairs = np.unique(synth_powerlaw_edges(n_v, n_e, seed=seed), axis=0)
        return spark.createDataFrame(
            pd.DataFrame(pairs, columns=["src_id", "dst_id"])
        )
    if spec.startswith("hub:"):
        from pyspark.sql import functions as F

        n_e, n_v, hub_deg = (int(x) for x in spec.split(":")[1:])
        uniform = spark.range(n_e - hub_deg).select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_v)).alias("src_id"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_v)).alias("dst_id"),
        )
        hub = spark.range(1, hub_deg + 1).select(
            F.lit(0).cast("long").alias("src_id"), F.col("id").alias("dst_id")
        )
        return uniform.unionByName(hub).distinct()
    from ps_pagerank_spark.sources.edgelist import tpch_graph_edges

    return tpch_graph_edges(spark, spec)


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


def main(checkout: str, spec: str, kwargs: dict) -> None:
    checkout = os.path.abspath(checkout)
    os.chdir(checkout)
    sys.path.insert(0, checkout)
    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.pagerank import pagerank

    spark = get_spark(master="local[4]", app_name="ab_pagerank")
    worker_engine = _worker_engine(spark)
    if not worker_engine.startswith(checkout + os.sep):
        print(f"workers import ps_pagerank_spark from {worker_engine}, "
              f"not from {checkout}", file=sys.stderr)
        spark.stop()
        sys.exit(1)
    edges = _edges(spark, spec).persist()
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
        "input": spec, "kwargs": kwargs,
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
    main(sys.argv[1], sys.argv[2], json.loads(sys.argv[3]))
