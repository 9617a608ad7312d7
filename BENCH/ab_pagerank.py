"""One PageRank A/B rep per process, calling the shipping pagerank().

    python BENCH/ab_pagerank.py <checkout> <input> '<pagerank kwargs json>'

Imports the engine from <checkout>, builds the input on a local[4]
session, caches it, runs ``pagerank(spark, edges, **kwargs)`` once and
prints one JSON line: the call's wall (including a count of the ranks),
its phases, every iteration's seconds, the steady-iteration median
(iteration 1 dropped), the iteration count, the kernel that ran and the
rank sum. <input> is either a TPC-H testdata directory (read by
``tpch_graph_edges``) or ``powerlaw:<vertices>:<edges>:<seed>`` (a
deduplicated ``synth_powerlaw_edges`` graph).

Alternate two checkouts across invocations for an interleaved A/B; each
rep is a fresh JVM, so no arm inherits the other's caches. Examples:

    python BENCH/ab_pagerank.py . testdata/sf0.1 \\
        '{"kernel": "join", "eps": 1e-6, "dangling_mode": "redistribute"}'
    python BENCH/ab_pagerank.py . powerlaw:100000:1200000:7 \\
        '{"kernel": "csr_block", "fixed_iterations": 3,
          "dangling_mode": "redistribute", "num_partitions": 4}'
"""

from __future__ import annotations

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
    from ps_pagerank_spark.sources.edgelist import tpch_graph_edges

    return tpch_graph_edges(spark, spec)


def main(checkout: str, spec: str, kwargs: dict) -> None:
    sys.path.insert(0, os.path.abspath(checkout))
    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.pagerank import pagerank

    spark = get_spark(master="local[4]", app_name="ab_pagerank")
    edges = _edges(spark, spec).persist()
    n_edges = edges.count()
    t0 = time.perf_counter()
    res = pagerank(spark, edges, **kwargs)
    res.ranks.count()
    wall = time.perf_counter() - t0
    iter_s = [m["elapsed_s"] for m in res.metrics]
    steady = iter_s[1:] or iter_s
    print(json.dumps({
        "checkout": checkout,
        "engine": os.path.dirname(sys.modules["ps_pagerank_spark"].__file__),
        "input": spec, "kwargs": kwargs,
        "n_edges": n_edges, "kernel": res.kernel,
        "iterations": res.iterations, "wall_s": round(wall, 3),
        "phases": res.phases,
        "steady_median_s": round(statistics.median(steady), 4),
        "iter_s": [round(s, 4) for s in iter_s],
        "rank_sum": res.ranks.agg({"rank": "sum"}).collect()[0][0],
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], json.loads(sys.argv[3]))
