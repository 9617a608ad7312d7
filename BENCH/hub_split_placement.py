"""Where the join kernel's old hub split put the hub's edges.

    python BENCH/hub_split_placement.py <checkout> <input> <P> <hub_threshold>

<checkout> must still have ``operators.pagerank._split_hubs`` (the hub
split was deleted after commit a4da60f). The script builds <input> as
``BENCH/ab_pagerank.py`` does, runs that checkout's ``pagerank()`` with
``kernel="join"``, ``num_partitions=<P>``, one fixed iteration and
``hub_threshold``, and wraps ``_split_hubs`` to read the per-partition
row counts of the weighted edges it was given and of the ``w_rest`` and
``w_hub`` frames it returned. It prints one JSON line.

    python BENCH/hub_split_placement.py ../parent hub:40000:40000:20000 4 100
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(checkout: str, spec: str, P: int, threshold: int) -> None:
    sys.path.insert(0, os.path.abspath(checkout))
    from ab_pagerank import _edges
    from pyspark.sql import functions as F

    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators import pagerank as pr

    def sizes(df) -> dict:
        rows = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        return {int(r["pid"]): int(r["count"]) for r in sorted(rows)}

    seen = {}
    real = pr._split_hubs

    def spy(wedges, vstats, hub_threshold):
        seen["wedges"] = sizes(wedges)
        w_rest, hub_part = real(wedges, vstats, hub_threshold)
        seen["w_rest"] = sizes(w_rest)
        if hub_part is not None:
            seen["w_hub"] = sizes(hub_part[0])
            seen["n_hubs"] = hub_part[1].count()
        return w_rest, hub_part

    spark = get_spark(master="local[4]", app_name="hub_split_placement")
    edges = _edges(spark, spec).persist()
    n_edges = edges.count()
    pr._split_hubs = spy
    pr.pagerank(
        spark, edges, kernel="join", num_partitions=P, fixed_iterations=1,
        dangling_mode="redistribute", hub_threshold=threshold,
    )
    print(json.dumps({
        "checkout": checkout, "input": spec, "n_edges": n_edges, "P": P,
        "hub_threshold": threshold, "partition_rows": seen,
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
