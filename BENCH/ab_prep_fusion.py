"""Forced csr_block prep + block-build timing, one rep per process.

    python BENCH/ab_prep_fusion.py <checkout> <ranks.npy>

Imports the engine from <checkout>, runs
pagerank(kernel="csr_block", fixed_iterations=3,
dangling_mode="redistribute") on a local[4] session over a seeded
synth_powerlaw_edges graph (100,000 vertices, 1,200,000 edges before
dedup) and prints one JSON line with prep_s, blocks_s and their sum. The
ranks, dense by vertex id, go to <ranks.npy> so the arms can be compared.
Alternate two checkouts across invocations for an interleaved A/B
(BENCH/ab_prep_fusion.json).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

N_VERTICES = 100_000
N_EDGES = 1_200_000


def main(checkout: str, out: str) -> None:
    sys.path.insert(0, os.path.abspath(checkout))
    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.pagerank import pagerank
    from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

    pairs = np.unique(synth_powerlaw_edges(N_VERTICES, N_EDGES, seed=7), axis=0)
    spark = get_spark(master="local[4]", app_name="ab_prep_fusion")
    edges = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src_id", "dst_id"])
    ).persist()
    edges.count()
    res = pagerank(
        spark, edges, kernel="csr_block", fixed_iterations=3,
        dangling_mode="redistribute",
    )
    ranks = np.zeros(int(pairs.max()) + 1)
    for r in res.ranks.collect():
        ranks[r["vertex_id"]] = r["rank"]
    np.save(out, ranks)
    ph = res.phases
    print(json.dumps({
        "checkout": checkout, "edges": len(pairs), "kernel": res.kernel,
        "prep_s": ph["prep_s"], "blocks_s": ph["blocks_s"],
        "prep_plus_blocks_s": round(ph["prep_s"] + ph["blocks_s"], 3),
        "conv_s": ph["conv_s"], "rank_sum": float(ranks.sum()),
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
