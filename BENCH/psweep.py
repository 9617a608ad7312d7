"""Loop-partition (P) sweep at a fixed input scale (round-5 evidence).

Motivation: at sf0.1 (1.6M edges / 21k vertices) the cores-tracking
session default P=32 runs every loop stage as 32 near-empty tasks and
duplicates each dst's partial across up to 32 source buckets. This
harness sweeps ``num_partitions`` for both kernels on one session with
reps interleaved round-robin (same stall-hygiene as BENCH/ab_loop.py) to
measure where the per-bucket task payload stops paying for itself.

The measured sweep (raw: BENCH/psweep_sf01_r5.json) backs the
``_auto_partitions`` tiny-graph floor in operators/partitioning.py —
P = ceil(n_edges / 400k), applied only when Catalyst stats prove the
input small.

Inputs: PSWEEP_SF_DIR (default /root/testdata/sf0.1), PSWEEP_CPUS (32),
PSWEEP_REPS (3), PSWEEP_ITERS (8), PSWEEP_PS (1,2,4,8,32),
PSWEEP_KERNELS (csr_block,join).
Output: one JSON line, per-cell rep walls + steady-iteration medians +
best-rep median (the BENCH headline statistic).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("PSWEEP_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("PSWEEP_CPUS", "32"))
REPS = int(os.environ.get("PSWEEP_REPS", "3"))
ITERS = int(os.environ.get("PSWEEP_ITERS", "8"))
PS = [int(p) for p in os.environ.get("PSWEEP_PS", "1,2,4,8,32").split(",")]
KERNELS = os.environ.get("PSWEEP_KERNELS", "csr_block,join").split(",")


def main() -> None:
    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.pagerank import pagerank
    from ps_pagerank_spark.sources.edgelist import tpch_graph_edges

    spark = get_spark(master=f"local[{CPUS}]", app_name="psweep")
    edges = tpch_graph_edges(spark, SF_DIR).persist()
    n_edges = edges.count()

    cells: dict[str, dict] = {
        f"{k}_P{p}": {"reps": []} for k in KERNELS for p in PS
    }
    for rep in range(REPS):
        for p in PS:
            for k in KERNELS:
                spark.catalog.clearCache()
                edges.persist()
                edges.count()
                t0 = time.perf_counter()
                res = pagerank(
                    spark, edges, kernel=k, fixed_iterations=ITERS,
                    dangling_mode="redistribute", num_partitions=p,
                )
                res.ranks.count()
                wall = time.perf_counter() - t0
                steady = [m["elapsed_s"] for m in res.metrics[1:]] or [
                    m["elapsed_s"] for m in res.metrics
                ]
                med = statistics.median(steady)
                cells[f"{k}_P{p}"]["reps"].append(
                    {"rep": rep, "wall_s": round(wall, 3),
                     "median_iter_s": round(med, 3),
                     "iter_s": [round(s, 3) for s in steady]}
                )
                print(
                    f"rep{rep} {k} P={p}: wall={wall:.1f} med_iter={med:.3f}",
                    file=sys.stderr,
                )

    for cell in cells.values():
        best = min(r["median_iter_s"] for r in cell["reps"])
        cell["best_rep_median_iter_s"] = best
        cell["edges_per_sec_per_iter"] = round(n_edges / best)

    print(json.dumps({
        "input": SF_DIR, "n_edges": n_edges, "cpus": CPUS, "reps": REPS,
        "fixed_iterations": ITERS, "cells": cells,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
