"""Two-parallelism-level scaling run (north rule evidence).

The rule's criterion — ≥0.8 throughput scaling efficiency between N and 4N
*executors* — cannot be evidenced with a real cluster in this sandbox
(single JVM, local mode). Per the driver instruction we run the SAME job on
the SAME input at two parallelism levels (local[N] vs local[4N]) and report
throughput at both plus efficiency = (thr_4N / thr_N) / 4.

Caveat reported alongside the numbers: in local mode all threads share one
machine's memory bandwidth, so local[8]→local[32] understates what N→4N
*executors* (constant per-executor bandwidth) would show; we therefore also
run local[4]→local[16], which leaves bandwidth headroom and is the closer
analog. The reference's own 1→32-thread efficiency on the same kind of
memory-bound SpMV is 0.24 (BASELINE.md §6).

Input: a deterministic synthetic power-lawish digraph built from
spark.range + xxhash64 (same rows at any parallelism), default 8M edges —
big enough that per-iteration work dominates scheduling overhead.

Usage:
  python BENCH/scaling.py                 # full run → prints JSON, updates nothing
  python BENCH/scaling.py --worker CPUS   # internal: one level, one JSON line
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_EDGES = int(os.environ.get("SCALING_EDGES", "32000000"))
N_VERTS = N_EDGES // 16
ITERS = int(os.environ.get("SCALING_ITERS", "8"))
KERNEL = os.environ.get("SCALING_KERNEL", "join")
# "strong": same input at every level (classic speedup; on one box the
# shared memory bus punishes high levels). "weak": input scales with the
# level (constant work per core, n_edges = SCALING_EDGES * cpus / 4) — the
# closer analog of the cluster criterion, where a 4N-executor cluster
# handles 4x the data at the same per-iteration wall; efficiency is then
# t_N / t_4N.
MODE = os.environ.get("SCALING_MODE", "strong")
# Fixed partition/bucket count across levels (default: max(cpus*2, 8) per
# level). The csr_block partials cardinality is sum-over-buckets of
# unique-dst-per-bucket, which GROWS with the bucket count P — letting P
# track cores conflates "more cores" with "more aggregation work". On a
# real cluster P is set by data volume (targeting fixed bucket bytes),
# not by cluster width, so the criterion-faithful strong-scaling run
# pins P across the pair: SCALING_P=16.
FIXED_P = (
    int(os.environ["SCALING_P"]) if os.environ.get("SCALING_P") else None
)
# parallelism levels to run (comma-separated); efficiency is reported for
# every (c, 4c) pair present. local[1]->local[4] is the pair where neither
# level saturates the box's shared memory bus — the closest local-mode
# analog of N->4N executors with constant per-executor bandwidth.
LEVELS = [
    int(x)
    for x in os.environ.get("SCALING_LEVELS", "4,16,8,32").split(",")
]


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


def _level_edges(cpus: int) -> int:
    return N_EDGES * cpus // 4 if MODE == "weak" else N_EDGES


def run_level(cpus: int) -> dict:
    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.pagerank import pagerank

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"scaling_{cpus}",
        extra_conf={
            "spark.sql.shuffle.partitions": str(FIXED_P or max(cpus * 2, 8))
        },
    )
    lvl_edges = _level_edges(cpus)
    edges = synthetic_edges(spark, lvl_edges, lvl_edges // 16).persist()
    n_edges = edges.count()
    res = pagerank(
        spark,
        edges,
        fixed_iterations=ITERS,
        dangling_mode="redistribute",
        kernel=KERNEL,
        num_partitions=FIXED_P or max(cpus * 2, 8),
    )
    res.ranks.count()
    # drop iteration 1 (cache/JIT warmup); median per-iteration time is
    # the throughput statistic (the sandbox shares the box — occasional
    # multi-second stalls would otherwise dominate the mean)
    import statistics

    steady = [m["elapsed_s"] for m in res.metrics[1:]]
    med = statistics.median(steady)
    thr = n_edges / med
    rank_sum = res.ranks.agg({"rank": "sum"}).collect()[0][0]
    spark.stop()
    return {
        "cpus": cpus,
        "P": FIXED_P or max(cpus * 2, 8),
        "n_edges": n_edges,
        "iters_measured": len(steady),
        "iter_seconds": [round(s, 2) for s in steady],
        "median_iter_s": round(med, 3),
        "edges_per_sec_per_iter": round(thr),
        "rank_sum": rank_sum,
    }


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        print("WORKER_JSON:" + json.dumps(run_level(int(sys.argv[2]))))
        return

    results = {}
    for cpus in LEVELS:
        proc = subprocess.run(
            [sys.executable, __file__, "--worker", str(cpus)],
            capture_output=True,
            text=True,
            cwd=str(REPO),
            timeout=int(os.environ.get("SCALING_TIMEOUT", "7200")),
        )
        line = next(
            (
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("WORKER_JSON:")
            ),
            None,
        )
        if line is None:
            print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"worker local[{cpus}] failed")
        results[cpus] = json.loads(line[len("WORKER_JSON:"):])
        print(f"local[{cpus}]: {results[cpus]}", file=sys.stderr)

    # identical converged state across levels (partition-invariance
    # check; only meaningful in strong mode where inputs are identical)
    sums = {c: r["rank_sum"] for c, r in results.items()}
    out = {
        "kernel": KERNEL,
        "mode": MODE,
        "P": {str(c): r["P"] for c, r in results.items()},
        "n_edges": results[LEVELS[0]]["n_edges"],
        "iters_measured": ITERS - 1,
        "levels": {
            str(c): {
                k: r[k]
                for k in (
                    "median_iter_s",
                    "edges_per_sec_per_iter",
                    "iter_seconds",
                    "n_edges",
                )
            }
            for c, r in results.items()
        },
        "rank_sum_spread": (
            max(sums.values()) - min(sums.values()) if MODE == "strong" else None
        ),
    }
    for c in sorted(results):
        if c * 4 in results:
            # strong: thr_4N/(4 thr_N); weak (per-level inputs scale with
            # cores): the same formula equals t_N / t_4N
            out[f"efficiency_{c}_to_{c * 4}"] = round(
                results[c * 4]["edges_per_sec_per_iter"]
                / results[c]["edges_per_sec_per_iter"]
                / 4.0,
                3,
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
