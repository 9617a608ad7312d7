"""Alternating-level scaling protocol (round 5).

Single-run scaling pairs are fragile on this shared sandbox box: a stall
window that lands on one level's run skews the efficiency ratio in either
direction (round 4 committed 0.764 from exactly that; a round-5 rerun hit
a concurrent-bench window and read 0.627 with every iteration ~40%
inflated vs the clean run on identical input). This wrapper de-confounds
slow box drift from the level effect by ALTERNATING the two levels
(N, 4N, N, 4N, ...), so any stall window degrades adjacent runs of BOTH
levels rather than all runs of one.

Each run is a fresh subprocess (fresh JVM) via `scaling.py --worker`, same
deterministic input (rank_sum asserted identical across all runs). Per
level we report every run's median steady-iteration seconds, and the
efficiency both ways:
  * paired:   eff_i = thr_4N(run i) / thr_N(run i) / 4  (per alternation)
  * capacity: min median per level (stalls only inflate -> min is the
    stall-robust capacity estimate), eff = thr_4N_cap / thr_N_cap / 4

Usage:
  SCALING_EDGES=64000000 SCALING_KERNEL=csr_block SCALING_P=8 \
  SCALING_ITERS=12 ALT_LEVELS=1,4 ALT_ROUNDS=3 python BENCH/scaling_alt.py
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCALING = REPO / "BENCH" / "scaling.py"

LO, HI = (
    int(x) for x in os.environ.get("ALT_LEVELS", "1,4").split(",")
)
ROUNDS = int(os.environ.get("ALT_ROUNDS", "3"))


def run_worker(cpus: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(SCALING), "--worker", str(cpus)],
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
    return json.loads(line[len("WORKER_JSON:"):])


def main() -> None:
    runs: dict[int, list[dict]] = {LO: [], HI: []}
    t0 = time.time()
    for rnd in range(ROUNDS):
        for cpus in (LO, HI):
            r = run_worker(cpus)
            runs[cpus].append(r)
            print(
                f"[{time.time() - t0:7.1f}s] round {rnd} local[{cpus}]: "
                f"median {r['median_iter_s']}s "
                f"iters {r['iter_seconds']}",
                file=sys.stderr,
                flush=True,
            )

    sums = {r["rank_sum"] for rs in runs.values() for r in rs}
    paired = [
        round(
            runs[HI][i]["edges_per_sec_per_iter"]
            / runs[LO][i]["edges_per_sec_per_iter"]
            / (HI / LO),
            3,
        )
        for i in range(ROUNDS)
    ]
    cap = {c: min(r["median_iter_s"] for r in runs[c]) for c in (LO, HI)}
    med = {
        c: statistics.median([r["median_iter_s"] for r in runs[c]])
        for c in (LO, HI)
    }
    n_edges = runs[LO][0]["n_edges"]
    out = {
        "protocol": "alternating",
        "kernel": os.environ.get("SCALING_KERNEL", "join"),
        "n_edges": n_edges,
        "P": runs[LO][0]["P"],
        "rounds": ROUNDS,
        "iters_per_run": len(runs[LO][0]["iter_seconds"]),
        "levels": {
            str(c): {
                "run_medians_s": [r["median_iter_s"] for r in runs[c]],
                "iter_seconds": [r["iter_seconds"] for r in runs[c]],
                "capacity_median_s": cap[c],
                "median_of_medians_s": med[c],
                "thr_capacity": round(n_edges / cap[c]),
                "thr_median": round(n_edges / med[c]),
            }
            for c in (LO, HI)
        },
        "efficiency_paired": paired,
        "efficiency_median_of_medians": round(
            (n_edges / med[HI]) / (n_edges / med[LO]) / (HI / LO), 3
        ),
        "efficiency_capacity": round(
            (n_edges / cap[HI]) / (n_edges / cap[LO]) / (HI / LO), 3
        ),
        "rank_sum_spread": max(sums) - min(sums),
        "wall_s": round(time.time() - t0, 1),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
