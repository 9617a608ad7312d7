"""Alternating two-level scaling run over BENCH/ab_pagerank.py.

    python BENCH/scaling.py <input> '<pagerank kwargs json>' <lo> <hi> [<rounds>]

The paper's criterion is >=0.8 throughput-scaling efficiency from N to 4N
executors. One box has one JVM, so the same job runs on the same input at
local[<lo>] and local[<hi>]. Runs alternate lo, hi, lo, hi, ... for
<rounds> rounds (default 3), each a fresh ``ab_pagerank.py`` process on
this checkout, so a stall window on the shared box degrades adjacent runs
of both levels rather than every run of one. Pin ``num_partitions`` in
the kwargs: the csr_block partials grow with P, and on a cluster P
follows the data, not the core count. One JSON line: per level the run
medians of the steady iterations, their iteration seconds, the capacity
(min run median; stalls only inflate) and median of medians; efficiency
(thr_hi / thr_lo) / (hi / lo) per round (paired), from the medians of
medians and from the capacities; the spread of the runs' rank sums.

    python BENCH/scaling.py skew:64000000 '{"kernel": "csr_block",
        "num_partitions": 8, "fixed_iterations": 12,
        "dangling_mode": "redistribute"}' 1 4 3
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def alternate(run_one, lo: int, hi: int, rounds: int) -> list[dict]:
    return [run_one(cpus) for _ in range(rounds) for cpus in (lo, hi)]


def summarize(runs: list[dict], lo: int, hi: int, wall_s: float) -> dict:
    """The JSON line for ab_pagerank.py records in run order."""
    by = {c: [r for r in runs if r["cpus"] == c] for c in (lo, hi)}
    (n_edges,) = {r["n_edges"] for r in runs}  # ValueError if they differ
    med = {c: [r["steady_median_s"] for r in by[c]] for c in by}
    cap = {c: min(m) for c, m in med.items()}
    mom = {c: round(statistics.median(m), 4) for c, m in med.items()}

    def eff(t_lo: float, t_hi: float) -> float:
        return round(t_lo / t_hi / (hi / lo), 3)

    sums = [r["rank_sum"] for r in runs]
    return {
        "protocol": "alternating",
        "kernel": runs[0]["kernel"],
        "n_edges": n_edges,
        "P": runs[0]["kwargs"].get("num_partitions"),
        "rounds": len(by[lo]),
        "iters_per_run": len(runs[0]["iter_s"]) - 1,
        "levels": {
            str(c): {
                "run_medians_s": med[c],
                "iter_seconds": [r["iter_s"][1:] for r in by[c]],
                "capacity_median_s": cap[c],
                "median_of_medians_s": mom[c],
                "thr_capacity": round(n_edges / cap[c]),
                "thr_median": round(n_edges / mom[c]),
            }
            for c in (lo, hi)
        },
        "efficiency_paired": [eff(a, b) for a, b in zip(med[lo], med[hi])],
        "efficiency_median_of_medians": eff(mom[lo], mom[hi]),
        "efficiency_capacity": eff(cap[lo], cap[hi]),
        "rank_sum_spread": max(sums) - min(sums),
        "wall_s": round(wall_s, 1),
    }


def main(spec: str, kwargs_json: str, lo: int, hi: int, rounds: int = 3) -> None:
    t0 = time.time()

    def run_one(cpus: int) -> dict:
        proc = subprocess.run(
            [sys.executable, str(REPO / "BENCH" / "ab_pagerank.py"),
             str(REPO), spec, kwargs_json, str(cpus)],
            capture_output=True, text=True,
        )
        if proc.returncode:
            print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"local[{cpus}] run failed")
        line = proc.stdout.splitlines()[-1]
        print(line, file=sys.stderr, flush=True)  # the run's own record
        return json.loads(line)

    runs = alternate(run_one, lo, hi, rounds)
    print(json.dumps(summarize(runs, lo, hi, time.time() - t0)))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], *(int(a) for a in sys.argv[3:6]))
