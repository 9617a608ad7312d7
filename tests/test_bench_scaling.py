"""BENCH/scaling.py's alternation and summary, without Spark: fake
ab_pagerank.py records in, the JSON line's fields out."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "BENCH"
_spec = importlib.util.spec_from_file_location("scaling", BENCH / "scaling.py")
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def _record(cpus: int, iter_s: list[float], rank_sum: float = 1.0) -> dict:
    steady = sorted(iter_s[1:])
    return {
        "cpus": cpus, "n_edges": 1000, "kernel": "csr_block",
        "kwargs": {"kernel": "csr_block", "num_partitions": 8},
        "iter_s": iter_s, "steady_median_s": steady[len(steady) // 2],
        "rank_sum": rank_sum,
    }


RUNS = [  # run order lo, hi, lo, hi
    _record(1, [9.0, 4.0, 4.0, 4.0]),
    _record(4, [9.0, 1.25, 1.25, 1.25], rank_sum=1.0 + 2e-16),
    _record(1, [9.0, 5.0, 5.0, 5.0]),
    _record(4, [9.0, 1.0, 1.0, 1.0]),
]


def test_alternation_order():
    calls = []
    runs = scaling.alternate(lambda c: calls.append(c) or {"cpus": c}, 1, 4, 3)
    assert calls == [1, 4, 1, 4, 1, 4]
    assert [r["cpus"] for r in runs] == calls


def test_efficiency_formulas():
    out = scaling.summarize(RUNS, 1, 4, wall_s=12.34)
    lo, hi = out["levels"]["1"], out["levels"]["4"]
    assert lo["run_medians_s"] == [4.0, 5.0]
    assert hi["run_medians_s"] == [1.25, 1.0]
    assert lo["iter_seconds"] == [[4.0, 4.0, 4.0], [5.0, 5.0, 5.0]]
    assert (lo["capacity_median_s"], hi["capacity_median_s"]) == (4.0, 1.0)
    assert (lo["median_of_medians_s"], hi["median_of_medians_s"]) == (4.5, 1.125)
    assert (lo["thr_capacity"], lo["thr_median"]) == (250, 222)
    # (thr_hi / thr_lo) / (hi / lo), paired round by round
    assert out["efficiency_paired"] == [0.8, 1.25]
    assert out["efficiency_median_of_medians"] == 1.0
    assert out["efficiency_capacity"] == 1.0
    assert out["rank_sum_spread"] == pytest.approx(2e-16)
    assert (out["n_edges"], out["P"], out["rounds"]) == (1000, 8, 2)
    assert (out["iters_per_run"], out["wall_s"]) == (3, 12.3)


def test_runs_must_share_the_input():
    other = dict(RUNS[3], n_edges=999)
    with pytest.raises(ValueError):
        scaling.summarize(RUNS[:3] + [other], 1, 4, wall_s=1.0)


def test_keys_match_committed_rows():
    """The line keeps the keys of the last alternating row on the record,
    apart from its hand-written ``note`` and the ``dtype`` field of the
    deleted float32 mode."""
    row = json.loads((BENCH / "scaling_r5.jsonl").read_text().splitlines()[7])
    out = scaling.summarize(RUNS, 1, 4, wall_s=1.0)
    assert set(out) == set(row) - {"note", "dtype"}
    assert set(out["levels"]["1"]) == set(row["levels"]["1"])
