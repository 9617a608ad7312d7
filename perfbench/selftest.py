"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Run from the root of a checkout (about five minutes on 4 cores). It checks
that:
  * every workload prints every end-to-end metric (``--trace 0``) and every
    per-layer metric (``--trace 1``) of BENCHMARK.json, with its unit, and
    passes its output checks;
  * a perturbed rank vector and a dropped edge fail their checks and are
    counted as failed ops;
  * in a directory holding only BENCHMARK.json and perfbench/, the benchmark
    exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
RUN = [sys.executable, "perfbench/run.py"]


def run(workload: str, trace: int, fault: str = "none", cwd: Path = ROOT):
    cmd = RUN + [
        "--workload", workload, "--seed", "11", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny", "--fault", fault,
    ]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures: list[str] = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(wl, trace)
            expect(code == 0 and res is not None, f"{wl} trace={trace} exits 0 with a result", failures)
            if res is None:
                sys.stderr.write(err[-3000:])
                continue
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                   f"{wl} trace={trace} result keys", failures)
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{wl} trace={trace} checks pass ({res['attempted']} ops)", failures)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace} prints every {key} metric with its unit", failures)
            expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                   f"{wl} trace={trace} metric values are numbers", failures)

    for wl, fault in (("pages-to-ranks", "edge"), ("graph-ops", "rank")):
        code, res, _ = run(wl, 0, fault)
        expect(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{wl} with a {fault} fault fails its check and counts a failed op "
               f"({res and res['failed']} failed)", failures)

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    code, res, _ = run("pages-to-ranks", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "without the engine: non-zero exit, no result", failures)

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
