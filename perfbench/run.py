"""The link-graph benchmark: one command per workload run.

    python3 perfbench/run.py --workload pages-to-ranks --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It starts ``perfbench/workload.py`` in
a new session with a private TMPDIR, SPARK_LOCAL_DIRS and working
directory under ``.perfbench/runs/``, so the engine ships a fresh package
zip built from this checkout's sources to its Python workers. The session
is sized for the machine from outside the engine: ``local[<cpus>]``, a
2g driver heap instead of the engine's 48g default, console progress bars
off.

Stdout ends with one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The line before it carries the run's record:
effective conf, CPUs, RAM, code hashes, per-repetition numbers and the
reason of every failed op. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("pages-to-ranks", "graph-ops")
CHILD_TIMEOUT_S = 160  # leaves time to stop the session within 180 s
# ample for the inputs and small next to the RAM of a 4-core, 15 GiB
# machine; the engine's own default (48g) assumes a 128 GiB one
DRIVER_HEAP = "2g"


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the command name: state, ppid, pgrp, session, ...
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the child and everything it
    started: the JVM and the Python workers, which set their own process
    group but stay in the session)."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(d)
            if st and st[0] != "Z" and int(st[3]) == sid:
                out.append(int(d))
    return out


def stop_session(sid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for the session's processes to exit, then
    kill what is left and wait for it."""
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid in session_pids(sid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + (grace_s if sig is None else 10.0)
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not session_pids(sid):
            return
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input sizes")
    ap.add_argument("--fault", choices=("none", "rank", "edge"), default="none",
                    help="self-test: corrupt an engine output before its check")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "ps_pagerank_spark" / "__init__.py").is_file():
        print(f"no ps_pagerank_spark package under {root}", file=sys.stderr)
        return 2
    run_dir = root / ".perfbench" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True)
    env = {
        **os.environ,
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONUNBUFFERED": "1",
    }
    cmd = [
        sys.executable, str(HERE / "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--fault", args.fault,
        "--root", str(root), "--run-dir", str(run_dir),
    ]
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workload run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        stop_session(proc.pid, 0.0)
        proc.wait()
        return 3
    finally:
        stop_session(proc.pid, 15.0)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"workload run failed with exit code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
