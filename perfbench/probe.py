"""Measurement from outside the engine: layer calls, spans, Spark job
counts, catalog I/O and process-tree RSS.

Nothing here imports the engine. Every number comes from timing a call into
a layer's public function or from public Spark state
(``SparkContext.setJobGroup`` + ``statusTracker()``), so the benchmark
measures whatever the checked-out engine does without touching it.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# the package's modules, which are the benchmark's layers
LAYERS = (
    "session",
    "sources",
    "functions.extract",
    "operators.graph",
    "operators.pagerank",
    "operators.components",
    "operators.labelprop",
    "operators.triangles",
    "plans.catalog",
)


@dataclass
class Call:
    """One call into a layer. ``wall_s`` is always measured; the Spark
    counts are filled only when the probe traces."""

    layer: str
    label: str
    start: float = 0.0
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Probe:
    """Times layer calls. With ``traced`` on it also keeps a span per call
    (name, start, end, parent, run id) and tags the call's Spark jobs with a
    job group, so job/task counts are read per call from the status
    tracker. ``bookkeeping_s`` is the driver time the tracing itself took."""

    sc: object = None
    traced: bool = False
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Call] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def call(self, layer: str, label: str = ""):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        c = Call(layer, label or layer)
        if not self.traced:
            c.start = time.perf_counter()
            try:
                yield c
            finally:
                c.end = time.perf_counter()
            return
        t0 = time.perf_counter()
        c.parent = self._stack[-1] if self._stack else None
        self.spans.append(c)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        # no SparkContext yet while the session layer itself is starting
        tag = self.sc is not None
        if tag:
            self._set_group(idx)
        self.bookkeeping_s += time.perf_counter() - t0
        c.start = time.perf_counter()
        try:
            yield c
        finally:
            c.end = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            if tag:
                self._set_group(self._stack[-1] if self._stack else None)
                self._count_jobs(self._group(idx), c)
            self.bookkeeping_s += time.perf_counter() - t1

    def _group(self, idx: int) -> str:
        return f"{self.run_id}-{idx}"

    def _set_group(self, idx: int | None) -> None:
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            return
        c = self.spans[idx]
        self.sc.setJobGroup(self._group(idx), f"{c.layer}:{c.label}", False)

    def _count_jobs(self, group: str, c: Call) -> None:
        """Job, completed-task and failed-task counts of one job group.
        Job-end events reach the status store asynchronously, so wait
        (briefly) until no job of the group is still reported running."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + 2.0
        while True:
            ids = list(st.getJobIdsForGroup(group))
            infos = [st.getJobInfo(j) for j in ids]
            running = [i for i in infos if i is not None and i.status == "RUNNING"]
            if not running or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        c.jobs = len(ids)
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    c.tasks += si.numCompletedTasks
                    c.failed_tasks += si.numFailedTasks

    def calls(self, layer: str, since: int = 0) -> list[Call]:
        return [c for c in self.spans[since:] if c.layer == layer]

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans
        cover (children of one span run one after another)."""
        out = {layer: 0.0 for layer in LAYERS}
        child_s = [0.0] * len(self.spans)
        for c in self.spans[since:]:
            if c.parent is not None:
                child_s[c.parent] += c.wall_s
        for i, c in enumerate(self.spans[since:], start=since):
            out[c.layer] += max(0.0, c.wall_s - child_s[i])
        return out

    def coverage(self, start: float, end: float, since: int = 0) -> float:
        """Share of [start, end] covered by top-level spans."""
        top = sorted(
            (c.start, c.end) for c in self.spans[since:] if c.parent is None
        )
        covered, cur = 0.0, start
        for s, e in top:
            s, e = max(s, cur), min(e, end)
            if e > s:
                covered += e - s
                cur = e
        return covered / (end - start) if end > start else 0.0

    def dump(self) -> list[dict]:
        return [
            {
                "run_id": self.run_id,
                "id": i,
                "name": f"{c.layer}:{c.label}",
                "start": c.start,
                "end": c.end,
                "parent": c.parent,
                "jobs": c.jobs,
                "tasks": c.tasks,
                "failed_tasks": c.failed_tasks,
            }
            for i, c in enumerate(self.spans)
        ]


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class TimedCatalog:
    """Stands in for ``plans.catalog.Catalog`` as PageRank's ``checkpoint=``
    and ``resume_pagerank``'s catalog: times ``overwrite`` and ``read`` as
    ``plans.catalog`` calls and counts the bytes each overwrite adds.
    Everything else is forwarded unchanged."""

    def __init__(self, catalog, probe: Probe):
        self._catalog = catalog
        self._probe = probe
        self.overwrites = 0
        self.overwrite_s = 0.0
        self.bytes_written = 0
        self.read_s = 0.0

    def overwrite(self, table, df, *args, **kwargs):
        with self._probe.call("plans.catalog", "overwrite") as c:
            snap = self._catalog.overwrite(table, df, *args, **kwargs)
        self.overwrites += 1
        self.overwrite_s += c.wall_s
        t0 = time.perf_counter()
        self.bytes_written += _dir_bytes(self._catalog.root / table / f"snap-{snap:06d}")
        self._probe.bookkeeping_s += time.perf_counter() - t0
        return snap

    def read(self, *args, **kwargs):
        with self._probe.call("plans.catalog", "read") as c:
            df = self._catalog.read(*args, **kwargs)
        self.read_s += c.wall_s
        return df

    def __getattr__(self, name):
        return getattr(self._catalog, name)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


class RssSampler:
    """One thread that samples the RSS of this process (the Spark driver),
    the JVM and the Python workers (every other descendant) every
    ``interval`` seconds and keeps the peaks, in MB. The process tree is
    re-read every ``rescan`` samples; workers are reused, so they live long
    enough to be seen."""

    def __init__(self, interval: float = 0.1, rescan: int = 10):
        self.interval = interval
        self.rescan = rescan
        self.jvm_pid: int | None = None
        self.peak_total_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_workers_mb = 0.0
        self._desc: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _descendants(self) -> list[int]:
        kids = _children_map()
        desc, todo = [], list(kids.get(os.getpid(), []))
        while todo:
            p = todo.pop()
            desc.append(p)
            todo.extend(kids.get(p, []))
        return desc

    def _sample(self, n: int) -> None:
        if n % self.rescan == 0:
            self._desc = self._descendants()
        jvm = _rss_kb(self.jvm_pid) if self.jvm_pid in self._desc else 0
        workers = sum(_rss_kb(p) for p in self._desc if p != self.jvm_pid)
        total = _rss_kb(os.getpid()) + jvm + workers
        self.peak_total_mb = max(self.peak_total_mb, total / 1024)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm / 1024)
        self.peak_workers_mb = max(self.peak_workers_mb, workers / 1024)

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            self._sample(n)
            n += 1
            self._stop.wait(self.interval)
        self._sample(0)
