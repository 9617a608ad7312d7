"""One run of one benchmark workload, in a process of its own.

``run.py`` starts this file with a private TMPDIR, SPARK_LOCAL_DIRS and
working directory; see ``perfbench/README.md`` for the workloads and the
metrics. The last line of stdout is the result object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zipfile
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import oracle  # noqa: E402
from probe import LAYERS, Probe, RssSampler, TimedCatalog  # noqa: E402

EPS = 1e-6
SETUP_REPS = 3  # input set-ups per run; setup_s takes their median
SHAPE_SEED = 42  # the generators' seed; --seed varies the input's layout

SIZES = {
    "pages-to-ranks": {
        "full": {"pages": 4_000, "deg": 18},
        "tiny": {"pages": 300, "deg": 6},
    },
    "graph-ops": {
        "full": {"vertices": 1_000, "edges": 4_000, "lpa_rounds": 2, "ckpt_iters": 2},
        "tiny": {"vertices": 400, "edges": 1_600, "lpa_rounds": 2, "ckpt_iters": 2},
    },
}

# the engine's SQL defaults, recorded as users get them
SQL_CONF = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
)

E2E_UNITS = {
    "setup_s": "s",
    "pipeline_s": "s",
    "time_to_ranks_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.rows": "count",
    "extract.wall_s": "s",
    "extract.pages_per_s": "pages/s",
    "extract.links": "count",
    "extract.tasks": "count",
    "graph.encode_vertices_s": "s",
    "graph.encode_edges_s": "s",
    "graph.vertices": "count",
    "graph.edges": "count",
    "graph.tasks": "count",
    "pagerank.prep_s": "s",
    "pagerank.blocks_s": "s",
    "pagerank.conv_s": "s",
    "pagerank.iterations": "count",
    "pagerank.iter1_s": "s",
    "pagerank.iter_s_median": "s",
    "pagerank.edges_per_s_iter": "edges/s",
    "pagerank.jobs": "count",
    "pagerank.tasks": "count",
    "pagerank.tasks_per_iter": "count",
    "pagerank.failed_tasks": "count",
    "pagerank.block_alignment": "ratio",
    "pagerank.kernel_csr_block": "bool",
    "pagerank.max_abs_err": "rank",
    "components.wall_s": "s",
    "components.rounds": "count",
    "components.tasks": "count",
    "labelprop.wall_s": "s",
    "labelprop.tasks": "count",
    "triangles.wall_s": "s",
    "triangles.total": "count",
    "triangles.tasks": "count",
    "catalog.overwrites": "count",
    "catalog.overwrite_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.read_s": "s",
    "rss.jvm_peak_mb": "MB",
    "rss.workers_peak_mb": "MB",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.coverage": "ratio",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


class Ops:
    """Attempted and failed layer calls. An op fails if it raises or its
    output check fails."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}")
        return ok

    def run(self, planned: list[str], body) -> None:
        """Run ``body``; if it raises, the op that raised and every planned
        op after it count as failed."""
        before = self.attempted
        try:
            body()
        except Exception as e:  # a failed op is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            for name in planned[self.attempted - before:]:
                self.record(name, False, f"raised or not reached: {e!r}")


def check_ranks(res, ranks_pdf, orc: dict, prefix: str, kernel: str):
    """Ranks against the oracle: same vertices, same stopping iteration,
    ranks allclose (rtol 1e-6), rank sum within 1e-9 of 1, expected kernel.
    Returns (ok, detail, max_abs_err)."""
    ids = ranks_pdf["vertex_id"].to_numpy()
    order = np.argsort(ids)
    ids, r = ids[order], ranks_pdf["rank"].to_numpy()[order]
    want_ids, want = orc[f"{prefix}.ids"], orc[f"{prefix}.ranks"]
    if res.kernel != kernel:
        return False, f"kernel {res.kernel} != {kernel}", float("inf")
    if len(ids) != len(want_ids) or not np.array_equal(ids, want_ids):
        return False, f"{len(ids)} ranked vertices != {len(want_ids)}", float("inf")
    err = float(np.abs(r - want).max())
    n_it = len(orc[f"{prefix}.deltas"])
    if res.iterations != n_it:
        return False, f"{res.iterations} iterations != oracle {n_it}", err
    if not np.allclose(r, want, rtol=1e-6, atol=0.0):
        return False, f"ranks differ from oracle (max abs err {err:.3g})", err
    total = float(r.sum())
    if abs(total - 1.0) > 1e-9:
        return False, f"rank sum {total!r}", err
    return True, "", err


def pr_stats(res, n_edges: int) -> dict:
    """Loop numbers of one PageRank result: iteration 1 is the cold one,
    the steady iteration is the median of the rest."""
    iters = [m["elapsed_s"] for m in res.metrics]
    steady = statistics.median(iters[1:] or iters)
    return {
        "iters": iters,
        "steady": steady,
        "edges_per_s_iter": n_edges / steady,
    }


def apply_fault(fault: str, what: str, obj):
    """Self-test hook: corrupt an engine output so its check must fail."""
    if fault == "rank" and what == "ranks":
        obj = obj.copy()
        obj.loc[obj.index[0], "rank"] *= 1.001
    elif fault == "edge" and what == "edges":
        first = obj.limit(1).collect()[0]
        obj = obj.filter(
            (obj.src_id != first["src_id"]) | (obj.dst_id != first["dst_id"])
        ).persist()
        obj.count()
    return obj


class Workload:
    """Set-up (``make_input``: rows materialized, rows generated), oracle
    and one repetition (``rep``) of a workload. ``rep`` returns its
    end-to-end numbers and per-layer numbers."""

    def __init__(self, spark, probe: Probe, ops: Ops, size: dict, seed: int, dirs: dict, fault: str):
        self.spark, self.probe, self.ops = spark, probe, ops
        self.size, self.seed, self.dirs, self.fault = size, seed, dirs, fault
        self.input = None

    def drop_input(self) -> None:
        if self.input is not None:
            self.input.unpersist()
            self.input = None

    def _edges_df(self, src: np.ndarray, dst: np.ndarray):
        import pandas as pd

        pdf = pd.DataFrame({"src_id": src, "dst_id": dst})
        df = self.spark.createDataFrame(pdf, "src_id long, dst_id long").persist()
        df.count()
        return df


class PagesToRanks(Workload):
    planned = ["extract", "encode_vertices", "encode_edges", "pagerank"]

    def make_input(self, rep: int) -> tuple[int, int]:
        from ps_pagerank_spark.sources.pages import synth_pages_distributed

        from pyspark.sql import functions as F

        n, deg = self.size["pages"], self.size["deg"]
        path = str(self.dirs["data"] / f"pages-{rep}")
        # the seed orders the table: each seed lays the same pages out
        # differently over files and tasks, so the link graph, and with it
        # the PageRank iteration count, does not vary with the seed
        synth_pages_distributed(self.spark, n, deg, SHAPE_SEED).orderBy(
            F.xxhash64("url", F.lit(self.seed))
        ).write.mode("overwrite").parquet(path)
        self.input = self.spark.read.parquet(path)
        return self.input.count(), n

    def drop_input(self) -> None:
        self.input = None

    def oracle(self) -> dict:
        from ps_pagerank_spark.sources.pages import synth_edges_distributed, url_of

        n, deg = self.size["pages"], self.size["deg"]
        links = (
            synth_edges_distributed(self.spark, n, deg, SHAPE_SEED)
            .select("v", "dst_v")
            .distinct()
            .toPandas()
        )
        v, dv = links["v"].to_numpy(), links["dst_v"].to_numpy()
        pages = np.unique(np.concatenate([v, dv]))
        # the encoder numbers vertices densely in url order
        vid = np.empty(len(pages), dtype=np.int64)
        vid[np.argsort(np.array([url_of(int(p)) for p in pages]))] = np.arange(len(pages))
        src = vid[np.searchsorted(pages, v)]
        dst = vid[np.searchsorted(pages, dv)]
        return {
            "n_links": np.array(len(links)),
            "n_vertices": np.array(len(pages)),
            **oracle.prefixed("pr", oracle.pagerank(src, dst, EPS)),
        }

    def rep(self, tag: str, orc: dict) -> dict:
        from ps_pagerank_spark.functions.extract import extract_links, normalize_links
        from ps_pagerank_spark.operators.graph import (
            encode_edges,
            encode_vertices,
            vertices_from_links,
        )
        from ps_pagerank_spark.operators.pagerank import pagerank

        out: dict = {}
        held = []
        n_links = int(orc["n_links"])

        def body():
            t0 = time.perf_counter()
            with self.probe.call("functions.extract") as c:
                links = normalize_links(extract_links(self.input)).persist()
                held.append(links)
                n = links.count()
            out.update({"extract.wall_s": c.wall_s, "extract.links": n,
                        "extract.pages_per_s": self.size["pages"] / c.wall_s})
            self.ops.record("extract", n == n_links, f"{n} links != {n_links}")
            with self.probe.call("operators.graph", "encode_vertices") as c:
                verts = encode_vertices(vertices_from_links(links), mode="zip").persist()
                held.append(verts)
                nv = verts.count()
            out.update({"graph.encode_vertices_s": c.wall_s, "graph.vertices": nv})
            want_v = int(orc["n_vertices"])
            self.ops.record("encode_vertices", nv == want_v, f"{nv} != {want_v}")
            with self.probe.call("operators.graph", "encode_edges") as c:
                edges = encode_edges(links, verts).persist()
                held.append(edges)
                edges = apply_fault(self.fault, "edges", edges)
                held.append(edges)
                ne = edges.count()
            out.update({"graph.encode_edges_s": c.wall_s, "graph.edges": ne})
            self.ops.record("encode_edges", ne == n_links, f"{ne} edges != {n_links}")
            t1 = time.perf_counter()
            with self.probe.call("operators.pagerank") as c:
                res = pagerank(self.spark, edges, eps=EPS, dangling_mode="redistribute")
                ranks = res.ranks.toPandas()
            t2 = time.perf_counter()
            ranks = apply_fault(self.fault, "ranks", ranks)
            ok, detail, err = check_ranks(res, ranks, orc, "pr", "join")
            self.ops.record("pagerank", ok, detail)
            st = pr_stats(res, ne)
            out.update(
                pipeline_s=t2 - t0,
                time_to_ranks_s=t2 - t1,
                **pagerank_layer([res], st, err),
            )

        try:
            self.ops.run(self.planned, body)
        finally:
            for df in held:
                df.unpersist()
        return out


class GraphOps(Workload):
    planned = ["components", "labelprop", "triangles", "pagerank_checkpointed", "pagerank_resume"]

    def _graph(self) -> tuple[np.ndarray, np.ndarray]:
        from ps_pagerank_spark.sources.pages import synth_powerlaw_edges

        n = self.size["vertices"]
        e = synth_powerlaw_edges(n, self.size["edges"], seed=SHAPE_SEED)
        # the seed relabels the vertices with an order-preserving map onto
        # ids spread over [0, 4n): every seed hashes and partitions
        # differently, while min-label CC, LPA's tie-break and PageRank do
        # the same work, so round and iteration counts do not vary with it
        ids = np.sort(np.random.default_rng(self.seed).choice(4 * n, n, replace=False))
        pairs = np.unique(ids[e], axis=0)
        return pairs[:, 0], pairs[:, 1]

    def make_input(self, rep: int) -> tuple[int, int]:
        src, dst = self._graph()
        self.input = self._edges_df(src, dst)
        return self.input.count(), len(src)

    def oracle(self) -> dict:
        src, dst = self._graph()
        return {
            "n_edges": np.array(len(src)),
            **oracle.prefixed("pr", oracle.pagerank(src, dst, EPS)),
            **oracle.prefixed("cc", oracle.components(src, dst)),
            **oracle.prefixed("lpa", oracle.label_propagation(src, dst, self.size["lpa_rounds"])),
            **oracle.prefixed("tri", oracle.triangles(src, dst)),
        }

    def _exact(self, name: str, pdf, id_col: str, val_col: str, orc: dict, prefix: str, key: str) -> bool:
        pdf = pdf.sort_values(id_col)
        ids, vals = pdf[id_col].to_numpy(), pdf[val_col].to_numpy()
        want_ids, want = orc[f"{prefix}.ids"], orc[f"{prefix}.{key}"]
        ok = np.array_equal(ids, want_ids) and np.array_equal(vals, want)
        bad = int((vals != want).sum()) if len(vals) == len(want) else -1
        return self.ops.record(name, ok, f"{bad} of {len(want)} vertices differ")

    def rep(self, tag: str, orc: dict) -> dict:
        from ps_pagerank_spark.operators.components import connected_components
        from ps_pagerank_spark.operators.labelprop import label_propagation
        from ps_pagerank_spark.operators.pagerank import pagerank, resume_pagerank
        from ps_pagerank_spark.operators.triangles import triangle_counts
        from ps_pagerank_spark.plans.catalog import Catalog

        out: dict = {}
        root = self.dirs["data"] / f"catalog-{tag}"
        k = self.size["ckpt_iters"]
        edges = self.input

        def body():
            t0 = time.perf_counter()
            with self.probe.call("operators.components") as c:
                cc = connected_components(self.spark, edges)
                comp = cc.components.toPandas()
            out.update({"components.wall_s": c.wall_s, "components.rounds": cc.rounds})
            self._exact("components", comp, "vertex_id", "component", orc, "cc", "labels")
            with self.probe.call("operators.labelprop") as c:
                lab = label_propagation(self.spark, edges, iterations=self.size["lpa_rounds"]).toPandas()
            out["labelprop.wall_s"] = c.wall_s
            self._exact("labelprop", lab, "vertex_id", "label", orc, "lpa", "labels")
            with self.probe.call("operators.triangles") as c:
                tri = triangle_counts(self.spark, edges).toPandas()
            out.update({"triangles.wall_s": c.wall_s, "triangles.total": int(tri["triangles"].sum()) // 3})
            self._exact("triangles", tri, "vertex_id", "triangles", orc, "tri", "counts")

            cat = Catalog(str(root))
            if self.probe.traced:
                cat = TimedCatalog(cat, self.probe)
            t1 = time.perf_counter()
            with self.probe.call("operators.pagerank", "checkpointed"):
                r1 = pagerank(
                    self.spark, edges, eps=EPS, dangling_mode="redistribute",
                    checkpoint=cat, checkpoint_every=1, max_iter=k,
                )
            snaps = len(cat.snapshots("pagerank_ranks"))
            self.ops.record(
                "pagerank_checkpointed",
                r1.iterations == k and not r1.converged and snaps == k and r1.kernel == "join",
                f"{r1.iterations} iterations, {snaps} snapshots, kernel {r1.kernel}",
            )
            with self.probe.call("operators.pagerank", "resume"):
                r2 = resume_pagerank(self.spark, edges, cat, eps=EPS, dangling_mode="redistribute")
                ranks = r2.ranks.toPandas()
            t2 = time.perf_counter()
            ranks = apply_fault(self.fault, "ranks", ranks)
            ok, detail, err = check_ranks(r2, ranks, orc, "pr", "join")
            self.ops.record("pagerank_resume", ok, detail)
            st = pr_stats(r2, int(orc["n_edges"]))
            out.update(
                pipeline_s=t2 - t0,
                time_to_ranks_s=t2 - t1,
                **pagerank_layer([r1, r2], st, err),
            )
            if isinstance(cat, TimedCatalog):
                out.update({
                    "catalog.overwrites": cat.overwrites,
                    "catalog.overwrite_s": cat.overwrite_s,
                    "catalog.bytes_written": cat.bytes_written,
                    "catalog.read_s": cat.read_s,
                })

        try:
            self.ops.run(self.planned, body)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return out


def pagerank_layer(results: list, st: dict, err: float) -> dict:
    """PageRank numbers read from public ``PageRankResult`` fields."""
    ph = [r.phases for r in results]
    last = results[-1]
    return {
        "pagerank.prep_s": sum(p.get("prep_s", 0.0) for p in ph),
        "pagerank.blocks_s": sum(p.get("blocks_s", 0.0) for p in ph),
        "pagerank.conv_s": sum(p.get("conv_s", 0.0) for p in ph),
        "pagerank.iterations": last.iterations,
        "pagerank.iter1_s": st["iters"][0],
        "pagerank.iter_s_median": st["steady"],
        "pagerank.edges_per_s_iter": st["edges_per_s_iter"],
        "pagerank.block_alignment": ph[-1].get("block_alignment", 0.0),
        "pagerank.kernel_csr_block": int(last.kernel == "csr_block"),
        "pagerank.max_abs_err": err,
        "pagerank.iter_times_s": st["iters"],
    }


WORKLOADS = {
    "pages-to-ranks": PagesToRanks,
    "graph-ops": GraphOps,
}

# task-count metric -> the layer whose calls it sums
TASK_METRICS = {
    "extract.tasks": "functions.extract",
    "graph.tasks": "operators.graph",
    "components.tasks": "operators.components",
    "labelprop.tasks": "operators.labelprop",
    "triangles.tasks": "operators.triangles",
}


def span_metrics(probe: Probe, since: int, start: float, end: float, out: dict) -> None:
    """Per-layer Spark counts and self times of one traced repetition."""
    for metric, layer in TASK_METRICS.items():
        out[metric] = sum(c.tasks for c in probe.calls(layer, since))
    prs = probe.calls("operators.pagerank", since)
    out["pagerank.jobs"] = sum(c.jobs for c in prs)
    out["pagerank.tasks"] = sum(c.tasks for c in prs)
    out["pagerank.failed_tasks"] = sum(c.failed_tasks for c in prs)
    if out.get("pagerank.iterations"):
        out["pagerank.tasks_per_iter"] = out["pagerank.tasks"] / out["pagerank.iterations"]
    for layer, s in probe.self_times(since).items():
        out[f"self.{layer}_s"] = s
    out["trace.coverage"] = probe.coverage(start, end, since)


# ---------------------------------------------------------------- code check

def _hash_tree(items) -> str:
    h = hashlib.sha256()
    for name, data in sorted(items):
        h.update(name.encode())
        h.update(b"\0")
        h.update(data)
    return h.hexdigest()


def source_hash(pkg_dir: Path) -> str:
    return _hash_tree(
        (f"ps_pagerank_spark/{p.relative_to(pkg_dir).as_posix()}", p.read_bytes())
        for p in pkg_dir.rglob("*.py")
    )


def zip_hash(path: str) -> str:
    with zipfile.ZipFile(path) as zf:
        return _hash_tree(
            (n, zf.read(n))
            for n in zf.namelist()
            if n.startswith("ps_pagerank_spark/") and n.endswith(".py")
        )


def _worker_hash(_):
    """Runs on a Python worker: hash the engine source the worker imports."""
    import ps_pagerank_spark as pkg

    archive = getattr(pkg.__spec__.loader, "archive", None)
    if archive:
        yield archive, zip_hash(archive)
    else:
        yield str(Path(pkg.__file__).parent), source_hash(Path(pkg.__file__).parent)


def check_code(spark, root: Path) -> dict:
    """The driver's sources, the zip shipped to workers and what the
    workers import must be the same bytes; a mismatch aborts the run."""
    import tempfile

    src = source_hash(root / "ps_pagerank_spark")
    shipped = Path(tempfile.gettempdir()) / "ps_pagerank_spark_pyfiles.zip"
    zh = zip_hash(str(shipped))
    seen = set(
        spark.sparkContext.parallelize([0], 1)
        .mapPartitions(_worker_hash)
        .collect()
    )
    workers = {h for _, h in seen}
    if {zh} | workers != {src}:
        raise RuntimeError(
            f"stale engine code: source {src[:12]}, shipped zip {zh[:12]}, "
            f"workers {sorted(seen)}"
        )
    return {"source_sha256": src, "zip_sha256": zh, "worker_paths": sorted(p for p, _ in seen)}


# ---------------------------------------------------------------- main

def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def history(state: Path, key: str, value: float | None) -> list[float]:
    """Pipeline walls of earlier untraced runs of this workload and size;
    an untraced run appends its own."""
    path = state / "history" / f"{key}.jsonl"
    if value is not None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("a") as f:
            f.write(json.dumps({"pipeline_s": value}) + "\n")
    if not path.exists():
        return []
    return [json.loads(x)["pipeline_s"] for x in path.read_text().splitlines()[-20:]]


def median_of(reps: list[dict], key: str) -> float:
    vals = [r[key] for r in reps if key in r]
    return float(statistics.median(vals)) if vals else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--fault", choices=("none", "rank", "edge"), default="none")
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()

    root, run_dir = Path(args.root), Path(args.run_dir)
    state = root / ".perfbench"
    sys.path.insert(0, str(root))
    nproc = len(os.sched_getaffinity(0))
    dirs = {"data": run_dir / "data"}
    dirs["data"].mkdir(parents=True, exist_ok=True)
    traced = bool(args.trace)
    probe = Probe(traced=traced)
    ops = Ops()
    t_run0 = time.perf_counter()

    with RssSampler() as rss:
        with probe.call("session") as c_session:
            from ps_pagerank_spark import get_spark

            spark = get_spark(
                master=f"local[{nproc}]",
                app_name=f"perfbench-{args.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                    ),
                },
            )
        ops.record("session", True)
        try:
            probe.sc = spark.sparkContext
            rss.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            t0 = time.perf_counter()
            code = check_code(spark, root)
            code["check_s"] = time.perf_counter() - t0
            conf = {
                **dict(spark.sparkContext.getConf().getAll()),
                **{k: spark.conf.get(k) for k in SQL_CONF},
            }
            size = SIZES[args.workload][args.size]
            # caches are keyed by the size parameters and by the engine's and
            # the benchmark's sources, so no change can meet a stale entry
            bench = _hash_tree((p.name, p.read_bytes()) for p in HERE.glob("*.py"))
            digest = hashlib.sha256((code["source_sha256"] + bench).encode()).hexdigest()
            shape = "-".join(f"{k}{v}" for k, v in sorted(size.items())) + f"-{digest[:12]}"
            wl = WORKLOADS[args.workload](spark, probe, ops, size, args.seed, dirs, args.fault)

            setup_walls, rows = [], 0
            for r in range(SETUP_REPS):
                wl.drop_input()
                with probe.call("sources", f"input-{r}") as c:
                    rows, want = wl.make_input(r)
                setup_walls.append(c.wall_s)
                ops.record("sources", rows == want, f"{rows} input rows != {want}")
            key = f"{args.workload}-{shape}-{args.seed}.npz"
            # computing the oracle is not set-up; loading the cached one is
            t0 = time.perf_counter()
            oracle.cached(state / "oracle" / key, wl.oracle)
            oracle_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            orc = oracle.cached(state / "oracle" / key, wl.oracle)
            oracle_load_s = time.perf_counter() - t0
            setup_s = c_session.wall_s + statistics.median(setup_walls) + oracle_load_s

            reps, t_window = [], time.perf_counter()
            while True:
                since, t_rep0 = len(probe.spans), time.perf_counter()
                out = wl.rep(str(len(reps)), orc)
                if traced:
                    span_metrics(probe, since, t_rep0, time.perf_counter(), out)
                reps.append(out)
                if time.perf_counter() - t_window >= args.seconds:
                    break
        finally:
            spark.stop()
    run_wall = time.perf_counter() - t_run0

    e2e = {
        "setup_s": setup_s,
        "pipeline_s": median_of(reps, "pipeline_s"),
        "time_to_ranks_s": median_of(reps, "time_to_ranks_s"),
        "peak_rss_mb": rss.peak_total_mb,
    }
    if traced:
        prior = history(state, f"{args.workload}-{shape}", None)
        values = {m: median_of(reps, m) for m in LAYER_UNITS}
        values.update({
            "session.start_s": c_session.wall_s,
            "sources.generate_s": statistics.median(setup_walls),
            "sources.rows": rows,
            "rss.jvm_peak_mb": rss.peak_jvm_mb,
            "rss.workers_peak_mb": rss.peak_workers_mb,
            "trace.bookkeeping_s": probe.bookkeeping_s / len(reps),
            # traced minus untraced pipeline wall; with no untraced run on
            # record yet, the tracing's own measured driver time
            "trace.overhead_s": (
                e2e["pipeline_s"] - statistics.median(prior)
                if prior else probe.bookkeeping_s / len(reps)
            ),
        })
        metrics = {m: {"value": values[m], "unit": u} for m, u in LAYER_UNITS.items()}
        trace_dir = state / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{args.workload}-{shape}-{args.seed}-{probe.run_id}.json").write_text(
            json.dumps(probe.dump())
        )
    else:
        if ops.failures == [] and args.fault == "none":
            history(state, f"{args.workload}-{shape}", e2e["pipeline_s"])
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in E2E_UNITS.items()}

    info = {
        "workload": args.workload,
        "size": args.size,
        "seed": args.seed,
        "traced": traced,
        "reps": len(reps),
        "setup_walls_s": setup_walls,
        "oracle_s": oracle_s,
        "oracle_load_s": oracle_load_s,
        "run_wall_s": run_wall,
        "per_rep": reps,
        "op_failure_rate": len(ops.failures) / ops.attempted,
        "failures": ops.failures,
        "nproc": nproc,
        "ram_bytes": ram_bytes(),
        "code": code,
        "conf": conf,
    }
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": not ops.failures,
        "attempted": ops.attempted,
        "failed": len(ops.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
