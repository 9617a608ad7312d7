"""Power-method PageRank as DataFrame joins/aggregations.

Semantics contract (SURVEY.md §2.8, from the reference):
  * d = 0.85, R0[i] = 1/N (c-single-threaded/pagerank.c:18-19,194,204-206)
  * R_{t+1}[i] = (1−d)/N + d · Σ_{j: j→i} R_t[j]/L[j]   (pagerank.c:219-287)
  * stop when ‖R_{t+1} − R_t‖₂ ≤ ε, at least one iteration (do-while,
    pagerank.c:208-296)
  * dangling_mode="none" reproduces the reference exactly (rows with L=0
    contribute nothing; Σranks < 1, pagerank.c:359-368);
    dangling_mode="redistribute" (the north-star default for real runs)
    adds d·(Σ_{dangling} R_t)/N to every vertex so Σranks = 1.

Execution design (scale-first):
  * SpMV = join + aggregate (SURVEY.md §2.3): gather = equi-join of ranks
    to weighted edges on src_id; scatter = groupBy(dst_id).sum — Spark's
    hash aggregate does map-side partial sums (the OpenMP chunk-accumulator
    pattern, openmp/pagerank.c:341-394) and shuffle-merge (the atomics,
    opencl/kernel_coo.cl:37-60) automatically.
  * Prep is one shared pass: a single vertex aggregate, vstats(vertex_id,
    deg, h), explodes each edge into its endpoints and yields the vertex
    universe, out-degrees, dangling flags, |E| and the content
    fingerprint for both kernels (one scalar agg reads them off). State0
    is a projection of it; the join kernel's weighted edges are
    edges ⋈ vstats(deg > 0) with w = 1/deg, hash-repartitioned on src_id
    and persisted — the iteration-invariant side of the join never
    reshuffles. csr_block builds no weighted edges at all (see below).
  * Lineage is truncated every iteration with localCheckpoint — the Spark
    analog of the reference's two-buffer pointer swap (pagerank.c:211-213).
  * One scalar action per iteration returns (‖Δ‖², Σrank, next dangling
    mass) fused, mirroring the fused SpMV+norm GPU kernel
    (opencl/kernel_csr.cl:24-36).
  * Skew: sources with out-degree > hub_threshold are split out of the
    shuffle join and handled by a broadcast join of their (few) rank rows —
    the role of the reference's hybrid ELL+COO split (README.md:80-88).
  * kernel="csr_block": per-bucket CSR gather-scatter in a vectorized
    Arrow UDF with a one-time edge "upload" — the Spark analog of the
    reference keeping the CSR matrix resident in device memory across
    iterations (opencl/pagerank.c:456-531 uploads buffers once, then loops).
    Setup partitions the raw edges by pkey = pmod(hash(src_id), P) and
    writes one pre-digested CSR block per bucket to a block store
    (np.save: sorted unique srcs, their 1/L weights counted in the bucket,
    int32 gather indices, dst-run boundaries for np.add.reduceat). Per
    iteration ONLY the rank state (V rows) crosses JVM→Python: state is
    hash-partitioned on vertex_id with the same P, and
    pmod(hash(v), P) IS the physical partition id, so each mapInArrow task
    holds exactly the ranks its block gathers — no per-iteration edge
    shuffle, no O(V) driver transfer, no broadcast. Blocks are mmap-loaded
    (OS page cache keeps them RAM-hot across iterations). Correctness does
    NOT depend on the alignment: missing ranks gather as 0 and every state
    row is seen exactly once, so per-task partials always SUM to the exact
    contribution (any repartitioning only costs extra block reads). The
    partials leave Python as ≤P packed binary cells per bucket keyed by
    dst range and are summed by a second Arrow stage (dense bincount, sort
    fallback for sparse ids) — never as per-(bucket, dst) JVM rows.
    block_dir must be visible to all executors: a local/shared-FS path
    (mmap fast path) or any pyarrow.fs URI (`hdfs://`, `s3://`, ...) when
    executors don't share a disk — the block store is "device memory".
    Builds write a manifest (run id, P, dtype, per-bucket inventory) that
    every reader validates, so a stale or invisible store fails loudly
    instead of silently corrupting ranks.
"""

from __future__ import annotations

import io
import json
import math
import os
import shutil
import tempfile
import time
import uuid
import warnings
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ps_pagerank_spark.operators.partitioning import partition_scope
from ps_pagerank_spark.session import drop_zip_importers

D_DEFAULT = 0.85
EPS_DEFAULT = 1e-8  # c-single-threaded/pagerank.c:19

# csr_block kernel: disable AQE inside the iteration loop only when the
# rank state carries at least this many rows per partition — below it the
# P fixed tiny tasks cost more than the two removed rank-vector exchanges
# save (measured A/B, BENCH/BASELINE.md §4). The join kernel ignores this
# (its shuffle-bound loop wins with AQE off at every measured size).
LOOP_AQE_MIN_ROWS_PER_PARTITION = 25_000


def _loop_aqe_off(kernel: str, n: int, P: int) -> bool:
    """Should AQE be disabled around the iteration loop? (see the comment
    at the call site in _pagerank_impl for the measured rationale)"""
    return kernel == "join" or n >= LOOP_AQE_MIN_ROWS_PER_PARTITION * P


# blob dense combine: one float64 accumulator slot (plus a bool presence
# flag) per id in a dst range, so one range costs 9 B/slot — at most
# 2**26 slots = 512 MiB acc + 64 MiB mask per combine task. Wider ranges
# (exotic sparse ids) take the sort-based combine instead.
_BLOB_DENSE_MAX = 1 << 26


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vertex_id long, rank double)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # phase timing taxonomy mirroring the reference's READ/PREP/CONV split
    # (c-single-threaded/pagerank.c:318-330): prep_s = vertex/edge/state
    # materialization, blocks_s = csr_block store upload, conv_s = loop
    phases: dict = field(default_factory=dict)
    # the kernel that actually ran (kernel="auto" resolves before the run)
    kernel: str = ""


def _vertex_stats(
    edges: DataFrame, vertices: DataFrame | None, P: int
) -> DataFrame:
    """vstats(vertex_id, deg, h, inu): the one shared pass over the edges
    that every prep question reads (the Layered Aggregate Engine idea:
    many aggregates from one scan). Each edge explodes into its two
    endpoints — the src row carries (1, xxhash64(src_id, dst_id)), the dst
    row (0, 0) — grouped on vertex_id and hash-partitioned on it with P.
    So deg is the out-degree (0 = dangling), and bit_xor(h) over all rows
    is the edge-level content fingerprint.

    inu marks the rank universe: every endpoint by default; with explicit
    ``vertices``, exactly those ids (unioned in with deg 0). deg still
    counts every edge, so Σdeg and the fingerprint cover edges whose
    endpoints fall outside the universe, as the weights do."""
    rows = edges.select(
        F.inline(
            F.array(
                F.struct(
                    F.col("src_id").alias("vertex_id"),
                    F.lit(1).alias("deg"),
                    F.xxhash64("src_id", "dst_id").alias("h"),
                ),
                F.struct(
                    F.col("dst_id").alias("vertex_id"),
                    F.lit(0).alias("deg"),
                    F.lit(0).cast("long").alias("h"),
                ),
            )
        ),
        F.lit(vertices is None).alias("inu"),
    )
    if vertices is not None:
        rows = rows.unionByName(
            vertices.select(
                "vertex_id",
                F.lit(0).alias("deg"),
                F.lit(0).cast("long").alias("h"),
                F.lit(True).alias("inu"),
            )
        )
    return (
        rows.groupBy("vertex_id")
        .agg(
            F.sum("deg").alias("deg"),
            F.bit_xor("h").alias("h"),
            F.max("inu").alias("inu"),
        )
        .repartition(P, "vertex_id")
    )


def _split_hubs(wedges: DataFrame, vstats: DataFrame, hub_threshold: int):
    """Split edges whose SOURCE is a super-emitter out of the shuffle join.

    hub rank rows are few (vertices with out-degree > threshold), so their
    ranks broadcast; everything else takes the normal co-partitioned path.
    """
    hubs = vstats.filter(F.col("deg") > hub_threshold).select(
        F.col("vertex_id").alias("src_id")
    )
    hubs.persist()
    n_hubs = hubs.count()
    if n_hubs == 0:
        hubs.unpersist()
        return wedges, None
    w_hub = wedges.join(F.broadcast(hubs), "src_id").persist()
    w_rest = wedges.join(F.broadcast(hubs), "src_id", "left_anti").persist()
    w_hub.count(), w_rest.count()
    return w_rest, (w_hub, hubs)


def pagerank(spark: SparkSession, edges: DataFrame, **kwargs) -> PageRankResult:
    """Run PageRank over edges(src_id, dst_id) — see _pagerank_impl for the
    full parameter list and semantics (this wrapper forwards everything;
    unknown kwargs still raise TypeError).

    kernel defaults to "auto": the join kernel when the input is PROVABLY
    small (the conservative Catalyst-stats probe partition_scope runs
    for the partition floor), the csr_block kernel otherwise. Measured crossover
    (BENCH/BASELINE.md §4): below the block-store amortization point the
    join kernel wins outright (sf0.1: 0.19 vs 0.36 s/iter, plus csr_block
    pays a 1-3 s store build the short loop never recoups), while at and
    beyond benchmark scale csr_block is the flagship (256M edges local[32]:
    14.9 vs 17.8 s/iter, and zero edge bytes move per iteration — the
    property that holds on a 1000-executor cluster). Unknown-size inputs
    resolve to csr_block: at 100 TB "unknown" is never small.

    P comes from operators.partitioning.partition_scope, the sizing rule
    every graph operator shares: the session's shuffle-partition count,
    floored to ceil(n_edges / LOOP_EDGES_PER_BUCKET) when the input is
    provably tiny (explicit ``num_partitions`` always wins), pinned as
    ``spark.sql.shuffle.partitions`` for the duration of the run and
    restored after, even on failure. The contribs aggregation then lands on hash(dst_id, P), the same partitioning the
    rank state carries, so the per-iteration update join streams BOTH
    sides with no re-exchange of the rank vector. With a mismatched conf
    the planner inserts an extra full Exchange of (vertex_id, rank) every
    iteration (plan-asserted in tests/test_partitioning.py).

    AQE is additionally disabled around the ITERATION LOOP ONLY (see
    _iterate's caller): AQE wraps each iteration's fixed-shape query in
    query stages and re-exchanges the localCheckpoint'd state (its
    LogicalRDD partitioning no longer satisfies the join requirement
    under AQE), adding two rank-vector shuffles per iteration that the
    static planner proves unnecessary. The loop needs none of AQE's
    strengths: its plan is identical every iteration and skew is handled
    explicitly (hub split + salting). PREP — the vertex aggregate, the
    1/L weight join, the block build — keeps AQE: those are exactly the
    one-shot skew/size-sensitive shuffles AQE is for, and measured A/B
    (16M edges, local[8]) shows AQE-off prep is ~2x slower for both
    kernels while loop speed is unaffected by prep's setting.

    Session contract — SINGLE-TENANT for the duration of the run: both
    pins mutate session-wide SQLConf and restore it in ``finally``, so a
    concurrent query on the same SparkSession would observe the pinned
    values, and two overlapping pagerank() calls restore last-writer-wins.
    Run concurrent work on a separate session (``spark.newSession()``
    shares the SparkContext/cache with isolated SQLConf) and build its
    DataFrames there; an edges DataFrame is bound to the session that
    created it, which is why this function cannot transparently clone.
    Overlapping calls on ONE session — of pagerank() or of any other
    graph operator that enters partition_scope — are rejected loudly
    (RuntimeError) instead of silently corrupting each other's conf.
    """
    kernel = kwargs.get("kernel", "auto")
    with partition_scope(
        spark, edges, kwargs.get("num_partitions"), probe=kernel == "auto"
    ) as (P, small_n):
        if kernel == "auto":
            kernel = "join" if small_n is not None else "csr_block"
        return _pagerank_impl(
            spark, edges, **{**kwargs, "kernel": kernel, "num_partitions": P}
        )


def _pagerank_impl(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    d: float = D_DEFAULT,
    eps: float = EPS_DEFAULT,
    max_iter: int = 1000,
    fixed_iterations: int | None = None,
    dangling_mode: str = "none",
    kernel: str = "join",
    num_partitions: int | None = None,
    hub_threshold: int | None = None,
    checkpoint: "object | None" = None,  # plans.catalog.Catalog
    checkpoint_every: int = 0,
    checkpoint_table: str = "pagerank_ranks",
    block_dir: str | None = None,  # csr_block store (must be executor-visible)
    start_state: DataFrame | None = None,  # resume: (vertex_id,dangling,rank)
    start_iter: int = 0,  # resume: iterations already done
    prev_metrics: list | None = None,  # resume: metrics of the prior run
) -> PageRankResult:
    """Run PageRank over edges(src_id, dst_id) [deduplicated upstream].

    Returns converged ranks plus per-iteration metrics. See module
    docstring for semantics and physical design.

    start_state resumes from a checkpointed rank vector with IDENTICAL
    per-kernel semantics: every kernel/hub option works on a resumed run
    (resume_pagerank routes here). A resumed csr_block run reattaches an
    existing block_dir when its manifest matches (P, edge count, content
    fingerprint), else rebuilds the store.
    """
    if dangling_mode not in ("none", "redistribute"):
        raise ValueError(f"unknown dangling_mode {dangling_mode!r}")
    if kernel not in ("join", "csr_block"):
        raise ValueError(f"unknown kernel {kernel!r}")
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # setup cost discipline — ONE shared pass over the edges answers every
    # prep question: vstats (see _vertex_stats) plus one scalar agg over it
    # that also materializes it. The only other action before the loop is
    # the join kernel's weighted-edge materialize, or the csr_block store
    # build (which reads the raw edges) and its alignment probe. State0 is
    # a lazy checkpoint that iteration 1's job materializes.
    t_prep0 = time.perf_counter()
    vstats = _vertex_stats(edges, vertices, P).persist()
    inu, deg = F.col("inu"), F.col("deg")
    # the content fingerprint — bit_xor of per-edge xxhash64, order-
    # insensitive and ANSI-overflow-safe — lets a resumed csr_block run
    # whose edges CHANGED but kept the same count refuse a stale store
    st = vstats.agg(
        F.count(F.when(inu, 1)).alias("n"),
        F.coalesce(F.sum(deg), F.lit(0)).alias("n_edges"),
        F.coalesce(F.bit_xor("h"), F.lit(0)).alias("fp"),
        F.count(F.when(inu & (deg == 0), 1)).alias("dang"),
    ).collect()[0]
    n, n_edges, edges_fp = int(st["n"]), int(st["n_edges"]), int(st["fp"])
    if n == 0:  # degenerate input: no vertices, nothing to rank
        vstats.unpersist()
        empty = spark.createDataFrame([], "vertex_id long, rank double")
        return PageRankResult(
            ranks=empty, iterations=0, converged=True, metrics=[],
            kernel=kernel,
        )
    wedges = None
    if kernel == "join":
        # iteration-invariant side of the gather join: w = 1/L from vstats
        # (the same Spark division weighted_edges does), materialized once,
        # hash-partitioned on src_id with the state's P (co-partitioned)
        wedges = (
            edges.select("src_id", "dst_id")
            .join(
                vstats.filter(deg > 0).select(
                    F.col("vertex_id").alias("src_id"), "deg"
                ),
                "src_id",
            )
            .select("src_id", "dst_id", (F.lit(1.0) / deg).alias("w"))
            .repartition(P, "src_id")
            .persist()
        )
        wedges.count()
    if start_state is not None:
        # resume: the checkpointed vector already carries the dangling flag;
        # _iterate reseeds the redistribute mass from Σ rank over dangling
        # (init_dang_mass=None), matching an uninterrupted run exactly
        state = (
            start_state.select("vertex_id", "dangling", "rank")
            .repartition(P, "vertex_id")
            .localCheckpoint(eager=True)
        )
        init_dang_mass = None
    else:
        state = (
            vstats.filter(inu)
            .select(
                "vertex_id",
                (deg == 0).alias("dangling"),
                (F.lit(1.0) / F.lit(float(n))).alias("rank"),
            )
            .repartition(P, "vertex_id")
            .localCheckpoint(eager=False)
        )
        # seed mass = (#dangling)/N — the exact numeric path of the
        # contract's unrolled oracle (dm0 in _pagerank_sql)
        init_dang_mass = 0.0
        if dangling_mode == "redistribute":
            init_dang_mass = int(st["dang"]) / float(n)

    hub_part = None
    if hub_threshold is not None and kernel == "join":
        wedges, hub_part = _split_hubs(wedges, vstats, hub_threshold)
    t_prep = time.perf_counter() - t_prep0

    store = None
    t_blocks = 0.0
    align_frac = None
    if kernel == "csr_block":
        t0 = time.perf_counter()
        if start_state is not None and block_dir is not None:
            # resume fast path: reattach the prior run's store if its
            # manifest matches this graph (count AND content fingerprint)
            store = _attach_csr_blocks(
                block_dir, P, n_edges, fingerprint=edges_fp
            )
        if store is None:
            store = _build_csr_blocks(
                edges, P, block_dir, n_edges, fingerprint=edges_fp
            )
        t_blocks = time.perf_counter() - t0
        align_frac = _alignment_fraction(state, P, n=n)
        if align_frac is not None and align_frac < 1.0:
            warnings.warn(
                f"csr_block state/bucket alignment broken: only "
                f"{align_frac:.2%} of state rows sit in their pkey's "
                "physical partition — results stay exact, but tasks will "
                "read multiple blocks per iteration (HashPartitioning "
                "placement changed?)",
                RuntimeWarning,
                stacklevel=2,
            )

    t_conv0 = time.perf_counter()
    # AQE off for the LOOP only (restored after): every localCheckpoint
    # compiled inside _iterate then exposes its hash(vertex_id, P)
    # partitioning to the static planner, so no iteration re-exchanges
    # the rank vector. Prep above keeps the session's AQE — its one-shot
    # joins/aggs are what AQE is good at (measured ~2x prep win).
    #
    # The gate is kernel-aware (measured A/B, BENCH/BASELINE.md §4):
    # the JOIN kernel's loop is shuffle-bound (gather join + contrib agg +
    # update join), so removing the two rank exchanges wins at EVERY
    # measured size (sf0.1: 0.261 vs 0.389 s/iter; 64M: 3.16 vs 3.31) —
    # always off. The CSR_BLOCK kernel's loop carries only the rank state;
    # with AQE off a near-empty state runs P fixed tiny tasks whose
    # scheduling floor costs more than the exchanges save (sf0.1: 0.616 vs
    # 0.440 — the round-4 regression), while at real sizes off wins (64M:
    # 3.51 vs 3.59) — so it gates on rows per partition, letting AQE
    # coalesce the tiny stages on small graphs.
    aqe_off = _loop_aqe_off(kernel, n, P)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        if aqe_off:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        state, it, converged, metrics = _iterate(
            state,
            wedges,
            hub_part,
            store,
            n=n,
            P=P,
            d=d,
            eps=eps,
            max_iter=max_iter,
            fixed_iterations=fixed_iterations,
            dangling_mode=dangling_mode,
            start_iter=start_iter,
            metrics=list(prev_metrics or []),
            init_dang_mass=init_dang_mass,
            checkpoint=checkpoint,
            checkpoint_every=checkpoint_every,
            checkpoint_table=checkpoint_table,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    ranks = state.select("vertex_id", "rank")
    for df in (wedges, vstats):
        if df is not None:
            df.unpersist()
    if store is not None and store.owns_dir:
        # best-effort: driver sees the store on local/shared FS only
        shutil.rmtree(store.path, ignore_errors=True)
    if hub_part is not None:
        hub_part[0].unpersist()
        hub_part[1].unpersist()
    phases = {
        "prep_s": round(t_prep, 3),
        "blocks_s": round(t_blocks, 3),
        "conv_s": round(time.perf_counter() - t_conv0, 3),
    }
    if align_frac is not None:
        phases["block_alignment"] = round(align_frac, 6)
    return PageRankResult(
        ranks=ranks,
        iterations=it,
        converged=converged,
        metrics=metrics,
        phases=phases,
        kernel=kernel,
    )


def _iterate(
    state: DataFrame,
    wedges: DataFrame | None,
    hub_part,
    store: "_BlockStore | None",
    *,
    n: int,
    P: int,
    d: float,
    eps: float,
    max_iter: int,
    fixed_iterations: int | None,
    dangling_mode: str,
    start_iter: int,
    metrics: list[dict],
    init_dang_mass: float | None = None,
    checkpoint=None,
    checkpoint_every: int = 0,
    checkpoint_table: str = "pagerank_ranks",
):
    """Shared power-method loop (fresh runs and resumed runs).

    Per-iteration cost discipline: ONE action. new_state is
    localCheckpoint(eager=False) — Dataset.checkpoint builds the
    LogicalRDD-leaf DataFrame immediately (no action), so the plan depth
    is CONSTANT across iterations, and the fused scalar agg (‖Δ‖², Σrank,
    dangling mass) then computes the join, persists the checkpoint storage,
    and reduces the scalars. With loop AQE off that action is ONE Spark
    job: always for the join kernel, and for csr_block once the state
    reaches LOOP_AQE_MIN_ROWS_PER_PARTITION rows per partition. Below
    that, csr_block keeps AQE and each of its query stages runs as a job
    of its own (5 per iteration, pinned in
    tests/test_pagerank.py::test_prep_job_count). (An un-truncated plan
    is not an option: each iteration references the previous state twice
    — update join + gather — so the logical tree doubles per iteration;
    eager checkpointing per iteration, round 1's design, pays a second job
    per iteration for the same truncation.)
    """
    # dangling mass of the incoming state; callers pass the exact seed
    # (fresh run: (#dangling)/N — the contract's numeric path; resume:
    # checkpointed Σrank over dangling) or let us recompute it
    dang_mass = 0.0
    if dangling_mode == "redistribute":
        dang_mass = (
            init_dang_mass
            if init_dang_mass is not None
            else state.filter("dangling").agg(F.sum("rank")).collect()[0][0] or 0.0
        )

    it = start_iter
    converged = False
    target_iters = (
        start_iter + fixed_iterations if fixed_iterations is not None else max_iter
    )
    # loop-invariant Columns, built once: each Column op costs py4j round
    # trips, and on small graphs driver overhead is most of an iteration
    old_cols = ("vertex_id", "dangling", F.col("rank").alias("_old"))
    d_contrib = F.lit(d) * F.coalesce(F.col("_c"), F.lit(0.0))
    scalars = (
        F.sum(F.pow(F.col("rank") - F.col("_old"), F.lit(2.0))).alias("sq"),
        F.sum("rank").alias("rank_sum"),
        F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)).alias(
            "dmass"
        ),
    )
    while it < target_iters:
        it += 1
        t0 = time.perf_counter()
        base = (1.0 - d) / n + (d * dang_mass / n)

        if store is not None:
            contribs = _gather_scatter_blocks(state, store, P)
        else:
            contribs = _gather_scatter_join(state, wedges, hub_part)

        new_state = (
            state.select(*old_cols)
            .join(contribs, "vertex_id", "left")
            .select(
                "vertex_id", "dangling", (F.lit(base) + d_contrib).alias("rank"), "_old"
            )
            # no repartition: the update join streams the P-hash-partitioned
            # state, so its output (and the checkpoint) already carries
            # hash(vertex_id, P) — an explicit repartition would add a
            # full exchange of the rank vector every iteration.
            # eager=False: plan truncation is immediate, storage
            # materializes inside the fused agg job below
            .localCheckpoint(eager=False)
        )
        # one fused scalar action: ‖Δ‖², Σrank, next iteration's dangling
        # mass — also materializes new_state's checkpoint (single job)
        agg = new_state.agg(*scalars).collect()[0]
        delta = math.sqrt(agg["sq"])
        dang_mass = agg["dmass"] if dangling_mode == "redistribute" else 0.0
        old_state = state
        state = new_state.select("vertex_id", "dangling", "rank")
        # checkpoint storage of dropped states is reclaimed by the
        # ContextCleaner once unreferenced; unpersist is best-effort
        old_state.unpersist()
        elapsed = time.perf_counter() - t0
        metrics.append(
            {
                "iter": it,
                "l2_delta": delta,
                "rank_sum": float(agg["rank_sum"]),
                "dangling_mass": float(agg["dmass"]),
                "elapsed_s": elapsed,
            }
        )
        if checkpoint is not None and checkpoint_every and it % checkpoint_every == 0:
            _write_checkpoint(checkpoint, checkpoint_table, state, it, metrics)
        if fixed_iterations is None and delta <= eps:
            converged = True
            break

    if fixed_iterations is not None:
        converged = True
    return state, it, converged, metrics


def _gather_scatter_join(
    state: DataFrame, wedges: DataFrame, hub_part
) -> DataFrame:
    """J1-J6 analog: gather = equi-join on src, scatter = hash agg on dst.
    Returns (vertex_id, _c) where _c = Σ w·rank over in-edges."""
    # shuffled-hash, not sort-merge: both sides are already hash
    # co-partitioned (wedges persisted on src_id, state on vertex_id,
    # same P), so SHJ probes without re-sorting the edges every iteration
    ranks = state.select(F.col("vertex_id").alias("src_id"), "rank").hint(
        "shuffle_hash"
    )
    joined = wedges.join(ranks, "src_id")
    if hub_part is not None:
        w_hub, hubs = hub_part
        hub_ranks = ranks.join(F.broadcast(hubs), "src_id")
        joined = joined.unionByName(w_hub.join(F.broadcast(hub_ranks), "src_id"))
    # shuffle_hash: the contribs already sit on hash(dst_id, P), the rank
    # state's partitioning, so the update join streams both sides. Without
    # the hint a small size estimate makes it broadcast the contribs — one
    # extra job per iteration until the estimate outgrows the threshold.
    return (
        joined.groupBy("dst_id")
        .agg(F.sum(F.col("w") * F.col("rank")).alias("_c"))
        .select(F.col("dst_id").alias("vertex_id"), "_c")
        .hint("shuffle_hash")
    )


@dataclass
class _BlockStore:
    """Handle to the CSR block set built by _build_csr_blocks."""

    path: str
    n_edges: int
    owns_dir: bool
    run_id: str = ""
    num_buckets: int = 0
    # dst id bounds (from the build): they cut the blob dst ranges, and
    # when they fit int32 the packed partial cells carry 4-byte ids
    min_dst: int = -(2**62)
    max_dst: int = 2**62


_STORE_VERSION = 2  # v2: per-src suw replaces per-edge w; narrowed dst/starts
# stores are float64 only; the manifest still records it, so attach refuses
# a store of any other dtype (e.g. a float32 store of an older build)
_MANIFEST = "manifest.json"


# --- block-store filesystem layer ------------------------------------------
# block_dir is either a plain/`file://` local path (fast path: np.save +
# np.load(mmap) — the OS page cache keeps blocks RAM-hot across iterations)
# or any URI pyarrow.fs can open (`hdfs://`, `s3://`, ...), so the store
# works when executors do NOT share a local disk. Remote blocks are read
# fully per task (no mmap); one read per bucket per iteration.


def _is_remote(path: str) -> bool:
    # any URI (including file://) routes through pyarrow.fs; plain paths
    # take the np.save/np.load(mmap) fast path
    return "://" in path


def _fs_from_uri(path: str):
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(path)


def _store_mkdirs(dirpath: str) -> None:
    if _is_remote(dirpath):
        fs, inner = _fs_from_uri(dirpath)
        fs.create_dir(inner, recursive=True)
    else:
        os.makedirs(dirpath, exist_ok=True)


def _store_list(dirpath: str) -> list[str]:
    if _is_remote(dirpath):
        from pyarrow import fs as pafs

        fs, inner = _fs_from_uri(dirpath)
        infos = fs.get_file_info(pafs.FileSelector(inner, allow_not_found=True))
        return [os.path.basename(i.path) for i in infos]
    p = dirpath
    return os.listdir(p) if os.path.isdir(p) else []


def _store_delete(path: str) -> None:
    if _is_remote(path):
        fs, inner = _fs_from_uri(path)
        fs.delete_file(inner)
    else:
        os.remove(path)


def _store_write_bytes(path: str, data: bytes) -> None:
    if _is_remote(path):
        fs, inner = _fs_from_uri(path)
        with fs.open_output_stream(inner) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


def _store_read_bytes(path: str) -> bytes:
    if _is_remote(path):
        fs, inner = _fs_from_uri(path)
        with fs.open_input_stream(inner) as f:
            return f.read()
    with open(path, "rb") as f:
        return f.read()


def _store_write_npy(path: str, arr: np.ndarray) -> None:
    if _is_remote(path):
        buf = io.BytesIO()
        np.save(buf, arr)
        _store_write_bytes(path, buf.getvalue())
    else:
        np.save(path, arr)


def _store_read_npy(path: str) -> np.ndarray:
    if _is_remote(path):
        return np.load(io.BytesIO(_store_read_bytes(path)))
    return np.load(path, mmap_mode="r")


def _clear_store(dirpath: str) -> None:
    """Remove block files + manifest left by a previous build. A caller-
    supplied block_dir may hold blocks of a DIFFERENT graph: a bucket with
    edges last run but empty this run would otherwise keep its stale file
    and silently add phantom contributions."""
    for name in _store_list(dirpath):
        if name == _MANIFEST or (name.startswith("blk") and name.endswith(".npy")):
            _store_delete(os.path.join(dirpath, name))


def _block_files(path: str, pkey: int) -> dict[str, str]:
    return {
        name: os.path.join(path, f"blk{pkey}_{name}.npy")
        for name in ("su", "sidx", "suw", "dst", "starts")
    }


def _read_manifest(path: str) -> dict | None:
    try:
        return json.loads(_store_read_bytes(os.path.join(path, _MANIFEST)))
    except (OSError, ValueError):
        return None


# per-worker manifest cache: (path, run_id) → set of pkeys that have blocks.
# Python workers are long-lived, so each worker validates the store once
# per run instead of once per iteration.
_MANIFEST_CACHE: dict = {}


def _bucket_set(path: str, run_id: str) -> set:
    key = (path, run_id)
    got = _MANIFEST_CACHE.get(key)
    if got is None:
        mf = _read_manifest(path)
        if mf is None:
            raise RuntimeError(
                f"csr_block store at {path!r} has no readable {_MANIFEST} — "
                "the block_dir is not visible from this executor (use a "
                "shared filesystem or an hdfs://-style URI) or the store "
                "was deleted"
            )
        if mf.get("run_id") != run_id:
            raise RuntimeError(
                f"csr_block store at {path!r} belongs to a different run "
                f"(found {mf.get('run_id')!r}, expected {run_id!r}) — stale "
                "or concurrently-overwritten block store"
            )
        got = set(mf["pkeys"])
        _MANIFEST_CACHE[key] = got
    return got


def _build_csr_blocks(
    edges: DataFrame,
    P: int,
    block_dir: str | None,
    n_edges: int,
    fingerprint: int | None = None,
) -> _BlockStore:
    """One-time edge "upload" (S5 analog — clEnqueueWriteBuffer of the CSR
    arrays, opencl/pagerank.c:456-478): bucket edges by
    pkey = pmod(hash(src_id), P) and write per-bucket pre-digested CSR
    arrays to the block store:

      su     — sorted unique src ids in the bucket
      sidx   — per-edge gather index into su (int32 when it fits)
      suw    — PER-SOURCE float64 1/L weight, aligned with su
      dst    — unique dst ids, one per run (int32 when the bucket fits)
      starts — np.add.reduceat run starts (int32 when the bucket fits)

    The per-iteration kernel then does zero index computation: gather is
    (su_rank·suw)[sidx], scatter is one reduceat. pmod(hash(.), P) matches
    Spark's HashPartitioning placement, so these buckets line up with the
    rank state's physical partitions for the iteration loop.

    Store format v2: PageRank's edge weight is purely a function of the
    source (w = 1/out-degree, reference openmp/pagerank.c's val[] built
    from outdeg), so one weight per UNIQUE source (suw) carries it at
    |su| ≤ |edges| elements — at 256M edges / 16M vertices that keeps
    ~2 GB (float64) of per-edge weights out of EVERY iteration's block
    reads. The build reads the raw edges, repartitioned on src_id with P:
    each physical partition is one pkey bucket and holds EVERY edge of its
    sources, so suw = 1.0/np.bincount(sidx) is the exact out-degree
    reciprocal — the same IEEE division as Spark's 1.0/deg — and no
    weighted edge table is ever built. The buckets' edge counts must sum
    to ``n_edges`` (the caller's Σdeg from the vertex aggregate); a
    mismatch raises instead of writing an inconsistent store.
    """
    owns = block_dir is None
    path = block_dir or tempfile.mkdtemp(prefix="ps_pagerank_csr_store_")
    _store_mkdirs(path)
    # a reused dir may hold blocks of a previous (different) graph; stale
    # files would silently contribute phantom edges — clear, then manifest
    _clear_store(path)
    run_id = uuid.uuid4().hex

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_importers()
        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        if tbl.num_rows == 0:
            return
        pk = tbl.column("pkey").to_numpy()
        src = tbl.column("src_id").to_numpy()
        dst = tbl.column("dst_id").to_numpy()
        out_k, out_n, out_lo, out_hi = [], [], [], []
        for key in np.unique(pk):
            m = pk == key
            s, t = src[m], dst[m]
            order = np.argsort(t, kind="stable")
            s, t = s[order], t[order]
            su = np.unique(s)
            sidx = np.searchsorted(su, s)
            # the bucket holds every edge of its sources: per-source edge
            # count = out-degree, and float64 1.0/deg is Spark's 1/L bits
            suw = 1.0 / np.bincount(sidx)
            if len(su) < np.iinfo(np.int32).max:
                sidx = sidx.astype(np.int32)
            starts = np.concatenate(([0], np.flatnonzero(np.diff(t)) + 1))
            rdst = t[starts]
            i32 = np.iinfo(np.int32)
            if len(t) <= i32.max:
                starts = starts.astype(np.int32)
            if rdst.size and i32.min <= rdst[0] and rdst[-1] <= i32.max:
                rdst = rdst.astype(np.int32)  # dst-sorted: [0]/[-1] = min/max
            files = _block_files(path, int(key))
            _store_write_npy(files["su"], su)
            _store_write_npy(files["sidx"], sidx)
            _store_write_npy(files["suw"], suw)
            _store_write_npy(files["dst"], rdst)
            _store_write_npy(files["starts"], starts)
            out_k.append(int(key))
            out_n.append(int(len(s)))
            out_lo.append(int(t[0]))  # dst-sorted: [0] is the min
            out_hi.append(int(t[-1]))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_k, type=pa.int32()),
                pa.array(out_n, type=pa.int64()),
                pa.array(out_lo, type=pa.int64()),
                pa.array(out_hi, type=pa.int64()),
            ],
            names=["pkey", "n_edges", "min_dst", "max_dst"],
        )

    # hash(src_id, P) placement: physical partition = pkey bucket, so each
    # block file is written by exactly one task
    rows = (
        edges.select("src_id", "dst_id")
        .repartition(P, "src_id")
        .select(
            F.pmod(F.hash("src_id"), F.lit(P)).cast("int").alias("pkey"),
            "src_id",
            "dst_id",
        )
        .mapInArrow(
            build, schema="pkey int, n_edges long, min_dst long, max_dst long"
        )
        .collect()
    )
    built = sum(r["n_edges"] for r in rows)
    if built != n_edges:
        if owns:
            shutil.rmtree(path, ignore_errors=True)
        raise RuntimeError(
            f"csr_block build wrote {built} edges but the vertex aggregate "
            f"counted {n_edges} — the edges changed between the two scans"
        )
    min_dst = min((r["min_dst"] for r in rows), default=0)
    max_dst = max((r["max_dst"] for r in rows), default=0)
    # the manifest makes stale/missing stores fail LOUDLY: readers validate
    # run_id and only skip pkeys the manifest says have no block
    _store_write_bytes(
        os.path.join(path, _MANIFEST),
        json.dumps(
            {
                "version": _STORE_VERSION,
                "run_id": run_id,
                "P": P,
                "dtype": "float64",
                "n_edges": n_edges,
                "edges_fp": fingerprint,
                "min_dst": min_dst,
                "max_dst": max_dst,
                "pkeys": sorted(int(r["pkey"]) for r in rows),
            }
        ).encode(),
    )
    return _BlockStore(
        path=path,
        n_edges=n_edges,
        owns_dir=owns,
        run_id=run_id,
        num_buckets=len(rows),
        min_dst=min_dst,
        max_dst=max_dst,
    )


def _attach_csr_blocks(
    path: str,
    P: int,
    expected_edges: int | None = None,
    fingerprint: int | None = None,
) -> _BlockStore | None:
    """Reattach an existing block store (resume path). Returns None unless
    the manifest exists and matches (version, P, float64, and — when given —
    edge count and content fingerprint), in which case the store is reused
    without a rebuild. The fingerprint closes the same-count-different-
    edges hole: a resumed run over a CHANGED graph that coincidentally
    kept n_edges must rebuild, never silently reuse stale blocks."""
    mf = _read_manifest(path)
    if (
        mf is None
        or mf.get("version") != _STORE_VERSION
        or mf.get("P") != P
        or mf.get("dtype") != "float64"
        or (expected_edges is not None and mf.get("n_edges") != expected_edges)
        or (fingerprint is not None and mf.get("edges_fp") != fingerprint)
    ):
        return None
    return _BlockStore(
        path=path,
        n_edges=mf["n_edges"],
        owns_dir=False,
        run_id=mf["run_id"],
        num_buckets=len(mf["pkeys"]),
        min_dst=mf.get("min_dst", -(2**62)),
        max_dst=mf.get("max_dst", 2**62),
    )


def _gather_scatter_blocks(
    state: DataFrame, store: _BlockStore, P: int
) -> DataFrame:
    """Per-bucket CSR gather-scatter (J3 analog, opencl/kernel_csr.cl:18-33)
    over the resident block store — only the rank state moves per iteration.

    Stage 1 (gather): each mapInArrow task groups its state rows by pkey,
    mmap-loads the bucket's block, fills su_rank by binary-searching the
    incoming (vertex_id, rank) rows and reduces each dst run to one
    partial. Ranks absent from the task gather as 0, and every state row
    exists in exactly one task, so summing partials across tasks is exact
    regardless of how the state is physically partitioned — alignment with
    the block buckets (the default, via hash partitioning) only removes
    duplicate block reads.

    Blob partials (V5, BENCH/BASELINE.md §5): the Σ_b unique-dst(b)
    partials never materialize as JVM rows. Each bucket splits its
    dst-sorted partials into ≤P contiguous dst-range slices (free: one
    searchsorted) and ships them as packed binary cells keyed by range.
    Stage 2 (combine) sums each range densely (np.bincount; sort fallback
    above _BLOB_DENSE_MAX ids per range) and emits the globally-unique
    (vertex_id, _c) contribs: a ≤P²-row cell exchange plus one
    |V|-row contrib exchange into the update join, instead of a wide
    shuffle + two-level hash agg of per-(bucket, dst) rows.

    Each task validates the store manifest (cached per worker): a missing
    or stale store raises instead of silently dropping contributions, and
    only pkeys the manifest lists as blockless are skipped.
    """
    path, run_id = store.path, store.run_id
    # int32 dst ids in the packed cells when every dst fits (bounds are
    # recorded in the manifest at build time)
    use32 = -(2**31) <= store.min_dst and store.max_dst < 2**31
    id_np = np.int32 if use32 else np.int64
    lo_id, hi_id = store.min_dst, store.max_dst
    span = max(1, hi_id - lo_id + 1)
    qwidth = -(-span // P)  # ceil: qkey = (dst - lo_id) // qwidth ∈ [0, P)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_importers()
        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        if tbl.num_rows == 0:
            return
        have = _bucket_set(path, run_id)
        cuts = lo_id + qwidth * np.arange(1, P, dtype=np.int64)
        pk = tbl.column("pkey").to_numpy()
        vid = tbl.column("vertex_id").to_numpy()
        rank = tbl.column("rank").to_numpy()
        for key in np.unique(pk):
            if int(key) not in have:
                continue  # bucket has vertices but no out-edges
            files = _block_files(path, int(key))
            su = _store_read_npy(files["su"])
            sidx = _store_read_npy(files["sidx"])
            suw = _store_read_npy(files["suw"])
            dst = _store_read_npy(files["dst"])
            starts = _store_read_npy(files["starts"])
            m = pk == key
            ids, rk = vid[m], rank[m]
            order = np.argsort(ids, kind="stable")
            ids, rk = ids[order], rk[order]
            pos = np.searchsorted(ids, su)
            pos_c = np.minimum(pos, len(ids) - 1)
            present = ids[pos_c] == su
            su_rank = np.where(present, rk[pos_c], 0.0)
            # fold the per-source 1/L into the rank BEFORE the per-edge
            # gather: one |su|-wide multiply replaces v1's |edges|-wide
            # multiply + per-edge weight read
            scaled = su_rank * suw
            vals = scaled[sidx]  # gather: val[k]·prevR[col[k]]
            sums = np.add.reduceat(vals, starts)  # CSR rowPtr scatter
            bounds = np.concatenate(
                ([0], np.searchsorted(dst, cuts), [len(dst)])
            )
            qs, ds, vs = [], [], []
            for q in range(P):
                a, b = int(bounds[q]), int(bounds[q + 1])
                if a == b:
                    continue
                qs.append(q)
                ds.append(
                    np.asarray(dst[a:b]).astype(id_np, copy=False).tobytes()
                )
                vs.append(sums[a:b].tobytes())
            if qs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qs, type=pa.int32()),
                        pa.array(ds, type=pa.binary()),
                        pa.array(vs, type=pa.binary()),
                    ],
                    names=["qkey", "dst", "val"],
                )

    def combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_importers()
        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        if tbl.num_rows == 0:
            return
        qk = tbl.column("qkey").to_numpy()
        dcol = tbl.column("dst").to_pylist()
        vcol = tbl.column("val").to_pylist()
        for q in np.unique(qk):
            rows = np.flatnonzero(qk == q)
            d_all = np.concatenate(
                [np.frombuffer(dcol[i], dtype=id_np) for i in rows]
            ).astype(np.int64, copy=False)
            v_all = np.concatenate(
                [np.frombuffer(vcol[i], dtype=np.float64) for i in rows]
            )
            qlo = lo_id + int(q) * qwidth
            size = min(qwidth, span - int(q) * qwidth)
            if size <= _BLOB_DENSE_MAX:
                # dense combine — dictionary-encoded ids make ranges
                # compact, so this is the hot path (one C pass per blob set)
                off = d_all - qlo
                acc = np.bincount(off, weights=v_all, minlength=size)
                seen = np.zeros(size, dtype=bool)
                seen[off] = True
                nz = np.flatnonzero(seen)
                out_ids, out_vals = nz + qlo, acc[nz]
            else:
                # sparse/exotic id range: sort-based combine
                order = np.argsort(d_all, kind="stable")
                ds, vs = d_all[order], v_all[order]
                starts = np.concatenate(
                    ([0], np.flatnonzero(np.diff(ds)) + 1)
                )
                out_ids = ds[starts]
                out_vals = np.add.reduceat(vs, starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=pa.int64()),
                    pa.array(out_vals, type=pa.float64()),
                ],
                names=["vertex_id", "_c"],
            )

    blobs = state.select(
        F.pmod(F.hash("vertex_id"), F.lit(P)).cast("int").alias("pkey"),
        "vertex_id",
        "rank",
    ).mapInArrow(gen, schema="qkey int, dst binary, val binary")
    # ≤ P rows per bucket task enter this exchange — the partial payload
    # moves as a few thousand packed cells, not as Σ_b unique-dst(b) JVM
    # rows. The combine output is already unique per vertex_id, but
    # Catalyst only sees that through an Aggregate: without one it sizes
    # the update join as the PRODUCT of its sides, each localCheckpoint'd
    # state inherits that estimate, and its digit count doubles every
    # iteration (~25 iterations in, planning spends minutes multiplying
    # BigIntegers). The sum over one row per key is exact, and it shares
    # the hash(vertex_id, P) exchange the update join needs anyway.
    # shuffle_hash keeps the update join from sorting the rank state
    # (contribs side builds the hash table).
    return (
        blobs.repartition(P, "qkey")
        .mapInArrow(combine, schema="vertex_id long, _c double")
        .groupBy("vertex_id")
        .agg(F.sum("_c").alias("_c"))
        .hint("shuffle_hash")
    )


def _alignment_fraction(state: DataFrame, P: int, n: int | None = None) -> float:
    """Runtime probe for the csr_block bucket↔task alignment invariant:
    fraction of state rows whose pmod(hash(vertex_id), P) equals their
    physical partition id. Alignment is a PERFORMANCE invariant only
    (correctness is additive-partial by construction) — but if a Spark
    upgrade ever changes HashPartitioning placement, every task would
    read ~P blocks instead of 1; this probe makes that degradation loud.

    Probe cost control: above 200k vertices, a pushed-down filter samples
    ~64k rows (salted xxhash64, independent of the murmur partitioning
    hash, so the sample is placement-unbiased). A placement change
    misplaces whole partitions, so a sampled fraction detects it as
    reliably as a full scan. The filter must NOT move rows (no
    limit/repartition): sampling is a predicate evaluated in place,
    keeping spark_partition_id meaningful.
    """
    probe = state
    if n is not None and n > 200_000:
        m = max(1, n // 65_536)
        probe = state.filter(
            F.pmod(F.xxhash64("vertex_id", F.lit(17)), F.lit(m)) == 0
        )
    row = (
        probe.select(
            F.when(
                F.pmod(F.hash("vertex_id"), F.lit(P)).cast("int")
                == F.spark_partition_id(),
                1.0,
            )
            .otherwise(0.0)
            .alias("a")
        )
        .agg(F.avg("a").alias("f"))
        .collect()[0]
    )
    return float(row["f"]) if row["f"] is not None else 1.0


def _write_checkpoint(catalog, table: str, state: DataFrame, it: int, metrics):
    """Persist the rank vector + metrics for resume (plans.catalog)."""
    catalog.overwrite(
        table,
        state.select(
            F.lit(it).alias("iter"), "vertex_id", "dangling", "rank"
        ),
        props={"iter": it, "metrics": metrics},
    )


def resume_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    catalog,
    *,
    checkpoint_table: str = "pagerank_ranks",
    **kwargs,
) -> PageRankResult:
    """Restart PageRank from the latest catalog checkpoint: reload the rank
    vector, continue iterating with identical semantics. Total iteration
    count (done-before + done-after) matches an uninterrupted run because
    the state is the exact per-iteration vector (tests/test_resume.py)."""
    snap = catalog.latest_snapshot(checkpoint_table)
    if snap is None:
        return pagerank(spark, edges, checkpoint_table=checkpoint_table, **kwargs)
    start_iter = snap["props"]["iter"]
    prev_metrics = snap["props"].get("metrics", [])
    state = catalog.read(spark, checkpoint_table).select(
        "vertex_id", "dangling", "rank"
    )
    res = _continue(
        spark,
        edges,
        state,
        start_iter,
        prev_metrics,
        checkpoint_table=checkpoint_table,
        **kwargs,
    )
    return res


def _continue(
    spark: SparkSession,
    edges: DataFrame,
    state: DataFrame,
    start_iter: int,
    prev_metrics: list,
    **kwargs,
) -> PageRankResult:
    """Continuation used by resume — delegates to pagerank() with the
    checkpointed state, so EVERY kernel/hub option a fresh run
    accepts also works on a resumed run (a csr_block run resumes as
    csr_block, reattaching block_dir when its manifest matches).
    Checkpointing continues through the resumed run: a second failure
    resumes from the latest post-resume snapshot, not the original one.
    Genuinely unknown kwargs still fail with TypeError via pagerank()."""
    return pagerank(
        spark,
        edges,
        start_state=state,
        start_iter=start_iter,
        prev_metrics=prev_metrics,
        **kwargs,
    )


def top_k_ranks(ranks: DataFrame, k: int = 100) -> DataFrame:
    """Top-k query helper (SURVEY.md §2.5): TakeOrderedAndProject — no full
    sort at scale."""
    return ranks.orderBy(F.desc("rank"), F.asc("vertex_id")).limit(k)
