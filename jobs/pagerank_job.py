"""spark-submit entrypoint: pages table → link graph → converged PageRank.

Cluster launch (north_rule launch shape):

    spark-submit --py-files engine.zip jobs/pagerank_job.py \
        --pages /iceberg/pages --catalog /iceberg/warehouse \
        --out ranks --eps 1e-6 --dangling redistribute \
        [--resume] [--checkpoint-every 5] [--kernel csr_block --block-dir /shared/blocks]

Build engine.zip with ``python -m zipfile -c engine.zip ps_pagerank_spark``
(session.get_spark does this automatically for local runs).

Pipeline (SURVEY.md §3.4):
    pages ──extract_links──▶ links ──dict encode──▶ edges  [catalog]
    edges ──pagerank (auto kernel: join or csr_block)──▶ ranks
    per-iteration metrics + lineage → catalog "metrics" table
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None, spark=None) -> None:
    """CLI entrypoint. ``argv``/``spark`` are injectable so tests can drive
    the exact CLI dispatch path against a shared session (a passed-in
    session is not stopped)."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table path (parquet/Iceberg-style)")
    ap.add_argument("--edges", help="pre-built edges parquet (skip extraction)")
    ap.add_argument("--catalog", required=True, help="catalog root directory")
    ap.add_argument("--out", default="ranks", help="output ranks table name")
    ap.add_argument("--eps", type=float, default=1e-6)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument(
        "--dangling", choices=["none", "redistribute"], default="redistribute"
    )
    ap.add_argument(
        "--kernel", choices=["auto", "join", "csr_block"], default="auto",
        help="'auto' picks join for provably-small inputs, csr_block "
        "otherwise (measured crossover, BENCH/BASELINE.md §4)",
    )
    ap.add_argument(
        "--block-dir",
        default=None,
        help="csr_block store directory (executor-visible path or "
        "pyarrow.fs URI); every run, resumed runs included, clears it and "
        "builds a fresh store there",
    )
    ap.add_argument(
        "--num-partitions",
        type=int,
        default=None,
        help="iteration-loop partition count P (default: "
        "spark.sql.shuffle.partitions)",
    )
    ap.add_argument("--checkpoint-every", type=int, default=0)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--run-id", default="pagerank")
    args = ap.parse_args(argv)
    if not args.pages and not args.edges:
        ap.error("one of --pages / --edges is required")

    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.graph import pages_to_edges
    from ps_pagerank_spark.operators.pagerank import pagerank, resume_pagerank
    from ps_pagerank_spark.plans.catalog import Catalog
    from ps_pagerank_spark.plans.metrics import append_metrics, partition_lineage

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(app_name="pagerank_job")
    cat = Catalog(args.catalog)

    if args.edges:
        edges = spark.read.parquet(args.edges)
    else:
        edges = pages_to_edges(spark, spark.read.parquet(args.pages), cat)

    kwargs = dict(
        d=args.damping,
        eps=args.eps,
        dangling_mode=args.dangling,
        kernel=args.kernel,
        block_dir=args.block_dir,
        num_partitions=args.num_partitions,
        checkpoint=cat if args.checkpoint_every else None,
        checkpoint_every=args.checkpoint_every,
    )
    if args.resume:
        # every kernel option passes through: a --kernel csr_block job
        # resumes as csr_block and rebuilds its store in --block-dir
        # (pagerank.resume_pagerank → pagerank())
        res = resume_pagerank(spark, edges, cat, **kwargs)
    else:
        res = pagerank(spark, edges, **kwargs)

    snap = cat.overwrite(
        args.out,
        res.ranks,
        props={"iterations": res.iterations, "converged": res.converged},
    )
    append_metrics(
        spark,
        cat,
        args.run_id,
        res.metrics,
        lineage=partition_lineage(res.ranks),
    )
    print(
        f"done: snapshot={snap} iterations={res.iterations} "
        f"converged={res.converged}"
    )
    if owns_spark:
        spark.stop()


if __name__ == "__main__":
    main()
