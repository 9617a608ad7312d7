"""spark-submit entrypoint: PageRank, connected components (large-star/
small-star hash-min), label propagation and per-vertex triangle counting
over an edge table or straight from a pages table.

Cluster launch (north_rule launch shape):

    spark-submit --py-files engine.zip jobs/graph_job.py pagerank \
        --pages /iceberg/pages --catalog /iceberg/warehouse \
        --out ranks --eps 1e-6 --dangling redistribute \
        [--resume] [--checkpoint-every 5] [--kernel csr_block --block-dir /shared/blocks]
    spark-submit ... jobs/graph_job.py components --edges ... --catalog ... \
        [--max-rounds 50] [--num-partitions P]
    spark-submit ... jobs/graph_job.py labelprop ... [--iterations 5]
    spark-submit ... jobs/graph_job.py triangles ...

Build engine.zip with ``python -m zipfile -c engine.zip ps_pagerank_spark``
(session.get_spark does this automatically for local runs).

Pipeline (SURVEY.md §3.4):
    pages ──extract_links──▶ links ──dict encode──▶ edges  [catalog]
    edges ──pagerank (auto kernel: join or csr_block)──▶ ranks
    per-iteration metrics + lineage → catalog "metrics" table
    edges ──components / labelprop / triangles──▶ per-vertex table

``--pages`` instead of ``--edges`` runs the front half first
(operators.graph.pages_to_edges), writing vertices/edges to the catalog, so
one crawl feeds all four algorithms. Each algorithm ignores the others'
flags. ``--out`` defaults to the algorithm name, so PageRank writes the
``pagerank`` table (it was ``ranks`` when PageRank had its own job).
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
    ap.add_argument(
        "algorithm",
        choices=["pagerank", "components", "labelprop", "triangles"],
    )
    ap.add_argument("--pages", help="pages table path (parquet/Iceberg-style)")
    ap.add_argument("--edges", help="pre-built edges parquet (skip extraction)")
    ap.add_argument("--catalog", required=True, help="catalog root directory")
    ap.add_argument("--out", help="output table (default: algorithm name)")
    ap.add_argument(
        "--num-partitions", type=int,
        help="loop partition count P (default: spark.sql.shuffle.partitions)",
    )
    ap.add_argument("--eps", type=float, default=1e-6)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument(
        "--dangling", choices=["none", "redistribute"], default="redistribute"
    )
    ap.add_argument(
        "--kernel", choices=["auto", "join", "csr_block"], default="auto",
        help="pagerank: 'auto' picks join for provably-small inputs, "
        "csr_block otherwise (measured crossover, BENCH/BASELINE.md §4)",
    )
    ap.add_argument(
        "--block-dir",
        help="pagerank: csr_block store directory (executor-visible path or "
        "pyarrow.fs URI); every run, resumed runs included, clears it and "
        "builds a fresh store there",
    )
    ap.add_argument("--checkpoint-every", type=int, default=0)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--run-id", default="pagerank")
    ap.add_argument("--max-rounds", type=int, default=50,
                    help="components: large-star/small-star round cap")
    ap.add_argument("--iterations", type=int, default=5,
                    help="labelprop: synchronous rounds (fixed-K contract)")
    args = ap.parse_args(argv)
    if not args.pages and not args.edges:
        ap.error("one of --pages / --edges is required")

    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.components import connected_components
    from ps_pagerank_spark.operators.graph import pages_to_edges
    from ps_pagerank_spark.operators.labelprop import label_propagation
    from ps_pagerank_spark.operators.pagerank import pagerank, resume_pagerank
    from ps_pagerank_spark.operators.triangles import triangle_counts
    from ps_pagerank_spark.plans.catalog import Catalog
    from ps_pagerank_spark.plans.metrics import append_metrics, partition_lineage

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(app_name=f"graph_job_{args.algorithm}")
    cat = Catalog(args.catalog)
    if args.edges:
        edges = spark.read.parquet(args.edges)
    else:
        edges = pages_to_edges(spark, spark.read.parquet(args.pages), cat)
    out = args.out or args.algorithm
    P = args.num_partitions

    props: dict = {"algorithm": args.algorithm}
    if args.algorithm == "pagerank":
        kwargs = dict(
            d=args.damping, eps=args.eps, dangling_mode=args.dangling,
            kernel=args.kernel, block_dir=args.block_dir, num_partitions=P,
            checkpoint=cat if args.checkpoint_every else None,
            checkpoint_every=args.checkpoint_every,
        )
        # every kernel option passes through: a --kernel csr_block job
        # resumes as csr_block and rebuilds its store in --block-dir
        res = (
            resume_pagerank(spark, edges, cat, **kwargs) if args.resume
            else pagerank(spark, edges, **kwargs)
        )
        result_df = res.ranks
        props.update(iterations=res.iterations, converged=res.converged)
    elif args.algorithm == "components":
        res = connected_components(
            spark, edges, max_rounds=args.max_rounds, num_partitions=P
        )
        result_df, props["rounds"] = res.components, res.rounds
    elif args.algorithm == "labelprop":
        result_df = label_propagation(
            spark, edges, iterations=args.iterations, num_partitions=P
        )
        props["iterations"] = args.iterations
    else:
        result_df = triangle_counts(spark, edges, num_partitions=P)

    snap = cat.overwrite(out, result_df, props=props)
    if args.algorithm == "pagerank":
        append_metrics(
            spark, cat, args.run_id, res.metrics,
            lineage=partition_lineage(res.ranks),
        )
    print(f"done: table={out} snapshot={snap} {props}")
    if owns_spark:
        spark.stop()


if __name__ == "__main__":
    main()
