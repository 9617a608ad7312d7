"""spark-submit entrypoint: graph analytics beyond PageRank — connected
components (large-star/small-star hash-min), label propagation, per-vertex
triangle counting — over an edge table or straight from a pages table.

Cluster launch (same --py-files shape as jobs/pagerank_job.py):

    spark-submit --py-files engine.zip jobs/graph_job.py components \
        --edges /iceberg/warehouse/edges --catalog /iceberg/warehouse \
        [--out components] [--max-rounds 50] [--num-partitions P]

    spark-submit ... jobs/graph_job.py labelprop \
        --edges ... --catalog ... [--iterations 5]

    spark-submit ... jobs/graph_job.py triangles \
        --edges ... --catalog ...

``--pages`` instead of ``--edges`` runs the extraction front half first
(operators.graph.pages_to_edges: extract_links → dict encode), persisting
vertices/edges to the catalog — the same call jobs/pagerank_job.py makes,
so one crawl can feed all four algorithms from the same materialized edge
table.
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
        "algorithm", choices=["components", "labelprop", "triangles"]
    )
    ap.add_argument("--pages", help="pages table path (parquet/Iceberg-style)")
    ap.add_argument("--edges", help="pre-built edges parquet (skip extraction)")
    ap.add_argument("--catalog", required=True, help="catalog root directory")
    ap.add_argument(
        "--out", default=None,
        help="output table name (default: the algorithm name)",
    )
    ap.add_argument(
        "--max-rounds", type=int, default=50,
        help="components: round cap for the large-star/small-star loop",
    )
    ap.add_argument(
        "--iterations", type=int, default=5,
        help="labelprop: synchronous rounds (fixed-K contract)",
    )
    ap.add_argument("--num-partitions", type=int, default=None)
    args = ap.parse_args(argv)
    if not args.pages and not args.edges:
        ap.error("one of --pages / --edges is required")

    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.operators.graph import pages_to_edges
    from ps_pagerank_spark.plans.catalog import Catalog

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(app_name=f"graph_job_{args.algorithm}")
    cat = Catalog(args.catalog)
    if args.edges:
        edges = spark.read.parquet(args.edges)
    else:
        edges = pages_to_edges(spark, spark.read.parquet(args.pages), cat)
    out = args.out or args.algorithm

    props: dict = {"algorithm": args.algorithm}
    if args.algorithm == "components":
        from ps_pagerank_spark.operators.components import connected_components

        res = connected_components(
            spark, edges,
            max_rounds=args.max_rounds,
            num_partitions=args.num_partitions,
        )
        result_df, props["rounds"] = res.components, res.rounds
    elif args.algorithm == "labelprop":
        from ps_pagerank_spark.operators.labelprop import label_propagation

        result_df = label_propagation(
            spark, edges,
            iterations=args.iterations,
            num_partitions=args.num_partitions,
        )
        props["iterations"] = args.iterations
    else:
        from ps_pagerank_spark.operators.triangles import triangle_counts

        result_df = triangle_counts(
            spark, edges, num_partitions=args.num_partitions
        )

    snap = cat.overwrite(out, result_df, props=props)
    print(f"done: algorithm={args.algorithm} table={out} snapshot={snap}")
    if owns_spark:
        spark.stop()


if __name__ == "__main__":
    main()
