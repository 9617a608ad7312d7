"""spark-submit entrypoint: streaming crawl ingest (landing dir → edges).

    spark-submit --py-files engine.zip jobs/ingest_job.py \
        --landing /crawl/landing --catalog /iceberg/warehouse \
        --checkpoint /crawl/_ckpt [--continuous]

Default processes everything currently in the landing dir and exits
(trigger availableNow — the batch-backfill mode); --continuous keeps the
stream running for live segment arrival.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None, spark=None) -> None:
    """CLI entrypoint; a passed-in ``spark`` session is not stopped."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--landing", required=True)
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    args = ap.parse_args(argv)

    from ps_pagerank_spark import get_spark
    from ps_pagerank_spark.plans.catalog import Catalog
    from ps_pagerank_spark.streaming.ingest import run_edge_ingest

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(app_name="ingest_job")
    q = run_edge_ingest(
        spark,
        args.landing,
        Catalog(args.catalog),
        checkpoint_dir=args.checkpoint,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.continuous:
        q.awaitTermination()
    if owns_spark:
        spark.stop()


if __name__ == "__main__":
    main()
