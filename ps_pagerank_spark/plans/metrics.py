"""Per-iteration / per-partition lineage + metrics (north_rule requirement).

The reference prints a timings CSV per run (S4,
c-single-threaded/pagerank.c:323-368: iters, sortFlag, READ/PREP/CONV/CALC
phases, Sum/Norm). Here those become rows appended to a catalog `metrics`
table, one per iteration, carrying the convergence trace plus per-partition
row-count lineage of the rank vector — enough to audit which partition
produced what and to resume from any checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ps_pagerank_spark.operators.partitioning import partition_sizes
from ps_pagerank_spark.plans.catalog import Catalog

METRICS_SCHEMA = (
    "run_id string, iter int, l2_delta double, rank_sum double, "
    "dangling_mass double, elapsed_s double, "
    "lineage array<struct<pid:int, rows:bigint>>"
)


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition row counts of a (checkpointed) DataFrame — cheap audit
    lineage (operators.partitioning.partition_sizes)."""
    return [
        {"pid": int(r["pid"]), "rows": int(r["n_rows"])}
        for r in partition_sizes(df).collect()
    ]


def append_metrics(
    spark: SparkSession,
    catalog: Catalog,
    run_id: str,
    iteration_metrics: list[dict],
    lineage: list[dict] | None = None,
    table: str = "metrics",
) -> int:
    rows = [
        (
            run_id,
            m["iter"],
            float(m.get("l2_delta", float("nan"))),
            float(m.get("rank_sum", float("nan"))),
            float(m.get("dangling_mass", 0.0)),
            float(m.get("elapsed_s", float("nan"))),
            [(d["pid"], d["rows"]) for d in (lineage or [])],
        )
        for m in iteration_metrics
    ]
    df = spark.createDataFrame(rows, METRICS_SCHEMA)
    return catalog.append(table, df)
