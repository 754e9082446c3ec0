"""Per-partition lineage rows (north_rule: "per-partition lineage + metrics").

Each stage can emit one row per physical partition recording what flowed
through it — the observability layer a 1000-executor run needs to prove
identical outputs across cluster sizes and to locate skew. A stage that was
written to parquet gets its rows from the written files' footers
(:func:`written_parts`, read on the driver, no data scan), so they describe
the write tasks themselves; a frame still in flight gets them from a JVM
``groupBy(spark_partition_id())`` (:func:`partition_lineage`).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, functions as F

LINEAGE_SCHEMA = ("stage string, partition_id int, rows_out long, bytes_out long, "
                  "t_unix double")


def written_parts(path: str) -> list[list[int]]:
    """``[partition_id, rows, bytes]`` per write task of the parquet files
    directly under ``path``: rows from each ``part-*`` file's footer, bytes
    on disk. Spark names a task's files ``part-<task>-…``, so files that
    share the task number (``maxRecordsPerFile`` splits) are summed."""
    parts: dict[int, list[int]] = {}
    for name in os.listdir(path):
        if name.startswith("part-") and name.endswith(".parquet"):
            f = os.path.join(path, name)
            task = int(name.split("-")[1])
            p = parts.setdefault(task, [task, 0, 0])
            p[1] += pq.read_metadata(f).num_rows
            p[2] += os.path.getsize(f)
    return [parts[t] for t in sorted(parts)]


def lineage_rows(stage: str, parts: list[list[int]],
                 t_unix: float) -> list[tuple]:
    """``LINEAGE_SCHEMA`` rows for :func:`written_parts` output: one per write
    task, plus the stage-total row (``partition_id = -1``)."""
    total = [-1, sum(p[1] for p in parts), sum(p[2] for p in parts)]
    return [(stage, pid, n, b, t_unix) for pid, n, b in [*parts, total]]


def partition_lineage(df: DataFrame, stage: str,
                      weigh_col: str | None = None) -> DataFrame:
    """Lineage rows for ``df``: (stage, partition_id, rows_out, bytes_out).

    JVM-side: groupBy spark_partition_id — one tiny shuffle of pre-aggregated
    counts, no Python, no extra pass over the payload columns.
    """
    size_expr = (F.sum(F.length(F.col(weigh_col))) if weigh_col
                 else F.lit(0)).alias("bytes_out")
    per_part = (df.withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .agg(F.count("*").alias("rows_out"), size_expr)
                .select(F.lit(stage).alias("stage"),
                        F.col("_pid").alias("partition_id"),
                        "rows_out",
                        F.col("bytes_out").cast("long"),
                        F.lit(time.time()).alias("t_unix")))
    # stage-total row (partition_id = -1): present even for empty outputs,
    # so a stage that produced nothing is still visible in the lineage log
    total = (df.agg(F.count("*").alias("rows_out"))
             .select(F.lit(stage).alias("stage"),
                     F.lit(-1).alias("partition_id"),
                     "rows_out",
                     F.lit(0).cast("long").alias("bytes_out"),
                     F.lit(time.time()).alias("t_unix")))
    return per_part.unionByName(total)


def lineage_summary(lineage: DataFrame) -> DataFrame:
    """Stage-level rollup: totals + skew factor (max/mean partition rows)."""
    per_stage = (lineage.filter(F.col("partition_id") >= 0).groupBy("stage")
                 .agg(F.count("*").alias("n_partitions"),
                      F.sum("rows_out").alias("rows_total"),
                      F.max("rows_out").alias("rows_max"),
                      F.avg("rows_out").alias("rows_mean")))
    return per_stage.withColumn(
        "skew_factor", F.round(F.col("rows_max") / F.greatest(F.col("rows_mean"), F.lit(1.0)), 3))
