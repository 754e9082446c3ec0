"""Scan-parallelism guard for per-row-heavy operators.

A small table often arrives as one parquet file → one scan partition, so an
explode/regex/shingle projection runs on a single core no matter how many
the cluster has (measured 4× on the sf0.1 documents table: the whole
shingle build serialized behind a 594 KB single-file scan). At real scale
the scan has thousands of splits and this is a no-op — ``spread`` only
repartitions when the plan's partition count is below the session's
default parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's
    ``defaultParallelism`` iff it currently has fewer partitions.
    Content-deterministic: Spark's round-robin repartition locally sorts for
    retry determinism, and every consumer here is order-insensitive."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _plan_partitions(df) < target:
        return df.repartition(target)
    return df


def _plan_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan WITHOUT running a job.

    ``df.rdd`` under AQE finalizes the adaptive plan, which MATERIALIZES
    every upstream shuffle stage — for a spread() probe on a composite
    input (e.g. the corpus_clean family's annotated+elected ``exact``
    frame) that executed the whole prefix as an extra job plus a
    javaToPython pass per query (measured ~10 s of task time each at sf1).
    The pre-AQE ``sparkPlan`` builds its RDD lazily (no stage runs), and
    its partition count only differs from the AQE-final one by runtime
    coalescing, which never *raises* the count — so the "narrower than the
    session's parallelism" decision is unchanged for every scan-shaped
    input this guard exists for."""
    try:
        return (df._jdf.queryExecution().sparkPlan()
                .execute().getNumPartitions())
    except Exception:  # non-SQL backends / API drift: the slow, safe probe
        return df.rdd.getNumPartitions()
