"""Job budgets for latency-bound queries and the staged pipelines.

``knn_points`` and ``knn_corpus`` are bound by per-job latency rather than
data: at small scale every Spark job is scheduling plus a driver round trip,
so an extra action in the ring loop shows up as a job count long before it
is visible through wall-time noise. Each query runs at sf0.01 under its own
job group, and its job count must stay within the committed budget below.
The same holds for a fresh run of each staged pipeline and for one image
ingest batch that records lineage: a stage's bookkeeping (row counts,
lineage) must not add passes over its output. The bare tiling pass is pinned
too: batching the kernel must not add an action (say, a count to size it).
Lower a budget when a change removes jobs; raising one needs a reason.
"""

import os

import pytest

import __spark_entry__ as entrymod
from quadtree_block_compression_spark.functions.cache import release_caches

# jobs per query at sf0.01, as measured when the budget was set
JOB_BUDGET = {"knn_points": 22, "knn_corpus": 30}
# jobs per fresh pipeline run / ingest batch at test scale, as measured
PIPELINE_JOB_BUDGET = {"quadtree_pipeline": 15, "corpus_pipeline": 22,
                       "ingest_batch": 4, "tiling_pass": 2}


@pytest.fixture(scope="module")
def sf001_dir(sf_dir):
    path = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"no sf0.01 test data next to {sf_dir}")
    return path


def _jobs(spark, group: str, fn):
    """(fn's result, number of jobs it ran) under job group ``group``."""
    sc = spark.sparkContext
    release_caches()
    sc.setJobGroup(group, f"job budget: {group}")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_knn_job_count_within_budget(spark, sf001_dir, name):
    rows, jobs = _jobs(spark, f"job-budget-{name}",
                       lambda: entrymod.queries()[name](spark, sf001_dir).collect())
    assert rows
    assert jobs <= JOB_BUDGET[name], (
        f"{name} ran {jobs} jobs at sf0.01, budget {JOB_BUDGET[name]}")


def _quadtree_pipeline(spark, tiny_images, sf_dir, root):
    from quadtree_block_compression_spark.fixtures.geometries import generate_geometries
    from quadtree_block_compression_spark.plans.quadtree_pipeline import (
        run_quadtree_pipeline)
    geoms = spark.createDataFrame(generate_geometries(n=12, seed=5, res=8))
    out = run_quadtree_pipeline(spark, tiny_images, geoms, root)
    return len(out["pipeline"].manifest) == 4


def _corpus_pipeline(spark, tiny_images, sf_dir, root):
    from quadtree_block_compression_spark.plans.corpus_pipeline import (
        run_corpus_pipeline)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = run_corpus_pipeline(spark, docs, root)
    return len(out["pipeline"].manifest) == 4


def _ingest_batch(spark, tiny_images, sf_dir, root):
    from quadtree_block_compression_spark.streaming.ingest import make_batch_processor
    lineage = os.path.join(root, "lineage")
    make_batch_processor(os.path.join(root, "blocks"), lineage_path=lineage)(
        tiny_images.limit(4), 0)
    return os.path.isdir(os.path.join(lineage, "_batch_id=0"))


def _tiling_pass(spark, tiny_images, sf_dir, root):
    from pyspark.sql import functions as F
    from quadtree_block_compression_spark.operators.tiling import assign_tiles
    blocks, leaves = assign_tiles(tiny_images).agg(
        F.count(F.lit(1)), F.sum(F.col("is_leaf").cast("long"))).collect()[0]
    return blocks > leaves > 0


PIPELINE_RUNS = {"quadtree_pipeline": _quadtree_pipeline,
                 "corpus_pipeline": _corpus_pipeline,
                 "ingest_batch": _ingest_batch,
                 "tiling_pass": _tiling_pass}


@pytest.mark.parametrize("name", sorted(PIPELINE_JOB_BUDGET))
def test_pipeline_job_count_within_budget(spark, tiny_images, sf_dir, tmp_path, name):
    done, jobs = _jobs(spark, f"job-budget-{name}", lambda: PIPELINE_RUNS[name](
        spark, tiny_images, sf_dir, str(tmp_path)))
    assert done
    assert jobs <= PIPELINE_JOB_BUDGET[name], (
        f"{name} ran {jobs} jobs, budget {PIPELINE_JOB_BUDGET[name]}")
