"""Job budget for the latency-bound kNN queries.

``knn_points`` and ``knn_corpus`` are bound by per-job latency rather than
data: at small scale every Spark job is scheduling plus a driver round trip,
so an extra action in the ring loop shows up as a job count long before it
is visible through wall-time noise. Each query runs at sf0.01 under its own
job group, and its job count must stay within the committed budget below.
Lower a budget when a change removes jobs; raising one needs a reason.
"""

import os

import pytest

import __spark_entry__ as entrymod
from quadtree_block_compression_spark.functions.cache import release_caches

# jobs per query at sf0.01, as measured when the budget was set
JOB_BUDGET = {"knn_points": 22, "knn_corpus": 30}


@pytest.fixture(scope="module")
def sf001_dir(sf_dir):
    path = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"no sf0.01 test data next to {sf_dir}")
    return path


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_knn_job_count_within_budget(spark, sf001_dir, name):
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    release_caches()
    sc.setJobGroup(group, f"job budget: {name}")
    try:
        rows = entrymod.queries()[name](spark, sf001_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches()
    assert rows
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOB_BUDGET[name], (
        f"{name} ran {jobs} jobs at sf0.01, budget {JOB_BUDGET[name]}")
