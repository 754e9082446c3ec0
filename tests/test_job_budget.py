"""Job budgets for latency-bound queries and the staged pipelines.

``knn_points`` and ``knn_corpus`` are bound by per-job latency rather than
data: at small scale every Spark job is scheduling plus a driver round trip,
so an extra action in the ring loop shows up as a job count long before it
is visible through wall-time noise. The ring loop runs one action per round
(its checkpoint, with the finished-query count observed on it) plus two up
front, so these budgets pin that shape. The ANN queries share one core (rank
tail, LSH key builder, IVF probe); their budgets keep it from adding an
action to any of them. The connected-components queries are latency-bound
the same way: ``dedup_components`` and ``corpus_clean_components`` pin the
driver union-find tier, and ``dedup_components_logn`` pins
large-star/small-star, whose fixpoint checksum is observed on each round's
checkpoint rather than collected by an action of its own. Each query runs
at sf0.01 under its own job group, and its job count must stay within the
committed budget below.
The same holds for a fresh run of each staged pipeline and for one image
ingest batch that records lineage: a stage's bookkeeping (row counts,
lineage) must not add passes over its output. The bare tiling pass is pinned
too: batching the kernel must not add an action (say, a count to size it).
Lower a budget when a change removes jobs; raising one needs a reason.

The text-analysis projections and ``assign_tiles`` carry a construction
budget instead: the py4j round trips the driver makes while *building* each
DataFrame, before anything runs. Each feature is SQL text parsed once per
projection; a per-feature Column tree costs one round trip per node
(``annotate`` made ~1,900, ``assign_tiles`` ~139), which a later edit could
re-grow without changing any output. One ``knn_ring`` call carries a
py4j budget over its whole run: its ring loop builds Column trees every
round. The engine session turns PySpark's DataFrame-debugging origin capture
off, which cost ~8 round trips per Column or ``functions.*`` call; a test
pins that default.
"""

import os
import subprocess
import sys
import textwrap

import pytest
from py4j import java_gateway, protocol

import __spark_entry__ as entrymod
from quadtree_block_compression_spark.functions.cache import release_caches

# jobs per query at sf0.01, as measured when the budget was set
JOB_BUDGET = {"knn_points": 15, "knn_corpus": 21, "ann_topk": 5,
              "ann_lsh_topk": 17, "ann_ivf_topk": 16, "embedding_near_dup": 24,
              "dedup_components": 25, "dedup_components_logn": 43,
              "corpus_clean_components": 32}
# jobs per fresh pipeline run / ingest batch at test scale, as measured
PIPELINE_JOB_BUDGET = {"quadtree_pipeline": 12, "corpus_pipeline": 22,
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


# py4j round trips to build each projection, as measured plus headroom
BUILD_CALL_BUDGET = {"annotate": 30, "quality_features": 20, "quality_score": 16,
                     "lang_id": 14, "fingerprint": 14, "assign_tiles": 48}
# py4j commands for one knn_ring call (12 queries) on the tiny fixtures,
# collect included: 1,527 measured, plus headroom
KNN_RING_CALL_BUDGET = 1700
TEXT_PROJECTIONS = sorted(set(BUILD_CALL_BUDGET) - {"assign_tiles"})


def _text_op(name):
    from quadtree_block_compression_spark.operators import text_analysis
    return getattr(text_analysis, name)


def _build_calls(monkeypatch, fn):
    """(fn's result, py4j commands sent while it ran). Memory commands are
    not counted: they release objects of earlier calls whenever Python's
    garbage collector gets to them, whatever ``fn`` builds."""
    sent = []
    send = java_gateway.GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(java_gateway.GatewayClient, "send_command", counting)
        out = fn()
    return out, len(sent)


@pytest.mark.parametrize("name", TEXT_PROJECTIONS)
def test_text_projection_build_calls_within_budget(spark, sf_dir, monkeypatch, name):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    op = _text_op(name)
    df, calls = _build_calls(monkeypatch, lambda: op(docs))
    assert "doc_id" in df.columns
    assert calls <= BUILD_CALL_BUDGET[name], (
        f"building {name} sent {calls} py4j commands, "
        f"budget {BUILD_CALL_BUDGET[name]}")


def test_assign_tiles_build_calls_within_budget(tiny_images, monkeypatch):
    from pyspark.sql.types import DataType, StructType
    from quadtree_block_compression_spark.operators.tiling import (
        BLOCKS_SCHEMA, assign_tiles)
    df, calls = _build_calls(monkeypatch, lambda: assign_tiles(tiny_images))
    assert df.columns[-2:] == ["block_hash", "morton"]
    assert calls <= BUILD_CALL_BUDGET["assign_tiles"], (
        f"building assign_tiles sent {calls} py4j commands, "
        f"budget {BUILD_CALL_BUDGET['assign_tiles']}")
    # the Python-built StructType is the DDL string's schema
    assert StructType(df.schema.fields[:-2]) == DataType.fromDDL(BLOCKS_SCHEMA)


def test_knn_ring_calls_within_budget(spark, tiny_images, monkeypatch):
    from quadtree_block_compression_spark.fixtures.geometries import generate_knn_queries
    from quadtree_block_compression_spark.operators.knn import knn_ring
    from quadtree_block_compression_spark.operators.spatial_join import block_centroids
    from quadtree_block_compression_spark.operators.tiling import assign_tiles
    points = block_centroids(assign_tiles(tiny_images), res=6)
    queries = spark.createDataFrame(generate_knn_queries(n=12, seed=7))
    try:
        rows, calls = _build_calls(monkeypatch, lambda: knn_ring(
            points, queries, res=6, max_ring=40).collect())
    finally:
        release_caches()
    assert rows
    assert calls <= KNN_RING_CALL_BUDGET, (
        f"one knn_ring call sent {calls} py4j commands, "
        f"budget {KNN_RING_CALL_BUDGET}")


_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
# builds a sum over a Column expression (four decorated Column and
# functions calls) and prints the flag and the PySparkCurrentOrigin
# commands sent meanwhile
_ORIGIN_PROBE = textwrap.dedent("""
    import sys
    from py4j import java_gateway
    from pyspark.sql import functions as F
    from quadtree_block_compression_spark.session import build_session
    key, extra = sys.argv[1], {"spark.driver.memory": "1g"}
    if len(sys.argv) > 2:
        extra[key] = sys.argv[2]
    spark = build_session("origin-probe", cores=1, shuffle_partitions=1, extra=extra)
    sent = []
    send = java_gateway.GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    java_gateway.GatewayClient.send_command = counting
    F.sum((F.col("x1") - F.col("x0")).cast("long"))
    java_gateway.GatewayClient.send_command = send
    print("probe", spark.conf.get(key),
          sum("PySparkCurrentOrigin" in c for c in sent))
    spark.stop()
""")


@pytest.mark.parametrize("override", [None, "true"])
def test_origin_capture_off_by_default(tmp_path, override):
    """``build_session()`` turns DataFrame-debugging origin capture off and
    ``extra=`` turns it back on. Each case runs in a fresh process: PySpark
    reads the flag on its first decorated call and caches it per process."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")])}
    args = [_DEBUGGING] + ([override] if override else [])
    run = subprocess.run([sys.executable, "-c", _ORIGIN_PROBE, *args], env=env,
                         cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-4000:]
    flag, origin_calls = next(line.split()[1:] for line in run.stdout.splitlines()
                              if line.startswith("probe "))
    if override:
        assert flag == override and int(origin_calls) > 0
    else:
        assert flag == "false" and int(origin_calls) == 0


def test_text_projections_independent_of_escaped_string_literals(spark):
    """Every regex must reach java.util.regex.Pattern unchanged whether or
    not the SQL parser unescapes string literals: the outputs built under
    spark.sql.parser.escapedStringLiterals=true equal the default's."""
    import pandas as pd
    cases = ["", "  ", "the cat and the dog", " Der Hund ist nicht da ",
             "le chat est un chat pour que", "a.b,c;d:e!f?g'h\"i",
             "tab\there\x0bvt\x0cff\rcr\nnl", "back\\slash \\s \\S x27",
             "Mixed CASE 0042 ..!?", "ünïcödé ÉÀ 42!"]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(cases)), "text": cases}))
    names = ("annotate", "quality_score", "lang_id")

    def outputs():
        frames = [_text_op(n)(docs) for n in names]
        return [(df.schema, sorted(df.collect())) for df in frames]

    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key, None)
    expected = outputs()
    spark.conf.set(key, "true")
    try:
        got = outputs()
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert got == expected
