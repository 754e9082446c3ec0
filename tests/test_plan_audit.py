"""Physical-plan regression gate (VERDICT r3 #6).

Runs every assertion from ``tools/plan_audit.py`` under pytest so a plan
regression — a new cartesian, a lost broadcast, a partitionless window, a
quantile sort over raw rows — fails the suite, not just the out-of-band
PLANS.md report. The audit builds (and for two fixtures, executes) real
query plans at sf0.01 against the shared session.
"""


def test_all_plan_properties_hold(spark):
    from tools.plan_audit import run_audit

    report, failures = run_audit(spark)
    assert failures == [], "\n".join(failures)
    # sanity: the audit actually covered the named plans (incl. the two
    # round-4 additions) rather than silently skipping sections
    text = "\n".join(report)
    for section in ("tile_range_scan", "spatial_join_rects",
                    "embedding_near_dup", "ann_lsh_topk", "ngram_jaccard",
                    "q5_local_supplier_volume", "assign_tiles",
                    "text_quality", "corpus_clean", "ivf_probe_index",
                    "vocab_topk", "corpus_stats",
                    "spatial_distance_join", "events_asof_join",
                    "corpus_weighted_sample", "tile_pyramid"):
        assert f"## {section}" in text, section


def test_partitionless_window_detector(spark):
    """The sweep's detector flags a genuinely partitionless (ordered)
    window, and does NOT flag partition-only or partition+order windows."""
    import pandas as pd
    from pyspark.sql import Window, functions as F
    from tools.plan_audit import partitionless_windows

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1, 2]}))

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    bad = df.withColumn("r", F.row_number().over(Window.orderBy("v")))
    assert partitionless_windows(plan(bad)), "ordered-no-partition missed"
    ok1 = df.withColumn("n", F.count("*").over(Window.partitionBy("k")))
    assert partitionless_windows(plan(ok1)) == []
    ok2 = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
    assert partitionless_windows(plan(ok2)) == []


def test_python_node_detector(spark):
    """The audit's "no Python" checks see every Python runner — Arrow and
    pandas maps as well as UDF evaluation — and nothing in a JVM plan."""
    import pandas as pd
    from pyspark.sql import functions as F
    from tools.plan_audit import fmt_plan, python_nodes

    df = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "v": [1, 2]}))
    assert python_nodes(fmt_plan(df.withColumn("w", F.col("v") * 2))) == []
    def same(batches):
        yield from batches

    assert "MapInArrow" in python_nodes(fmt_plan(df.mapInArrow(same, df.schema)))
    assert "MapInPandas" in python_nodes(fmt_plan(df.mapInPandas(same, df.schema)))

    @F.pandas_udf("long")
    def plus(s: pd.Series) -> pd.Series:
        return s + 1

    assert "ArrowEvalPython" in python_nodes(fmt_plan(df.select(plus("v"))))
