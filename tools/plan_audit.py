"""Explain-plan audit: assert the physical-plan properties the 100 TB story
depends on, and emit a markdown report (PLANS.md).

Each check reads the FORMATTED explain output of a real query plan and
asserts machine-checkable properties: filters pushed to the parquet scan,
column pruning (heavy binary columns never read), broadcast vs shuffle join
selection, absence of cartesian products, partial (map-side) aggregation,
and whole-stage-codegen coverage. Run it after plan-level changes:

    python tools/plan_audit.py          # writes PLANS.md, exits 1 on failure
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def fmt_plan(df) -> str:
    jq = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return jq.explainString(mode)


def scan_lines(plan: str, *keys: str) -> list[str]:
    return [ln.strip() for ln in plan.splitlines() if any(k in ln for k in keys)]


def arrow_evals(plan: str) -> int:
    """ArrowEvalPython nodes in a formatted plan: it prints every node
    twice (tree + details), so count the numbered detail headers."""
    return len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))


PYTHON_NODE = re.compile(r"\w*(?:Python|In(?:Pandas|Arrow))\w*")


def python_nodes(plan: str) -> list[str]:
    """Every Python-runner node name in a plan: UDF evaluation
    (``BatchEvalPython``, ``ArrowEvalPython``, ``ArrowWindowPython`` …) and
    every pandas or Arrow map (``MapInPandas``, ``MapInArrow``,
    ``FlatMapGroupsInPandas`` …), so no Python stage hides behind a new
    node name."""
    return PYTHON_NODE.findall(plan)


def partitionless_windows(plan: str) -> list[str]:
    """Window operators with NO partition spec in a simple-mode plan string.

    WindowExec prints ``Window [fns], [partitionSpec], [orderSpec]`` with
    empty groups omitted, so a node with ≥2 ``], [`` separators always has a
    partition spec. With exactly one trailing group the node is either
    partition-only (fine — the group is bare columns) or partitionless-but-
    ordered (the 10^9-rows-through-one-task bug): order specs always carry
    ``ASC``/``DESC`` per column, partition columns never do. Zero groups
    after the function list = partitionless and unordered.
    """
    out = []
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-:* ").strip()
        if not s.startswith("Window "):
            continue
        groups = s.count("], [")
        if groups >= 2:
            continue
        last = s.rsplit("], [", 1)[-1] if groups == 1 else ""
        if groups == 0 or " ASC" in last or " DESC" in last:
            out.append(s[:160])
    return out


def run_audit(spark) -> tuple[list[str], list[str]]:
    """Run every plan assertion against ``spark``; returns (report lines,
    failure labels). Callable from pytest (tests/test_plan_audit.py) with
    the shared session, or from main() standalone."""
    from pyspark.sql import functions as F
    from quadtree_block_compression_spark.fixtures.images import images_pandas
    from quadtree_block_compression_spark.operators.tiling import (
        assign_tiles, write_blocks)
    from quadtree_block_compression_spark.operators.tile_range import tile_range_scan
    import __spark_entry__ as entry

    # start from an empty cache: a frame another caller left cached (say,
    # assign_tiles over the same 16 images) would replace the plans audited
    # below with in-memory scans
    spark.catalog.clearCache()
    # PushedFilters lines must not be truncated for the substring asserts
    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    qs = entry.queries()
    # Build each graded query AT MOST once: curated sections and the final
    # global sweep share the DataFrame (some builds execute real work —
    # checkpointed component rounds, fixture synthesis — so double-building
    # would double the audit's wall time).
    built: dict[str, object] = {}

    def qdf(name: str):
        if name not in built:
            built[name] = qs[name](spark, SF)
        return built[name]

    def qplan(name: str) -> str:
        return fmt_plan(qdf(name))

    report: list[str] = ["# PLANS — explain-verified physical-plan properties",
                         "", "Generated by `python tools/plan_audit.py` "
                         "(re-run after plan-level changes; CI-style asserts).", ""]
    failures: list[str] = []

    def check(name: str, desc: str, plan: str, preds: dict) -> None:
        report.append(f"## {name}")
        report.append("")
        report.append(desc)
        report.append("")
        for label, ok in preds.items():
            mark = "PASS" if ok else "**FAIL**"
            report.append(f"- {mark}: {label}")
            if not ok:
                failures.append(f"{name}: {label}")
        report.append("")

    # 1. Morton tile-range scan over the written blocks table
    blocks_path = "/tmp/plan_audit_blocks.parquet"
    images = spark.createDataFrame(images_pandas(16, seed=42, max_side=128))
    write_blocks(assign_tiles(images), blocks_path)
    blocks = spark.read.parquet(blocks_path)
    p = fmt_plan(tile_range_scan(blocks, 0, 0, 32, 32, level=2)
                 .select("image_id", "tile_id", "x0", "y0", "x1", "y1", "morton"))
    pushed = next((ln for ln in p.splitlines() if "PushedFilters" in ln), "")
    schema = next((ln for ln in p.splitlines() if "ReadSchema" in ln), "")
    check("tile_range_scan (Morton window over blocks parquet)",
          "The window decomposes into contiguous Morton ranges; the union "
          "across canvas sides stays a pure `morton BETWEEN` disjunction so "
          "parquet row-group statistics prune without reading data. The "
          "8×8-pixel payload column must never be read.",
          p, {
              "morton range pushed to scan": "GreaterThanOrEqual(morton" in pushed
                                             and "LessThanOrEqual(morton" in pushed,
              "level equality pushed": "EqualTo(level,2)" in pushed,
              "window bounds pushed": "LessThan(x0,32)" in pushed,
              "block_px pruned from ReadSchema": "block_px" not in schema,
          })

    # 2. Broadcast spatial join
    p = qplan("spatial_join_rects")
    check("spatial_join_rects (point-in-polygon)",
          "Small geometry side broadcast; candidate generation is a "
          "cell-key equi-join, never a cartesian product.",
          p, {
              "BroadcastHashJoin present": "BroadcastHashJoin" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
          })

    # 2b. Cell keys are column arithmetic: the whole plan stays in the JVM
    p = qplan("cell_assign")
    check("cell_assign (Z-order cell keys)",
          "Point → cell key is clamp/floor/bit-interleave column arithmetic "
          "(`functions/cells.py`), so the plan has no Python runner at all.",
          p, {
              "no Python eval anywhere": not python_nodes(p),
          })

    # 3. LSH near-dup: banded equi-joins, no cartesian
    p = qplan("embedding_near_dup")
    check("embedding_near_dup (hyperplane-LSH tier)",
          "The quadratic cross join of the brute tier is replaced by "
          "bucket equi-joins on the half-signature keys.",
          p, {
              "no CartesianProduct": "CartesianProduct" not in p,
              "bucket equi-join present": ("SortMergeJoin" in p
                                           or "ShuffledHashJoin" in p
                                           or "BroadcastHashJoin" in p),
          })

    # 3b. multiprobe LSH top-k: probe fan-out stays on the broadcast query
    # side; data side joins by equality only (never a hamming theta-join)
    p = qplan("ann_lsh_topk")
    check("ann_lsh_topk (multiprobe hyperplane LSH)",
          "Each query probes its half-key bucket plus every Hamming-1 "
          "neighbor — the fan-out multiplies the tiny broadcast query side, "
          "the data side is equi-joined per tier (no theta-join, no "
          "cartesian) with degenerate buckets capped before the join.",
          p, {
              "query side broadcast": "BroadcastHashJoin" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
          })

    # 3c. ngram Jaccard: capped shingle table persisted once, equi-join only
    p = qplan("ngram_jaccard")
    check("ngram_jaccard (df-capped shingle self-join)",
          "The df cap and the shingle pipeline materialize ONCE into the "
          "tracked cache; sizes and both self-join sides read the cached "
          "capped table (round-2 regression: the cap join recomputed per "
          "consumer). The pair join is an equi-join on the shingle key.",
          p, {
              "cached shingle table reused": p.count("InMemoryTableScan") >= 3,
              "no CartesianProduct": "CartesianProduct" not in p,
              "map-side partial pair count": p.split("\n\n")[0]
                                              .count("HashAggregate") >= 2,
          })

    # 4. TPC-H Q5 join pipeline: dimension broadcasts + partial aggregation
    p = qplan("q5_local_supplier_volume")
    check("q5_local_supplier_volume (5-way join + agg)",
          "Catalyst must broadcast the small dimensions and combine "
          "map-side before the group-key exchange.",
          p, {
              "dimension broadcasts": p.count("BroadcastHashJoin") >= 3,
              # two HashAggregates around the group-key Exchange = map-side
              # partial combine (codegen ids aren't annotated pre-execution
              # under AQE, so assert the aggregation shape instead)
              "two-phase (partial) aggregation": p.split("\n\n")[0]
                                                 .count("HashAggregate") >= 2,
          })

    # 5. Flagship tile assignment: one Arrow pass, no shuffle
    p = fmt_plan(assign_tiles(images))
    check("assign_tiles (flagship quadtree kernel)",
          "One mapInArrow pass over the images scan — zero exchanges; "
          "parallelism comes from input partitioning alone.",
          p, {
              "no Exchange in plan": "Exchange" not in p,
              "single Arrow stage (one MapInArrow, no other Python node)":
                  python_nodes(p.split("\n\n")[0]) == ["MapInArrow"],
          })

    # 6. Text scalar ops: pure projection, no shuffle, codegen
    p = qplan("text_quality")
    check("text_quality (per-doc scalar features)",
          "Scalar annotation is one whole-stage-codegen projection over "
          "the documents scan.",
          p, {
              "no Exchange": "Exchange" not in p,
              "no Python/Arrow eval": not python_nodes(p),
              "whole-stage codegen": "[codegen id :" in p,
          })

    # 7. corpus_clean annotate stage: joins eliminated
    p = qplan("corpus_clean")
    check("corpus_clean (end-to-end pipeline)",
          "Annotation (fingerprint+quality+language) is computed inline — "
          "the only joins left belong to the MinHash-LSH near-dedup and "
          "the anti-join drop.",
          p, {
              "no CartesianProduct": "CartesianProduct" not in p,
              "anti-join drop present": "LeftAnti" in p,
          })

    # 8. IVF index at rest: probes prune to their inverted-list partitions
    from quadtree_block_compression_spark.operators.ann import (
        ivf_probe_index, ivf_write_index)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx_path = "/tmp/plan_audit_ivf_index"
    ivf_write_index(emb, idx_path, n_clusters=16, iters=2)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    p = fmt_plan(ivf_probe_index(spark, idx_path, q, k=3, nprobe=4))
    part_line = next((ln for ln in p.splitlines() if "PartitionFilters" in ln), "")
    check("ivf_probe_index (materialized IVF index)",
          "The index is written partitionBy(cluster); a probe's scan must "
          "prune to exactly its inverted-list partitions via "
          "PartitionFilters — rows outside the probed clusters are never "
          "even considered.",
          p, {
              "cluster partition filter present": "cluster" in part_line
                                                  and "in(cluster" in part_line.lower()
                                                  or "cluster" in part_line,
              "no full-table scan of the index": "PartitionFilters: []" not in p,
          })

    # 9. vocab_topk: distributed top-k, zero WindowExec (VERDICT r3 #2)
    p = qplan("vocab_topk")
    check("vocab_topk (global top-k tokens)",
          "The global top-k must plan as TakeOrderedAndProject (each "
          "partition keeps its local top-k; no task ever sorts the full "
          "vocabulary) and rank assignment must not reintroduce a "
          "window — the r1–r3 partitionless Window moved 10^9+ distinct "
          "tokens to one task.",
          p, {
              "TakeOrderedAndProject present": "TakeOrderedAndProject" in p,
              "no Window operator at all": "Window" not in p,
          })

    # 10. corpus_stats: quantile window sorts the value histogram, not rows
    p = qplan("corpus_stats")
    check("corpus_stats (exact quantiles under stratum skew)",
          "The per-stratum rank window must consume the (stratum, value) "
          "histogram aggregate — per-task sort bounded by DISTINCT values "
          "(VERDICT r3 #5), never the raw row count of a dominant stratum. "
          "The histogram is the plan's only two-key aggregate.",
          p, {
              "window present (per-stratum cum-count)": "Window" in p,
              "histogram aggregate (keys = stratum, value) present":
                  re.search(r"Keys \[2\]: \[source#\d+, n_chars#\d+",
                             p) is not None,
          })

    # 11. distance join: grid equi-join, never cartesian (r4)
    p = qplan("spatial_distance_join")
    check("spatial_distance_join (radius self-join)",
          "The radius predicate must reach Catalyst as a grid-coordinate "
          "equi-join with the 3×3 neighborhood exploded on one side — a "
          "theta-join would plan a nested-loop cartesian.",
          p, {
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
              "grid equi-join present": ("SortMergeJoin" in p
                                         or "ShuffledHashJoin" in p
                                         or "BroadcastHashJoin" in p),
          })

    # 12. as-of join: union + ONE key exchange + window, zero joins (r4)
    p = qplan("events_asof_join")
    check("events_asof_join (merge-sorted as-of)",
          "The as-of is a union + running last(ignorenulls) window — no "
          "join operator and exactly one hash exchange (on the key) in "
          "the whole plan.",
          p, {
              "no join operator at all": "Join" not in p,
              "single exchange":
                  len(re.findall(r"\(\d+\) Exchange", p)) == 1,
              "window on the key": "Window" in p,
          })

    # 13. weighted sampling: one scan, pushable predicate, zero joins (r4)
    p = qplan("corpus_weighted_sample")
    check("corpus_weighted_sample (weight-proportional sampling)",
          "The quality weight and the hash threshold are column "
          "expressions over ONE scan — no exchange, no join, no Python "
          "anywhere: the selection composes into any downstream plan as "
          "an ordinary filter.",
          p, {
              "no Exchange": "Exchange" not in p,
              "no join": "Join" not in p,
              "no Python/Arrow eval": not python_nodes(p),
          })

    # 14. tile pyramid: explode + ONE map-side-combined aggregate (r4)
    from quadtree_block_compression_spark.operators.tiling import tile_pyramid
    images14 = spark.createDataFrame(images_pandas(8, seed=42, max_side=128))
    p = fmt_plan(tile_pyramid(assign_tiles(images14)))
    check("tile_pyramid (ancestor rollup)",
          "The ancestor explode is bounded by tree height and feeds a "
          "two-phase hash aggregate on the (image, ancestor) key — "
          "partial combine before the exchange, no join, no window.",
          p, {
              "no join": "Join" not in p,
              "no Window": "Window" not in p,
              "two-phase (partial) aggregation":
                  len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
              "single exchange":
                  len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          })

    # 15. near_dedup: capped band-signature table persisted ONCE (r5 —
    # VERDICT r4 #3: previously the band_keys Arrow UDF + cap aggregate
    # executed twice, once per self-join side)
    from quadtree_block_compression_spark.operators.dedup_blocks import near_dedup
    p = fmt_plan(near_dedup(assign_tiles(images)))
    check("block_near_dedup (LSH band self-join over block signatures)",
          "The band_keys Arrow pass is computed once into the tracked "
          "cache (pre-cap, so the cap's count side reads the cache instead "
          "of re-running the UDF) and both self-join sides derive from it; "
          "the similarity verify is marked nondeterministic so Catalyst "
          "evaluates it ONCE for the threshold filter and the output "
          "projection instead of re-extracting per consumer.",
          p, {
              "cached signature table on both join sides":
                  p.count("InMemoryTableScan") >= 2,
              "exactly two Arrow evals total (cached band_keys + verify)":
                  arrow_evals(p) == 2,
              "no CartesianProduct": "CartesianProduct" not in p,
          })

    # 16. dedup_incremental: corpus never self-joins (r5 — VERDICT r4 #7)
    p = qplan("dedup_incremental")
    check("dedup_incremental (batch-vs-corpus classification)",
          "Per-batch cost must scale with the batch, not the corpus: the "
          "banded bucket table (tagged `_new`) is cached once and every "
          "candidate branch joins a `_new` side against it — the corpus "
          "(`NOT _new`) branch appears only as the probe side of "
          "corpus-by-new, never joined to itself. Mechanical pins: the "
          "sided filters exist, the shared bucket/shingle caches are "
          "reused across branches, and no join degenerates to a "
          "cartesian. The Jaccard verify is the shared per-doc hash-array "
          "`array_intersect` (the same verify `minhash_lsh_pairs` runs).",
          p, {
              "sided branches present (_new / NOT _new filters)":
                  "NOT _new" in p.replace("#", " ").replace("(", " ")
                  or re.search(r"NOT _new#\d+", p) is not None,
              "shared bucket+shingle caches reused (>=4 cached scans)":
                  p.count("InMemoryTableScan") >= 4,
              "verify is the hash-array array_intersect":
                  "array_intersect" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
          })

    # 17/18. knn_ring's per-round join, which carries no hint: the loop is
    # driver-side control flow, so audit the exact join each round runs
    # rather than the checkpoint-severed final plan
    from quadtree_block_compression_spark.operators import knn as knn_mod
    from quadtree_block_compression_spark.operators.spatial_join import (
        block_centroids)
    knn_pts = block_centroids(assign_tiles(images), res=6) \
        .select("image_id", "tile_id", "wx", "wy", "cell")
    knn_q = spark.createDataFrame(
        [("q0", 100.0, 100.0, 3), ("q1", 900.0, 300.0, 2),
         ("q2", 500.0, 700.0, 1)],
        "query_id string, x double, y double, k int").localCheckpoint(eager=True)
    knn_done = spark.createDataFrame(
        [("q2",)], "query_id string").localCheckpoint(eager=True)
    ring_q = knn_mod._ring_cells(
        knn_q.join(knn_done, "query_id", "left_anti"), 2, -1, 6)
    p = fmt_plan(knn_pts.join(ring_q, knn_pts["cell"] == F.col("join_cell")))
    check("knn_ring round — small query side",
          "The pending query set is the checkpointed query set anti-joined "
          "with the ids that earlier rounds' checkpoints finished, which "
          "keeps the query side's size statistics, so with a small query "
          "side the unhinted round join is planned as a broadcast hash "
          "join of the exploded shell cells against the cell-keyed points "
          "side; the big side is never hash-repartitioned and no round "
          "degenerates to a cartesian.",
          p, {
              "BroadcastHashJoin present": "BroadcastHashJoin" in p,
              "big side never shuffle-partitioned":
                  "Exchange hashpartitioning" not in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
          })
    bhj_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_bhj = spark.conf.get(bhj_key)
    spark.conf.set(bhj_key, "-1")
    try:
        p = fmt_plan(knn_pts.join(ring_q, knn_pts["cell"] == F.col("join_cell")))
    finally:
        spark.conf.set(bhj_key, prev_bhj)
    check("knn_ring round — query side above the broadcast threshold",
          "The same unhinted join, planned with broadcasting disabled as a "
          "stand-in for a corpus-sized query side, is a shuffled cell "
          "equi-join — still never a cartesian. The pending set stays "
          "distributed at every size: the only figures knn_ring brings to "
          "the driver are the query and finished-query counts observed on "
          "its checkpoints.",
          p, {
              "cell equi-join present": ("SortMergeJoin" in p
                                         or "ShuffledHashJoin" in p),
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
          })

    # 19. pii_redact: pure codegen projection (r5)
    p = qplan("pii_redact")
    check("pii_redact (PII scrub)",
          "Detection counts + sequential redaction are pure projections "
          "over the documents scan — no join, no Python; the only exchange "
          "is spread()'s single round-robin repartition (the documented "
          "single-file-scan parallelizer), never a hash shuffle. The scrub "
          "composes into any ingest plan as an ordinary projection.",
          p, {
              "only the spread round-robin exchange":
                  len(re.findall(r"\(\d+\) Exchange", p)) <= 1
                  and "hashpartitioning" not in p,
              "no join": "Join" not in p,
              "no Python/Arrow eval": not python_nodes(p),
          })

    # 20. decontaminate: benchmark shingles broadcast, corpus not shuffled
    p = qplan("decontaminate")
    check("decontaminate (benchmark n-gram overlap)",
          "The benchmark side (small by nature) broadcasts into the "
          "shingle equi-join so the corpus side is never hash-"
          "repartitioned for the probe; no cartesian anywhere.",
          p, {
              "benchmark broadcast": "BroadcastHashJoin" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
          })

    # 21. corpus_clean_components: the components election's final plan
    p = qplan("corpus_clean_components")
    check("corpus_clean_components (components-election cleaning)",
          "The connected-components election replaces the greedy anti-join "
          "drop with a semi-join against the canonical set; the iterative "
          "label loop is checkpoint-severed (bounded lineage), and nothing "
          "in the final plan is a cartesian or a per-row Python eval.",
          p, {
              "semi-join keep present": "LeftSemi" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no row-at-a-time Python": "BatchEvalPython" not in p,
          })

    # 22. rasterize: pure projection pipeline — explode fan-out bounded by
    # the geometry side, exact verify is ONE Arrow eval, no join at all
    p = qplan("rasterize_rects")
    check("rasterize_rects (vector→raster burn-in)",
          "Polygon → covering-cell burn-in is a projection pipeline: two "
          "JVM sequence/explode steps over the (dimension-sized) geometry "
          "side, one Arrow PIP eval, the cell key a column expression — no "
          "join of any kind, so nothing can shuffle the fan-out.",
          p, {
              "no join operator": all(k not in p for k in
                                      ("SortMergeJoin", "ShuffledHashJoin",
                                       "BroadcastHashJoin", "CartesianProduct",
                                       "BroadcastNestedLoopJoin")),
              "JVM explode (Generate) present": "Generate" in p,
              # formatted explain prints every node twice (tree + details):
              # count the numbered detail headers, one per physical node
              "exactly one Arrow eval (the PIP verify)":
                  arrow_evals(p) == 1,
              "no row-at-a-time Python": "BatchEvalPython" not in p,
          })

    # 23. zonal_stats: broadcast PIP join + map-side-combining aggregate;
    # empty zones via a dimension-side join, never an outer join of the
    # big point side
    p = qplan("zonal_stats_rects")
    check("zonal_stats_rects (raster→vector zonal statistics)",
          "The point side rides the broadcast cell-prefiltered PIP join "
          "(never shuffled for the join), then ONE aggregation on geom_id "
          "with a partial (map-side) phase; the empty-zone left join is "
          "against the already-aggregated 25-row frame.",
          p, {
              "geometry side broadcast": "BroadcastHashJoin" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "partial aggregate present": "partial_count" in p or "partial" in p,
              "no row-at-a-time Python": "BatchEvalPython" not in p,
          })

    # 23b. blocks→polygon join on the LIVE kernel output: the end-to-end
    # raster→vector plan (mapInPandas tiling → column affine+cell encode →
    # broadcast PIP join) — no shuffle of the block side anywhere
    p = qplan("blocks_pip_join")
    check("blocks_pip_join (live blocks → polygon PIP join)",
          "Tile assignment is one Python-runner pass; the centroid affine "
          "+ cell encode are column expressions; candidates meet through "
          "the broadcast cell equi-join — the block side reaches the "
          "verify with NO exchange between the kernel and the join, and "
          "the verify is the plan's only Arrow eval.",
          p, {
              "exactly one Arrow eval (the PIP verify)": arrow_evals(p) == 1,
              "geometry side broadcast": "BroadcastHashJoin" in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no row-at-a-time Python": "BatchEvalPython" not in p,
              "no shuffle of the block side": "Exchange hashpartitioning" not in
                  p.split("BroadcastHashJoin", 1)[0],
          })

    # 24. overlap join: cell-grid equi-join with reference-point dedup —
    # strictly JVM (no Python eval at all), no cartesian, no
    # distinct/dropDuplicates exchange after the join
    p = qplan("rect_overlap_join")
    post_join = p.split("Join", 1)[0]  # tree section ABOVE the join node
    check("rect_overlap_join (strict-AABB overlap join)",
          "Candidates meet through the (ix, iy) grid equi-join; the strict "
          "RectanglesCollide predicate and the reference-point exactly-once "
          "rule are pure column filters, so the join output flows straight "
          "to the projection — no dedup aggregate, no Python, no cartesian.",
          p, {
              "grid equi-join present": ("SortMergeJoin" in p
                                         or "ShuffledHashJoin" in p
                                         or "BroadcastHashJoin" in p),
              "no CartesianProduct": "CartesianProduct" not in p,
              "no BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin" not in p,
              "no Python eval anywhere": not python_nodes(p),
              "no dedup aggregate above the join": "HashAggregate" not in post_join,
          })

    # 25. phash near-dup pairs: ONE exploded (si, sv) self-join (not four
    # unioned band joins) with reference-point exactly-once emission —
    # no distinct/dedup aggregate above the join, no Python, no cartesian
    p = qplan("image_near_dup_phash")
    post_join = p.split("Join", 1)[0]
    check("image_near_dup_phash (segment-banded pHash self-join)",
          "The four 16-bit segments explode to rows and self-join ONCE on "
          "(si, sv) — a single shuffle over 4n rows replaces four n-row "
          "joins + union. Pair uniqueness is the reference-point rule "
          "(first agreeing segment, derived from the hash XOR), so the "
          "post-join distinct exchange is gone and the join output flows "
          "straight to the hamming filter + projection.",
          p, {
              "single segment equi-join": ("SortMergeJoin" in p
                                           or "ShuffledHashJoin" in p
                                           or "BroadcastHashJoin" in p)
                                          and "Union" not in p,
              "no CartesianProduct": "CartesianProduct" not in p,
              "no Python eval anywhere": not python_nodes(p),
              "no dedup aggregate above the join":
                  "HashAggregate" not in post_join,
          })

    # 26. Cross-document line dedup over the real corpus
    p = qplan("boilerplate_docs")
    check("boilerplate_docs (cross-document line dedup, real corpus)",
          "Lines explode from a spread scan (a single-file source must not "
          "serialize the explode stage); the (normalized line → df) table "
          "is built by a 2-column distinct+aggregate — shuffles carry "
          "(line, id) pairs, never document bodies — df-filtered BEFORE "
          "the equi-join back, and one per-document aggregate rebuilds the "
          "kept lines. The exploded corpus is deliberately NOT persisted: "
          "at 100 TB two narrow scans beat materializing the line table.",
          p, {
              "explode runs as Generate": "Generate" in p,
              "scan is spread (round-robin exchange under the explode)":
                  "RoundRobinPartitioning" in p,
              "df table joins back as an equi-join":
                  ("SortMergeJoin" in p or "ShuffledHashJoin" in p
                   or "BroadcastHashJoin" in p),
              "no CartesianProduct": "CartesianProduct" not in p,
              "no Window": "Window" not in p,
              "kept-lines rebuild is one aggregate pair":
                  "ObjectHashAggregate" in p or "SortAggregate" in p,
              "no Python eval anywhere": not python_nodes(p),
          })

    # 27. GLOBAL sweep: EVERY graded query plan, not just the curated
    # sections — the two invariants that silently destroy a 100 TB run if a
    # future query slips them in: a partitionless Window (all rows through
    # one task) and a shuffle CartesianProduct. Detection reads simple-mode
    # executed-plan strings (partitionless_windows above); plans already
    # built by curated sections are reused via qdf, fresh builds release
    # their tracked caches immediately (check_oracles' query-boundary rule).
    from quadtree_block_compression_spark.functions.cache import release_caches
    sweep_bad: dict[str, list[str]] = {}
    for qname in qs:
        fresh = qname not in built
        try:
            plan_s = qdf(qname)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a query that fails to BUILD fails the audit
            sweep_bad[qname] = [f"plan build error: {exc}"[:160]]
            continue
        finally:
            if fresh:
                release_caches()
        viols = partitionless_windows(plan_s)
        if "CartesianProduct" in plan_s:
            viols.append("CartesianProduct")
        if viols:
            sweep_bad[qname] = viols
    check(f"global graded-plan sweep ({len(qs)} queries)",
          "Every `queries()` plan — including ones with no curated section "
          "above — is scanned for the two scale-killers: a Window with no "
          "partition spec (an `Exchange SinglePartition` funneling the whole "
          "table through one task) and a shuffle `CartesianProduct`. "
          "Partition-only windows (no order spec) are fine and common in "
          "the group-size elections; the detector distinguishes them by the "
          "ASC/DESC markers only order specs carry."
          + ("".join(f"\n- VIOLATION `{k}`: {v}" for k, v in sweep_bad.items())
             if sweep_bad else ""),
          "", {
              "no partitionless Window in ANY graded plan":
                  not any("Window" in v for vs in sweep_bad.values() for v in vs),
              "no CartesianProduct in ANY graded plan":
                  not any(v == "CartesianProduct"
                          for vs in sweep_bad.values() for v in vs),
              "every graded query plan builds":
                  not any(v.startswith("plan build error")
                          for vs in sweep_bad.values() for v in vs),
          })

    spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
    return report, failures


def main() -> int:
    from quadtree_block_compression_spark.session import build_session

    spark = build_session("plan-audit", cores=8, shuffle_partitions=8,
                          extra={"spark.sql.session.timeZone": "UTC"})
    report, failures = run_audit(spark)
    spark.stop()
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(report))
    print(f"wrote {out}")
    if failures:
        print("FAILURES:")
        for fmsg in failures:
            print(" -", fmsg)
        return 1
    print("all plan properties hold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
