"""Per-layer metrics of the traced run.

Layers are named after the engine's modules. Every metric is measured from
outside: span durations around calls into a layer's public functions,
job-group counters parsed from Spark's event log, the pipeline manifest, and
single-core driver timings of the kernels. Counters are per call of the
layer (summed over its spans, divided by their number), so they do not
depend on how many rounds fitted into the run; the pipeline's are per
fresh run.

Every traced run reports every metric in ``PER_LAYER``; a layer that the
workload does not reach reads 0.
"""

from __future__ import annotations

import time

import numpy as np

from tracing import covered

EVENT_LAYERS = ("tiling", "dedup_blocks", "spatial_join", "knn", "pipeline",
                "lineage", "text_analysis", "dedup_text")
EVENT_COUNTERS = {"jobs": "count", "tasks": "count", "executor_cpu_s": "s",
                  "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                  "gc_s": "s", "python_run_s": "s"}
STAGES = ("s1_blocks", "s2_dedup", "s3_centroids", "s4_spatial_join",
          "s1_annotate", "s2_exact_dedup", "s3_near_dedup", "s4_quality_filter")

PER_LAYER: dict[str, str] = {
    "kernels.decode_ms_per_image": "ms",
    "kernels.quadtree_blocks_per_s": "blocks/s",
    "kernels.pip_points_per_s": "tests/s",
    "kernels.cell_encode_points_per_s": "points/s",
    "tiling.busy_s": "s",
    "tiling.blocks": "count",
    "tiling.blocks_per_s": "blocks/s",
    "tiling.python_bytes_sent": "bytes",
    "tiling.ladder_ratio": "ratio",
    "dedup_blocks.busy_s": "s",
    "spatial_join.busy_s": "s",
    "spatial_join.centroids_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.matches": "count",
    "spatial_join.pip_hit_ratio": "ratio",
    "spatial_join.hot_cells": "count",
    "knn.jobs_per_batch": "count",
    "knn.stages_per_batch": "count",
    "knn.job_busy_s": "s",
    "knn.driver_gap_s": "s",
    "knn.answers": "count",
    "pipeline.busy_s": "s",
    "pipeline.resume_s": "s",
    "pipeline.files_written": "count",
    "pipeline.stored_bytes_per_input_byte": "ratio",
    **{f"pipeline.{s}_s": "s" for s in STAGES},
    **{f"pipeline.{s}_bytes_written": "bytes" for s in STAGES},
    "lineage.partition_lineage_s": "s",
    "lineage.skew_factor": "ratio",
    "text_analysis.annotate_s": "s",
    "dedup_text.minhash_lsh_pairs_s": "s",
    "dedup_text.pairs": "count",
    **{f"{layer}.{c}": u for layer in EVENT_LAYERS for c, u in EVENT_COUNTERS.items()},
    "memory.peak_rss_mb": "MB",
    "memory.jvm_hwm_mb": "MB",
    "memory.workers_hwm_mb": "MB",
    "memory.driver_hwm_mb": "MB",
    "trace.round_p50_s": "s",
    "trace.round_delta_s": "s",
    "trace.overhead_s": "s",
}


def _rate(fn, units: float, min_s: float = 0.2) -> float:
    """Units per second of ``fn`` repeated for at least ``min_s``."""
    fn()
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return units * n / dt


def kernel_bench(wl, tracer) -> dict[str, float]:
    """Single-core driver timings of the kernels on a seeded sample of the
    workload's kind of input: the first images of the seeded image table,
    the seed's first polygon set and seeded points in the world frame."""
    from quadtree_block_compression_spark.config import DEFAULT_CONFIG
    from quadtree_block_compression_spark.fixtures.geometries import generate_geometries
    from quadtree_block_compression_spark.fixtures.images import images_pandas
    from quadtree_block_compression_spark.kernels.codecs import decode_image
    from quadtree_block_compression_spark.kernels.geometry import (
        WORLD, cell_encode, points_in_polygon)
    from quadtree_block_compression_spark.kernels.quadtree import assign_tiles_image

    n_img = wl.size["sample"] * 4
    pdf = images_pandas(n_img, seed=wl.seed, max_side=wl.size["max_side"])
    payloads = [bytes(b) for b in pdf["bytes"]]
    decoded = [decode_image(b) for b in payloads]
    n_blocks = sum(len(assign_tiles_image(img, DEFAULT_CONFIG)["tile_id"]) for img in decoded)
    geoms = generate_geometries(wl.size["polygons"], seed=wl.seed * 101)
    rng = np.random.default_rng(wl.seed)
    px, py = rng.random(4096) * WORLD, rng.random(4096) * WORLD
    polys = [(np.asarray(vx), np.asarray(vy)) for vx, vy in zip(geoms["vx"], geoms["vy"])]
    out = {}
    with tracer.span("kernels.decode_image"):
        out["kernels.decode_ms_per_image"] = 1e3 / _rate(
            lambda: [decode_image(b) for b in payloads], n_img)
    with tracer.span("kernels.assign_tiles_image"):
        out["kernels.quadtree_blocks_per_s"] = _rate(
            lambda: [assign_tiles_image(img, DEFAULT_CONFIG) for img in decoded], n_blocks)
    with tracer.span("kernels.points_in_polygon"):
        out["kernels.pip_points_per_s"] = _rate(
            lambda: [points_in_polygon(px, py, vx, vy) for vx, vy in polys],
            len(px) * len(polys))
    with tracer.span("kernels.cell_encode"):
        out["kernels.cell_encode_points_per_s"] = _rate(
            lambda: cell_encode(px, py, 8), len(px))
    return out


def per_layer(wl, spans, groups, measured, trace_metrics) -> dict[str, tuple[float, str]]:
    """Every metric of ``PER_LAYER``: ``measured`` (kernel and memory
    figures) and ``wl.extras`` as given, the rest derived from the spans and
    the event-log counters of their job groups."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        ss = by_name.get(name, [])
        return float(np.mean([s["end"] - s["start"] for s in ss])) if ss else 0.0

    def counter(ss, c):
        return sum(groups.get(s["id"], {}).get(c, 0) for s in ss) / len(ss) if ss else 0.0

    v = {k: 0.0 for k in PER_LAYER}
    v.update(measured)
    v.update(wl.extras)
    v.update(trace_metrics)
    for layer in EVENT_LAYERS:
        # the pipeline's resumes have their own metric; its counters are
        # those of a fresh run
        ss = [s for s in spans if s["layer"] == layer and s["name"] != "pipeline.resume"]
        for c in EVENT_COUNTERS:
            v[f"{layer}.{c}"] = counter(ss, c)
    tiling = by_name.get("tiling.assign_tiles", [])
    v["tiling.busy_s"] = dur("tiling.assign_tiles")
    if tiling:
        v["tiling.blocks_per_s"] = v["tiling.blocks"] / v["tiling.busy_s"]
    v["tiling.python_bytes_sent"] = counter(tiling, "python_bytes_sent")
    if tiling and v["kernels.quadtree_blocks_per_s"]:
        v["tiling.ladder_ratio"] = (v["tiling.blocks_per_s"]
                                    / (v["kernels.quadtree_blocks_per_s"] * wl.cores))
    v["dedup_blocks.busy_s"] = dur("dedup_blocks.dedup_exact")
    joins = (by_name.get("spatial_join.spatial_join_broadcast", [])
             + by_name.get("spatial_join.spatial_join_salted", []))
    if joins:
        v["spatial_join.busy_s"] = float(np.mean([s["end"] - s["start"] for s in joins]))
    v["spatial_join.centroids_s"] = v["pipeline.s3_centroids_s"]
    knn = by_name.get("knn.knn_ring", [])
    if knn:
        busy = [covered(groups.get(s["id"], {}).get("job_intervals", []), s["start"], s["end"])
                for s in knn]
        v["knn.jobs_per_batch"] = counter(knn, "jobs")
        v["knn.stages_per_batch"] = counter(knn, "stages")
        v["knn.job_busy_s"] = float(np.mean(busy))
        v["knn.driver_gap_s"] = float(np.mean([s["end"] - s["start"] - b
                                               for s, b in zip(knn, busy)]))
    fresh = [n for n in by_name if n.startswith("pipeline.run_")]
    if fresh:
        v["pipeline.busy_s"] = dur(fresh[0])
    v["pipeline.resume_s"] = dur("pipeline.resume")
    v["lineage.partition_lineage_s"] = dur("lineage.partition_lineage")
    v["text_analysis.annotate_s"] = dur("text_analysis.annotate")
    v["dedup_text.minhash_lsh_pairs_s"] = dur("dedup_text.minhash_lsh_pairs")
    return {k: (float(v[k]), PER_LAYER[k]) for k in PER_LAYER}
