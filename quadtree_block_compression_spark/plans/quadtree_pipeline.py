"""The concrete engine lifecycle (SURVEY.md §3.4), checkpoint-resumable.

``images`` scan → **S1** tile-assign → **S2** exact dedup → **S3** cell
keys/centroids → **S4** spatial join → fidelity/lineage sinks. Every stage
persists to parquet with a manifest fingerprint (config + input), so a
preempted run resumes from the last complete stage; the manifest records
rows and bytes per write task, which ``pipeline.lineage()`` serves.
"""

from __future__ import annotations

import json
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig, DEFAULT_CONFIG
from .pipeline import StagedPipeline


def run_quadtree_pipeline(spark: SparkSession, images: DataFrame,
                          geoms: DataFrame, root: str,
                          cfg: EngineConfig = DEFAULT_CONFIG,
                          input_fingerprint: str = "") -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns stage-name → DataFrame."""
    from ..operators.tiling import assign_tiles
    from ..operators.dedup_blocks import dedup_exact
    from ..operators.spatial_join import block_centroids, spatial_join_broadcast

    fp = json.dumps({"cfg": asdict(cfg), "input": input_fingerprint}, sort_keys=True)
    pipe = StagedPipeline(spark, root)

    blocks = pipe.run_stage("s1_blocks", lambda: assign_tiles(images, cfg), fingerprint=fp)
    deduped = pipe.run_stage("s2_dedup", lambda: dedup_exact(blocks), fingerprint=fp)
    centroids = pipe.run_stage(
        "s3_centroids",
        lambda: block_centroids(deduped.filter("is_leaf"), cfg=cfg),
        fingerprint=fp)
    joined = pipe.run_stage(
        "s4_spatial_join",
        lambda: spatial_join_broadcast(centroids, geoms),
        fingerprint=fp)
    return {"blocks": blocks, "deduped": deduped, "centroids": centroids,
            "spatial": joined, "pipeline": pipe}
