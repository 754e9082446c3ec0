"""Streaming image ingest: images stream → quadtree blocks, exactly-once.

The streaming face of the encode pipeline: a Structured Streaming source of
image rows is tile-assigned per micro-batch with the SAME batch operator
(``operators.tiling.assign_tiles``) inside ``foreachBatch``, and keeps one
code path for batch and streaming tile assignment (no semantic drift
between the two).

``foreachBatch`` alone is only at-least-once: a batch retried after a
failure between the sink write and the checkpoint commit runs again with
the SAME batch_id. The sink is therefore made idempotent per batch: output
is partitioned by ``_batch_id`` and written with dynamic partition
overwrite, so a replayed batch *replaces* its own partition instead of
appending a duplicate — checkpoint + idempotent sink = exactly-once.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F

from ..config import EngineConfig, DEFAULT_CONFIG


def make_batch_processor(blocks_path: str, cfg: EngineConfig = DEFAULT_CONFIG,
                         lineage_path: str | None = None):
    """The ``foreachBatch`` body, exposed so tests can replay a batch_id and
    assert the sink is idempotent (the exactly-once half the checkpoint
    cannot provide by itself)."""
    from ..operators.tiling import assign_tiles
    from ..plans.lineage import LINEAGE_SCHEMA, lineage_rows, written_parts

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.cache import release_caches
        try:
            blocks = assign_tiles(batch_df, cfg).withColumn("_batch_id", F.lit(batch_id))
            (blocks.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch_id").parquet(blocks_path))
            if lineage_path:
                # rows per write task from the batch partition's footers
                parts = written_parts(os.path.join(blocks_path, f"_batch_id={batch_id}"))
                rows = lineage_rows(f"ingest_batch_{batch_id}", parts, time.time())
                (batch_df.sparkSession.createDataFrame(rows, LINEAGE_SCHEMA)
                 .withColumn("_batch_id", F.lit(batch_id))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("_batch_id").parquet(lineage_path))
        finally:
            # the micro-batch IS the query boundary on a stream: foreachBatch
            # runs on one long-lived stream-execution thread, so without a
            # per-batch release, persist_tracked frames accumulate
            # unboundedly over a continuous stream (neither the per-thread
            # release nor the dead-thread drain ever fires). All writes have
            # completed (or failed) by here, so releasing is safe.
            release_caches()

    return process_batch


def start_image_ingest(stream_images: DataFrame, blocks_path: str,
                       checkpoint_path: str,
                       cfg: EngineConfig = DEFAULT_CONFIG,
                       lineage_path: str | None = None):
    """Start the ingest query. ``stream_images`` must have the images-table
    schema. Returns the StreamingQuery (caller stops it)."""
    return (stream_images.writeStream
            .foreachBatch(make_batch_processor(blocks_path, cfg, lineage_path))
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True)
            .start())


def make_dedup_batch_processor(index_path: str, out_path: str,
                               n: int = 3, num_perm: int = 8, bands: int = 4,
                               threshold: float = 0.5,
                               max_bucket: int | None = None):
    """``foreachBatch`` body for streaming NEAR-dedup ingest against a
    :func:`~..operators.dedup_text.dedup_index_write` index at rest — the
    live form of incremental corpus cleaning (the stateful
    ``dedup_stream`` tier handles exact-only dedup; this one catches
    near-duplicates against the WHOLE historical corpus via the index).

    Per micro-batch: classify every doc (exact / near / near_new /
    unique), write the annotated batch to ``out_path`` as its own
    ``_batch_id`` partition (dynamic overwrite → replay replaces itself),
    then grow the index with the batch's unique docs the same way. The
    probe excludes the current batch id, so a replayed batch never sees
    its failed attempt's index partition as corpus — checkpoint +
    idempotent sink + idempotent index = exactly-once end to end."""
    from ..operators.dedup_text import (dedup_incremental_indexed,
                                        dedup_index_append)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.cache import persist_tracked, release_caches
        spark = batch_df.sparkSession
        try:
            res = dedup_incremental_indexed(
                spark, index_path, batch_df, n=n, num_perm=num_perm,
                bands=bands, threshold=threshold, max_bucket=max_bucket,
                exclude_batch_id=batch_id)
            # persist: the classification (index parquet scans + banded
            # joins) feeds BOTH the annotated-batch write and the
            # accepted-docs index append — without it the whole probe plan
            # re-executes per downstream write job.
            annotated = persist_tracked(batch_df.join(res, "doc_id"))
            (annotated.withColumn("_batch_id", F.lit(int(batch_id)))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch_id").parquet(out_path))
            accepted = (annotated.where(F.col("dup_tier") == "unique")
                        .select("doc_id", "text"))
            dedup_index_append(accepted, index_path, batch_id,
                               n=n, num_perm=num_perm, bands=bands)
        finally:
            # per-batch release: foreachBatch runs every micro-batch on one
            # long-lived stream-execution thread, so this is the only point
            # the thread's persist_tracked frames (the probe's batch shingle
            # hashes and union bucket table, the index append's shingle
            # hashes, annotated) ever get freed on a continuous stream.
            release_caches()

    return process_batch


def make_embedding_batch_processor(index_path: str):
    """``foreachBatch`` body for streaming embedding ingest into a
    materialized IVF index (:func:`~..operators.ann.ivf_write_index` at
    rest): each micro-batch is assigned against the index's FROZEN coarse
    centroids and appended as its own ``(cluster, _batch_id)`` partitions
    via :func:`~..operators.ann.ivf_append_index` — dynamic overwrite means
    a replayed batch replaces itself, so checkpoint + idempotent append =
    exactly-once, the same contract as the image and dedup ingests."""
    from ..operators.ann import ivf_append_index

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.cache import release_caches
        try:
            ivf_append_index(batch_df, index_path, batch_id)
        finally:
            # same per-batch boundary as the other processors: nothing
            # persists today, but the release keeps the invariant uniform
            # if the append path ever grows a tracked cache
            release_caches()

    return process_batch
