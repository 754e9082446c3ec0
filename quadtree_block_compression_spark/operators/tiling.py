"""Quadtree tile assignment — the engine's flagship operator.

Distributed form of the reference's encode pipeline
(``cmd/codec/main.go:40-87`` → ``Partition``,
``pkg/quadtreeImage/quadtreeImage.go:55-74``). Design (SURVEY.md §2.12):

* **One pass, zero shuffles.** Every image's recursion runs entirely inside
  one ``mapInArrow`` pass: each input Arrow batch is decoded and tiled by
  ONE batched kernel call (``kernels.quadtree.assign_tiles_batch`` —
  level-vectorized across the batch's images) and leaves as ONE Arrow
  record batch built straight from the kernel's numpy columns. Images are
  embarrassingly parallel, so tile assignment scales linearly with
  executors; there is NO driver-side level loop and no per-level shuffle
  barrier.
* **Column pruning.** Only ``image_id`` (cast to string) and ``bytes``
  enter the UDF; captions and other metadata never cross the Arrow
  boundary (at 100 TB the caption bytes alone would be terabytes of wasted
  transfer).
* **JVM-side derived keys.** ``block_hash`` (xxhash64) and the Morton range
  key are computed with built-in functions *after* the UDF, inside
  whole-stage codegen — not in Python.
* **Skew.** Image payload sizes vary ~500×; optional round-robin
  ``repartition(n)`` evens byte-per-task load before the UDF (cheap relative
  to pixel work; at cluster scale use input-split tuning instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from ..config import EngineConfig, DEFAULT_CONFIG

BLOCKS_SCHEMA = ("image_id string, tile_id string, level int, "
                 "x0 int, y0 int, x1 int, y1 int, "
                 "is_leaf boolean, oob boolean, similarity double, block_px binary")
_DDL_TYPES = {"string": StringType(), "int": IntegerType(), "boolean": BooleanType(),
              "double": DoubleType(), "binary": BinaryType()}
# BLOCKS_SCHEMA built in Python: mapInArrow would parse the DDL string on
# the JVM on every call
_BLOCKS_STRUCT = StructType([StructField(name, _DDL_TYPES[kind]) for name, kind in
                             (f.split() for f in BLOCKS_SCHEMA.split(", "))])
_BLOCK_COLUMNS = _BLOCKS_STRUCT.names


def assign_tiles(images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                 repartition: int | None = None,
                 on_error: str = "fail") -> DataFrame:
    """images(image_id, bytes, w, h, fmt, ...) → blocks DataFrame.

    Output columns: BLOCKS_SCHEMA + ``block_hash`` (xxhash64 of the 8×8
    block, JVM-side) + ``morton`` (base-4 tile path as an int range key).
    Every node of every tree is a row (interior nodes included, matching the
    reference's eager evaluation, ``quadtreeElement.go:73-74``).

    ``on_error``: ``"fail"`` (default — a decode error fails the task, the
    strict mode tests and goldens run under) or ``"skip"`` — undecodable
    images yield no blocks instead of killing the job, which at 10^12-image
    scale is the only sane policy (corrupt files are a certainty there);
    pair with :func:`scan_errors` to quarantine and audit the bad rows.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    # the build is two SQL projections around the UDF: each is parsed once
    # on the JVM, where a Column tree costs a py4j round trip per node
    src = images.selectExpr("CAST(image_id AS STRING) AS image_id", "bytes")
    if repartition:
        src = src.repartition(repartition)
    skip = on_error == "skip"

    def decoded(payloads, kept):
        """Decode lazily (the kernel consumes one pixel-budget run at a
        time), recording the batch row of every image that decoded."""
        from ..kernels.codecs import decode_image
        for i, data in enumerate(payloads):
            try:
                img = decode_image(data)
            except Exception:
                if skip:
                    continue
                raise
            kept.append(i)
            yield img

    def tile_batches(batches):
        import numpy as np
        import pyarrow as pa
        from ..kernels.quadtree import BLOCK_BYTES, assign_tiles_batch

        # one kernel call and one output record batch per input Arrow batch
        # (never per image): per-image calls pay numpy's per-call overhead
        # on tiny arrays, and per-image yields would emit thousands of
        # ~100-row record batches whose framing dominates at high core counts
        for batch in batches:
            kept: list[int] = []
            cols = assign_tiles_batch(
                decoded(batch.column("bytes").to_pylist(), kept), cfg)
            n = len(cols["image"])
            if not n:
                continue
            # zero-copy binary column over the contiguous (n, 8, 8, 3)
            # buffer; built with 64-bit offsets so the cast to the schema's
            # binary fails loudly rather than wrapping past 2 GiB
            offsets = np.arange(n + 1, dtype=np.int64) * BLOCK_BYTES
            block_px = pa.Array.from_buffers(
                pa.large_binary(), n,
                [None, pa.py_buffer(offsets), pa.py_buffer(cols["block_px"])]
            ).cast(pa.binary())
            yield pa.RecordBatch.from_arrays([
                batch.column("image_id").take(np.asarray(kept)[cols["image"]]),
                pa.array(cols["tile_id"], pa.string()),
                *(pa.array(cols[k]) for k in
                  ("level", "x0", "y0", "x1", "y1", "is_leaf", "oob")),
                # NaN (rules 1-2 decided the node) surfaces as NULL
                pa.array(cols["similarity"], from_pandas=True),
                block_px], names=_BLOCK_COLUMNS)

    return src.mapInArrow(tile_batches, _BLOCKS_STRUCT).selectExpr(
        "*", "xxhash64(block_px) AS block_hash",
        "CASE WHEN tile_id = '' THEN 0 "
        "ELSE CAST(conv(tile_id, 4, 10) AS BIGINT) END AS morton")


def scan_errors(images: DataFrame) -> DataFrame:
    """Quarantine scan: (image_id, error) for every row whose payload fails
    to decode — the audit-side companion of ``assign_tiles(on_error='skip')``
    (write it next to the blocks table so dropped inputs stay accounted
    for). One Arrow pass over (image_id, bytes) only."""

    def probe(batches):
        import pandas as pd
        from ..kernels.codecs import decode_image
        for pdf in batches:
            out = []
            for image_id, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    decode_image(bytes(data))
                except Exception as e:
                    out.append((image_id, f"{type(e).__name__}: {e}"[:500]))
            yield pd.DataFrame(out, columns=["image_id", "error"])

    return images.select(F.col("image_id").cast("string"), "bytes").mapInPandas(
        probe, "image_id string, error string")


def leaf_blocks(blocks: DataFrame, skip_oob: bool = False) -> DataFrame:
    """The encode-side filter (``quadtreeElement.go:245``): leaves, minus
    out-of-bounds blocks when SkipOutOfBoundsBlocks is enabled."""
    out = blocks.filter(F.col("is_leaf"))
    if skip_oob:
        out = out.filter(~F.col("oob"))
    return out


def write_blocks(blocks: DataFrame, path: str, partitions: int = 32) -> None:
    """Persist the blocks table — the engine's 'archive' (SURVEY.md §2.1 S3).

    Layout for 10^12-block scale: hash-distributed by image_id (images are
    the unit of downstream reassembly → co-located), Morton-sorted within
    files so tile-range scans prune row groups via parquet min/max stats.
    """
    (blocks.repartition(partitions, "image_id")
     .sortWithinPartitions("image_id", "morton")
     .write.mode("overwrite").parquet(path))


def tile_pyramid(blocks):
    """Tile-pyramid rollup — the map-tile serving structure: every leaf
    block contributes to ALL of its quadtree ancestors (its tile_id
    prefixes, root included), and each pyramid tile aggregates its
    subtree: leaf count, out-of-bounds count, an order-insensitive
    content digest (bit_xor of the block hashes — sums overflow under
    ANSI), and the subtree bounding box.

    One explode (level+1 ancestor rows per leaf — bounded by tree height,
    ≤ log₄(max_side²)) + one map-side-combinable aggregate on the
    (image, ancestor) key; entirely JVM-side. At serving time the rollup
    is what lets a viewer fetch any zoom level as ONE row instead of
    scanning the subtree — the reference's per-image tree walk
    (``quadtreeImage.go:77-148``) generalized to a corpus-wide relation.
    Returns (image_id, anc_level, anc, n_leaves, n_oob, content_digest,
    bx0, by0, bx1, by1).
    """
    leaves = blocks.filter(F.col("is_leaf"))
    exploded = leaves.select(
        "image_id", "tile_id", "x0", "y0", "x1", "y1", "oob", "block_hash",
        F.explode(F.sequence(F.lit(0), F.col("level"))).alias("anc_level"))
    anc = exploded.withColumn(
        "anc", F.expr("substring(tile_id, 1, anc_level)"))
    return (anc.groupBy("image_id", "anc_level", "anc")
            .agg(F.count(F.lit(1)).alias("n_leaves"),
                 F.sum(F.col("oob").cast("long")).cast("long").alias("n_oob"),
                 F.bit_xor("block_hash").alias("content_digest"),
                 F.min("x0").alias("bx0"), F.min("y0").alias("by0"),
                 F.max("x1").alias("bx1"), F.max("y1").alias("by1")))
