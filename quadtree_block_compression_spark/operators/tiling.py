"""Quadtree tile assignment — the engine's flagship operator.

Distributed form of the reference's encode pipeline
(``cmd/codec/main.go:40-87`` → ``Partition``,
``pkg/quadtreeImage/quadtreeImage.go:55-74``). Design (SURVEY.md §2.12):

* **One pass, zero shuffles.** Each image's recursion runs entirely inside a
  ``mapInPandas`` batch (per-image numpy, level-vectorized —
  ``kernels.quadtree``). Images are embarrassingly parallel, so tile
  assignment scales linearly with executors; there is NO driver-side level
  loop and no per-level shuffle barrier.
* **Column pruning.** Only ``image_id, bytes, w, h`` enter the UDF; captions
  and other metadata never cross the Arrow boundary (at 100 TB the caption
  bytes alone would be terabytes of wasted transfer).
* **JVM-side derived keys.** ``block_hash`` (xxhash64) and the Morton range
  key are computed with built-in functions *after* the UDF, inside
  whole-stage codegen — not in Python.
* **Skew.** Image payload sizes vary ~500×; optional round-robin
  ``repartition(n)`` evens byte-per-task load before the UDF (cheap relative
  to pixel work; at cluster scale use input-split tuning instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import EngineConfig, DEFAULT_CONFIG

BLOCKS_SCHEMA = ("image_id string, tile_id string, level int, "
                 "x0 int, y0 int, x1 int, y1 int, "
                 "is_leaf boolean, oob boolean, similarity double, block_px binary")


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
    src = images.select("image_id", "bytes", "w", "h")
    if repartition:
        src = src.repartition(repartition)
    skip = on_error == "skip"

    def tile_batches(batches):
        import pandas as pd
        from ..kernels.codecs import decode_image
        from ..kernels.quadtree import assign_tiles_image

        # one output DataFrame per input Arrow batch (not per image):
        # per-image yields would emit thousands of ~100-row record batches,
        # and Arrow framing overhead dominates at high core counts. The
        # images' column lists are extended into ONE pandas frame: a frame
        # per image plus concat added half the decode+kernel time (256
        # 64-px images on one core: 0.26 s over 0.50 s; now 0.03 s).
        for pdf in batches:
            out: dict[str, list] = {"image_id": []}
            for image_id, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    img = decode_image(bytes(data))
                except Exception:
                    if skip:
                        continue
                    raise
                cols = assign_tiles_image(img, cfg)
                out["image_id"].extend([image_id] * len(cols["tile_id"]))
                for k, v in cols.items():
                    out.setdefault(k, []).extend(v)
            if out["image_id"]:
                yield pd.DataFrame(out)

    blocks = src.mapInPandas(tile_batches, BLOCKS_SCHEMA)
    return (blocks
            .withColumn("block_hash", F.xxhash64("block_px"))
            .withColumn("morton", F.when(F.col("tile_id") == "", F.lit(0))
                        .otherwise(F.conv("tile_id", 4, 10).cast("long"))))


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

    return images.select("image_id", "bytes").mapInPandas(
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
