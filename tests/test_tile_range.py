"""Morton tile-range scan: equals the brute-force bounds filter, with
row-group-prunable predicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quadtree_block_compression_spark.kernels.codecs import encode_png
from quadtree_block_compression_spark.operators.tiling import assign_tiles
from quadtree_block_compression_spark.operators.tile_range import (
    tile_range_scan, _tiles_overlapping, _to_ranges)


def test_range_decomposition():
    # full canvas at level 1 → all 4 tiles → one contiguous run 0..3
    keys = _tiles_overlapping(0, 0, 64, 64, 1, 64)
    assert keys.tolist() == [0, 1, 2, 3]
    assert _to_ranges(keys) == [(0, 3)]
    # left half at level 1 → tiles 0 and 2 (x-bit 0)
    keys = _tiles_overlapping(0, 0, 32, 64, 1, 64)
    assert keys.tolist() == [0, 2]
    assert _to_ranges(keys) == [(0, 0), (2, 2)]


def test_tile_range_scan_mixed_sides(spark, tiny_images):
    """Auto-derived per-canvas sides: a blocks table mixing canvas sizes must
    return exactly the brute-force window answer (the single-side prefilter
    used to silently drop tiles of smaller canvases)."""
    blocks = assign_tiles(tiny_images).cache()
    sides = {int(r.s) for r in blocks.selectExpr(
        "(x1 - x0) * shiftleft(1, level) AS s").distinct().collect()}
    assert len(sides) > 1, "fixture must mix canvas sides for this test"
    for level in (1, 2):
        got = {(r.image_id, r.tile_id) for r in
               tile_range_scan(blocks, 0, 0, 24, 24, level).collect()}
        want = {(r.image_id, r.tile_id) for r in blocks.filter(
            (F.col("level") == level) & (F.col("x0") < 24) & (F.col("x1") > 0)
            & (F.col("y0") < 24) & (F.col("y1") > 0)).collect()}
        assert got == want, level


@pytest.mark.parametrize("win", [(0, 0, 16, 16), (10, 20, 50, 60), (33, 1, 64, 64)])
def test_tile_range_scan_matches_bruteforce(spark, win):
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.int64).astype(np.uint8)
    images = spark.createDataFrame(pd.DataFrame([{
        "image_id": "i", "bytes": encode_png(img), "w": 64, "h": 64,
        "fmt": "png", "caption": "", "phash": 0}]))
    blocks = assign_tiles(images).cache()
    x0, y0, x1, y1 = win
    for level in (1, 2, 3):
        got = {r.tile_id for r in
               tile_range_scan(blocks, x0, y0, x1, y1, level).collect()}
        want = {r.tile_id for r in blocks.filter(
            (F.col("level") == level) & (F.col("x0") < x1) & (F.col("x1") > x0)
            & (F.col("y0") < y1) & (F.col("y1") > y0)).collect()}
        assert got == want, (win, level)
