"""Column cell keys (``functions.cells``) against their numpy oracle
(``kernels.geometry``): encode at every resolution, the pinned NaN/inf rule,
per-row-resolution ``from_grid`` and the kNN ring shell."""

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quadtree_block_compression_spark.functions import cells
from quadtree_block_compression_spark.kernels.geometry import (
    MAX_RES, WORLD, cell_encode, cell_from_grid, cell_ring)
from quadtree_block_compression_spark.operators.knn import _ring_cells

RNG = np.random.default_rng(20)
RESOLUTIONS = range(MAX_RES + 1)


def _edge_coords() -> np.ndarray:
    """Grid borders of every resolution (and their float neighbours), the
    world edges, negatives and far out-of-world values."""
    borders = np.concatenate(
        [np.arange((1 << r) + 1) * (WORLD / (1 << r)) for r in (1, 4, 8)]
        + [RNG.integers(0, 1 << MAX_RES, 500) * (WORLD / (1 << MAX_RES))])
    return np.concatenate([
        borders, np.nextafter(borders, -np.inf), np.nextafter(borders, np.inf),
        [0.0, -0.0, -1e-9, -1.0, WORLD - 1e-9, WORLD - 1, WORLD, WORLD + 1,
         1e18, -1e18, 1e300, -1e300]])


def _encode_all(spark, x: np.ndarray, y: np.ndarray) -> pd.DataFrame:
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    return df.select("x", "y", *[cells.encode("x", "y", r).alias(f"c{r}")
                                 for r in RESOLUTIONS]).toPandas()


def test_encode_matches_kernel_every_resolution(spark):
    edges = _edge_coords()
    n = 4000
    x = np.concatenate([RNG.uniform(-0.25 * WORLD, 1.25 * WORLD, n),
                        edges, RNG.choice(edges, len(edges))])
    y = np.concatenate([RNG.uniform(-0.25 * WORLD, 1.25 * WORLD, n),
                        RNG.permutation(edges), edges])
    got = _encode_all(spark, x, y)
    gx, gy = got["x"].to_numpy(), got["y"].to_numpy()
    for r in RESOLUTIONS:
        want = cell_encode(gx, gy, r)
        diff = np.nonzero(got[f"c{r}"].to_numpy() != want)[0]
        assert len(diff) == 0, (r, gx[diff[:5]], gy[diff[:5]])


def test_nan_and_inf_follow_the_pinned_rule(spark):
    """NaN → index 0, below 0 (incl. −inf) → 0, ≥ WORLD (incl. +inf) →
    2^res − 1 — in both engines, with no numpy cast warning."""
    special = [np.nan, np.inf, -np.inf, -5.0, float(WORLD), 12345.0]
    x, y = (a.ravel() for a in np.meshgrid(special, special, indexing="ij"))
    got = _encode_all(spark, x, y)
    gx, gy = got["x"].to_numpy(), got["y"].to_numpy()

    def pinned(v, r):
        n = 1 << r
        idx = np.where(np.isnan(v) | (v < 0), 0,
                       np.where(v >= WORLD, n - 1, 0))
        finite = np.isfinite(v) & (v >= 0) & (v < WORLD)
        idx[finite] = np.floor(v[finite] * n / WORLD)
        return idx.astype(np.int64)

    for r in RESOLUTIONS:
        want = cell_from_grid(pinned(gx, r), pinned(gy, r), r)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            kernel = cell_encode(gx, gy, r)
        assert (kernel == want).all(), r
        assert (got[f"c{r}"].to_numpy() == want).all(), r


def test_from_grid_per_row_resolution(spark):
    n = 5000
    res = RNG.integers(0, MAX_RES + 1, n)
    ix = (RNG.random(n) * (1 << res)).astype(np.int64)
    iy = (RNG.random(n) * (1 << res)).astype(np.int64)
    ix[:17], iy[:17] = (1 << np.arange(17)) - 1, 0  # top corner per res
    res[:17] = np.arange(17)
    df = spark.createDataFrame(pd.DataFrame({
        "ix": ix.astype(np.int32), "iy": iy.astype(np.int32),
        "res": res.astype(np.int32)}))
    got = df.select("ix", "iy", "res",
                    cells.from_grid("ix", "iy", F.col("res")).alias("cell")
                    ).toPandas()
    want = np.array([cell_from_grid(np.array([a]), np.array([b]), int(r))[0]
                     for a, b, r in zip(got.ix, got.iy, got.res)])
    assert (got["cell"].to_numpy() == want).all()


@pytest.mark.parametrize("res, n_queries", [(6, 200), (3, 64)])
def test_ring_shell_equals_numpy_disk_difference(spark, res, n_queries):
    """The offset-explode shell equals ``setdiff1d`` of the two clamped
    numpy disks, with no duplicate cell, including queries on the world
    edges and corners and outside the world."""
    corners = [0.0, WORLD - 1.0, WORLD / 2, -100.0, WORLD + 100.0]
    cx, cy = (a.ravel() for a in np.meshgrid(corners, corners, indexing="ij"))
    x = np.concatenate([cx, RNG.uniform(0, WORLD, n_queries)])
    y = np.concatenate([cy, RNG.uniform(0, WORLD, n_queries)])
    q = spark.createDataFrame(pd.DataFrame({
        "query_id": [f"q{i}" for i in range(len(x))], "x": x, "y": y,
        "k": np.ones(len(x), dtype=np.int32)})).cache()
    qcell = dict(zip((f"q{i}" for i in range(len(x))), cell_encode(x, y, res)))
    for ring, prev in [(0, -1), (1, -1), (3, -1), (4, 1), (8, 4), (16, 8)]:
        got: dict[str, list[int]] = {}
        for r in _ring_cells(q, ring, prev, res).select(
                "query_id", "join_cell").collect():
            got.setdefault(r.query_id, []).append(r.join_cell)
        for qid, c in qcell.items():
            want = np.unique(cell_ring(np.array([c]), ring)[0])
            if prev >= 0:
                want = np.setdiff1d(want, cell_ring(np.array([c]), prev)[0])
            shell = got.get(qid, [])
            assert len(shell) == len(set(shell)), (qid, ring, prev)
            assert sorted(shell) == want.tolist(), (qid, ring, prev)
    q.unpersist()
