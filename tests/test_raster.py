"""Raster↔vector closure operators: rasterize + zonal_stats vs brute force.

The graded queries (`rasterize_rects`, `zonal_stats_rects`) pin the
rect-geometry path against DuckDB; these tests cover the general-polygon
path (convex + concave star shapes) against a per-geometry numpy brute
force over the same even-odd PIP kernel, plus the edge cases the oracle
fixtures can't reach (out-of-world geometry, empty zones).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quadtree_block_compression_spark.fixtures.geometries import generate_geometries
from quadtree_block_compression_spark.kernels.geometry import (
    WORLD, cell_from_grid, points_in_polygon)
from quadtree_block_compression_spark.operators.raster import rasterize, zonal_stats
from quadtree_block_compression_spark.operators.spatial_join import (
    spatial_join_broadcast)

RES = 6


@pytest.fixture(scope="module")
def geoms(spark):
    return spark.createDataFrame(generate_geometries(n=24, seed=42, res=RES)).cache()


def _bruteforce_cells(vx, vy, res):
    """All (ix, iy) at ``res`` whose centers are inside the polygon —
    straight numpy over the bbox grid, same even-odd kernel."""
    n = 1 << res
    cw = WORLD / n
    ix0 = max(int(np.floor(min(vx) / cw)), 0)
    ix1 = min(int(np.floor(max(vx) / cw)), n - 1)
    iy0 = max(int(np.floor(min(vy) / cw)), 0)
    iy1 = min(int(np.floor(max(vy) / cw)), n - 1)
    if ix0 > ix1 or iy0 > iy1:
        return set()
    gx, gy = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1),
                         indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    inside = points_in_polygon((gx + 0.5) * cw, (gy + 0.5) * cw,
                               np.asarray(vx), np.asarray(vy))
    return {(int(x), int(y)) for x, y in zip(gx[inside], gy[inside])}


def test_rasterize_matches_bruteforce(geoms):
    got = rasterize(geoms, res=RES).collect()
    by_geom: dict[str, set] = {}
    for r in got:
        by_geom.setdefault(r.geom_id, set()).add((r.ix, r.iy))
    ref = {r["geom_id"]: _bruteforce_cells(r["vx"], r["vy"], RES)
           for r in geoms.select("geom_id", "vx", "vy").toPandas().to_dict("records")}
    nonempty = 0
    for gid, want in ref.items():
        assert by_geom.get(gid, set()) == want, gid
        nonempty += bool(want)
    assert nonempty >= 10  # the fixture must actually exercise the operator


def test_rasterize_cell_key_matches_kernel(geoms):
    rows = rasterize(geoms, res=RES).select("ix", "iy", "cell").collect()
    assert rows
    ix = np.array([r.ix for r in rows])
    iy = np.array([r.iy for r in rows])
    want = cell_from_grid(ix, iy, RES)
    assert np.array_equal(np.array([r.cell for r in rows]), want)


def test_rasterize_outside_world_is_empty(spark):
    """A polygon entirely outside the world frame emits ZERO cells — the
    clamped-bbox filter must catch it BEFORE sequence() (Spark generates a
    DESCENDING range for start > stop, not an empty one)."""
    off = float(WORLD * 2)
    pdf = pd.DataFrame([{"geom_id": "out", "vx": [off, off + 9.0, off + 9.0, off],
                         "vy": [off, off, off + 9.0, off + 9.0]}])
    assert rasterize(spark.createDataFrame(pdf), res=RES).count() == 0


def test_zonal_stats_matches_join(spark, geoms):
    """zonal_stats == manual aggregation over the broadcast PIP join, and
    geometries with no points survive with the documented sentinels."""
    from quadtree_block_compression_spark.kernels.geometry import polygon_cover

    # guarantee an empty zone: a sub-unit sliver between integer points can
    # never contain an integer-valued test point
    sx = np.array([10.25, 10.75, 10.75, 10.25])
    sy = np.array([10.25, 10.25, 10.75, 10.75])
    sliver = pd.DataFrame([{"geom_id": "zz_empty", "kind": "rect",
                            "vx": sx.tolist(), "vy": sy.tolist(),
                            "cell_keys": polygon_cover(sx, sy, RES).tolist()}])
    geoms = geoms.unionByName(spark.createDataFrame(sliver),
                              allowMissingColumns=True)
    rng = np.random.default_rng(7)
    n = 4000
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n)],
        "tile_id": [""] * n,
        "wx": rng.integers(0, WORLD, n).astype(float),
        "wy": rng.integers(0, WORLD, n).astype(float),
    }))
    from quadtree_block_compression_spark.functions.cells import encode
    pts = pts.withColumn("cell", encode("wx", "wy", RES)).cache()

    got = {r.geom_id: r.asDict() for r in zonal_stats(pts, geoms).collect()}
    assert set(got) == {r.geom_id for r in geoms.select("geom_id").collect()}

    hits = spatial_join_broadcast(pts, geoms).toPandas()
    for gid, row in got.items():
        sub = hits[hits.geom_id == gid]
        assert row["n_points"] == len(sub)
        if len(sub) == 0:
            assert (row["sum_wx"], row["min_wx"], row["max_wy"]) == (0, -1, -1)
        else:
            assert row["sum_wx"] == int(sub.wx.sum())
            assert row["sum_wy"] == int(sub.wy.sum())
            assert row["min_wx"] == int(sub.wx.min())
            assert row["max_wx"] == int(sub.wx.max())
            assert row["min_wy"] == int(sub.wy.min())
            assert row["max_wy"] == int(sub.wy.max())
    # the mixed fixture sizes guarantee both populated and empty zones
    assert any(r["n_points"] == 0 for r in got.values())
    assert any(r["n_points"] > 0 for r in got.values())


# ------------------------------------------------------- overlap join ------


def test_overlap_join_matches_bruteforce(spark):
    """Grid-bucketed strict-AABB overlap join == O(n·m) numpy brute force,
    including (a) EXACTLY-touching rects, which must NOT collide
    (RectanglesCollide strict semantics), and (b) pairs sharing many grid
    cells, which must surface exactly once (reference-point rule)."""
    from quadtree_block_compression_spark.operators.spatial_join import (
        overlap_join)

    rng = np.random.default_rng(3)
    na, nb = 250, 150

    def mk(n, prefix):
        x0 = rng.integers(0, WORLD - 400_000, n).astype(float)
        y0 = rng.integers(0, WORLD - 400_000, n).astype(float)
        w = rng.integers(1, 350_000, n).astype(float)  # many-cell spans
        h = rng.integers(1, 350_000, n).astype(float)
        return pd.DataFrame({"id": [f"{prefix}{i}" for i in range(n)],
                             "x0": x0, "y0": y0, "x1": x0 + w, "y1": y0 + h})

    a, b = mk(na, "a"), mk(nb, "b")
    # plant exact-touch pairs: b's first rows start exactly at a's right edge
    for i in range(5):
        b.loc[i, ["x0", "y0"]] = [a.x1[i], a.y0[i]]
        b.loc[i, ["x1", "y1"]] = [a.x1[i] + 50_000, a.y0[i] + 50_000]

    got = overlap_join(spark.createDataFrame(a), spark.createDataFrame(b),
                       res=6).collect()
    pairs = [(r.rect_a, r.rect_b) for r in got]
    assert len(pairs) == len(set(pairs))  # reference-point rule: no dups

    ax0, ay0, ax1, ay1 = (a[c].to_numpy() for c in ("x0", "y0", "x1", "y1"))
    bx0, by0, bx1, by1 = (b[c].to_numpy() for c in ("x0", "y0", "x1", "y1"))
    hit = ((ax0[:, None] < bx1[None, :]) & (ax1[:, None] > bx0[None, :])
           & (ay0[:, None] < by1[None, :]) & (ay1[:, None] > by0[None, :]))
    want = {(f"a{i}", f"b{j}") for i, j in zip(*np.nonzero(hit))}
    assert set(pairs) == want
    assert len(want) > 50  # the fixture must exercise real overlap volume
    # planted touch pairs excluded by strictness
    for i in range(5):
        assert (f"a{i}", f"b{i}") not in set(pairs) or a.x1[i] != b.x0[i]

    # exact intersection areas
    area = {(r.rect_a, r.rect_b): r.inter_area_x4 for r in got}
    for (ai, bj) in list(want)[:200]:
        i, j = int(ai[1:]), int(bj[1:])
        iw = min(ax1[i], bx1[j]) - max(ax0[i], bx0[j])
        ih = min(ay1[i], by1[j]) - max(ay0[i], by0[j])
        assert area[(ai, bj)] == int(iw * ih * 4)


# ------------------------------------------------- compact / uncompact -----


def test_compact_uncompact_roundtrip(spark, geoms):
    """compact is a partition of the input set: uncompact restores it
    exactly, with no overlaps (each original cell produced once), and the
    compacted set is strictly smaller on region-shaped input."""
    from quadtree_block_compression_spark.operators.raster import (
        compact_cells, uncompact_cells)

    cells = rasterize(geoms, res=RES).cache()
    comp = compact_cells(cells, res=RES).cache()
    assert comp.count() < cells.count()
    # mixed resolutions actually exercised (big polygons have interiors)
    assert comp.select("res").distinct().count() >= 3

    back = uncompact_cells(comp, res=RES).collect()
    rt = [(r.geom_id, r.ix, r.iy) for r in back]
    assert len(rt) == len(set(rt))  # disjoint: no cell covered twice
    orig = {(r.geom_id, r.ix, r.iy) for r in cells.collect()}
    assert set(rt) == orig

    # cell keys carry each row's own resolution
    got = comp.select("res", "ix", "iy", "cell").collect()
    ix = np.array([r.ix for r in got])
    iy = np.array([r.iy for r in got])
    for rv in {r.res for r in got}:
        m = np.array([r.res == rv for r in got])
        want = cell_from_grid(ix[m], iy[m], int(rv))
        assert np.array_equal(
            np.array([r.cell for r in got], dtype=np.int64)[m], want)


def test_compact_full_grid_collapses_to_root(spark):
    """The complete res-2 grid (16 cells) compacts to the single root."""
    from quadtree_block_compression_spark.operators.raster import compact_cells
    full = pd.DataFrame([{"geom_id": "g", "ix": x, "iy": y}
                         for x in range(4) for y in range(4)])
    out = compact_cells(spark.createDataFrame(full), res=2).collect()
    assert [(r.geom_id, r.res, r.ix, r.iy) for r in out] == [("g", 0, 0, 0)]


def test_compact_dedups_input(spark):
    """Duplicate input cells must not fake a complete sibling set: four
    copies of ONE cell stay one res-N cell, not a promoted parent."""
    from quadtree_block_compression_spark.operators.raster import compact_cells
    dup = pd.DataFrame([{"geom_id": "g", "ix": 2, "iy": 2}] * 4)
    out = compact_cells(spark.createDataFrame(dup), res=3).collect()
    assert [(r.res, r.ix, r.iy) for r in out] == [(3, 2, 2)]


def test_compact_matches_python_reference_many_cases(spark):
    """20 random cell sets (blobs, sparse scatters, full quadrants) in ONE
    DataFrame — group_col isolates the cases — against a pure-Python
    bottom-up compaction."""
    from quadtree_block_compression_spark.operators.raster import compact_cells

    res = 4
    n = 1 << res

    def py_compact(cells):
        cur = set(cells)
        out = set()
        for r in range(res, 0, -1):
            parents = {}
            for (x, y) in cur:
                parents.setdefault((x // 2, y // 2), set()).add((x, y))
            promoted = {p for p, ch in parents.items() if len(ch) == 4}
            out |= {(r, x, y) for (x, y) in cur
                    if (x // 2, y // 2) not in promoted}
            cur = promoted
        return out | {(0, x, y) for (x, y) in cur}

    rng = np.random.default_rng(11)
    cases = {}
    for i in range(20):
        kind = i % 4
        if kind == 0:    # sparse scatter
            k = int(rng.integers(1, 30))
            pts = {(int(x), int(y)) for x, y in
                   zip(rng.integers(0, n, k), rng.integers(0, n, k))}
        elif kind == 1:  # solid random rectangle (compacts heavily)
            x0, y0 = rng.integers(0, n - 1, 2)
            x1 = int(rng.integers(x0, n)); y1 = int(rng.integers(y0, n))
            pts = {(x, y) for x in range(int(x0), x1 + 1)
                   for y in range(int(y0), y1 + 1)}
        elif kind == 2:  # full grid
            pts = {(x, y) for x in range(n) for y in range(n)}
        else:            # random mask
            mask = rng.random((n, n)) < 0.6
            pts = {(int(x), int(y)) for x, y in zip(*np.nonzero(mask))}
        cases[f"case_{i}"] = pts

    pdf = pd.DataFrame([{"geom_id": g, "ix": x, "iy": y}
                        for g, pts in cases.items() for (x, y) in pts])
    got = compact_cells(spark.createDataFrame(pdf), res=res).collect()
    by_case: dict[str, set] = {g: set() for g in cases}
    for r in got:
        by_case[r.geom_id].add((r.res, r.ix, r.iy))
    for g, pts in cases.items():
        assert by_case[g] == py_compact(pts), g
