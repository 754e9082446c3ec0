"""Spatial kernels: Z-order cell keys, point-in-polygon, cell rings.

The north rule mandates an H3/S2-style cell index with batched vectorized
encode, point-in-polygon tests, and kNN via cell-ring expansion. No ``h3``
wheel ships in this sandbox (SURVEY.md §7 risk list), so the cell system is a
pure-numpy **Z-order (Morton) grid over a fixed world frame** — the same
shape of API: ``encode(points) → int64 cells``, ``cell_ring(cell, r) →
neighbors``, ``polygon_cover(poly) → cells``. Swapping in real H3 later is a
one-module change. Operators key DataFrames with the Column twins in
``functions/cells.py``; the numpy encode/ring here is their test oracle.

World frame: ``[0, WORLD) × [0, WORLD)`` doubles. A cell key at resolution
``r`` packs ``(r, morton(ix, iy))`` into an int64 with the resolution in the
top 5 bits, so keys from different resolutions never collide (like H3's
resolution-qualified indexes).

PIP is the even-odd ray-casting rule, vectorized over points × polygon edges.
Axis-aligned rectangles reduce to the reference's ``RectanglesCollide``
strict-inequality semantics (``pkg/utils/comparisonUtils.go:115-120``).
"""

from __future__ import annotations

import numpy as np

WORLD = 1 << 20  # world frame side (doubles; fits 20-bit per-axis grids)
MAX_RES = 16


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread 16-bit integers so bits occupy even positions (Morton helper)."""
    v = v.astype(np.uint64) & np.uint64(0xFFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x33333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x55555555)
    return v


def _grid(v: np.ndarray, res: int) -> np.ndarray:
    """World coordinates → 2^res grid indexes: NaN and below 0 → 0, ≥ WORLD
    (incl. +inf) → 2^res − 1. Clipped first: the int cast of inf is undefined."""
    g = np.nan_to_num(np.asarray(v, dtype=np.float64) * ((1 << res) / WORLD), nan=0.0)
    return np.clip(g, 0, (1 << res) - 1).astype(np.int64)


def cell_encode(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Batched point → int64 cell key at resolution ``res`` (2^res × 2^res grid)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    return cell_from_grid(_grid(x, res), _grid(y, res), res)


def cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell keys → (ix, iy, res)."""
    c = np.asarray(cell, dtype=np.int64).view(np.uint64)
    res = (c >> np.uint64(58)).astype(np.int64)
    m = c & np.uint64((1 << 58) - 1)

    def _compact(v: np.ndarray) -> np.ndarray:
        v = v & np.uint64(0x5555555555555555)
        v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
        v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
        return v.astype(np.int64)

    return _compact(m), _compact(m >> np.uint64(1)), res


def cell_from_grid(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    morton = _part1by1(np.asarray(ix, np.int64)) | (_part1by1(np.asarray(iy, np.int64)) << np.uint64(1))
    return (morton | (np.uint64(res) << np.uint64(58))).astype(np.int64)


def cell_ring(cells: np.ndarray, ring: int) -> np.ndarray:
    """All cells within Chebyshev distance ``ring`` of each input cell.

    Returns ``(n, (2r+1)^2) int64`` (clamped at world edges, duplicates
    kept). ``ring=0`` → the cells themselves. The oracle for the kNN shell
    (``knn._ring_cells``): shell = ``setdiff1d`` of two such disks.
    """
    cells = np.atleast_1d(np.asarray(cells, dtype=np.int64))
    ix, iy, res = cell_decode(cells)
    r = int(res[0]) if len(res) else 0
    lim = (1 << r) - 1
    offs = np.arange(-ring, ring + 1)
    ox, oy = np.meshgrid(offs, offs, indexing="ij")
    nx = np.clip(ix[:, None] + ox.ravel()[None, :], 0, lim)
    ny = np.clip(iy[:, None] + oy.ravel()[None, :], 0, lim)
    return cell_from_grid(nx.ravel(), ny.ravel(), r).reshape(len(cells), -1)


def polygon_cover(xs: np.ndarray, ys: np.ndarray, res: int) -> np.ndarray:
    """Covering cells of a polygon's bounding box at resolution ``res``.

    A bbox cover is a superset of the exact cover — sound for join
    prefiltering (candidates verified by exact PIP afterwards).
    """
    scale = (1 << res) / WORLD
    lim = (1 << res) - 1
    x0 = int(np.clip(np.floor(min(xs) * scale), 0, lim))
    x1 = int(np.clip(np.floor(max(xs) * scale), 0, lim))
    y0 = int(np.clip(np.floor(min(ys) * scale), 0, lim))
    y1 = int(np.clip(np.floor(max(ys) * scale), 0, lim))
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1), indexing="ij")
    return cell_from_grid(gx.ravel(), gy.ravel(), res)


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Even-odd ray-casting PIP, vectorized over points. Boundary-exclusive
    on the right/top in the half-open convention (consistent with the
    reference's strict-inequality ``RectanglesCollide``)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    vx = np.asarray(vx, dtype=np.float64)
    vy = np.asarray(vy, dtype=np.float64)
    x1, y1 = vx[None, :], vy[None, :]
    x2, y2 = np.roll(vx, -1)[None, :], np.roll(vy, -1)[None, :]
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xcross = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        crosses = ((y1 > py) != (y2 > py)) & (px < xcross)
    return crosses.sum(axis=1) % 2 == 1


def rectangles_collide(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Strict-inequality AABB overlap — the reference's ``RectanglesCollide``
    (``comparisonUtils.go:115-120``): touching edges do NOT collide.
    ``a``: (n,4) [x0,y0,x1,y1]; ``b``: (4,) or (n,4)."""
    a = np.asarray(a, dtype=np.float64).reshape(-1, 4)
    b = np.asarray(b, dtype=np.float64)
    if b.ndim == 1:
        b = b[None, :]
    return ((a[:, 0] < b[:, 2]) & (a[:, 2] > b[:, 0])
            & (a[:, 1] < b[:, 3]) & (a[:, 3] > b[:, 1]))
