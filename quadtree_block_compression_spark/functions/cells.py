"""Z-order cell keys as Catalyst column expressions: the JVM twins of
``kernels.geometry``'s ``cell_encode``/``cell_from_grid`` (their numpy
oracle in ``tests/test_cells.py``), so a cell key costs no Python round
trip. Axis rule in both: NaN and anything below 0 → index 0, anything
≥ ``WORLD`` (incl. +inf) → ``2^res − 1``; ``floor`` of a double is a
saturating long cast, so NaN/±inf raise nothing under ANSI.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..kernels.geometry import MAX_RES, WORLD


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _part1by1(v: Column) -> Column:
    """Spread 16-bit integers so their bits occupy even positions."""
    v = v.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                        (2, 0x33333333), (1, 0x55555555)):
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def grid(v: str | Column, res: int) -> Column:
    """World coordinate column → clamped axis index on the 2^res grid."""
    n = 1 << res
    return F.least(F.greatest(F.floor(_col(v) * F.lit(n / WORLD)), F.lit(0)),
                   F.lit(n - 1))


def from_grid(ix: str | Column, iy: str | Column, res: int | Column) -> Column:
    """Grid index columns → int64 cell key; ``res`` may be a per-row column."""
    tag = (F.shiftleft(res.cast("long"), 58) if isinstance(res, Column)
           else F.lit(res << 58))  # resolution in the top bits, as the kernel
    return (_part1by1(_col(ix)).bitwiseOR(F.shiftleft(_part1by1(_col(iy)), 1))
            .bitwiseOR(tag))


def encode(x: str | Column, y: str | Column, res: int) -> Column:
    """World point columns → int64 cell key at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    return from_grid(grid(x, res), grid(y, res), res)
