"""Quadtree tiling geometry: padding, quadrant split, tile-path codec.

Reimplements (from observed behavior, not ported code):

* pad-to-square ``8·2^k ≥ max(w, h)`` with top-left anchoring —
  ``pkg/quadtreeImage/quadtreeImage.go:381-405``;
* edge-replication fill of the padding area (NN-stretch of the 1-px border,
  8 fill ops = 4 edges + 4 corners) — ``pkg/utils/imageUtils.go:49-134``;
  numerically identical to ``np.pad(..., mode="edge")``;
* 4-way quadrant split with integer halving, child index bit tricks
  ``i&1`` → right half, ``i&2`` → lower half —
  ``pkg/quadtreeImage/quadtreeElement.go:88-118``;
* base-4 tile path ids (``""`` = root, child appends its digit —
  ``quadtreeElement.go:121``; the archive path form ``"0/3/1"``,
  ``quadtreeElement.go:241``, lives in ``sources/archive``);
* Morton/Z-order key derived from the path digits (each base-4 digit IS the
  interleaved (y,x) bit pair), used for range partitioning of the blocks
  table at scale.
"""

from __future__ import annotations

import numpy as np

from .. import BLOCK_SIZE, CHILD_COUNT


def padded_side(w: int, h: int) -> int:
    """Smallest ``BLOCK_SIZE * 2**k`` ≥ max(w, h) (doubling loop semantics)."""
    side = BLOCK_SIZE
    m = max(int(w), int(h))
    while side < m:
        side *= 2
    return side


def tree_height(w: int, h: int) -> int:
    """log2(padded_side / BLOCK_SIZE) — reference ``quadtreeImage.go:408-421``."""
    side = padded_side(w, h)
    return int(side // BLOCK_SIZE).bit_length() - 1


def pad_image(img: np.ndarray) -> np.ndarray:
    """Pad ``(h, w, c) uint8`` to the square padded side, edge-replicated."""
    h, w = img.shape[:2]
    side = padded_side(w, h)
    out = np.empty((side, side) + img.shape[2:], dtype=img.dtype)
    out[:h, :w] = img
    out[:h, w:] = img[:, w - 1:w]     # right edge
    out[h:] = out[h - 1:h]            # bottom edge, corner included
    return out


def tile_children(bounds: np.ndarray) -> np.ndarray:
    """Vectorized 4-way split: ``(n, 4) [x0,y0,x1,y1] -> (n, 4, 4)``.

    Children ordered by child index i = 0..3 (``i&1`` → right, ``i&2`` → lower).
    """
    b = np.asarray(bounds, dtype=np.int64)
    x0, y0, x1, y1 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]
    mx = x0 + (x1 - x0) // 2
    my = y0 + (y1 - y0) // 2
    out = np.empty((b.shape[0], CHILD_COUNT, 4), dtype=np.int64)
    for i in range(CHILD_COUNT):
        out[:, i, 0] = x0 if (i & 1) == 0 else mx
        out[:, i, 2] = mx if (i & 1) == 0 else x1
        out[:, i, 1] = y0 if (i & 2) == 0 else my
        out[:, i, 3] = my if (i & 2) == 0 else y1
    return out


def morton_key(tile_id: str) -> int:
    """Base-4 path → Morton int (MSB-first). Root '' → 0.

    Equals ``conv(tile_id, 4, 10)`` in Spark SQL, which is how the column
    version is computed JVM-side.
    """
    return int(tile_id, 4) if tile_id else 0
