"""Weighted pixel-similarity kernel.

Reimplements ``ComparePixelsWeighted`` (``pkg/utils/comparisonUtils.go:53-104``)
as a vectorized numpy reduction over batches of equal-sized node images,
preserving three deliberate quirks (SURVEY.md §7):

* **16-bit color domain**: Go's ``At().RGBA()`` returns ``v8 * 0x101``; the
  per-channel tolerance is ``1000 * weight`` in those units
  (``comparisonUtils.go:79-88``), i.e. ≈1 8-bit LSB for red, ≈2 for green and
  **0** for blue (114.0 / 257 < 1 — blue requires exact equality).
* **`PointCollides` off-by-one** (``comparisonUtils.go:107-112``): a pixel is
  "in bounds" when ``x <= W`` / ``y <= H`` (not ``<``), so the first padding
  row/column *is counted* in the similarity.
* **Zero relevant pixels → similarity 1** (``comparisonUtils.go:95-99``).

Luma weights from ``pkg/utils/imageUtils.go:11-13``.
"""

from __future__ import annotations

import numpy as np

WEIGHT_R = 0.2989
WEIGHT_G = 0.5870
WEIGHT_B = 0.1140
_WEIGHTS = np.array([WEIGHT_R, WEIGHT_G, WEIGHT_B])
# tolerances in the 16-bit domain: 1000 * weight (comparisonUtils.go:79-88).
# Since both operands are v8 * 0x101, the 16-bit diff is always diff8 * 257,
# so the float comparison |a16-b16| <= 1000*w is EXACTLY equivalent to the
# integer comparison diff8 <= floor(1000*w / 257) — i.e. R: ±1, G: ±2, B: 0.
# diff8 is taken in uint8 as max(a, b) - min(a, b), which cannot wrap; a
# wraparound form such as (a - b + tol) mod 256 would alias 0↔255 to a
# difference of 1. The comparison moves 8-bit data only, so the kernel stays
# off the memory-bandwidth ceiling at high core counts.
_TOL8 = (1000.0 * _WEIGHTS / 257.0).astype(np.uint8)  # [1, 2, 0]


def _keep_axes(size: int, x0: np.ndarray, y0: np.ndarray,
               width, height) -> tuple[np.ndarray, np.ndarray]:
    """``(keep_x, keep_y)``, each ``(n, size)`` bool: the columns and rows
    of each node NOT skipped by ``PointCollides``.

    Node ``i`` occupies global ``[x0[i], x0[i]+size) × [y0[i], y0[i]+size)``;
    a pixel at global (x, y) is relevant iff ``x <= width[i] and
    y <= height[i]`` (the deliberate ``<=`` quirk; origins are never
    negative here), so the relevant mask is ``keep_y[:, y] & keep_x[:, x]``.
    ``width``/``height`` are per-node arrays or scalars.
    """
    lx = np.arange(size)
    keep_x = (x0[:, None] + lx[None, :]) <= np.reshape(width, (-1, 1))
    keep_y = (y0[:, None] + lx[None, :]) <= np.reshape(height, (-1, 1))
    return keep_x, keep_y


def compare_pixels_weighted(a: np.ndarray, b: np.ndarray, x0: np.ndarray,
                            y0: np.ndarray, width, height) -> np.ndarray:
    """Batched ``ComparePixelsWeighted``.

    ``a``/``b``: ``(n, s, s, 3) uint8`` equal-bounds image pairs; ``x0, y0``:
    global top-left of each node; ``width, height``: original-image bounds
    (the ``globalBounds`` rect) — per-node ``(n,)`` arrays when the nodes
    come from different images, or scalars shared by all of them. Returns
    ``(n,) float64`` similarities.
    """
    a = np.asarray(a); b = np.asarray(b)
    n, s = a.shape[0], a.shape[1]
    x0 = np.asarray(x0, dtype=np.int64); y0 = np.asarray(y0, dtype=np.int64)
    diff8 = np.maximum(a, b)
    diff8 -= np.minimum(a, b)  # |a - b| in uint8, exact
    # rows as (x, channel) runs, so the comparison's and the y-sum's inner
    # loops are 3·s long, not 3 (a length-3 inner axis measured ~6× slower)
    ok = diff8.reshape(n, s, s * 3) <= np.tile(_TOL8, s)  # (n, y, x·c)
    keep_x, keep_y = _keep_axes(s, x0, y0, width, height)
    # the mask factors, so each channel's count is keep_yᵀ · ok · keep_x:
    # mask rows, sum over y, then mask and sum the (x, c) column counts
    ok &= keep_y[:, :, None]
    cols = ok.sum(axis=1, dtype=np.int64).reshape(n, s, 3)
    counts = (cols * keep_x[:, :, None]).sum(axis=1)  # (n, 3)
    matches = counts @ _WEIGHTS
    relevant = (keep_y.sum(axis=1) * keep_x.sum(axis=1)).astype(np.float64)
    return np.where(relevant <= 0, 1.0, matches / np.maximum(relevant, 1.0))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images (dB)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / mse))
