"""Batched quadtree tile assignment + reassembly (pure numpy).

This is the distributed re-expression of the reference's recursive
partitioner. The Go code recurses node-by-node with goroutines
(``pkg/quadtreeImage/quadtreeElement.go:80-139``) and eagerly computes each
node's 8×8 block, upsampled block and leaf flag in the constructor
(``quadtreeElement.go:64-77``). Here the recursion runs
**level-synchronously over many images at once**: the images of one Arrow
batch that share a padded side are stacked into an ``(m, side, side, 3)``
array, and every node of a level — across all of those images — is stacked
into one ``(n, s, s, 3)`` batch, so downsample / upsample / similarity are
two matmuls and one masked reduction per level instead of per-node (or
per-image) loops. Each node carries its image index; rule 1 and the
``PointCollides`` mask read that image's own width and height. The "most
expensive code" (the quadrant copy, ``quadtreeElement.go:114-118``) becomes
one gather of aligned blocks out of a reshaped view of the canvases.

Images enter in runs bounded by ``_RUN_BYTES`` of padded canvas, so a batch
of large images never holds every decoded canvas at once; an image larger
than the budget runs alone.

Decision semantics are the reference's, bit-for-bit (SURVEY.md §2.2):

1. node fully outside original bounds (strict-inequality AABB test,
   ``comparisonUtils.go:115-120``) → leaf + skippable;
2. node size ≤ BLOCK_SIZE on either axis → leaf;
3. weighted similarity(upsampled block, node) > SimilarityCutoff → leaf
   (``quadtreeElement.go:142-155``).

Every node (interior included) emits a row — matching the reference's eager
evaluation, and giving the blocks table the full tree for lineage queries.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np

from .. import BLOCK_SIZE
from ..config import EngineConfig, DEFAULT_CONFIG
from .resample import scale_batch
from .similarity import compare_pixels_weighted
from .geometry import rectangles_collide
from .tiles import pad_image, padded_side, tile_children, tree_height

BLOCK_BYTES = BLOCK_SIZE * BLOCK_SIZE * 3

# Upsample+similarity are fused over chunks whose float64 intermediate stays
# ~this size: the (n, s, s, 3) buffer plus its three read-modify-write
# post-passes otherwise stream ~30× the payload bytes through DRAM (s=128),
# which is what starves cores once 32 of them run the kernel concurrently.
# Measured on the bench mix: +57% aggregate throughput at 8- and 32-way
# parallelism vs the unchunked pass, bit-identical output per node (chunking
# never changes per-node arithmetic; reductions are over fixed K=8).
_CHUNK_BYTES = 1 << 20

# Decoded images go through the level loop in runs whose padded canvases
# total at most ~this many bytes (an image larger than it runs alone). The
# level loop holds the run's canvases plus one level's gathered nodes — a
# few times the budget — per worker, whatever the Arrow batch size. Measured
# on 256 seeded images of ≤64 px in 64-image batches (one core): one image
# per run 384 ms, 256 KB runs 250 ms, whole-batch runs (≤0.8 MB) 237 ms —
# numpy's per-call overhead is amortized well below this budget.
_RUN_BYTES = 4 << 20

_COLUMNS = ("image", "tile_id", "level", "x0", "y0", "x1", "y1",
            "is_leaf", "oob", "similarity", "block_px")
_DIGITS = np.array(["0", "1", "2", "3"], dtype=object)


def _gather_nodes(canvas: np.ndarray, img: np.ndarray, x0: np.ndarray,
                  y0: np.ndarray, s: int) -> np.ndarray:
    """Stack node sections ``(n, s, s, 3)`` out of the stacked canvases.

    A level's nodes are aligned blocks: the side is ``BLOCK_SIZE·2^k`` split
    by integer halving, so every origin is a multiple of ``s``. Viewing each
    canvas as a grid of ``s × s`` blocks turns the gather into one index per
    node instead of one per pixel.
    """
    m, side = canvas.shape[0], canvas.shape[1]
    blocks = canvas.reshape(m, side // s, s, side // s, s, canvas.shape[3])
    return blocks[img, y0 // s, :, x0 // s]


def _tile_side(canvas: np.ndarray, ws: np.ndarray, hs: np.ndarray,
               cfg: EngineConfig) -> list[dict]:
    """Level loop over ``m`` images sharing one padded side. Returns one
    column dict per level; ``image`` indexes the canvas stack."""
    m, side = canvas.shape[0], canvas.shape[1]
    qt = cfg.quadtree
    img = np.arange(m)
    tile_ids = np.full(m, "", dtype=object)
    bounds = np.tile(np.array([0, 0, side, side], dtype=np.int64), (m, 1))
    levels = []
    level = 0

    while len(bounds):
        s = side >> level
        x0, y0 = bounds[:, 0], bounds[:, 1]
        nodes = canvas if level == 0 else _gather_nodes(canvas, img, x0, y0, s)
        w, h = ws[img], hs[img]

        down = scale_batch(nodes, BLOCK_SIZE, BLOCK_SIZE, qt.downsampling_interpolator)

        # rule 1: fully out of the original image's bounds
        zero = np.zeros(len(img))
        oob = ~rectangles_collide(bounds, np.stack([zero, zero, w, h], axis=1))
        # rule 2: min block size
        min_size = s <= BLOCK_SIZE
        # rule 3 (similarity) is evaluated ONLY for nodes rules 1-2 didn't
        # decide — exactly like checkIsLeaf's early returns
        # (quadtreeElement.go:142-155, compareImages called at :154 only).
        # The skipped upsample+compare at the bottom level is the single
        # hottest saving in the whole kernel; undecided rows carry NaN.
        sim = np.full(len(bounds), np.nan)
        idx = np.flatnonzero(~(oob | min_size))
        if len(idx):
            # fused + cache-resident: upsample a chunk, compare it while its
            # float64 intermediate is still hot, discard — never materialize
            # the whole level's upsampled batch (see _CHUNK_BYTES)
            chunk = max(1, _CHUNK_BYTES // (s * s * 3 * 8))
            for i in range(0, len(idx), chunk):
                sel = idx[i:i + chunk]
                up = scale_batch(down[sel], s, s, qt.upsampling_interpolator)
                sim[sel] = compare_pixels_weighted(up, nodes[sel], x0[sel],
                                                   y0[sel], w[sel], h[sel])
        is_leaf = oob | min_size | (sim > qt.similarity_cutoff)

        levels.append({"image": img, "tile_id": tile_ids,
                       "level": np.full(len(img), level, dtype=np.int32),
                       "bounds": bounds, "is_leaf": is_leaf, "oob": oob,
                       "similarity": sim, "block_px": down})

        split = ~is_leaf
        if not split.any():
            break
        tile_ids = (tile_ids[split][:, None] + _DIGITS[None, :]).ravel()
        bounds = tile_children(bounds[split]).reshape(-1, 4)
        img = np.repeat(img[split], 4)
        level += 1

    return levels


def _tile_run(imgs: list[np.ndarray], cfg: EngineConfig) -> list[dict]:
    """Tile one run of images: stack each padded-side group and run its
    level loop; ``image`` indexes ``imgs``."""
    sides = np.array([padded_side(im.shape[1], im.shape[0]) for im in imgs])
    ws = np.array([im.shape[1] for im in imgs], dtype=np.int64)
    hs = np.array([im.shape[0] for im in imgs], dtype=np.int64)
    parts = []
    for side in np.unique(sides):
        members = np.flatnonzero(sides == side)
        canvas = np.empty((len(members), side, side, 3), dtype=np.uint8)
        for j, i in enumerate(members):
            canvas[j] = pad_image(imgs[i])
        for lv in _tile_side(canvas, ws[members], hs[members], cfg):
            lv["image"] = members[lv["image"]]
            parts.append(lv)
    return parts


def assign_tiles_batch(imgs: Iterable[np.ndarray],
                       cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    """Quadtree-partition a sequence of decoded ``(h, w, c)`` images.

    ``imgs`` is consumed lazily, one run of ≤ ``_RUN_BYTES`` padded canvas
    at a time, so a generator that decodes on demand never holds more than
    one run. Returns a dict of equal-length numpy columns:
    ``image`` (position in ``imgs``), ``tile_id`` (object), ``level``,
    ``x0, y0, x1, y1`` (int32), ``is_leaf, oob`` (bool), ``similarity``
    (float64, NaN where rules 1–2 decided) and ``block_px`` — one contiguous
    ``(n, 8, 8, 3) uint8`` array of the nodes' 8×8 RGB downsamples, the
    reference's ``blockImageMinimal`` (``quadtreeElement.go:172``). Rows are
    image by image, then level by level, then in level order — exactly the
    per-image calls concatenated.
    """
    parts: list[dict] = []
    run: list[np.ndarray] = []
    base = run_bytes = 0

    def flush():
        nonlocal base, run, run_bytes
        for lv in _tile_run(run, cfg):
            lv["image"] = lv["image"] + base
            parts.append(lv)
        base += len(run)
        run, run_bytes = [], 0

    for im in imgs:
        im = np.ascontiguousarray(im[:, :, :3], dtype=np.uint8)
        nbytes = padded_side(im.shape[1], im.shape[0]) ** 2 * 3
        if run and run_bytes + nbytes > _RUN_BYTES:
            flush()
        run.append(im)
        run_bytes += nbytes
    if run:
        flush()

    if not parts:
        return {"image": np.zeros(0, dtype=np.int64),
                "tile_id": np.zeros(0, dtype=object),
                "level": np.zeros(0, dtype=np.int32),
                **{k: np.zeros(0, dtype=np.int32) for k in ("x0", "y0", "x1", "y1")},
                "is_leaf": np.zeros(0, dtype=bool), "oob": np.zeros(0, dtype=bool),
                "similarity": np.zeros(0), "block_px": np.zeros(
                    (0, BLOCK_SIZE, BLOCK_SIZE, 3), dtype=np.uint8)}
    image = np.concatenate([lv["image"] for lv in parts])
    order = np.argsort(image, kind="stable")
    out = {k: np.concatenate([lv[k] for lv in parts])[order]
           for k in parts[0] if k != "image"}
    x0, y0, x1, y1 = np.ascontiguousarray(out.pop("bounds").T, dtype=np.int32)
    out.update(image=image[order], x0=x0, y0=y0, x1=x1, y1=y1)
    return {k: out[k] for k in _COLUMNS}


def assign_tiles_image(img: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    """Quadtree-partition one decoded image: the one-image call of
    :func:`assign_tiles_batch` (same columns, ``image`` all zero)."""
    return assign_tiles_batch([img], cfg)


def reassemble_image(w: int, h: int, x0s, y0s, x1s, block_pxs,
                     cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Rebuild an image from its leaf blocks — the reference's decode +
    ``GetBlockImage`` composition (``quadtreeImage.go:151-301``): upsample
    each 8×8 block to its node size with the *upsampling* interpolator,
    paste at its bounds, crop the padding.
    """
    side = 1
    canvas = None
    order = np.argsort(np.asarray(x1s) - np.asarray(x0s))  # group by node size
    x0s = np.asarray(x0s, dtype=np.int64)[order]
    y0s = np.asarray(y0s, dtype=np.int64)[order]
    sizes = (np.asarray(x1s, dtype=np.int64)[order] - x0s)
    blocks = [block_pxs[i] for i in order]
    side = max(int((x0s + sizes).max()), int((y0s + sizes).max()))
    canvas = np.zeros((side, side, 3), dtype=np.uint8)
    i = 0
    n = len(blocks)
    while i < n:
        j = i
        s = int(sizes[i])
        while j < n and sizes[j] == s:
            j += 1
        batch = np.stack([np.frombuffer(blocks[k], dtype=np.uint8).reshape(
            BLOCK_SIZE, BLOCK_SIZE, 3) for k in range(i, j)])
        ups = scale_batch(batch, s, s, cfg.quadtree.upsampling_interpolator)
        for bi, k in enumerate(range(i, j)):
            canvas[y0s[k]:y0s[k] + s, x0s[k]:x0s[k] + s] = ups[bi]
        i = j
    return canvas[:h, :w]


__all__ = ["assign_tiles_batch", "assign_tiles_image", "reassemble_image", "tree_height", "BLOCK_BYTES"]
