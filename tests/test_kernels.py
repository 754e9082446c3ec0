"""Unit tests for the pure-numpy kernels (SURVEY.md §5: the operator-level
tests the reference never had)."""

import numpy as np
import pytest

from quadtree_block_compression_spark.kernels.resample import scale, scale_batch
from quadtree_block_compression_spark.kernels.similarity import (
    compare_pixels_weighted, psnr)
from quadtree_block_compression_spark.kernels.tiles import (
    padded_side, tree_height, pad_image, child_bounds, tile_children,
    morton_key, tile_path_to_archive_path, archive_path_to_tile_path)
from quadtree_block_compression_spark.kernels.codecs import (
    encode_png, decode_png, encode_raw, decode_raw, encode_lossy, decode_lossy,
    encode_image, decode_image)
from quadtree_block_compression_spark.kernels.geometry import (
    cell_encode, cell_decode, cell_ring, polygon_cover, points_in_polygon,
    rectangles_collide, WORLD)
from quadtree_block_compression_spark.kernels.phash import phash64, hamming64
from quadtree_block_compression_spark.kernels import quadtree
from quadtree_block_compression_spark.kernels.quadtree import (
    assign_tiles_batch, assign_tiles_image, reassemble_image)
from quadtree_block_compression_spark.config import (
    DEFAULT_CONFIG, EngineConfig, QuadtreeConfig)

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- resample -


def test_nn_identity():
    img = RNG.integers(0, 256, (16, 16, 3), dtype=np.int64).astype(np.uint8)
    assert (scale(img, 16, 16, "NearestNeighbor") == img).all()


def test_nn_downsample_go_arithmetic():
    # Go: sx = (2*dx+1)*sw/(2*dw). For sw=16, dw=8: sx = (2dx+1), i.e. odd cols.
    img = np.arange(16, dtype=np.uint8).reshape(1, 16, 1).repeat(16, 0).repeat(3, 2)
    out = scale(img, 8, 8, "NearestNeighbor")
    assert out[0, :, 0].tolist() == [1, 3, 5, 7, 9, 11, 13, 15]


def test_kernel_identity_bit_exact():
    img = RNG.integers(0, 256, (8, 8, 3), dtype=np.int64).astype(np.uint8)
    for m in ("BiLinear", "CatmullRom"):
        assert (scale(img, 8, 8, m) == img).all(), m


def test_catmullrom_constant_preserved():
    img = np.full((8, 8, 3), 137, dtype=np.uint8)
    up = scale(img, 64, 64, "CatmullRom")
    assert (up == 137).all()


def test_catmullrom_upsample_smooth_monotone_ramp():
    img = np.linspace(0, 255, 8, dtype=np.uint8).reshape(1, 8, 1).repeat(8, 0).repeat(3, 2)
    up = scale(img, 32, 32, "CatmullRom")
    # rows identical, roughly monotone ramp
    assert (up[0] == up[5]).all()
    d = np.diff(up[0, :, 0].astype(int))
    assert d.min() >= -1 and up[0, -1, 0] >= 250


def test_approx_bilinear_point_sampled_semantics():
    """x/image ApproxBiLinear: identity bit-exact; equals the BiLinear
    kernel on magnification (same two taps); DIFFERS on minification —
    point sampling never widens the kernel, the defining 'approx' trait."""
    img = RNG.integers(0, 256, (16, 16, 3), dtype=np.int64).astype(np.uint8)
    assert (scale(img, 16, 16, "ApproxBiLinear") == img).all()
    assert (scale(img, 32, 32, "ApproxBiLinear")
            == scale(img, 32, 32, "BiLinear")).all()
    assert not (scale(img, 4, 4, "ApproxBiLinear")
                == scale(img, 4, 4, "BiLinear")).all()
    # back-projection of dst 0 at 16->4 lands at sx=1.5: mean of cols 1,2
    # in the 16-bit domain with Go's ftou/>>8 conversion:
    # (17+34)/2 * 257 = 6553.5 -> ftou 6554 -> >>8 = 25 (not round(25.5)=26)
    w16 = np.arange(16, dtype=np.uint8).reshape(1, 16, 1).repeat(16, 0).repeat(3, 2) * 17
    got = scale(w16, 16, 4, "ApproxBiLinear")
    expect = int(np.floor((25.5 * 257 + 0.5)) ) >> 8
    assert int(got[0, 0, 0]) == expect == 25


def test_scale_batch_matches_single():
    imgs = RNG.integers(0, 256, (5, 16, 16, 3), dtype=np.int64).astype(np.uint8)
    b = scale_batch(imgs, 8, 8, "CatmullRom")
    for i in range(5):
        assert (b[i] == scale(imgs[i], 8, 8, "CatmullRom")).all()


def _ftou_reference(imgs, dst_h, dst_w, method):
    """``scale_batch`` with Go's ftou/>>8 written as a float floor_divide:
    the same weights and contractions, so only the conversion differs."""
    from quadtree_block_compression_spark.kernels import resample
    n, h, w, c = imgs.shape
    if method == "ApproxBiLinear":
        wy, wx = resample._abl_distrib(h, dst_h), resample._abl_distrib(w, dst_w)
    else:
        wy, wx = resample._distrib(h, dst_h, method), resample._distrib(w, dst_w, method)
    tmp = np.einsum("nhwc,xw->nhxc", imgs.astype(np.float64), wx * 257.0, optimize=True)
    out = np.einsum("nhxc,yh->nyxc", tmp, wy, optimize=True)
    return np.floor_divide(np.clip(out + 0.5, 0.0, 65535.0), 256.0).astype(np.uint8)


@pytest.mark.parametrize("method", ["CatmullRom", "BiLinear", "ApproxBiLinear"])
def test_scale_batch_ftou_equals_floor_divide(method):
    """The conversion is bit-identical to floor(clamp(sum16 + 0.5) / 256) on
    0/255 checkerboards (CatmullRom overshoots below 0 and above 65535),
    flat blocks and noise, up and down."""
    rng = np.random.default_rng(17)
    for src in (8, 13, 16):
        board = (np.indices((src, src)).sum(axis=0) % 2 * 255).astype(np.uint8)
        imgs = np.stack([board[..., None].repeat(3, 2), 255 - board[..., None].repeat(3, 2),
                         np.full((src, src, 3), 255, np.uint8),
                         np.full((src, src, 3), 0, np.uint8),
                         np.full((src, src, 3), 128, np.uint8),
                         rng.integers(0, 256, (src, src, 3)).astype(np.uint8)])
        for dst in (1, 5, 8, 16, 29, 64):
            got = scale_batch(imgs, dst, dst, method)
            assert got.dtype == np.uint8
            assert np.array_equal(got, _ftou_reference(imgs, dst, dst, method)), (src, dst)
    if method == "CatmullRom":  # the checkerboards did reach both clamps
        up = _ftou_reference(imgs[:2], 64, 64, method)
        assert up.min() == 0 and up.max() == 255


# -------------------------------------------------------------- similarity -


def test_similarity_identical_is_weight_sum():
    # weights sum to .2989+.5870+.1140 = .9999 — identical images score
    # 0.9999, not 1.0 (faithful to ComparePixelsWeighted's accumulation)
    a = RNG.integers(0, 256, (2, 8, 8, 3), dtype=np.int64).astype(np.uint8)
    s = compare_pixels_weighted(a, a.copy(), np.zeros(2), np.zeros(2), 8, 8)
    assert np.allclose(s, 0.9999)


def test_similarity_blue_requires_exact():
    # tolerance 1000*0.114 = 114 < 257 → ±1 LSB in blue must NOT match
    a = np.zeros((1, 8, 8, 3), dtype=np.uint8)
    b = a.copy(); b[..., 2] = 1
    s = compare_pixels_weighted(a, b, np.zeros(1), np.zeros(1), 8, 8)
    assert np.allclose(s, 0.2989 + 0.5870)  # R and G match, B does not


def test_similarity_red_tolerates_one_lsb():
    # tolerance 1000*0.2989 = 298.9 ≥ 257 → ±1 LSB in red matches
    a = np.zeros((1, 8, 8, 3), dtype=np.uint8)
    b = a.copy(); b[..., 0] = 1
    s = compare_pixels_weighted(a, b, np.zeros(1), np.zeros(1), 8, 8)
    assert np.allclose(s, 0.9999)


def test_similarity_point_collides_off_by_one():
    # node at (0,0) size 8, image bounds 4x4: relevant pixels are x<=4, y<=4
    # → a 5x5 region (the quirk: the first padding row/col IS counted)
    a = np.zeros((1, 8, 8, 3), dtype=np.uint8)
    b = a.copy()
    b[0, :5, :5, :] = 50  # mismatch exactly the relevant region (all channels off)
    s = compare_pixels_weighted(a, b, np.zeros(1), np.zeros(1), 4, 4)
    assert np.allclose(s, 0.0)
    # mismatching ONLY outside the 5x5 relevant region → similarity 1
    c = a.copy()
    c[0, 5:, :, :] = 50
    c[0, :, 5:, :] = 50
    s2 = compare_pixels_weighted(a, c, np.zeros(1), np.zeros(1), 4, 4)
    assert np.allclose(s2, 0.9999)


def test_similarity_zero_relevant_pixels_is_one():
    a = np.zeros((1, 8, 8, 3), dtype=np.uint8)
    b = np.full((1, 8, 8, 3), 255, dtype=np.uint8)
    # node at x0=100 entirely right of a 4x4 image → 0 relevant → 1.0
    s = compare_pixels_weighted(a, b, np.array([100]), np.array([100]), 4, 4)
    assert np.allclose(s, 1.0)


def _compare_int16_reference(a, b, x0, y0, width, height):
    """``ComparePixelsWeighted`` over int16 differences and the full
    ``PointCollides`` mask."""
    n, s = a.shape[0], a.shape[1]
    diff8 = np.abs(a.astype(np.int16) - b.astype(np.int16))
    in_range = diff8 <= np.array([1, 2, 0], dtype=np.int16)
    lx = np.arange(s)
    keep_x = (np.asarray(x0)[:, None] + lx) <= np.reshape(width, (-1, 1))
    keep_y = (np.asarray(y0)[:, None] + lx) <= np.reshape(height, (-1, 1))
    mask = keep_y[:, :, None] & keep_x[:, None, :]
    counts = (in_range & mask[..., None]).sum(axis=(1, 2))
    matches = counts @ np.array([0.2989, 0.5870, 0.1140])
    relevant = mask.sum(axis=(1, 2)).astype(np.float64)
    return np.where(relevant <= 0, 1.0, matches / np.maximum(relevant, 1.0))


def test_compare_weighted_equals_int16_reference():
    """Adversarial pairs (0↔255, 1↔255, 0↔254 — a wraparound difference
    would alias them to small ones), per-channel differences of ±1..±3,
    nodes straddling the ``<=`` edge, scalar and per-node bounds."""
    rng = np.random.default_rng(23)
    s, n = 16, 48
    a = rng.integers(0, 256, (n, s, s, 3)).astype(np.uint8)
    b = a.copy()
    pairs = np.array([[0, 255], [1, 255], [0, 254], [255, 0], [255, 1], [254, 0]])
    for i in range(n // 2):  # per-pixel adversarial pairs, either order
        pick = pairs[rng.integers(0, len(pairs), (s, s, 3))]
        a[i], b[i] = pick[..., 0], pick[..., 1]
    step = rng.integers(-3, 4, (n - n // 2, s, s, 3))
    b[n // 2:] = np.clip(a[n // 2:].astype(int) + step, 0, 255)
    # origins of a 64-px image split into 16-px nodes; bounds land before,
    # on and past each node's last column/row (the <= quirk's edge)
    x0 = rng.integers(0, 4, n) * s
    y0 = rng.integers(0, 4, n) * s
    w = x0 + rng.integers(-2, s + 2, n)
    h = y0 + rng.integers(-2, s + 2, n)
    got = compare_pixels_weighted(a, b, x0, y0, w, h)
    assert np.array_equal(got, _compare_int16_reference(a, b, x0, y0, w, h))
    for width, height in ((s - 1, s - 1), (s, s), (s // 2, 3 * s), (200, 200)):
        got = compare_pixels_weighted(a, b, x0, y0, width, height)
        assert np.array_equal(got, _compare_int16_reference(a, b, x0, y0, width, height))
    # the adversarial pairs all differ by ≥ 254: no channel ever matches
    z = np.zeros(n // 2, dtype=np.int64)
    assert (compare_pixels_weighted(a[:n // 2], b[:n // 2], z, z, 200, 200) == 0).all()


# ------------------------------------------------------------------- tiles -


def test_padded_side_and_height():
    assert padded_side(1, 1) == 8 and tree_height(1, 1) == 0
    assert padded_side(8, 8) == 8
    assert padded_side(9, 3) == 16 and tree_height(9, 3) == 1
    assert padded_side(100, 250) == 256 and tree_height(100, 250) == 5
    assert padded_side(512, 512) == 512 and tree_height(512, 512) == 6


def test_pad_edge_replication():
    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    p = pad_image(img)
    assert p.shape == (8, 8, 3)
    assert (p[0, 2:] == img[0, 1]).all()      # right edge replicated
    assert (p[2:, 0] == img[1, 0]).all()      # bottom edge replicated
    assert (p[5, 5] == img[1, 1]).all()       # corner


def test_child_bounds_bit_tricks():
    # i&1 → right half (x), i&2 → lower half (y), integer halving
    assert child_bounds(0, 0, 16, 16, 0) == (0, 0, 8, 8)
    assert child_bounds(0, 0, 16, 16, 1) == (8, 0, 16, 8)
    assert child_bounds(0, 0, 16, 16, 2) == (0, 8, 8, 16)
    assert child_bounds(0, 0, 16, 16, 3) == (8, 8, 16, 16)
    got = tile_children(np.array([[0, 0, 16, 16]]))
    assert got[0].tolist() == [[0, 0, 8, 8], [8, 0, 16, 8], [0, 8, 8, 16], [8, 8, 16, 16]]


def test_tile_path_codec():
    assert tile_path_to_archive_path("031") == "0/3/1"
    assert archive_path_to_tile_path("0/3/1") == "031"
    assert morton_key("") == 0
    assert morton_key("031") == 0 * 16 + 3 * 4 + 1  # base-4 MSB-first


# ------------------------------------------------------------------ codecs -


@pytest.mark.parametrize("shape", [(1, 1), (7, 9), (16, 16), (33, 100)])
def test_png_roundtrip(shape):
    from quadtree_block_compression_spark.kernels.codecs import _unfilter
    img = RNG.integers(0, 256, (*shape, 3), dtype=np.int64).astype(np.uint8)
    assert (decode_png(encode_png(img)) == img).all()
    # the filter-0 fast path equals the row loop: Up on the first row adds 0
    raw = np.concatenate([np.zeros((shape[0], 1), np.uint8), img.reshape(shape[0], -1)], axis=1)
    looped = raw.copy()
    looped[0, 0] = 2
    assert np.array_equal(_unfilter(raw, shape[0], shape[1] * 3, 3),
                          _unfilter(looped, shape[0], shape[1] * 3, 3))


def test_raw_roundtrip():
    img = RNG.integers(0, 256, (5, 3, 3), dtype=np.int64).astype(np.uint8)
    assert (decode_raw(encode_raw(img)) == img).all()


def test_lossy_roundtrip_quality():
    # smooth content at q75 → high fidelity
    yy, xx = np.mgrid[0:64, 0:64]
    img = np.stack([xx * 4, yy * 4, (xx + yy) * 2], axis=-1).astype(np.uint8)
    out = decode_lossy(encode_lossy(img, 75))
    assert out.shape == img.shape
    assert psnr(img, out) >= 40.0


def test_decode_dispatch_magic_bytes():
    img = RNG.integers(0, 256, (8, 8, 3), dtype=np.int64).astype(np.uint8)
    for fmt in ("png", "raw", "jpeg"):
        out = decode_image(encode_image(img, fmt))
        assert out.shape == img.shape


# ---------------------------------------------------------------- geometry -


def test_cell_encode_decode_roundtrip():
    xy = RNG.random((100, 2)) * WORLD
    cells = cell_encode(xy[:, 0], xy[:, 1], 8)
    ix, iy, res = cell_decode(cells)
    assert (res == 8).all()
    assert (ix == (xy[:, 0] * 256 / WORLD).astype(int)).all()
    assert (iy == (xy[:, 1] * 256 / WORLD).astype(int)).all()


def test_cell_ring():
    c = cell_encode(np.array([WORLD / 2]), np.array([WORLD / 2]), 4)
    ring1 = cell_ring(c, 1)
    assert ring1.shape == (1, 9)
    assert len(set(ring1[0].tolist())) == 9
    assert int(c[0]) in ring1[0].tolist()


def test_pip_square_and_concave():
    vx = np.array([0.0, 10.0, 10.0, 0.0])
    vy = np.array([0.0, 0.0, 10.0, 10.0])
    px = np.array([5.0, 15.0, -1.0, 9.999])
    py = np.array([5.0, 5.0, 5.0, 9.999])
    assert points_in_polygon(px, py, vx, vy).tolist() == [True, False, False, True]
    # concave "L"
    lx = np.array([0, 10, 10, 5, 5, 0], dtype=float)
    ly = np.array([0, 0, 5, 5, 10, 10], dtype=float)
    assert points_in_polygon(np.array([7.0]), np.array([7.0]), lx, ly).tolist() == [False]
    assert points_in_polygon(np.array([2.0]), np.array([7.0]), lx, ly).tolist() == [True]


def test_rectangles_collide_strict():
    a = np.array([[0, 0, 10, 10]])
    assert rectangles_collide(a, np.array([10, 0, 20, 10])).tolist() == [False]  # touching
    assert rectangles_collide(a, np.array([9, 0, 20, 10])).tolist() == [True]
    assert rectangles_collide(a, np.array([-5, -5, 1, 1])).tolist() == [True]


def test_polygon_cover_superset():
    vx = np.array([0.1, 0.3, 0.2]) * WORLD
    vy = np.array([0.1, 0.1, 0.3]) * WORLD
    cells = set(polygon_cover(vx, vy, 6).tolist())
    centroid = cell_encode(np.array([vx.mean()]), np.array([vy.mean()]), 6)
    assert int(centroid[0]) in cells


# ------------------------------------------------------------------- phash -


def test_phash_deterministic_and_discriminative():
    a = RNG.integers(0, 256, (32, 32, 3), dtype=np.int64).astype(np.uint8)
    b = RNG.integers(0, 256, (32, 32, 3), dtype=np.int64).astype(np.uint8)
    assert phash64(a) == phash64(a.copy())
    assert hamming64(np.array([phash64(a)]), np.array([phash64(a)]))[0] == 0
    assert hamming64(np.array([phash64(a)]), np.array([phash64(b)]))[0] > 4


# ---------------------------------------------------------------- quadtree -


@pytest.mark.parametrize("side", [16, 64, 256])
def test_gather_nodes_equals_fancy_index(side):
    """Every level's aligned nodes out of a stacked canvas equal the
    per-pixel fancy-indexed sections."""
    rng = np.random.default_rng(side)
    m = 3
    canvas = rng.integers(0, 256, (m, side, side, 3)).astype(np.uint8)
    s = side
    while s >= 8:
        k = side // s
        img = np.repeat(np.arange(m), k * k)
        y0 = np.tile(np.repeat(np.arange(k), k) * s, m)
        x0 = np.tile(np.tile(np.arange(k), k) * s, m)
        order = rng.permutation(len(img))  # any node order, any image mix
        img, x0, y0 = img[order], x0[order], y0[order]
        rows = y0[:, None] + np.arange(s)[None, :]
        cols = x0[:, None] + np.arange(s)[None, :]
        want = canvas[img[:, None, None], rows[:, :, None], cols[:, None, :], :]
        got = quadtree._gather_nodes(canvas, img, x0, y0, s)
        assert got.shape == (len(img), s, s, 3)
        assert np.array_equal(got, want), s
        s //= 2


def test_quadtree_solid_collapses_at_root():
    img = np.full((64, 64, 3), 99, dtype=np.uint8)
    out = assign_tiles_image(img)
    assert out["tile_id"] == [""]
    assert out["is_leaf"] == [True]
    assert np.isclose(out["similarity"][0], 0.9999)


def test_quadtree_noise_full_depth():
    img = np.random.default_rng(0).integers(0, 256, (16, 16, 3), dtype=np.int64).astype(np.uint8)
    out = assign_tiles_image(img)
    # root not leaf → 4 children of size 8, all leaves (min size)
    assert out["tile_id"][0] == "" and not out["is_leaf"][0]
    assert sorted(out["tile_id"][1:]) == ["0", "1", "2", "3"]
    assert all(out["is_leaf"][1:])


def test_quadtree_nonleaf_has_exactly_4_children():
    img = np.random.default_rng(1).integers(0, 256, (33, 20, 3), dtype=np.int64).astype(np.uint8)
    out = assign_tiles_image(img)
    ids = set(out["tile_id"])
    for tid, leaf in zip(out["tile_id"], out["is_leaf"]):
        kids = [tid + str(i) for i in range(4)]
        if leaf:
            assert not any(k in ids for k in kids)
        else:
            assert all(k in ids for k in kids)


def test_quadtree_oob_detection():
    # 9x3 image pads to 16: right-bottom quadrant [8,16)x[8,16) is fully
    # below y=3... not fully right of x=9 → check child 3 (lower-right):
    # bounds (8,8,16,16) vs (0,0,9,3): y: 8 >= 3 → no collide → oob
    img = np.random.default_rng(2).integers(0, 256, (3, 9, 3), dtype=np.int64).astype(np.uint8)
    out = assign_tiles_image(img)
    row = {t: i for i, t in enumerate(out["tile_id"])}
    if "3" in row:
        assert out["oob"][row["3"]] and out["is_leaf"][row["3"]]


def test_quadtree_leaves_partition_canvas():
    img = np.random.default_rng(3).integers(0, 256, (33, 33, 3), dtype=np.int64).astype(np.uint8)
    out = assign_tiles_image(img)
    area = sum((x1 - x0) * (y1 - y0)
               for x0, y0, x1, y1, leaf in zip(out["x0"], out["y0"], out["x1"],
                                               out["y1"], out["is_leaf"]) if leaf)
    assert area == 64 * 64


def test_quadtree_deterministic():
    img = np.random.default_rng(4).integers(0, 256, (100, 64, 3), dtype=np.int64).astype(np.uint8)
    a = assign_tiles_image(img)
    b = assign_tiles_image(img)
    for k in a:  # NaN-aware similarity (rule-3-skipped rows carry NaN)
        assert np.array_equal(a[k], b[k], equal_nan=k == "similarity"), k


def test_quadtree_similarity_nan_only_for_rule12_leaves():
    # similarity is computed iff rules 1-2 didn't already decide (the
    # reference calls compareImages only at quadtreeElement.go:154)
    img = np.random.default_rng(6).integers(0, 256, (16, 16, 3), dtype=np.int64).astype(np.uint8)
    out = assign_tiles_image(img)
    for tid, x0, x1, sim in zip(out["tile_id"], out["x0"], out["x1"], out["similarity"]):
        if x1 - x0 <= 8:
            assert np.isnan(sim), tid
        else:
            assert not np.isnan(sim), tid


def _per_image_concat(imgs):
    """The per-image calls concatenated, ``image`` renumbered by position."""
    outs = [assign_tiles_image(im) for im in imgs]
    cat = {k: np.concatenate([o[k] for o in outs]) for k in outs[0]}
    cat["image"] = np.concatenate([np.full(len(o["image"]), i)
                                   for i, o in enumerate(outs)])
    return cat


def _assert_bit_identical(got, want):
    assert list(got) == list(want)
    for k in want:
        assert got[k].dtype == want[k].dtype, k
        if k == "tile_id":
            assert got[k].tolist() == want[k].tolist()
        else:  # raw bytes: NaN similarity payloads and block_px included
            assert got[k].tobytes() == want[k].tobytes(), k
    assert got["block_px"].shape[1:] == (8, 8, 3)
    assert got["block_px"].flags.c_contiguous


def _noise(rng, h, w, c=3):
    return rng.integers(0, 256, (h, w, c), dtype=np.int64).astype(np.uint8)


def test_batch_equals_per_image_mixed_sizes():
    rng = np.random.default_rng(11)
    imgs = [_noise(rng, 1, 1), _noise(rng, 9, 7), _noise(rng, 8, 8),
            _noise(rng, 64, 33), np.full((20, 40, 3), 77, dtype=np.uint8),
            _noise(rng, 33, 64), _noise(rng, 12, 30, c=4), _noise(rng, 16, 16)]
    got = assign_tiles_batch(iter(imgs))
    want = _per_image_concat(imgs)
    _assert_bit_identical(got, want)
    # rules 1-2 rows carry NaN, and the mix has both kinds
    assert np.isnan(got["similarity"]).any() and (~np.isnan(got["similarity"])).any()


def test_batch_equals_per_image_one_side():
    rng = np.random.default_rng(12)
    imgs = [_noise(rng, 33 + i, 64 - i) for i in range(6)]  # all pad to 64
    _assert_bit_identical(assign_tiles_batch(imgs), _per_image_concat(imgs))


def test_batch_pixel_budget_runs_each_image_alone(monkeypatch):
    rng = np.random.default_rng(13)
    imgs = [_noise(rng, 9, 7), _noise(rng, 40, 40), _noise(rng, 8, 8),
            _noise(rng, 64, 33)]
    want = _per_image_concat(imgs)
    runs = []
    tile_run = quadtree._tile_run
    monkeypatch.setattr(quadtree, "_RUN_BYTES", 1)
    monkeypatch.setattr(quadtree, "_tile_run",
                        lambda run, cfg: runs.append(len(run)) or tile_run(run, cfg))
    _assert_bit_identical(assign_tiles_batch(imgs), want)
    assert runs == [1, 1, 1, 1]


def test_batch_of_no_images():
    out = assign_tiles_batch([])
    assert all(len(v) == 0 for v in out.values())
    assert out["block_px"].shape == (0, 8, 8, 3)


def test_roundtrip_reassembly_lossless_blocks():
    # solid image: reassembly must be exact
    img = np.full((32, 24, 3), 150, dtype=np.uint8)
    out = assign_tiles_image(img)
    leaf = [i for i, l in enumerate(out["is_leaf"]) if l]
    rec = reassemble_image(24, 32,
                           [out["x0"][i] for i in leaf], [out["y0"][i] for i in leaf],
                           [out["x1"][i] for i in leaf], [out["block_px"][i] for i in leaf])
    assert (rec == img).all()


def test_roundtrip_reassembly_psnr():
    yy, xx = np.mgrid[0:64, 0:48]
    img = np.stack([xx * 5, yy * 3, xx + yy], axis=-1).astype(np.uint8)
    out = assign_tiles_image(img)
    leaf = [i for i, l in enumerate(out["is_leaf"]) if l]
    rec = reassemble_image(48, 64,
                           [out["x0"][i] for i in leaf], [out["y0"][i] for i in leaf],
                           [out["x1"][i] for i in leaf], [out["block_px"][i] for i in leaf])
    # leaves were accepted at similarity > 0.9 → reconstruction is faithful
    assert psnr(img, rec) >= 30.0


def test_quadtree_cutoff_monotonicity():
    img = np.random.default_rng(5).integers(0, 256, (64, 64, 3), dtype=np.int64).astype(np.uint8)
    lo = assign_tiles_image(img, EngineConfig(quadtree=QuadtreeConfig(similarity_cutoff=0.1)))
    hi = assign_tiles_image(img, EngineConfig(quadtree=QuadtreeConfig(similarity_cutoff=0.99)))
    assert len(lo["tile_id"]) <= len(hi["tile_id"])
