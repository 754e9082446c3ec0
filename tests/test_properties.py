"""Property-based tests (hypothesis) for the kernel invariants — the
systematic version of the reference's manual round-trip/property checks
(SURVEY.md §5)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from quadtree_block_compression_spark.kernels.resample import scale
from quadtree_block_compression_spark.kernels.similarity import compare_pixels_weighted
from quadtree_block_compression_spark.kernels.tiles import (
    padded_side, tile_children, morton_key)
from quadtree_block_compression_spark.kernels.codecs import (
    encode_png, decode_png, encode_raw, decode_raw)
from quadtree_block_compression_spark.kernels.quadtree import assign_tiles_image

dims = st.integers(min_value=1, max_value=48)
seeds = st.integers(min_value=0, max_value=2**31 - 1)


def _img(seed: int, h: int, w: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.int64).astype(np.uint8)


@settings(max_examples=30, deadline=None)
@given(seeds, dims, dims)
def test_png_roundtrip_property(seed, h, w):
    img = _img(seed, h, w)
    assert (decode_png(encode_png(img)) == img).all()
    assert (decode_raw(encode_raw(img)) == img).all()


@settings(max_examples=25, deadline=None)
@given(seeds, st.sampled_from([8, 16, 32]), st.sampled_from([8, 16, 32]),
       st.sampled_from(["NearestNeighbor", "BiLinear", "CatmullRom"]))
def test_resample_identity_and_range(seed, s, d, method):
    img = _img(seed, s, s)
    out = scale(img, d, d, method)
    assert out.shape == (d, d, 3) and out.dtype == np.uint8
    if d == s:
        if method == "NearestNeighbor":
            assert (out == img).all()
        else:
            # kernel scalers are bit-exact on identity too (weights [1.0])
            assert (out == img).all()


@settings(max_examples=25, deadline=None)
@given(seeds, st.integers(1, 16), st.integers(1, 16))
def test_similarity_bounds_and_symmetric_quirks(seed, w, h):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (2, 8, 8, 3), dtype=np.int64).astype(np.uint8)
    b = rng.integers(0, 256, (2, 8, 8, 3), dtype=np.int64).astype(np.uint8)
    s = compare_pixels_weighted(a, b, np.zeros(2, int), np.zeros(2, int), w, h)
    assert ((s >= 0.0) & (s <= 0.9999 + 1e-12)).all()
    # symmetric in (a, b)
    s2 = compare_pixels_weighted(b, a, np.zeros(2, int), np.zeros(2, int), w, h)
    assert np.allclose(s, s2)


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 4096), st.integers(1, 4096))
def test_padded_side_property(w, h):
    side = padded_side(w, h)
    assert side >= max(w, h)
    assert side % 8 == 0
    assert (side // 8) & (side // 8 - 1) == 0  # power of two multiple of 8
    assert side == 8 or side // 2 < max(w, h)  # minimal


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**16), st.integers(1, 8))
def test_children_partition_parent(x, depth):
    size = 8 * (1 << depth)
    b = np.array([[x, x, x + size, x + size]])
    kids = tile_children(b)[0]
    areas = [(k[2] - k[0]) * (k[3] - k[1]) for k in kids]
    assert sum(areas) == size * size
    # disjoint quadrants covering the parent exactly
    assert kids[0].tolist()[2] == kids[1].tolist()[0]
    assert kids[0].tolist()[3] == kids[2].tolist()[1]


@settings(max_examples=15, deadline=None)
@given(seeds, st.sampled_from([1, 7, 9, 16, 24, 33]),
       st.sampled_from([1, 7, 9, 16, 24, 33]))
def test_quadtree_invariants_random_images(seed, w, h):
    img = _img(seed, h, w)
    out = assign_tiles_image(img)
    ids = set(out["tile_id"])
    assert "" in ids
    # non-leaf ⇒ exactly 4 children present; leaf ⇒ none
    for tid, leaf in zip(out["tile_id"], out["is_leaf"]):
        kids = [tid + str(i) for i in range(4) if tid + str(i) in ids]
        assert len(kids) == (0 if leaf else 4)
    # leaves partition the padded canvas
    side = padded_side(w, h)
    area = sum((x1 - x0) * (y1 - y0) for x0, y0, x1, y1, leaf in
               zip(out["x0"], out["y0"], out["x1"], out["y1"], out["is_leaf"])
               if leaf)
    assert area == side * side
    # morton keys consistent with paths
    for tid in out["tile_id"]:
        assert morton_key(tid) == (int(tid, 4) if tid else 0)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40),
    min_size=1, max_size=8))
def test_portable_hash_cross_engine_property(texts):
    """The Spark⇄DuckDB portable hash contract must hold for ARBITRARY
    unicode, not just the word-soup corpus: hash64 and every MinHash
    permutation agree bit-for-bit between engines."""
    import duckdb
    import hashlib
    from quadtree_block_compression_spark.functions.portable_hash import (
        PERMS_16, MINHASH_PRIME, minhash_perm_sql, portable_hash64_sql)
    con = duckdb.connect()
    for t in texts:
        # python reference: first 15 md5 hex digits as int
        ref = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        got = con.execute(
            f"SELECT {portable_hash64_sql('?')}, {minhash_perm_sql('?2', 3)}",
            [t, ref]).fetchone()
        assert got[0] == ref
        a, b = PERMS_16[3]
        assert got[1] == (ref * a + b) % MINHASH_PRIME


def test_portable_hash_spark_side_adversarial(spark):
    """Spark's conv(substring(md5..)) implementation of the portable hash
    and its SQL-text form agree with the python/DuckDB reference on
    adversarial strings (unicode, quotes, control chars, empty)."""
    import hashlib
    import pandas as pd
    from pyspark.sql import functions as F
    from quadtree_block_compression_spark.functions.portable_hash import (
        PERMS_16, MINHASH_PRIME, minhash_perm, portable_hash64,
        portable_hash64_spark_sql)
    cases = ["", " ", "a", "üß€ 棋盘 \U0001f642",
             'quo"te', "back\\slash", "new\nline", "tab\tsep",
             "ends with space ", "'; DROP TABLE docs; --", "é" * 100]
    df = spark.createDataFrame(pd.DataFrame({"s": cases}))
    rows = df.select("s", portable_hash64(F.col("s")).alias("h"),
                     minhash_perm(portable_hash64(F.col("s")), 5).alias("m"),
                     F.expr(portable_hash64_spark_sql("s")).alias("h_sql")).collect()
    a, b = PERMS_16[5]
    for r in rows:
        ref = int(hashlib.md5(r.s.encode("utf-8")).hexdigest()[:15], 16)
        assert r.h == r.h_sql == ref, repr(r.s)
        assert r.m == (ref * a + b) % MINHASH_PRIME, repr(r.s)


def test_minhash_perm_int64_equals_decimal(spark):
    """r6: the int64 Mersenne-split minhash_perm must equal the DECIMAL(38,0)
    reference on every permutation over boundary + random 60-bit inputs (the
    permutation feeds every MinHash signature and band key — a single
    divergent value would silently re-bucket the dedup tiers)."""
    import random
    from pyspark.sql import functions as F
    from quadtree_block_compression_spark.functions.portable_hash import (
        MINHASH_PRIME, minhash_perm, minhash_perm_decimal)
    rng = random.Random(7)
    vals = [0, 1, 2, (1 << 60) - 1, (1 << 60) - 2, MINHASH_PRIME % (1 << 60),
            (1 << 30) - 1, 1 << 30, (1 << 31) - 1, 1 << 31]
    vals += [rng.getrandbits(60) for _ in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "h long")
    checks = []
    for i in range(16):
        checks.append(F.sum((minhash_perm(F.col("h"), i)
                             != minhash_perm_decimal(F.col("h"), i))
                            .cast("int")).alias(f"bad{i}"))
    row = df.agg(*checks).collect()[0]
    assert all(v == 0 for v in row), row.asDict()
