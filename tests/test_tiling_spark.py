"""M1 end-to-end slice: images parquet → tile assignment → reassembly.

Encodes the reference's implicit correctness standard (SURVEY.md §5):
round-trip fidelity, deterministic tile assignment across parallelism
levels, tree invariants, caption byte-integrity.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from quadtree_block_compression_spark.operators.tiling import (
    assign_tiles, leaf_blocks, write_blocks)
from quadtree_block_compression_spark.operators.reassembly import reassemble


@pytest.fixture(scope="module")
def blocks(spark, tiny_images):
    return assign_tiles(tiny_images).cache()


def test_blocks_schema_and_rows(blocks):
    rows = blocks.count()
    assert rows > 16  # at least one node per image, most split
    assert set(blocks.columns) == {
        "image_id", "tile_id", "level", "x0", "y0", "x1", "y1",
        "is_leaf", "oob", "similarity", "block_px", "block_hash", "morton"}


def test_every_image_has_root(blocks, tiny_images):
    roots = blocks.filter(F.col("tile_id") == "").count()
    assert roots == tiny_images.count()


def test_nonleaf_has_exactly_four_children(blocks):
    parents = blocks.filter(~F.col("is_leaf")).select(
        "image_id", F.col("tile_id").alias("parent"))
    kids = blocks.filter(F.col("level") > 0).select(
        "image_id", F.expr("substring(tile_id, 1, length(tile_id)-1)").alias("parent"))
    counts = (parents.join(kids.groupBy("image_id", "parent").count(),
                           ["image_id", "parent"], "left"))
    bad = counts.filter((F.col("count").isNull()) | (F.col("count") != 4)).count()
    assert bad == 0
    # and every child's parent is a non-leaf
    orphans = kids.join(parents, ["image_id", "parent"], "left_anti").count()
    assert orphans == 0


def test_leaves_partition_padded_canvas(blocks, tiny_images):
    leaf_area = (leaf_blocks(blocks)
                 .groupBy("image_id")
                 .agg(F.sum((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))).alias("area")))
    meta = tiny_images.select("image_id", "w", "h")
    joined = leaf_area.join(meta, "image_id").withColumn(
        "side", F.lit(8) * F.pow(F.lit(2), F.ceil(F.log2(F.greatest("w", "h") / F.lit(8.0)))))
    bad = joined.filter(F.col("area") != F.col("side") * F.col("side")).count()
    assert bad == 0


def test_block_px_is_192_bytes(blocks):
    assert blocks.filter(F.length("block_px") != 192).count() == 0


def test_morton_matches_tile_path(blocks):
    sample = blocks.filter(F.col("level") > 0).select("tile_id", "morton").limit(50).collect()
    for r in sample:
        assert r.morton == int(r.tile_id, 4)


def test_deterministic_across_parallelism(spark, tiny_images):
    """north_rule scaling criterion (correctness half): identical outputs at
    different parallelism — local stand-in for N vs 4N executors."""
    a = assign_tiles(tiny_images, repartition=1)
    b = assign_tiles(tiny_images, repartition=8)
    key = ["image_id", "tile_id"]
    cols = ["image_id", "tile_id", "level", "x0", "y0", "x1", "y1",
            "is_leaf", "oob", "block_hash"]
    diff = (a.select(cols).exceptAll(b.select(cols))).count() + \
           (b.select(cols).exceptAll(a.select(cols))).count()
    assert diff == 0
    sims = (a.select(*key, "similarity").join(
        b.select(*key, F.col("similarity").alias("s2")), key))
    bad = sims.filter(F.abs(F.col("similarity") - F.col("s2")) > 1e-12).count()
    assert bad == 0


def test_roundtrip_fidelity_and_captions(spark, tiny_images, blocks):
    rep = reassemble(blocks, tiny_images).cache()
    assert rep.count() == tiny_images.count()
    # captions byte-equal through every stage
    assert rep.filter(~F.col("caption_ok")).count() == 0
    # reassembly from raw (lossless) blocks: every leaf was accepted at
    # similarity > cutoff or is at min size → per-image PSNR is bounded below
    rows = rep.select("image_id", "psnr", "exact").collect()
    for r in rows:
        assert r.psnr >= 25.0, (r.image_id, r.psnr)
    # solid images (class index 0, 9 → img ids 0 and 9) must be exact
    exact_ids = {r.image_id for r in rows if r.exact}
    assert "img_00000000" in exact_ids


def test_blocks_write_read_roundtrip(tmp_path, spark, blocks):
    path = str(tmp_path / "blocks.parquet")
    write_blocks(blocks, path, partitions=4)
    back = spark.read.parquet(path)
    assert back.count() == blocks.count()
    # partition pruning key present & morton-sorted within files
    assert {"image_id", "morton"} <= set(back.columns)


def test_explain_no_python_in_hash_path(blocks):
    """block_hash/morton must be JVM-side (no BatchEvalPython above them)."""
    plan = blocks.select("block_hash", "morton")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_assign_tiles_on_error_policy(spark, tiny_images):
    """Corrupt payloads: default mode fails loudly; skip mode drops exactly
    the bad images and scan_errors accounts for every dropped row — at
    10^12-image scale one bad file must not kill the job."""
    import pandas as pd
    from quadtree_block_compression_spark.operators.tiling import (
        assign_tiles, scan_errors)
    good = tiny_images.limit(3)
    bad = spark.createDataFrame(pd.DataFrame([
        {"image_id": "corrupt_1", "bytes": b"\x00\x01garbage", "w": 8, "h": 8,
         "fmt": "png", "caption": "", "phash": 0},
        {"image_id": "corrupt_2", "bytes": b"\x89PNG\r\n\x1a\ntruncated", "w": 8,
         "h": 8, "fmt": "png", "caption": "", "phash": 0}]))
    mixed = good.unionByName(bad)
    with pytest.raises(Exception):
        assign_tiles(mixed).count()                      # strict default
    blocks = assign_tiles(mixed, on_error="skip")
    got_ids = {r.image_id for r in blocks.select("image_id").distinct().collect()}
    want_ids = {r.image_id for r in good.select("image_id").collect()}
    assert got_ids == want_ids
    errs = {r.image_id: r.error for r in scan_errors(mixed).collect()}
    assert set(errs) == {"corrupt_1", "corrupt_2"}
    assert all(e for e in errs.values())
    with pytest.raises(ValueError):
        assign_tiles(mixed, on_error="quarantine")


_BLOCK_COLS = ["tile_id", "level", "x0", "y0", "x1", "y1", "is_leaf", "oob",
               "similarity", "block_hash", "morton"]


@pytest.mark.parametrize("id_type", ["int", "smallint", "long"])
def test_assign_tiles_accepts_integer_image_ids(spark, tiny_images, id_type):
    """Integer ids are tiled like their string form (BLOCKS_SCHEMA keeps
    ``image_id string``), and scan_errors reports an integer-id row."""
    import pandas as pd
    from quadtree_block_compression_spark.operators.tiling import scan_errors
    num = F.substring("image_id", 5, 8).cast("int")        # img_00000007 → 7
    int_ids = tiny_images.withColumn("image_id", num.cast(id_type))
    want = assign_tiles(tiny_images).withColumn("image_id", num.cast("string"))
    got = assign_tiles(int_ids)
    assert dict(got.dtypes)["image_id"] == "string"
    cols = ["image_id"] + _BLOCK_COLS
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    bad = spark.createDataFrame(
        pd.DataFrame({"image_id": [999], "bytes": [b"\x00garbage"]}),
        f"image_id {id_type}, bytes binary")
    errs = scan_errors(int_ids.select("image_id", "bytes").unionByName(bad)).collect()
    assert [r.image_id for r in errs] == ["999"]


def test_on_error_skip_drops_only_the_corrupt_image(spark, tiny_images):
    """A corrupt payload in the middle of one Arrow batch drops that image
    alone; every other image's rows come out unchanged."""
    import pandas as pd
    good = tiny_images.select("image_id", "bytes", "w", "h").orderBy("image_id").toPandas()
    bad = good.iloc[:1].assign(image_id="corrupt", bytes=[b"\x89PNG\r\n\x1a\nbroken"])
    mixed = spark.createDataFrame(
        pd.concat([good.iloc[:8], bad, good.iloc[8:]], ignore_index=True)).coalesce(1)
    assert mixed.rdd.getNumPartitions() == 1
    got = assign_tiles(mixed, on_error="skip")
    want = assign_tiles(tiny_images)
    cols = ["image_id"] + _BLOCK_COLS
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0


def test_rule12_similarity_is_null_not_nan(blocks):
    """Nodes decided by rules 1-2 carry no similarity: NULL through Arrow,
    never NaN; every other node has one."""
    decided = F.col("oob") | ((F.col("x1") - F.col("x0")) <= 8)
    assert blocks.filter(F.isnan("similarity")).count() == 0
    assert blocks.filter(decided & F.col("similarity").isNotNull()).count() == 0
    assert blocks.filter(~decided & F.col("similarity").isNull()).count() == 0
    assert blocks.filter(decided).count() > 0


def test_tile_pyramid_invariants(spark, tiny_images):
    """Pyramid algebra: the root row aggregates the whole image; every
    non-root level's leaf counts sum to the root's; a tile's digest is
    the xor of its children's digests (xor is associative/self-inverse)."""
    from quadtree_block_compression_spark.operators.tiling import (
        assign_tiles, tile_pyramid)

    blocks = assign_tiles(tiny_images.limit(4)).cache()
    pyr = tile_pyramid(blocks).cache()
    leaves = {r.image_id: r.cnt for r in
              blocks.filter("is_leaf").groupBy("image_id")
              .agg(F.count("*").alias("cnt")).collect()}
    roots = {r.image_id: r for r in pyr.where("anc_level = 0").collect()}
    assert set(roots) == set(leaves)
    for iid, n in leaves.items():
        assert roots[iid].n_leaves == n and roots[iid].anc == ""
    # per level: counts partition the leaf set
    per_level = {(r.image_id, r.anc_level): r.total for r in
                 pyr.groupBy("image_id", "anc_level")
                 .agg(F.sum("n_leaves").alias("total")).collect()}
    for (iid, lvl), total in per_level.items():
        deeper = blocks.filter(
            (F.col("image_id") == iid) & F.col("is_leaf")
            & (F.col("level") >= lvl)).count()
        assert total == deeper, (iid, lvl)
    # digest recursion: parent digest == xor over children at level+1 ∪
    # leaves AT that level — check roots vs xor of all leaf hashes
    import functools
    for iid in leaves:
        hs = [r.block_hash for r in
              blocks.filter((F.col("image_id") == iid)
                            & F.col("is_leaf")).collect()]
        assert roots[iid].content_digest == functools.reduce(
            lambda a, b: a ^ b, hs)
