"""Raster↔vector closure: rasterize (vector→raster) and zonal statistics
(raster→vector).

The north rule frames the engine as a "distributed raster↔vector pipeline".
The spatial layer already lifts rasters INTO vector space (block centroids →
cells → PIP joins, ``spatial_join.py``); these two operators close the loop
in both directions:

* :func:`rasterize` — vector→raster: each polygon becomes the set of grid
  cells (at a caller-chosen resolution) whose CENTERS lie inside it — the
  burn-in step of every raster analytics stack, and the exact-cover
  refinement of ``kernels.geometry.polygon_cover``'s bbox superset.
* :func:`zonal_stats` — raster→vector: per-polygon aggregates over the
  points that fall inside it (count / sum / min / max of the world
  coordinates) — classic zonal statistics, with every aggregate kept as an
  EXACT integer (coordinates are integer-valued doubles by fixture
  contract) so the DuckDB oracle hashes bit-identically with no float
  rounding.

Plan shapes (100 TB posture):

* ``rasterize`` fans each geometry out to its bbox cell grid with two
  JVM-side ``sequence``/``explode`` projections — fan-out is
  |geoms| × bbox-cells, never world-sized — then verifies centers with the
  shared Arrow PIP kernel (``spatial_join._verify_pip``) — its only Python
  step; the cell key is a column expression. The geometry side
  is ``spread`` first: a dimension table arriving as one parquet file would
  otherwise serialize the explode on one core.
* ``zonal_stats`` rides :func:`spatial_join.spatial_join_broadcast`
  (cell-prefiltered broadcast PIP join — the big point side is never
  shuffled) and reduces with one map-side-combining aggregation on
  ``geom_id``. Empty zones survive via a left join from the
  dimension-sized geometry table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.cells import from_grid
from ..kernels.geometry import MAX_RES, WORLD
from .spatial_join import _verify_pip, spatial_join_broadcast


def rasterize(geoms: DataFrame, res: int) -> DataFrame:
    """Polygons → exact covering cells at ``res`` (center-in-polygon rule).

    ``geoms``: (geom_id, vx, vy, …) with vertex arrays in world coordinates.
    Returns (geom_id, ix, iy, cell): grid indexes plus the resolution-
    qualified Morton key (``functions.cells.from_grid``).

    A polygon outside the world frame contributes zero rows (the clamped
    bbox becomes empty and is filtered BEFORE ``sequence`` — Spark's
    ``sequence(a, b)`` with a > b would silently generate a DESCENDING
    range, not an empty one).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    n = 1 << res
    cw = float(WORLD) / n
    from ..functions.parallelism import spread

    g = spread(geoms.select("geom_id", "vx", "vy"))
    bbox = (g
            .withColumn("_ix0", F.greatest(
                F.floor(F.array_min("vx") / F.lit(cw)).cast("int"), F.lit(0)))
            .withColumn("_ix1", F.least(
                F.floor(F.array_max("vx") / F.lit(cw)).cast("int"), F.lit(n - 1)))
            .withColumn("_iy0", F.greatest(
                F.floor(F.array_min("vy") / F.lit(cw)).cast("int"), F.lit(0)))
            .withColumn("_iy1", F.least(
                F.floor(F.array_max("vy") / F.lit(cw)).cast("int"), F.lit(n - 1)))
            .where((F.col("_ix0") <= F.col("_ix1"))
                   & (F.col("_iy0") <= F.col("_iy1"))))
    grid = (bbox
            .withColumn("ix", F.explode(F.sequence("_ix0", "_ix1")))
            .withColumn("iy", F.explode(F.sequence("_iy0", "_iy1")))
            .withColumn("wx", (F.col("ix") + F.lit(0.5)) * F.lit(cw))
            .withColumn("wy", (F.col("iy") + F.lit(0.5)) * F.lit(cw)))
    return _verify_pip(grid).select("geom_id", "ix", "iy",
                                    from_grid("ix", "iy", res).alias("cell"))


def compact_cells(cells: DataFrame, res: int) -> DataFrame:
    """Minimal quadtree cover: replace every COMPLETE 4-sibling set by its
    parent, iteratively to resolution 0 — H3's ``compact`` on the Z-order
    grid, and exactly the quadtree-block idea of the reference (a uniform
    region is stored as one coarse block, ``quadtreeImage.go``'s leaf rule
    1, re-expressed as a relational rollup).

    ``cells``: (geom_id, ix, iy) at uniform resolution ``res``
    (e.g. :func:`rasterize` output); compaction is per group. Returns
    (geom_id, res, ix, iy, cell) — a mixed-resolution set that tiles
    exactly the input set (pytested: ``uncompact_cells`` restores it).

    Plan: ``res`` rounds of (parent aggregate + left-anti join), each round
    touching only the cells still at the current resolution — log-depth,
    one shuffle per level on a strictly shrinking frame, no driver-side
    data. Input need not be deduplicated per group — duplicates would fake
    "complete" sibling sets, so the loop runs over the DISTINCT
    (group, ix, iy) set (pytested).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    # checkpoint before the loop: round one consumes ``cur`` twice (parent
    # aggregate + anti-join) and would otherwise execute the caller's
    # upstream plan (e.g. a full rasterize) twice
    cur = (cells.select("geom_id", "ix", "iy").distinct()
           .localCheckpoint(eager=True))
    kept = []
    for r in range(res, 0, -1):
        full = (cur.groupBy("geom_id",
                            F.floor(F.col("ix") / 2).cast("int").alias("pix"),
                            F.floor(F.col("iy") / 2).cast("int").alias("piy"))
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") == 4).drop("_n"))
        keep_r = (cur
                  .withColumn("_jx", F.floor(F.col("ix") / 2).cast("int"))
                  .withColumn("_jy", F.floor(F.col("iy") / 2).cast("int"))
                  .join(full.withColumnRenamed("pix", "_jx")
                            .withColumnRenamed("piy", "_jy"),
                        ["geom_id", "_jx", "_jy"], "left_anti")
                  .drop("_jx", "_jy"))
        kept.append(keep_r.withColumn("res", F.lit(r)))
        # bound plan depth: each level's plan would otherwise nest the
        # whole chain below it (res levels deep at fine resolutions)
        cur = (full.select("geom_id", F.col("pix").alias("ix"),
                           F.col("piy").alias("iy"))
               .localCheckpoint(eager=True))
    out = cur.withColumn("res", F.lit(0))
    for k in kept:
        out = out.unionByName(k)
    return out.select("geom_id", "res", "ix", "iy",
                      from_grid("ix", "iy", F.col("res")).alias("cell"))


def uncompact_cells(compacted: DataFrame, res: int) -> DataFrame:
    """Inverse of :func:`compact_cells`: expand every cell to its
    descendants at uniform ``res`` (H3 ``uncompact``). Pure JVM — each cell
    at resolution r explodes to its 4^(res-r) children via two
    ``sequence`` fan-outs over the child index ranges.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    # python-side shiftleft requires a literal bit count; SQL-side accepts
    # the per-row (res - row.res) column
    scale = F.expr(f"shiftleft(1, {int(res)} - res)")
    base_x = F.col("ix") * scale
    base_y = F.col("iy") * scale
    return (compacted
            .where(F.col("res") <= res)
            .withColumn("_ox", F.explode(F.sequence(F.lit(0), scale - 1)))
            .withColumn("_oy", F.explode(F.sequence(F.lit(0), scale - 1)))
            .select("geom_id",
                    (base_x + F.col("_ox")).cast("int").alias("ix"),
                    (base_y + F.col("_oy")).cast("int").alias("iy")))


def zonal_stats(points: DataFrame, geoms: DataFrame) -> DataFrame:
    """Per-polygon aggregates over the points inside it (zonal statistics).

    ``points``: cell-keyed world points (``block_centroids`` shape: needs
    image_id, tile_id, wx, wy, cell). ``geoms``: (geom_id, vx, vy,
    cell_keys, …). Returns one row per geometry — empty zones included —
    with EXACT integer aggregates (n_points, sum/min/max of wx and wy;
    empty-zone min/max coalesce to the -1 sentinel on both engines, never a
    NULL that pandas would widen to float64).
    """
    hits = spatial_join_broadcast(points, geoms)
    agg = (hits.groupBy("geom_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("wx").cast("long")).alias("sum_wx"),
        F.sum(F.col("wy").cast("long")).alias("sum_wy"),
        F.min(F.col("wx").cast("long")).alias("min_wx"),
        F.max(F.col("wx").cast("long")).alias("max_wx"),
        F.min(F.col("wy").cast("long")).alias("min_wy"),
        F.max(F.col("wy").cast("long")).alias("max_wy")))
    out = geoms.select("geom_id").join(agg, "geom_id", "left")
    sentinel = F.lit(-1).cast("long")
    return out.select(
        "geom_id",
        F.coalesce("n_points", F.lit(0).cast("long")).alias("n_points"),
        F.coalesce("sum_wx", F.lit(0).cast("long")).alias("sum_wx"),
        F.coalesce("sum_wy", F.lit(0).cast("long")).alias("sum_wy"),
        F.coalesce("min_wx", sentinel).alias("min_wx"),
        F.coalesce("max_wx", sentinel).alias("max_wx"),
        F.coalesce("min_wy", sentinel).alias("min_wy"),
        F.coalesce("max_wy", sentinel).alias("max_wy"))
