"""Spatial layer: cell keys, point-in-polygon joins (broadcast + salted).

The north rule's generalization layer (SURVEY.md §2.12): lift the reference's
axis-aligned rectangle tests (``pkg/utils/comparisonUtils.go:107-120``) to a
cell-indexed point-in-polygon join between block centroids and query
geometries.

Plan shapes, chosen per side-size and skew:

* **broadcast PIP join** — polygons exploded to covering cells, broadcast;
  blocks join on ``cell`` (hash equi-join, no shuffle of the big side), then
  an Arrow UDF verifies exact PIP on the candidates only. This is the 100 TB
  default: polygon sets are dimension-sized.
* **salted shuffle join** — when one cell's candidate count explodes (a hot
  polygon covering half the world), a single join *key* still lands on one
  task; AQE's skew splitting can't fix key-level skew. Hot cells are detected
  from a cheap count aggregate, the polygon side is exploded ×S on salt, the
  block side picks ``pmod(hash(block), S)`` — classic salt-explode.

The world frame is ``kernels.geometry``'s ``[0, WORLD)²``; image tiles land
in it through a fixed per-image affine (image grid cell + padded-canvas
offset), so tile bounds and polygon vertices share units (FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.pandas.functions import pandas_udf

from ..config import EngineConfig, DEFAULT_CONFIG
from ..functions.cells import encode
from ..functions.portable_hash import portable_hash64
from ..kernels.geometry import MAX_RES, WORLD

# images tile into a GRID×GRID mosaic of the world frame: image i occupies
# world cell (i % GRID, i // GRID % GRID), scaled so one padded canvas maps
# onto one mosaic cell. Deterministic, documented affine (FIXTURES.md §2).
MOSAIC_GRID = 64


def block_centroids(blocks: DataFrame, res: int | None = None,
                    cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Blocks → world-frame centroid points + cell key.

    The affine and the cell encode are column arithmetic (the cell key is
    ``functions.cells.encode``), so the whole projection stays JVM-side.

    The image index is the trailing digits of ``image_id`` (``img_0007`` →
    7). An id without trailing digits (a file name such as ``photo.png``),
    or whose digits overflow a long, takes ``portable_hash64(image_id) mod
    MOSAIC_GRID²`` instead: a deterministic mosaic cell, where a plain cast
    would abort the job under ANSI (FIXTURES.md §2).
    """
    res = res if res is not None else cfg.spatial.cell_resolution
    cell_w = WORLD / MOSAIC_GRID

    # affine: image index (see above) picks the mosaic cell; the padded
    # canvas [0, side)² scales onto it.
    cw = F.lit(cell_w)
    idx = F.coalesce(
        F.regexp_extract("image_id", r"(\d+)$", 1).try_cast("long"),
        portable_hash64("image_id") % (MOSAIC_GRID * MOSAIC_GRID))
    with_w = (blocks
              .withColumn("_idx", idx)
              .withColumn("_side", ((F.col("x1") - F.col("x0"))
                                    * F.pow(F.lit(2.0), F.col("level"))).cast("double"))
              .withColumn("wx", (F.col("_idx") % MOSAIC_GRID) * cw
                          + ((F.col("x0") + F.col("x1")) / 2.0) * cw / F.col("_side"))
              .withColumn("wy", ((F.col("_idx") / MOSAIC_GRID).cast("long") % MOSAIC_GRID) * cw
                          + ((F.col("y0") + F.col("y1")) / 2.0) * cw / F.col("_side"))
              .drop("_idx", "_side"))
    return with_w.withColumn("cell", encode("wx", "wy", res))


def polygons_by_cell(geoms: DataFrame) -> DataFrame:
    """Explode polygons to their DISTINCT covering cells: with one cell per
    point, each (point, polygon) pair meets at most once — no dedup needed."""
    return geoms.select("geom_id", "vx", "vy",
                        F.explode(F.array_distinct("cell_keys")).alias("cell"))


def _verify_pip(cand: DataFrame) -> DataFrame:
    """Exact PIP verification on candidate rows (point, polygon) — Arrow UDF.

    Rows are grouped by the already-present ``geom_id`` (one vertex list per
    geom by construction — vx/vy are joined in from the geoms table keyed by
    geom_id), NOT by materialized per-row vertex tuples: tuple construction
    was O(rows·vertices) Python work per batch for the same grouping
    (VERDICT r4 finding #3)."""

    @pandas_udf("boolean")
    def pip(px, py, gid, vx, vy):  # type: ignore[misc]
        import numpy as np
        import pandas as pd
        from ..kernels.geometry import points_in_polygon
        out = np.zeros(len(px), dtype=bool)
        if len(px) == 0:
            return pd.Series(out)
        x = px.to_numpy(dtype=np.float64)
        y = py.to_numpy(dtype=np.float64)
        vxa = vx.to_numpy()
        vya = vy.to_numpy()
        # group rows by polygon id to vectorize across points per polygon
        df = pd.DataFrame({"x": x, "y": y, "i": np.arange(len(x))})
        for _, grp in df.groupby(gid.to_numpy(), sort=False):
            idx = grp["i"].to_numpy()
            m = points_in_polygon(grp["x"].to_numpy(), grp["y"].to_numpy(),
                                  np.asarray(vxa[idx[0]]), np.asarray(vya[idx[0]]))
            out[idx] = m
        return pd.Series(out)

    return (cand.withColumn("_inside", pip("wx", "wy", "geom_id", "vx", "vy"))
            .filter("_inside").drop("_inside"))


def spatial_join_broadcast(points: DataFrame, geoms: DataFrame) -> DataFrame:
    """Broadcast block→polygon PIP join.

    ``points``: output of :func:`block_centroids` (needs wx, wy, cell).
    ``geoms``: geometries table (geom_id, vx, vy, cell_keys).
    Returns matched ``(image_id, tile_id, geom_id, wx, wy)`` rows.
    """
    cand = points.join(broadcast(polygons_by_cell(geoms)), "cell")
    return _verify_pip(cand).select("image_id", "tile_id", "geom_id", "wx", "wy")


def detect_hot_cells(points: DataFrame, threshold: int) -> DataFrame:
    """Cells whose candidate count exceeds ``threshold`` — the skew census
    driving salting (a stage metric, not a constant; SURVEY.md §7)."""
    return (points.groupBy("cell").count()
            .filter(F.col("count") > threshold)
            .select("cell", F.col("count").alias("cell_count")))


def spatial_join_salted(points: DataFrame, geoms: DataFrame,
                        cfg: EngineConfig = DEFAULT_CONFIG,
                        salt: int | None = None,
                        hot_threshold: int | None = None) -> DataFrame:
    """Skew-safe PIP join: hot cells get salt-exploded polygons.

    Cold cells take the broadcast path; hot cells join on ``(cell, salt)``
    where the polygon side is exploded ×S and the point side derives its salt
    as ``pmod(xxhash64(image_id, tile_id), S)`` — even load without changing
    the result set (union of both paths equals the plain join).
    """
    s = salt or cfg.spatial.salt_factor
    thr = hot_threshold if hot_threshold is not None else cfg.spatial.hot_cell_threshold
    hot = detect_hot_cells(points, thr)

    pts = points.join(broadcast(hot), "cell", "left")
    cold_pts = pts.filter(F.col("cell_count").isNull()).drop("cell_count")
    hot_pts = (pts.filter(F.col("cell_count").isNotNull()).drop("cell_count")
               .withColumn("_salt", F.pmod(F.xxhash64("image_id", "tile_id"), F.lit(s))))

    polys = polygons_by_cell(geoms)
    hot_polys = (polys.join(broadcast(hot.select("cell")), "cell")
                 .withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(s)]))))

    cold_hits = _verify_pip(cold_pts.join(broadcast(polys), "cell"))
    hot_hits = _verify_pip(hot_pts.join(hot_polys, ["cell", "_salt"]).drop("_salt"))

    # hot/cold is a disjoint split and a hot point has one salt: no dedup
    out_cols = ["image_id", "tile_id", "geom_id", "wx", "wy"]
    return cold_hits.select(out_cols).unionByName(hot_hits.select(out_cols))


def overlap_join(rects_a: DataFrame, rects_b: DataFrame, res: int) -> DataFrame:
    """Distributed strict-AABB overlap join — the reference's
    ``RectanglesCollide`` predicate (``pkg/utils/comparisonUtils.go:115-120``,
    touching edges do NOT collide) lifted from a per-pair call to a
    grid-bucketed table join.

    Inputs: two rect tables shaped (id, x0, y0, x1, y1) in world
    coordinates. Plan: each side explodes to its bbox covering cells at
    ``res`` (JVM ``sequence``/``explode``, fan-out = rows · cells-per-rect),
    candidates meet through a (ix, iy) equi-join, and the exact
    strict-inequality predicate verifies JVM-side — no UDF anywhere.

    Exactly-once emission with NO distinct/dropDuplicates shuffle: a pair
    overlapping k shared cells would surface k times, so rows are kept only
    at the pair's REFERENCE POINT — the min-corner cell of the bbox
    intersection, ``floor(max(x0s)/cw)`` (the standard reference-point rule
    of grid spatial joins, e.g. SpatialHadoop/SJMR). Both covers always
    contain that cell (clamped identically at world edges), so each
    overlapping pair appears exactly once.

    Returns (rect_a, rect_b, inter_area_x4): 4× the intersection
    area as an EXACT BIGINT (with integer- or half-integer-valued bounds
    the quarter-unit products are float-exact, so both engines hash
    identically with no rounding).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    n = 1 << res
    cw = float(WORLD) / n
    from ..functions.parallelism import spread

    def cover(df: DataFrame, tag: str) -> DataFrame:
        c = spread(df).select(
            F.col("id").alias(f"{tag}_id"),
            F.col("x0").alias(f"{tag}x0"), F.col("y0").alias(f"{tag}y0"),
            F.col("x1").alias(f"{tag}x1"), F.col("y1").alias(f"{tag}y1"))
        return (c
                .withColumn("_ix0", F.greatest(
                    F.floor(F.col(f"{tag}x0") / F.lit(cw)).cast("int"), F.lit(0)))
                .withColumn("_ix1", F.least(
                    F.floor(F.col(f"{tag}x1") / F.lit(cw)).cast("int"), F.lit(n - 1)))
                .withColumn("_iy0", F.greatest(
                    F.floor(F.col(f"{tag}y0") / F.lit(cw)).cast("int"), F.lit(0)))
                .withColumn("_iy1", F.least(
                    F.floor(F.col(f"{tag}y1") / F.lit(cw)).cast("int"), F.lit(n - 1)))
                .where((F.col("_ix0") <= F.col("_ix1"))
                       & (F.col("_iy0") <= F.col("_iy1")))
                .withColumn("ix", F.explode(F.sequence("_ix0", "_ix1")))
                .withColumn("iy", F.explode(F.sequence("_iy0", "_iy1")))
                .drop("_ix0", "_ix1", "_iy0", "_iy1"))

    a, b = cover(rects_a, "a"), cover(rects_b, "b")
    ref_ix = F.greatest(F.lit(0), F.least(
        F.lit(n - 1),
        F.floor(F.greatest("ax0", "bx0") / F.lit(cw)).cast("int")))
    ref_iy = F.greatest(F.lit(0), F.least(
        F.lit(n - 1),
        F.floor(F.greatest("ay0", "by0") / F.lit(cw)).cast("int")))
    iw = F.least("ax1", "bx1") - F.greatest("ax0", "bx0")
    ih = F.least("ay1", "by1") - F.greatest("ay0", "by0")
    return (a.join(b, ["ix", "iy"])
            .where((F.col("ax0") < F.col("bx1")) & (F.col("ax1") > F.col("bx0"))
                   & (F.col("ay0") < F.col("by1")) & (F.col("ay1") > F.col("by0")))
            .where((F.col("ix") == ref_ix) & (F.col("iy") == ref_iy))
            .select(F.col("a_id").alias("rect_a"), F.col("b_id").alias("rect_b"),
                    (iw * ih * F.lit(4.0)).cast("long").alias("inter_area_x4")))


def distance_join(points: DataFrame, radius: float) -> DataFrame:
    """All pairs of (point_id, wx, wy) points within Euclidean ``radius`` —
    the classic radius (distance) self-join, grid-bucketed so it never goes
    quadratic.

    Plan: key every point to a grid of cell side ``radius`` (any pair
    within ``radius`` then lies in the same or an adjacent cell); one side
    is exploded to its 3×3 cell neighborhood and equi-joined on the two
    grid coordinates (JVM-side, shuffle bounded by local density × 9 — no
    theta-join, no cartesian). The exact predicate filters candidates;
    ``id_a < id_b`` emits each unordered pair exactly once (a pair is
    found in both join directions, the order filter keeps one; within one
    direction the neighborhood contains the partner's cell exactly once,
    so no distinct is needed).

    Returns (point_a, point_b, d2) with ``d2`` the EXACT squared distance
    as BIGINT (inputs are integer-valued doubles; squared sums stay well
    under 2^53, so both engines agree bit-for-bit — no float hashing).
    Generalizes the reference's pairwise pixel-distance predicates
    (``pkg/quadtreeImage/quadtreeElement.go:176-221`` compares blocks
    pairwise) to the spatial tier.
    """
    from ..functions.parallelism import spread

    r = float(radius)
    gx = F.floor(F.col("wx") / F.lit(r))
    gy = F.floor(F.col("wy") / F.lit(r))
    # explode-heavy: a single-file scan is ONE partition regardless of
    # maxPartitionBytes and would serialize the 9× fan-out stage
    points = spread(points)
    base = points.select(F.col("point_id").alias("_id"),
                         F.col("wx").alias("_x"), F.col("wy").alias("_y"),
                         gx.alias("_gx"), gy.alias("_gy"))
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probe = (base
             .withColumn("_dx", F.explode(offs))
             .withColumn("_dy", F.explode(offs))
             .select(F.col("_id").alias("point_a"),
                     F.col("_x").alias("_ax"), F.col("_y").alias("_ay"),
                     (F.col("_gx") + F.col("_dx")).alias("_gx"),
                     (F.col("_gy") + F.col("_dy")).alias("_gy")))
    build = base.select(F.col("_id").alias("point_b"),
                        F.col("_x").alias("_bx"), F.col("_y").alias("_by"),
                        "_gx", "_gy")
    d2 = ((F.col("_ax") - F.col("_bx")) ** 2
          + (F.col("_ay") - F.col("_by")) ** 2)
    return (probe.join(build, ["_gx", "_gy"])
            .where(F.col("point_a") < F.col("point_b"))
            .withColumn("d2", d2)
            .where(F.col("d2") <= F.lit(r * r))
            .select("point_a", "point_b", F.col("d2").cast("long").alias("d2")))
