"""Tests for block dedup, spatial joins (broadcast + salted) and kNN."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from quadtree_block_compression_spark.operators.tiling import assign_tiles
from quadtree_block_compression_spark.operators.dedup_blocks import (
    dedup_exact, dedup_group_counts, near_dedup)
from quadtree_block_compression_spark.operators.spatial_join import (
    block_centroids, spatial_join_broadcast, spatial_join_salted, detect_hot_cells)
from quadtree_block_compression_spark.operators.knn import knn_ring, knn_bruteforce
from quadtree_block_compression_spark.fixtures.geometries import (
    generate_geometries, generate_knn_queries)


@pytest.fixture(scope="module")
def blocks(spark, tiny_images):
    return assign_tiles(tiny_images).cache()


@pytest.fixture(scope="module")
def points(blocks):
    return block_centroids(blocks, res=6).cache()


@pytest.fixture(scope="module")
def geoms(spark):
    pdf = generate_geometries(n=24, seed=42, res=6)
    return spark.createDataFrame(pdf).cache()


# ------------------------------------------------------------------- dedup -


def test_dedup_exact_election(blocks):
    d = dedup_exact(blocks).cache()
    assert d.count() == blocks.count()
    # exactly one canonical row per hash
    per_hash = d.groupBy("block_hash").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon"))
    assert per_hash.filter("n_canon != 1").count() == 0
    # canonical rows have null block_ref; duplicates point at the canonical
    assert d.filter(F.col("is_canonical") & F.col("block_ref").isNotNull()).count() == 0
    assert d.filter(~F.col("is_canonical") & F.col("block_ref").isNull()).count() == 0
    # the dup_blocks image class guarantees duplicate groups exist
    assert dedup_group_counts(blocks).count() > 0


def test_dedup_exact_resolves_by_join(blocks, spark):
    """Decode-side symlink follow (quadtreeElement.go:289-301) as a self-join:
    every non-canonical block's hash must find its canonical block_px."""
    d = dedup_exact(blocks)
    canon_px = (d.filter("is_canonical")
                .select("block_hash", F.col("block_px").alias("canon_px")))
    resolved = (d.filter(~F.col("is_canonical"))
                .join(canon_px, "block_hash")
                .filter(F.col("block_px") != F.col("canon_px")))
    assert resolved.count() == 0  # same hash ⇒ same bytes (no collisions here)


def test_near_dedup_finds_exact_dups_and_verifies(blocks):
    pairs = near_dedup(blocks).cache()
    # exact duplicates (same hash, different tile) must appear as near-dups
    assert pairs.count() > 0
    assert pairs.filter(F.col("similarity") < 0.9).count() == 0
    # argmax election: one best partner per block
    assert pairs.groupBy("image_id", "tile_id").count().filter("count > 1").count() == 0


# ----------------------------------------------------------------- spatial -


def test_centroids_in_world_frame(points):
    from quadtree_block_compression_spark.kernels.geometry import WORLD
    bad = points.filter((F.col("wx") < 0) | (F.col("wx") >= WORLD)
                        | (F.col("wy") < 0) | (F.col("wy") >= WORLD)).count()
    assert bad == 0
    # cell key resolution bits sane
    res = points.select((F.col("cell").bitwiseAND(F.lit(0))).alias("z")).limit(1)
    assert points.filter(F.col("cell") < 0).count() == 0


def test_cell_matches_kernel(points):
    from quadtree_block_compression_spark.kernels.geometry import cell_encode
    rows = points.select("wx", "wy", "cell").limit(200).collect()
    wx = np.array([r.wx for r in rows]); wy = np.array([r.wy for r in rows])
    expect = cell_encode(wx, wy, 6)
    got = np.array([r.cell for r in rows])
    assert (expect == got).all()


def test_centroids_accept_any_image_id(spark):
    """A file-name id and a digit run past a long must not abort the job
    under ANSI; in-range trailing digits keep the index placement."""
    from quadtree_block_compression_spark.kernels.geometry import WORLD, cell_encode
    from quadtree_block_compression_spark.operators.spatial_join import MOSAIC_GRID
    ids = ["img_0007", "cat", "img_" + "9" * 20]
    # one level-1 leaf of a 64-px canvas: centroid (16, 16)
    blocks = spark.createDataFrame(
        [(i, "0", 1, 0, 0, 32, 32) for i in ids],
        "image_id string, tile_id string, level int, "
        "x0 int, y0 int, x1 int, y1 int")
    got = {r.image_id: r for r in block_centroids(blocks, res=6).collect()}
    assert set(got) == set(ids)
    assert all(0 <= r.wx < WORLD and 0 <= r.wy < WORLD for r in got.values())
    cw = WORLD / MOSAIC_GRID
    r = got["img_0007"]
    assert (r.wx, r.wy) == (7 * cw + 16 * cw / 64, 16 * cw / 64)
    assert r.cell == cell_encode(np.array([r.wx]), np.array([r.wy]), 6)[0]


def test_broadcast_pip_join_vs_bruteforce(points, geoms, spark):
    got = spatial_join_broadcast(points, geoms)
    # oracle: python brute force over collected smalls
    pts = points.select("image_id", "tile_id", "wx", "wy").collect()
    gs = geoms.select("geom_id", "vx", "vy").collect()
    from quadtree_block_compression_spark.kernels.geometry import points_in_polygon
    px = np.array([p.wx for p in pts]); py = np.array([p.wy for p in pts])
    expect = set()
    for g in gs:
        m = points_in_polygon(px, py, np.array(g.vx), np.array(g.vy))
        for i in np.nonzero(m)[0]:
            expect.add((pts[i].image_id, pts[i].tile_id, g.geom_id))
    actual = {(r.image_id, r.tile_id, r.geom_id) for r in got.collect()}
    assert actual == expect


def test_salted_join_equals_broadcast(points, geoms):
    a = spatial_join_broadcast(points, geoms)
    b = spatial_join_salted(points, geoms, hot_threshold=50, salt=4)
    cols = ["image_id", "tile_id", "geom_id"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_hot_cell_detection(points):
    hot = detect_hot_cells(points, threshold=1)
    assert hot.count() > 0  # tiny res=6 grid + many blocks → hot cells exist


def test_salted_plan_has_no_python_in_join_keys(blocks, geoms):
    """Cell keys and salts are JVM expressions: over an UNCACHED
    block_centroids output the salted plan's only Python evals are the two
    PIP verifies (cold and hot leg)."""
    pts = block_centroids(blocks, res=6)
    plan = spatial_join_salted(pts, geoms, hot_threshold=50, salt=4) \
        ._jdf.queryExecution().executedPlan().toString()
    evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(evals) == 2, evals
    assert all("pip(" in ln for ln in evals), evals


def test_joins_emit_each_pair_once_without_dedup(spark):
    """No dedup after either join: a point has one cell, polygon cells are
    made distinct, the hot/cold split is disjoint. Pinned with every
    polygon's cell_keys listed twice and points exactly on cell borders."""
    import pandas as pd
    from quadtree_block_compression_spark.functions.cells import encode
    from quadtree_block_compression_spark.kernels.geometry import (
        WORLD, points_in_polygon, polygon_cover)
    res, cw = 6, WORLD / 64
    rng = np.random.default_rng(5)
    k = rng.integers(1, 63, (300, 2)).astype(float)
    xy = np.concatenate([k * cw,                                # corners
                         np.c_[k[:, 0] * cw, k[:, 1] * cw + 100.0],  # x border
                         rng.uniform(0, WORLD, (300, 2))])
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i}" for i in range(len(xy))], "tile_id": "",
        "wx": xy[:, 0], "wy": xy[:, 1]})).withColumn("cell", encode("wx", "wy", res))
    rows = []
    for i in range(12):
        x0, y0 = rng.uniform(0, 0.7 * WORLD, 2) + 0.5
        w, h = rng.uniform(cw, 0.3 * WORLD, 2)
        vx = np.array([x0, x0 + w, x0 + w, x0])
        vy = np.array([y0, y0, y0 + h, y0 + h])
        cover = polygon_cover(vx, vy, res).tolist()
        rows.append({"geom_id": f"g{i}", "vx": vx.tolist(), "vy": vy.tolist(),
                     "cell_keys": cover + cover[::-1]})
    geoms = spark.createDataFrame(pd.DataFrame(rows))
    expect = set()
    for g in rows:
        m = points_in_polygon(xy[:, 0], xy[:, 1], np.array(g["vx"]), np.array(g["vy"]))
        expect |= {(f"p{i}", g["geom_id"]) for i in np.nonzero(m)[0]}
    assert expect
    for out in (spatial_join_broadcast(pts, geoms),
                spatial_join_salted(pts, geoms, hot_threshold=2, salt=4)):
        got = [(r.image_id, r.geom_id) for r in out.collect()]
        assert len(got) == len(set(got))
        assert set(got) == expect


# --------------------------------------------------------------------- knn -


def test_knn_ring_matches_bruteforce(points, spark):
    queries = spark.createDataFrame(generate_knn_queries(n=12, seed=7))
    got = knn_ring(points, queries, res=6, max_ring=40)
    expect = knn_bruteforce(points, queries)
    key = ["query_id", "rank"]
    g = {(r.query_id, r.rank): (r.image_id, r.tile_id) for r in got.collect()}
    e = {(r.query_id, r.rank): (r.image_id, r.tile_id) for r in expect.collect()}
    assert g == e


def test_knn_ring_many_rounds_no_duplicate_candidates(points, spark):
    """r6: the final election no longer dropDuplicates — shells are
    disjoint by construction so a (query, point) pair is emitted at most
    once. Force MANY rounds (initial_ring=1, 4× growth) and pin exact
    equality with brute force: any re-emitted pair would produce a
    duplicate ranked row and shift every rank after it."""
    queries = spark.createDataFrame(generate_knn_queries(n=12, seed=11))
    got = knn_ring(points, queries, res=6, max_ring=40, initial_ring=1)
    expect = knn_bruteforce(points, queries)
    g = {(r.query_id, r.rank): (r.image_id, r.tile_id) for r in got.collect()}
    e = {(r.query_id, r.rank): (r.image_id, r.tile_id) for r in expect.collect()}
    assert g == e
    per_q = {}
    for (qid, _), pt in g.items():
        per_q.setdefault(qid, []).append(pt)
    for qid, pts in per_q.items():
        assert len(pts) == len(set(pts)), f"duplicate point for {qid}"


def _corpus_queries(points):
    """Every centroid as a query ("kNN for every corpus item"), per-query
    k varying in 1..4."""
    return points.select(
        F.concat_ws("/", "image_id", "tile_id").alias("query_id"),
        F.col("wx").alias("x"), F.col("wy").alias("y"),
        (F.pmod(F.xxhash64("image_id", "tile_id"), F.lit(4)) + 1)
        .cast("int").alias("k"))


def _assert_knn_equals_bruteforce(points, queries, **kw):
    got = knn_ring(points, queries, res=6, **kw)
    expect = knn_bruteforce(points, queries)
    g = {(r.query_id, r.rank): (r.image_id, r.tile_id) for r in got.collect()}
    e = {(r.query_id, r.rank): (r.image_id, r.tile_id) for r in expect.collect()}
    from quadtree_block_compression_spark.functions.cache import release_caches
    release_caches()  # drop knn_ring's tracked big-side cache (test hygiene)
    assert g == e


def test_knn_matches_bruteforce_on_corpus_queries(points, spark):
    """|queries| ~ |points| with the query side kept distributed — pending
    set maintained by anti-join against each round's checkpoint, never
    collected. Property:
    the full corpus-as-queries result is exactly the brute-force result,
    with per-query k varying."""
    _assert_knn_equals_bruteforce(points, _corpus_queries(points), max_ring=40)


def test_knn_corpus_queries_shuffled_joins(points, spark):
    """The same corpus-as-queries run with broadcasting disabled: every
    round join and the pending anti-join take the shuffled plan that
    query sets above ``autoBroadcastJoinThreshold`` get, and the result
    still equals brute force exactly."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        _assert_knn_equals_bruteforce(points, _corpus_queries(points),
                                      max_ring=40)
    finally:
        spark.conf.set(key, prev)


def test_knn_bruteforce_tail_matches_bruteforce(points, spark):
    """max_ring too small for the density forces the brute-force tail for
    the still-pending queries; the result must still equal brute force
    exactly."""
    queries = spark.createDataFrame(generate_knn_queries(n=10, seed=3))
    _assert_knn_equals_bruteforce(points, queries, max_ring=1)


def test_knn_initial_ring_zero_and_empty_queries(points, spark):
    """initial_ring=0 (the query's own cell only) grows to ring 1, 4, …
    instead of repeating ring 0; an empty query set drains in one round
    and returns the empty result schema."""
    queries = spark.createDataFrame(generate_knn_queries(n=6, seed=5))
    _assert_knn_equals_bruteforce(points, queries, max_ring=40,
                                  initial_ring=0)
    empty = knn_ring(points, queries.limit(0), res=6, max_ring=40)
    assert empty.columns == ["query_id", "image_id", "tile_id", "distance",
                             "rank"]
    assert empty.count() == 0


def test_knn_k_respected(points, spark):
    queries = spark.createDataFrame(generate_knn_queries(n=8, seed=9))
    got = knn_ring(points, queries, res=6, max_ring=40).cache()
    per_q = got.groupBy("query_id").count().join(
        queries.select("query_id", "k"), "query_id")
    assert per_q.filter(F.col("count") > F.col("k")).count() == 0
    # ranks are 1..n contiguous
    assert got.filter("rank < 1").count() == 0


def test_distance_join_exact_pairs_and_plan(spark):
    """Grid-bucketed radius join: exact pair set vs brute force on a
    deterministic layout (incl. pairs straddling cell borders), each pair
    exactly once, d2 exact; plan is an equi-join, never cartesian."""
    import itertools
    import pandas as pd

    from quadtree_block_compression_spark.operators.spatial_join import (
        distance_join)

    pts = [(1, 0.0, 0.0), (2, 9.0, 0.0), (3, 19.0, 0.0),   # chain across cells
           (4, 100.0, 100.0), (5, 104.0, 103.0),            # close pair
           (6, 500.0, 500.0)]                               # isolated
    df = spark.createDataFrame(
        pd.DataFrame(pts, columns=["point_id", "wx", "wy"]))
    out = distance_join(df, radius=10.0)
    got = {(r.point_a, r.point_b): r.d2 for r in out.collect()}
    want = {}
    for (ia, xa, ya), (ib, xb, yb) in itertools.combinations(pts, 2):
        d2 = (xa - xb) ** 2 + (ya - yb) ** 2
        if d2 <= 100.0:
            want[(min(ia, ib), max(ia, ib))] = int(d2)
    assert got == want and (1, 2) in got and (2, 3) in got and (1, 3) not in got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_semantics(spark):
    """As-of: latest right at-or-before per key; same-instant right counts;
    equal-ts rights resolve to max event_id; no prior right -> NULLs."""
    import pandas as pd

    from quadtree_block_compression_spark.streaming.windows import asof_join

    rows = [
        # (event_id, user, ts, type)
        (1, 1, "2024-01-01 10:00:00", "click"),
        (2, 1, "2024-01-01 10:05:00", "click"),
        (3, 1, "2024-01-01 10:05:00", "click"),   # tie: max id wins
        (4, 1, "2024-01-01 10:05:00", "purchase"),  # same instant as 2/3
        (5, 1, "2024-01-01 11:00:00", "purchase"),
        (6, 2, "2024-01-01 09:00:00", "purchase"),  # user 2: no click before
        (7, 2, "2024-01-01 09:30:00", "click"),
        (8, 2, "2024-01-01 09:45:00", "purchase"),
    ]
    ev = spark.createDataFrame(pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type"]))
    ev = ev.withColumn("ts", ev.ts.cast("timestamp"))
    out = {r.left_event_id: (r.asof_event_id, r.asof_ts)
           for r in asof_join(ev, "purchase", "click").collect()}
    assert out[4][0] == 3           # same-instant tie -> max click id
    assert out[5][0] == 3           # carried forward
    assert out[6] == (None, None)   # nothing at or before
    assert out[8][0] == 7
    assert set(out) == {4, 5, 6, 8}


def test_asof_join_null_ts_rows_excluded(spark):
    """A right-side row with NULL ts must not contribute (and must never
    mispair an event_id with another row's timestamp); NULL-ts left rows
    produce no output."""
    import pandas as pd

    from quadtree_block_compression_spark.streaming.windows import asof_join

    rows = [
        (1, 1, None, "click"),                       # invalid click
        (2, 1, "2024-01-01 10:00:00", "click"),
        (3, 1, "2024-01-01 10:30:00", "purchase"),
        (4, 2, None, "purchase"),                    # invalid purchase
        (5, 2, "2024-01-01 09:00:00", "purchase"),   # no click at all
    ]
    ev = spark.createDataFrame(pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type"]))
    ev = ev.withColumn("ts", ev.ts.cast("timestamp"))
    out = {r.left_event_id: (r.asof_event_id, r.asof_ts)
           for r in asof_join(ev, "purchase", "click").collect()}
    assert set(out) == {3, 5}
    assert out[3][0] == 2 and out[3][1] is not None
    assert out[5] == (None, None)


def test_distance_join_random_points_vs_bruteforce(spark):
    """Property check: grid-bucketed radius join equals the O(n²) brute
    force on seeded random points at several radii (border-straddling
    pairs included by construction)."""
    import pandas as pd

    from quadtree_block_compression_spark.operators.spatial_join import (
        distance_join)

    rng = np.random.default_rng(11)
    n = 300
    pts = pd.DataFrame({
        "point_id": range(n),
        "wx": rng.uniform(0, 1000, n).round(3),
        "wy": rng.uniform(0, 1000, n).round(3)})
    df = spark.createDataFrame(pts)
    xs, ys = pts["wx"].to_numpy(), pts["wy"].to_numpy()
    d2m = ((xs[:, None] - xs[None, :]) ** 2
           + (ys[:, None] - ys[None, :]) ** 2)
    for radius in (25.0, 80.0):
        got = {(r.point_a, r.point_b) for r in
               distance_join(df, radius=radius).collect()}
        want = {(a, b) for a in range(n) for b in range(a + 1, n)
                if d2m[a, b] <= radius * radius}
        assert got == want, radius
