"""kNN block lookup via cell-ring expansion (SURVEY.md §2.12).

No reference counterpart — this is the engine-mandated nearest-neighbor
operator over block centroids. Strategy (the H3 ``grid_ring`` pattern, run
with Z-order cells):

1. each query's cell at the index resolution centres its rings (cell keys
   are column expressions, ``functions.cells``);
2. iteratively expand each *unsatisfied* query's candidate set with the
   cells at Chebyshev ring r = 0, 1, 2, … (an equi-join per ring on the cell
   key);
3. a query terminates when its kth-best distance so far is STRICTLY below
   ``ring · c`` (cell width c): any point in shell ``ring+1`` or beyond lies
   ≥ ``ring · c`` away (Chebyshev shell R is ≥ (R−1)·c in Euclidean distance
   from anywhere in the query's cell), so no unseen point can beat — or,
   because the bound is strict, even tie — the current top-k;
4. exact Euclidean distance + ``row_number() ≤ k`` window top-k, ties broken
   deterministically by (distance, image_id, tile_id).

The ring loop is driver-side control flow only, and there is one code path
for every query-set size. Each round is ONE Spark action: an eager local
checkpoint of the still-pending queries' ranked, flagged candidates. The
round's answers, the candidates carried into the next round and the next
pending set (an anti-join) are filters of it, and the count of queries it
finished is an ``Observation`` on its own job, so the driver tracks how many
queries are pending without a probe and nothing query-sized ever visits the
driver. No join carries a hint — the planner picks it from size (a
checkpoint keeps its origin's statistics): a small query side broadcasts
into the ring join, a corpus-sized one shuffles. The big blocks side is
scanned from one persisted projection.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window, functions as F

from ..config import EngineConfig, DEFAULT_CONFIG
from ..functions import cells


def _ring_cells(queries: DataFrame, ring: int, prev_ring: int,
                res: int) -> DataFrame:
    """Explode each query to the in-world cells at Chebyshev distance in
    ``(prev_ring, ring]`` of its own cell — the disk difference, so joined
    cells are never re-joined; one (dx, dy) offset per cell, so no
    duplicates (pytested against ``kernels.geometry.cell_ring``)."""
    n = 1 << res
    offs = F.sequence(F.lit(-ring), F.lit(ring))
    return (queries
            .withColumn("_dx", F.explode(offs))
            .withColumn("_dy", F.explode(offs))
            .withColumn("_ix", cells.grid("x", res) + F.col("_dx"))
            .withColumn("_iy", cells.grid("y", res) + F.col("_dy"))
            .where(F.col("_ix").between(0, n - 1) & F.col("_iy").between(0, n - 1)
                   & (F.greatest(F.abs("_dx"), F.abs("_dy")) > F.lit(prev_ring)))
            .select("query_id", "x", "y", "k",
                    cells.from_grid("_ix", "_iy", res).alias("join_cell")))


def knn_ring(points: DataFrame, queries: DataFrame,
             cfg: EngineConfig = DEFAULT_CONFIG, res: int | None = None,
             max_ring: int = 8, initial_ring: int | None = None) -> DataFrame:
    """kNN of each query point over block centroids.

    ``points``: cell-keyed centroids (image_id, tile_id, wx, wy, cell) —
    output of ``spatial_join.block_centroids``. ``queries``: (query_id, x,
    y, k). Returns ``(query_id, image_id, tile_id, distance, rank)`` with
    rank ≤ k.

    One distributed path serves 25 interactive queries and "kNN for every
    corpus item" alike: the query side is cell-keyed and equi-joined, and
    the join strategy is the planner's choice from size (broadcast below
    ``autoBroadcastJoinThreshold``, shuffled above). Each round runs one
    Spark action, an eager local checkpoint of the pending queries' ranked
    and flagged candidates; the round's answers, the candidates carried
    into the next round and the next pending set are filters of it, and
    the number of queries it finished is observed on its own job. Nothing
    query-sized is collected to the driver.
    """
    from ..kernels.geometry import WORLD
    res = res if res is not None else cfg.spatial.cell_resolution
    cell_width = WORLD / (1 << res)
    # persist: the density count plus every ring join rescans this side —
    # without it any upstream work (scan, centroid affine) reruns per round.
    # Tracked so the big side is released at the next query boundary rather
    # than pinned in the block manager for the session lifetime.
    from ..functions.cache import persist_tracked
    pts = persist_tracked(points.select("image_id", "tile_id", "wx", "wy", "cell"))
    # the query count seeds the driver-side pending count, and max(k) sizes
    # the first ring; both are observed on the checkpoint's own job
    seen = Observation()
    q = (queries.select("query_id", "x", "y", "k")
         .observe(seen, F.count(F.lit(1)).alias("n"), F.max("k").alias("k_max"))
         .localCheckpoint(eager=True))
    n_pending = seen.get["n"]
    # density-aware initial radius: expect k candidates within a disk of
    # radius √(k̄/(π·density)) cells, so most queries finish in ONE round —
    # each extra round is a full Spark job, the dominant cost at small k
    if initial_ring is None:
        # count the PERSISTED projection: this first action populates the
        # cache every ring join then reads, instead of an extra uncached
        # pass over the upstream
        density = max(pts.count() / float((1 << res) ** 2), 1e-9)
        k_max = seen.get["k_max"] or 1
        initial_ring = int(min(max((k_max / (3.14159 * density)) ** 0.5 + 1, 1),
                               max(max_ring, 1)))
    # then 4× radius per round: log-many iterations instead of one per shell
    radii = [initial_ring]
    while radii[-1] < max_ring:
        radii.append(min(max(radii[-1] * 4, 1), max_ring))
    wq = Window.partitionBy("query_id").orderBy("distance", "image_id", "tile_id")
    wp = Window.partitionBy("query_id")
    done, rn = F.col("_done") == 1, F.col("_rn")
    pending, carried, prev = q, None, -1
    results: list[DataFrame] = []  # per-round top-k of queries finished there
    # an empty query set drains in the first round, so no up-front check
    for ring in radii:
        cand = (pts.join(_ring_cells(pending, ring, prev, res),
                         pts["cell"] == F.col("join_cell"))
                .select("query_id", "image_id", "tile_id", "k",
                        F.sqrt(F.pow(F.col("wx") - F.col("x"), 2)
                               + F.pow(F.col("wy") - F.col("y"), 2)).alias("distance")))
        # kth-best distance per query so far; done ⇔ dk < ring·c STRICTLY:
        # an unseen point beyond shell `ring` is ≥ ring·c away, so with
        # dk < ring·c nothing unseen can beat OR TIE the current top-k. The
        # non-strict bound admitted a tie hazard — integer-valued world
        # coordinates make distance == ring·c realizable (e.g. dx=ring·c,
        # dy=0 from a shell corner), and an unseen equal-distance point
        # with a smaller id would deterministically displace rank k under
        # the (distance, id) tie-break. Strict costs at most one extra
        # ring for the measure-zero exact-equality queries.
        # Only still-pending queries' rows are ranked: `carried` holds their
        # earlier candidates, and a finished query can never un-finish.
        # ONE ranking serves done-detection AND the finished queries' final
        # answer: a finished query's candidate set can never grow (later
        # rings explode only still-pending queries), so its rn ≤ k rows at
        # finish time are its top-k. The _done flag rides a partition-only
        # window over the already-ranked rows — same partitioning, no extra
        # exchange or sort. Candidate (query, point) pairs are unique by
        # construction (shells are disjoint disk differences; a point lives
        # in one cell), so no dedup — pytest-pinned via many-rounds equality
        # with brute force.
        finished = Observation()
        flagged = ((cand if carried is None else carried.unionByName(cand))
                   .withColumn("_rn", F.row_number().over(wq))
                   .withColumn("_done", F.max(
                       F.when((rn == F.col("k"))
                              & (F.col("distance")
                                 < F.lit(float(ring) * cell_width)),
                              F.lit(1)).otherwise(F.lit(0))).over(wp))
                   .observe(finished, F.count(F.when(done & (rn == 1), 1)).alias("n"))
                   .localCheckpoint(eager=True))
        results.append(flagged.filter(done & (rn <= F.col("k")))
                       .select("query_id", "image_id", "tile_id", "distance",
                               rn.alias("rank")))
        # a pending query without candidates yet has no row here, but stays
        # in `pending` below, so it is never lost
        carried = flagged.filter(~done).drop("_rn", "_done")
        pending = pending.join(flagged.filter(done & (rn == 1)).select("query_id"),
                               "query_id", "left_anti")
        n_pending -= finished.get["n"]
        if n_pending == 0:
            return reduce(DataFrame.unionByName, results)
        prev = ring
    # queries still pending after max_ring (deep in empty regions) fall back
    # to brute force — the tail is tiny by construction (max_ring covers a
    # (2·max_ring+1)²-cell disk, so only queries in near-empty regions
    # remain), so the cross join touches |pending| × |points|, not
    # |queries| × |points|.
    return reduce(DataFrame.unionByName, results).unionByName(
        knn_bruteforce(points, pending))


def knn_bruteforce(points: DataFrame, queries: DataFrame) -> DataFrame:
    """Oracle-shaped baseline: cross join + window top-k. Correct at any
    scale but O(|P|·|Q|) — used to verify ``knn_ring`` and for its
    brute-force tail. The cross join carries no hint: the planner
    broadcasts the query side only when it is small."""
    cand = (points.select("image_id", "tile_id", "wx", "wy")
            .crossJoin(queries.select("query_id", "x", "y", "k"))
            .withColumn("distance",
                        F.sqrt(F.pow(F.col("wx") - F.col("x"), 2)
                               + F.pow(F.col("wy") - F.col("y"), 2))))
    w = Window.partitionBy("query_id").orderBy("distance", "image_id", "tile_id")
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "image_id", "tile_id", "distance", "rank"))
