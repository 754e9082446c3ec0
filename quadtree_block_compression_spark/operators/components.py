"""Connected components over near-duplicate pair edges → dedup clusters.

The pairwise dedup tiers (MinHash/SimHash/embedding — ``dedup_text``,
``ann``) emit *edges*; production corpus cleaning needs the *clusters* those
edges imply, so one canonical document survives per component instead of the
greedy drop-the-higher-id heuristic (which over-drops on chains A–B, B–C:
the component {A,B,C} should keep exactly A, the greedy pair rule drops B
and C even when A–C was never verified — same result here, but on star
graphs the greedy rule keeps non-canonical members).

Generalizes the reference's dedup *group* notion (symlink groups keyed by a
canonical block, ``pkg/quadtreeImage/quadtreeElement.go:176-221``) from
pointer identity to any pair relation.

Two tiers, chosen by edge-set size:

- **driver** — an edge set within ``driver_edge_cap`` (gated by one bounded
  ``limit(cap+1).collect()`` over the already-materialized edge frame,
  whose rows double as the fetched edge list) is solved driver-side with
  union-find: at that size a distributed loop's scheduled jobs per round
  are pure latency floor.
- **large-star/small-star** (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) — larger sets alternately rewire every
  node's strictly-larger neighbors (large-star) then its smaller neighbors
  and itself (small-star) to the minimum of its closed neighborhood, until
  the edge set is a fixpoint of component-min stars. O(log² n) rounds
  whatever the component diameter, so adversarial long chains (crawl
  rings, version chains) stay bounded. ``driver_edge_cap=0`` forces this
  tier.

Deterministic (min over ids), so the whole computation is replicated in the
DuckDB oracle as a recursive CTE (min reachable id per node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         a_col: str = "doc_a", b_col: str = "doc_b",
                         driver_edge_cap: int = 200_000) -> DataFrame:
    """Component id (= min member id) per node.

    ``nodes``: one row per entity (singletons become their own component).
    ``pairs``: undirected edges, any extra columns ignored.
    ``driver_edge_cap``: an edge set at most this large (counted AFTER the
    node-set restriction, from the already-checkpointed frame, so the gate
    costs one cheap job) is solved with union-find over the gate's own
    rows instead of the distributed loop. Near-dup edge sets are tiny
    relative to their corpus (LSH pairs over 5k docs ≈ hundreds of edges),
    and every distributed round pays its scheduled jobs — a latency floor
    that dwarfs the work at that size. The cap bounds the collect at a few
    MB; 0 disables the tier. At 100 TB the post-LSH edge set exceeds any
    sane cap and flows to large-star/small-star unchanged.
    Returns (``id_col``, component_id, component_size, is_canonical).
    """
    node_ids = nodes.select(F.col(id_col).alias("x")).distinct()
    # symmetric closed edge list: x→y for every pair, both directions.
    # Edges are RESTRICTED to the node set (semi-joins on both endpoints):
    # an edge through an id absent from ``nodes`` (e.g. a doc filtered out
    # upstream of the component step) must not act as a bridge — without
    # the restriction it would merge two components, and the merged
    # "component" could even be labeled by an id that no longer exists.
    # pairs is referenced by BOTH union branches below; without a persist
    # the upstream pair-generating plan (e.g. the MinHash-LSH band join)
    # executes twice inside the one checkpoint job. Tracked → released at
    # the caller's query boundary.
    from ..functions.cache import persist_tracked
    pairs2 = persist_tracked(pairs.select(F.col(a_col).alias("a"),
                                          F.col(b_col).alias("b")))
    a = pairs2.select(F.col("a").alias("x"), F.col("b").alias("y"))
    b = pairs2.select(F.col("b").alias("x"), F.col("a").alias("y"))
    # no distinct on the edge list (r6): union-find ignores duplicate edges
    # and large-star/small-star dedups its own oriented set — the distinct was
    # one more exchange + aggregate, and under AQE one more sequential
    # stage-materialization job inside the eager checkpoint of a usually
    # tiny frame (the components queries are job-latency-bound: ~25
    # sub-second jobs each at sf1). The driver-tier gate now counts
    # pre-dedup rows, which only makes the cap more conservative.
    edges = (a.unionByName(b)
             .join(node_ids, "x", "left_semi")
             .join(node_ids.withColumnRenamed("x", "y"), "y", "left_semi")
             .localCheckpoint(eager=True))
    # pairs2 stays registered until the caller's query-boundary release —
    # a manual unpersist here would leave a stale registry entry behind

    labels = None
    if driver_edge_cap > 0:
        # ONE job gates AND fetches (r6): at most cap+1 rows ever cross to
        # the driver, and when the set fits they are the edge list
        probe = edges.limit(driver_edge_cap + 1).collect()
        if len(probe) <= driver_edge_cap:
            labels = _driver_labels(node_ids, edges, probe)
    if labels is None:
        labels = _alternating_labels(node_ids, edges)

    w = Window.partitionBy("label")
    return (labels
            .withColumn("component_size", F.count(F.lit(1)).over(w))
            .select(F.col("x").alias(id_col),
                    F.col("label").alias("component_id"),
                    "component_size",
                    (F.col("x") == F.col("label")).alias("is_canonical")))


def _driver_labels(node_ids: DataFrame, edges: DataFrame,
                   rows: list) -> DataFrame:
    """Small-graph tier: union-find over ``rows``, the collected edge list
    (``edges`` supplies only the id type). The caller gates the collect at
    ``driver_edge_cap`` rows (a few MB) — this is the contractually-bounded
    kind of driver work (like the kNN pending set), not a driver loop over
    table-scale data. One collect + one createDataFrame replaces the
    distributed loop's jobs per round of scheduling latency, which dominate
    on small graphs."""
    parent: dict = {}

    def find(v):
        r = v
        while parent[r] != r:
            r = parent[r]
        while parent[v] != r:  # path compression
            parent[v], v = r, parent[v]
        return r

    for row in rows:
        x, y = row[0], row[1]
        for v in (x, y):
            if v not in parent:
                parent[v] = v
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    from pyspark.sql.types import StructField, StructType
    xf = edges.schema.fields[0]
    schema = StructType([StructField("x", xf.dataType, False),
                         StructField("label", xf.dataType, False)])
    lab = edges.sparkSession.createDataFrame(
        [(v, comp_min[find(v)]) for v in parent], schema)
    # singletons (no edges) re-enter as their own component
    return (node_ids.join(F.broadcast(lab), "x", "left")
            .select("x", F.coalesce("label", "x").alias("label")))


def _alternating_labels(node_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14) — the
    O(log² n)-round variant whose shuffle count is independent of component
    diameter.

    Per round over the (larger → smaller oriented) edge set E:

    - **large-star**: symmetrize E; per node u with neighbors Γ(u) and
      m = min(Γ(u) ∪ {u}), emit (v, m) for every v ∈ Γ(u) with v > u.
    - **small-star**: orient E larger→smaller; per node u with (smaller)
      neighbors N(u) and m = min(N(u) ∪ {u}), emit (v, m) for every
      v ∈ N(u) ∪ {u}, v ≠ m.

    Both preserve connectivity and strictly shrink the potential until the
    fixpoint, where E is exactly the star {(v, root_v)} — each node's one
    edge points at its component minimum. Each half-round is one
    aggregation + one equi-join on the node key; plan lineage is bounded
    with a local checkpoint per round, and the fixpoint test is an
    order-insensitive checksum (count + xor of row hashes) of the edge set,
    observed on that checkpoint's own job — no action of its own, no full
    edge-set comparison join."""
    # orient larger → smaller; self-loops carry no connectivity
    cur, sig = _checkpoint_with_checksum(
        edges.where(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct())
    for _ in range(200):  # safety rail only: O(log² n) ≪ 200 for any n
        prev = cur
        # large-star over the symmetrized set
        sym = cur.unionByName(cur.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        cur = (sym.join(mins, "u")
               .where(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .where(F.col("u") != F.col("v"))
               .distinct())
        # small-star over the larger→smaller orientation (already holds:
        # large-star only ever emits larger → closed-neighborhood min)
        mins = (cur.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        cur, new_sig = _checkpoint_with_checksum(
            cur.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct())
        if new_sig == sig:
            # checksum-collision guard: a colliding (count, xor-of-hashes)
            # between DISTINCT edge sets would terminate early and silently
            # mislabel a dedup-election input. Both frames are distinct sets
            # with equal counts (count is part of the checksum), so one
            # exceptAll emptiness check proves exact set equality. Runs only
            # when the checksum already matched, so once per call in practice.
            if cur.exceptAll(prev).isEmpty():
                break
        sig = new_sig
    else:
        raise RuntimeError(
            "alternating connected components did not reach a fixpoint in "
            "200 rounds — O(log² n) bounds this far below 200 for any "
            "realizable n, so this indicates corrupt edge input")

    # fixpoint edges are (node → component min); roots have no out-edge
    stars = cur.groupBy("u").agg(F.min("v").alias("root"))
    return (node_ids.join(stars.withColumnRenamed("u", "x"), "x", "left")
            .select("x", F.coalesce("root", "x").alias("label")))


def _checkpoint_with_checksum(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Eager local checkpoint of the (u, v) edge set ``e`` and its
    order-insensitive checksum (row count, xor of row hashes), observed on
    the checkpoint's own job. An ``Observation`` fills once, on the first
    action over its frame, so every checkpoint takes a new one."""
    obs = Observation()
    cp = (e.observe(obs, F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0))
                    .alias("x"))
          .localCheckpoint(eager=True))
    m = obs.get
    return cp, (m["n"], m["x"])


def components_recursive_sql(nodes_sql: str, pairs_sql: str,
                             id_col: str = "doc_id",
                             a_col: str = "doc_a",
                             b_col: str = "doc_b") -> str:
    """DuckDB oracle: min reachable id per node via a recursive CTE —
    independent semantics for :func:`connected_components` (UNION dedup
    terminates the recursion on cycles). Edges are restricted to the node
    set on both endpoints, mirroring the operator: an id absent from
    ``nodes`` never bridges two components."""
    return f"""
      WITH RECURSIVE
      nodes AS ({nodes_sql}),
      rawp AS ({pairs_sql}),
      edges AS (SELECT x, y FROM (
                  SELECT {a_col} AS x, {b_col} AS y FROM rawp
                  UNION SELECT {b_col}, {a_col} FROM rawp)
                WHERE x IN (SELECT {id_col} FROM nodes)
                  AND y IN (SELECT {id_col} FROM nodes)),
      reach(src, node) AS (
        SELECT {id_col}, {id_col} FROM nodes
        UNION
        SELECT r.src, e.y FROM reach r JOIN edges e ON e.x = r.node),
      comp AS (SELECT src AS {id_col}, min(node) AS component_id
               FROM reach GROUP BY src)
      SELECT {id_col}, component_id,
             CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS component_size,
             {id_col} = component_id AS is_canonical
      FROM comp
    """
