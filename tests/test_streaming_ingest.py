"""Streaming image ingest: stream → tile-assign per micro-batch → blocks
store, identical to the batch operator's output."""

import os

from pyspark.sql import functions as F


def test_streaming_ingest_matches_batch(spark, tiny_images, tmp_path):
    from quadtree_block_compression_spark.operators.tiling import assign_tiles
    from quadtree_block_compression_spark.streaming.ingest import start_image_ingest

    src = str(tmp_path / "img_in")
    blocks_out = str(tmp_path / "blocks_out")
    ckpt = str(tmp_path / "ckpt")
    lineage = str(tmp_path / "lineage")
    os.makedirs(src)

    subset = tiny_images.limit(6).cache()
    subset.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(subset.schema).parquet(src)
    q = start_image_ingest(stream, blocks_out, ckpt, lineage_path=lineage)
    q.awaitTermination(120)

    got = spark.read.parquet(blocks_out)
    want = assign_tiles(subset)
    cols = ["image_id", "tile_id", "level", "x0", "y0", "x1", "y1",
            "is_leaf", "oob", "block_hash"]
    assert got.count() == want.count()
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    # lineage rows recorded for the batch
    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("stage").startswith("ingest_batch_")).count() > 0
    # restart with no new data: availableNow + checkpoint → no duplicates
    stream2 = spark.readStream.schema(subset.schema).parquet(src)
    q2 = start_image_ingest(stream2, blocks_out, ckpt, lineage_path=lineage)
    q2.awaitTermination(60)
    assert spark.read.parquet(blocks_out).count() == want.count()


def test_ingest_batch_replay_is_idempotent(spark, tiny_images, tmp_path):
    """foreachBatch is at-least-once: a batch retried with the same batch_id
    (failure between sink write and checkpoint commit) must REPLACE its own
    output, not append a duplicate — the idempotent half of exactly-once."""
    from quadtree_block_compression_spark.streaming.ingest import make_batch_processor

    blocks_out = str(tmp_path / "blocks_replay")
    lineage = str(tmp_path / "lineage_replay")
    proc = make_batch_processor(blocks_out, lineage_path=lineage)
    subset = tiny_images.limit(4).cache()

    proc(subset, 0)
    n_first = spark.read.parquet(blocks_out).count()
    proc(subset, 0)                      # simulated retry of the same batch
    assert spark.read.parquet(blocks_out).count() == n_first
    proc(subset.limit(2), 1)             # a NEW batch still appends
    got = spark.read.parquet(blocks_out)
    assert got.filter(F.col("_batch_id") == 1).count() > 0
    assert got.filter(F.col("_batch_id") == 0).count() == n_first
    # lineage follows the same per-batch overwrite discipline
    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("stage") == "ingest_batch_0") \
              .filter(F.col("partition_id") == -1).count() == 1
    # and counts the rows the batch's write tasks stored
    batch0 = lin.filter((F.col("_batch_id") == 0) & (F.col("partition_id") >= 0))
    assert batch0.agg(F.sum("rows_out")).collect()[0][0] == n_first


def test_streaming_near_dedup_ingest_grows_index_and_replays_idempotently(
        spark, tmp_path):
    """Streaming near-dedup against the index at rest: batch 2 must see
    batch 1's accepted docs as corpus (exact AND near tiers), and
    replaying batch 1 after the fact must leave output and index
    byte-identical (exactly-once: dynamic partition overwrite + probe
    excluding the in-flight batch id)."""
    from pyspark.sql import functions as F

    from quadtree_block_compression_spark.operators.dedup_text import (
        dedup_index_write)
    from quadtree_block_compression_spark.streaming.ingest import (
        make_dedup_batch_processor)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    corpus = spark.createDataFrame([
        (0, "the cat sat on the mat and looked at the dog today"),
        (1, "a completely different document about trains and planes"),
    ], "doc_id long, text string")
    dedup_index_write(corpus, idx, n=3, num_perm=8, bands=4)
    proc = make_dedup_batch_processor(idx, out, n=3, num_perm=8, bands=4,
                                      threshold=0.4)

    b1 = spark.createDataFrame([
        (100, "fresh new content about rivers and gardens in the city"),
        (101, "the cat sat on the mat and looked at the dog today"),  # exact of 0
    ], "doc_id long, text string")
    proc(b1, 1)
    got1 = {r.doc_id: r.dup_tier
            for r in spark.read.parquet(out).where("_batch_id = 1").collect()}
    assert got1 == {100: "unique", 101: "exact"}

    b2 = spark.createDataFrame([
        (200, "fresh new content about rivers and gardens in the city"),   # exact of ACCEPTED 100
        (201, "fresh new content about rivers and gardens in the town"),   # near of ACCEPTED 100
        (202, "entirely novel text with nothing shared anywhere at all"),
    ], "doc_id long, text string")
    proc(b2, 2)
    got2 = {r.doc_id: (r.dup_tier, r.dup_of)
            for r in spark.read.parquet(out).where("_batch_id = 2").collect()}
    assert got2[200] == ("exact", 100)   # the grown index caught it
    assert got2[201] == ("near", 100)
    assert got2[202][0] == "unique"

    # replay batch 1 (simulated foreachBatch retry): nothing changes
    proc(b1, 1)
    replay1 = {r.doc_id: r.dup_tier
               for r in spark.read.parquet(out).where("_batch_id = 1").collect()}
    assert replay1 == got1
    # index holds each accepted doc exactly once per table
    hashes = spark.read.parquet(str(tmp_path / "idx" / "hashes"))
    assert hashes.groupBy("doc_id").count().where("count > 1").count() == 0
    assert {r.doc_id for r in hashes.collect()} == {0, 1, 100, 202}
    # and batch 2 classifications still hold against the replayed index
    proc(b2, 2)
    got2b = {r.doc_id: (r.dup_tier, r.dup_of)
             for r in spark.read.parquet(out).where("_batch_id = 2").collect()}
    assert got2b == got2


def test_streaming_embedding_ingest_appends_ivf_index(spark, tmp_path):
    """Streaming embeddings → IVF index at rest: batches land against the
    frozen centroids and replaying a batch leaves the index unchanged.
    Drives the foreachBatch body directly with explicit batch_ids (the
    replay half a checkpointed stream cannot exercise on demand), like the
    ingest-replay tests above."""
    import numpy as np
    import pandas as pd
    from quadtree_block_compression_spark.operators.ann import (
        ivf_probe_index, ivf_write_index)
    from quadtree_block_compression_spark.streaming.ingest import (
        make_embedding_batch_processor)

    rng = np.random.default_rng(23)
    V = rng.normal(size=(120, 16))
    V[100] = V[5]  # planted duplicate arriving via the stream
    def mk(lo, hi):
        return spark.createDataFrame(pd.DataFrame(
            {"vec_id": range(lo, hi),
             "embedding": [v.tolist() for v in V[lo:hi]]}))
    idx = str(tmp_path / "ivf")
    ivf_write_index(mk(0, 80), idx, n_clusters=6, iters=2)
    proc = make_embedding_batch_processor(idx)
    proc(mk(80, 100), 1)
    proc(mk(100, 120), 2)
    proc(mk(80, 100), 1)   # foreachBatch retry: replaces its own partitions
    rows = spark.read.parquet(idx)
    assert rows.count() == 120
    assert rows.groupBy("vec_id").count().where("count > 1").count() == 0
    q = mk(5, 6).select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec"))
    top = ivf_probe_index(spark, idx, q, k=2, nprobe=3).collect()
    assert top[0].vec_id == 100 and top[0].cos == 1.0


def test_batch_processors_release_caches_per_batch(spark, tiny_images,
                                                   tmp_path):
    """ADVICE r4 (medium): foreachBatch runs every micro-batch on ONE
    long-lived stream-execution thread, so unless the batch body itself
    releases, persist_tracked frames accumulate unboundedly over a
    continuous stream. Pin: after each processor invocation, the calling
    thread's tracked registry is empty and the SQL cache manager is back
    to its pre-batch size."""
    from quadtree_block_compression_spark.functions.cache import (
        release_caches, tracked_count)
    from quadtree_block_compression_spark.operators.dedup_text import (
        dedup_index_write)
    from quadtree_block_compression_spark.streaming.ingest import (
        make_batch_processor, make_dedup_batch_processor)

    def cache_size():
        return spark._jsparkSession.sharedState().cacheManager() \
            .cachedData().size()

    release_caches()
    base = cache_size()

    # image-ingest body (assign_tiles path)
    proc = make_batch_processor(str(tmp_path / "blocks"),
                                lineage_path=str(tmp_path / "lineage"))
    proc(tiny_images.limit(3), 1)
    assert tracked_count() == 0
    assert cache_size() <= base

    # near-dedup body (the classification pipeline persists several frames)
    idx = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")
    dedup_index_write(corpus, idx, n=3, num_perm=8, bands=4)
    dproc = make_dedup_batch_processor(idx, str(tmp_path / "out"),
                                       n=3, num_perm=8, bands=4,
                                       threshold=0.4)
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (11, "totally different words in this one right here now ok")],
        "doc_id long, text string")
    dproc(batch, 1)
    assert tracked_count() == 0
    assert cache_size() <= base
    # a second batch also leaves nothing behind (the unbounded-growth case)
    dproc(spark.createDataFrame(
        [(20, "more novel sentences flowing through the second batch")],
        "doc_id long, text string"), 2)
    assert tracked_count() == 0
    assert cache_size() <= base
