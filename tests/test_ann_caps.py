"""Scale guards on the embedding-LSH tiers (round-2 verdict item #2).

A degenerate bucket — hundreds of near-identical embeddings sharing every
half-signature, the boilerplate-page shape at web scale — must not square
inside the banded self-join. ``max_bucket`` drops such buckets before the
join; ``auto_num_planes`` grows the bucket key space with the table.
"""

import numpy as np
import pandas as pd
import pytest

from quadtree_block_compression_spark.operators.ann import (
    auto_num_planes, cosine_topk_lsh, embedding_near_dup_pairs,
    hyperplane_signs)


def _degenerate_emb(spark, n_dup=300, n_other=40, dim=8):
    """n_dup identical vectors (one bucket in every tier) + n_other spread."""
    rows = [{"vec_id": i, "embedding": [1.0] * dim} for i in range(n_dup)]
    for j in range(n_other):
        v = [float((j * 7 + d * 3) % 11 - 5) for d in range(dim)]
        rows.append({"vec_id": n_dup + j, "embedding": v})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_auto_num_planes_growth():
    assert auto_num_planes(500, target_bucket=32) == 8   # the sf0.01 gate value
    assert auto_num_planes(2000, target_bucket=32) == 12
    assert auto_num_planes(10**9, target_bucket=32) == 50
    assert auto_num_planes(10, target_bucket=32) == 8    # floor
    # expected occupancy stays ~target: n / 2^(planes/2) <= target
    for n in (10**4, 10**6, 10**8):
        planes = auto_num_planes(n, target_bucket=32)
        assert n / 2 ** (planes // 2) <= 32


def test_near_dup_degenerate_bucket_capped(spark):
    emb = _degenerate_emb(spark)
    uncapped = embedding_near_dup_pairs(
        emb, threshold=0.99, dim=8, num_planes=8, max_bucket=None).count()
    capped = embedding_near_dup_pairs(
        emb, threshold=0.99, dim=8, num_planes=8, max_bucket=100)
    got = capped.toPandas()
    # without the cap the 300 identical vectors square: 300·299/2 pairs
    assert uncapped >= 300 * 299 // 2
    # with it the degenerate bucket is dropped from every tier entirely
    assert len(got) < 300
    assert not ((got["vec_a"] < 300) & (got["vec_b"] < 300)).any()


def test_topk_lsh_degenerate_bucket_capped(spark):
    emb = _degenerate_emb(spark)
    from pyspark.sql import functions as F
    q = (emb.where(F.col("vec_id") >= 330)  # queries from the spread tail
         .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")))
    capped = cosine_topk_lsh(emb, q, k=3, dim=8, num_planes=8,
                             max_bucket=100, multiprobe=True)
    got = capped.toPandas()
    # results exist and never come from the dropped degenerate bucket
    assert len(got) > 0
    assert (got["vec_id"] >= 300).all()
    assert (got.groupby("q_id").size() <= 3).all()


def test_multiprobe_lifts_candidates(spark):
    """Multiprobe must be a superset candidate set: every exact-probe hit
    remains, rank quality can only improve (same scoring, more candidates)."""
    emb = _degenerate_emb(spark, n_dup=5, n_other=60)
    from pyspark.sql import functions as F
    q = (emb.where(F.col("vec_id") >= 60)
         .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")))
    single = cosine_topk_lsh(emb, q, k=50, dim=8, num_planes=8,
                             multiprobe=False).count()
    multi = cosine_topk_lsh(emb, q, k=50, dim=8, num_planes=8,
                            multiprobe=True).count()
    assert multi >= single


def test_multiprobe_flips_every_key_bit_at_odd_plane_count(spark):
    """With 7 planes k1 holds planes 0-2 and k2 planes 3-6, one bit wider.
    Multiprobe must reach every Hamming-1 neighbour of each key, so with k
    large enough to keep every candidate, the answer is exactly the vectors
    within Hamming distance 1 of the query on k1 or on k2 — including those
    reached only through k2's top bit (plane 3)."""
    from pyspark.sql import functions as F
    planes, dim, n = 7, 8, 300
    rng = np.random.default_rng(13)
    V = rng.normal(size=(n, dim))
    S = hyperplane_signs(planes, dim)
    # sign bits as the engine folds them: sequential sum, bit = proj >= 0
    bits = [[int(sum(x * s for x, s in zip(v, S[p])) >= 0) for p in range(planes)]
            for v in V]

    def key(b, lo, hi):
        out = 0
        for x in b[lo:hi]:
            out = out * 2 + x
        return out

    k1 = [key(b, 0, 3) for b in bits]
    k2 = [key(b, 3, planes) for b in bits]

    def near(a, b):
        return bin(a ^ b).count("1") <= 1

    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(n), "embedding": [v.tolist() for v in V]}))
    q = (emb.where(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")))
    got = {(r.q_id, r.vec_id) for r in cosine_topk_lsh(
        emb, q, k=n, dim=dim, num_planes=planes, multiprobe=True).collect()}
    want = {(i, j) for i in range(4) for j in range(n)
            if j != i and (near(k1[i], k1[j]) or near(k2[i], k2[j]))}
    # the case under test occurs: reachable only by flipping k2's top bit
    top_only = {(i, j) for i, j in want
                if not near(k1[i], k1[j]) and k2[i] ^ k2[j] == 1 << 3}
    assert top_only
    assert got == want
