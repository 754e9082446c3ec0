"""Feature-hashing text embeddings — the hashing-trick bag-of-words vector.

The bridge from the text side of the engine to the ANN side: a
deterministic, vocabulary-free embedding (Weinberger et al., "Feature
Hashing for Large Scale Multitask Learning", ICML'09) computed entirely
with JVM expressions over the portable hash, so the DuckDB oracle produces
bit-identical vectors. Each token lands in dimension ``hash(token) mod dim``
with sign ``bit 6 of the hash`` (the standard signed hashing that makes the
inner product an unbiased kernel estimate); the document vector is the
signed token-count sum, L2-normalized.

Not a learned embedding — it is the classical scale-out baseline the ANN
tiers (:mod:`.ann`) can consume when no model-produced vectors exist, and
the plumbing proof that corpus → embeddings → LSH/IVF runs end to end
inside the engine. One explode + one (doc, dim) aggregate + one per-doc
assembly aggregate: two shuffles total, independent of ``dim``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.portable_hash import portable_hash64


def hashed_embedding(docs: DataFrame, dim: int = 64) -> DataFrame:
    """(doc_id, embedding array<double>) — L2-normalized signed
    hashing-trick vector; blank documents embed as the zero vector."""
    from ..functions.parallelism import spread

    # explode-heavy: a single-file scan is ONE partition regardless of
    # maxPartitionBytes and would serialize the tokenize+hash stage
    docs = spread(docs)
    t = F.trim(F.col("text"))
    toks = (docs.select(F.col("doc_id"), F.explode(F.split(t, r"\s+")).alias("tok"))
            .where(F.length("tok") > 0))
    h = portable_hash64(F.col("tok"))
    sgn = F.when(F.shiftright(h, 6).bitwiseAND(F.lit(1)) == 0,
                 F.lit(1.0)).otherwise(F.lit(-1.0))
    cells = (toks.select("doc_id", F.pmod(h, F.lit(dim)).alias("d"), sgn.alias("s"))
             .groupBy("doc_id", "d").agg(F.sum("s").alias("v")))
    # the L2 norm is computed IN the aggregate, once per doc: a lambda-
    # captured norm expression would re-evaluate per array element in the
    # final transform (higher-order functions run interpreted, outside
    # whole-stage codegen — measured O(dim³) per row, ~14s → ~1s at sf0.1).
    # Sparse-vs-dense summation order is immaterial: v are small signed
    # integer counts, so v² sums are float-exact.
    assembled = (cells.groupBy("doc_id")
                 .agg(F.map_from_entries(
                          F.collect_list(F.struct("d", "v"))).alias("m"),
                      F.greatest(F.sqrt(F.sum(F.col("v") * F.col("v"))),
                                 F.lit(1e-12)).alias("_nrm")))
    # dense vector from the sparse (dim → sum) map; key type matches pmod's.
    # ONE fused transform (r6): HOF lambdas run interpreted, so chaining a
    # second transform over the first's output doubled the per-element
    # interpreter walk — fusing lookup+normalize+round into a single lambda
    # measured 6.5 → 3.0 s cold / 2.9 → 2.8 s warm at sf1 (noop sink),
    # hash-identical output. The captured refs (m, _nrm) are plain column
    # reads — cheap per the r5 HOF-capture invariant.
    emb = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                      lambda i: F.round(
                          F.coalesce(F.col("m")[i.cast("long")], F.lit(0.0))
                          / F.col("_nrm"), 6))
    out = assembled.select(F.col("doc_id"), emb.alias("embedding"))
    # blank/whitespace-only docs produced no tokens: re-enter as zero vectors
    zeros = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda _: F.lit(0.0))
    return (docs.select("doc_id").join(out, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("embedding", zeros).alias("embedding")))
