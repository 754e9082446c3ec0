"""Cross-document sequence packing (context-window budget assignment).

Pretraining pipelines concatenate documents shard-by-shard and split the
stream into fixed token budgets ("concat-then-split" packing). Relationally
that is a running token sum per shard: a document starts in pack
``start_tokens DIV budget`` at offset ``start_tokens MOD budget`` (documents
longer than the remaining budget simply continue into the next pack, like
the concatenated token stream they model).

Scale posture: there is deliberately NO global-order packing — that would be
a partitionless window (the r4 invariant). Shard assignment is a portable
hash of the id, so the P shards pack independently — P running sums, each a
sort within its own partition — which is also the production shape: real
packing runs per input shard, never over a totally-ordered corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.portable_hash import portable_hash64
from .text_analysis import token_count


def pack_sequences(docs: DataFrame, budget: int,
                   n_parts: int = 32) -> DataFrame:
    """Assign each document its (shard, pack, offset) under concat-then-split
    packing with ``budget`` tokens per pack and ``n_parts`` independent
    shards. Returns (doc_id, n_tokens, part, pack_id, pack_offset) where
    ``pack_id = pack_within_shard * n_parts + part`` (globally unique) and
    ``pack_offset`` is the document's first-token position inside its pack.
    Deterministic: shard = portable_hash(id) mod n_parts, shard order = id.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_parts <= 0:
        raise ValueError(f"n_parts must be positive, got {n_parts}")
    part = F.pmod(portable_hash64(F.col("doc_id").cast("string")),
                  F.lit(n_parts))
    w = (Window.partitionBy("part").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sized = docs.select("doc_id", token_count().alias("n_tokens"),
                        part.alias("part"))
    started = sized.withColumn(
        "_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (started
            .withColumn("pack_id",
                        F.expr(f"_start DIV {int(budget)}") * n_parts
                        + F.col("part"))
            .withColumn("pack_offset", F.pmod("_start", F.lit(int(budget))))
            .select("doc_id", "n_tokens", "part", "pack_id", "pack_offset"))
