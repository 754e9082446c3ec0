"""Benchmark decontamination — n-gram overlap between a training corpus and
an evaluation/benchmark set.

The standard training-data hygiene step (popularized by the GPT-3 appendix's
13-gram decontamination): a corpus document sharing any word n-gram with a
benchmark document is flagged contaminated so it can be dropped or audited
before training. No reference counterpart — SURVEY.md §2.12 training-data
mandate, sibling to the dedup tiers.

Spark-first shape: both sides reuse :func:`..operators.dedup_text.word_shingles`
(JVM split→slice→concat, no Python), the probe is ONE equi-join on the
shingle string, and the benchmark side — small by nature (eval sets are
thousands of docs, the corpus is the 100 TB side) — broadcasts, so the
corpus is never shuffled. A corpus-sized right side degrades gracefully to
a plain shuffle equi-join (``broadcast_benchmark=False``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast


def ngram_contamination(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                        broadcast_benchmark: bool = True) -> DataFrame:
    """Flag every corpus doc sharing ≥1 word ``n``-gram with the benchmark.

    Returns one row per ``docs`` row: (doc_id, contaminated,
    n_shared_ngrams, bench_doc) where ``n_shared_ngrams`` counts DISTINCT
    shared shingles, ``bench_doc`` is the smallest matching benchmark id
    (deterministic), sentinel ``-1`` cast to the id column's own type when
    clean (``-1`` for numeric ids, ``"-1"`` for string ids — a fixed long
    cast would ANSI-crash on non-numeric ids). Benchmark ids live in their
    own column namespace, so the benchmark MAY be a subset of the corpus
    (self-contamination audits) without ambiguity.
    """
    from .dedup_text import word_shingles

    d_sh = word_shingles(docs, n)
    b_sh = (word_shingles(benchmark, n)
            .select(F.col("doc_id").alias("bench_doc"), "shingle"))
    if broadcast_benchmark:
        b_sh = broadcast(b_sh)
    hits = (d_sh.join(b_sh, "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_shared_ngrams"),
                 F.min("bench_doc").alias("bench_doc")))
    id_type = benchmark.schema["doc_id"].dataType
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.col("n_shared_ngrams").isNotNull().alias("contaminated"),
                    F.coalesce("n_shared_ngrams", F.lit(0)).cast("long")
                    .alias("n_shared_ngrams"),
                    F.coalesce("bench_doc", F.lit(-1).cast(id_type))
                    .alias("bench_doc")))
