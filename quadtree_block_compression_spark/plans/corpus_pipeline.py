"""Corpus-cleaning pipeline: the training-data ops composed into
checkpoint-resumable stages (the text counterpart of ``quadtree_pipeline``).

``documents`` scan → **S1** annotate (fingerprint, quality, lang, token
counts — one JVM projection) → **S2** exact dedup (drop non-canonical
fingerprints) → **S3** near dedup (MinHash-LSH pairs → greedy drop of the
higher doc_id of each verified pair) → **S4** quality filter → clean corpus,
with per-stage lineage and manifest resume.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import StagedPipeline


def run_corpus_pipeline(spark: SparkSession, docs: DataFrame, root: str,
                        ngram_n: int = 3, jaccard_threshold: float = 0.5,
                        min_quality: float = 0.5,
                        input_fingerprint: str = "") -> dict[str, DataFrame]:
    from ..operators.text_analysis import annotate
    from ..operators.dedup_text import minhash_lsh_pairs

    fp = json.dumps({"n": ngram_n, "j": jaccard_threshold, "q": min_quality,
                     "input": input_fingerprint}, sort_keys=True)
    pipe = StagedPipeline(spark, root)

    def s1():
        # one projection, zero joins (annotate computes fingerprint,
        # quality and language as column expressions over the same scan)
        return annotate(docs)

    annotated = pipe.run_stage("s1_annotate", s1, fingerprint=fp)

    def s2():
        from pyspark.sql import Window
        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        return (annotated.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    exact_deduped = pipe.run_stage("s2_exact_dedup", s2, fingerprint=fp)

    def s3():
        pairs = minhash_lsh_pairs(exact_deduped, n=ngram_n,
                                  threshold=jaccard_threshold)
        drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return exact_deduped.join(drops, "doc_id", "left_anti")

    near_deduped = pipe.run_stage("s3_near_dedup", s3, fingerprint=fp)

    def s4():
        return near_deduped.filter(F.col("quality") >= min_quality)

    clean = pipe.run_stage("s4_quality_filter", s4, fingerprint=fp)
    return {"annotated": annotated, "exact_deduped": exact_deduped,
            "near_deduped": near_deduped, "clean": clean, "pipeline": pipe}
