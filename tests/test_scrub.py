"""PII redaction + benchmark decontamination (training-data hygiene ops)."""

from pyspark.sql import functions as F

from quadtree_block_compression_spark.operators.text_analysis import pii_redact
from quadtree_block_compression_spark.operators.contamination import (
    ngram_contamination)


def test_pii_redact_detects_and_replaces(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "call 555-123-4567 or 555.987.6543 asap"),
        (3, "ssn 123-45-6789 and host 192.168.1.100 leaked"),
        (4, "nothing sensitive here at all"),
        (5, "two mails a@b.io c@d.co one ip 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_redact(df).collect()}
    assert out[1].n_email == 1 and out[1].text_redacted == \
        "mail me at <EMAIL> today"
    assert out[2].n_phone == 2 and out[2].text_redacted == \
        "call <PHONE> or <PHONE> asap"
    assert out[3].n_ssn == 1 and out[3].n_ip == 1 and out[3].text_redacted == \
        "ssn <SSN> and host <IP> leaked"
    assert out[4].has_pii is False and out[4].text_redacted == rows[3][1]
    assert out[5].n_email == 2 and out[5].n_ip == 1 and out[5].has_pii is True
    # counts are BIGINT on both engines (oracle schema parity)
    assert dict(pii_redact(df).dtypes)["n_email"] == "bigint"


def test_pii_ssn_phone_shapes_disjoint(spark):
    # 3-2-4 (SSN) and 3-3-4 (phone) digit groups never cross-match
    df = spark.createDataFrame(
        [(1, "a 555-123-4567 b"), (2, "a 123-45-6789 b")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in pii_redact(df).collect()}
    assert out[1].n_phone == 1 and out[1].n_ssn == 0
    assert out[2].n_ssn == 1 and out[2].n_phone == 0


def test_ngram_contamination_flags_shared_ngrams(spark):
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [(1, f"prefix {eight} suffix tail"),      # shares the planted 8-gram
         (2, "totally different words all the way through here now"),
         (3, f"another copy {eight} again")],     # also shares it
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, f"benchmark question {eight} answer")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           ngram_contamination(docs, bench, n=8).collect()}
    assert out[1].contaminated and out[1].bench_doc == 100
    assert out[1].n_shared_ngrams >= 1
    assert not out[2].contaminated and out[2].bench_doc == -1 \
        and out[2].n_shared_ngrams == 0
    assert out[3].contaminated
    # benchmark ⊆ corpus self-audit: a benchmark member flags itself
    out2 = {r.doc_id: r for r in
            ngram_contamination(docs.unionByName(bench), bench, n=8).collect()}
    assert out2[100].contaminated and out2[100].bench_doc == 100


def test_ngram_contamination_string_ids(spark):
    """The advertised arbitrary id column must include STRING ids: the
    clean-row sentinel is -1 cast to the id's own type ('-1'), never a
    fixed long cast (which ANSI-crashes on 'mmlu_17')."""
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [("doc_a", f"prefix {eight} suffix"), ("doc_b", "all clean here "
          "nothing shared with any benchmark document at all")],
        "doc_id string, text string")
    bench = spark.createDataFrame(
        [("mmlu_17", f"question {eight} answer")], "doc_id string, text string")
    out = {r.doc_id: r for r in
           ngram_contamination(docs, bench, n=8).collect()}
    assert out["doc_a"].contaminated and out["doc_a"].bench_doc == "mmlu_17"
    assert not out["doc_b"].contaminated and out["doc_b"].bench_doc == "-1"


def test_repetition_features_gopher_signals(spark):
    from quadtree_block_compression_spark.operators.text_analysis import (
        repetition_features)
    rows = [
        (1, "spam spam spam spam"),            # one word dominates, bigram dup
        (2, "all words here are unique now"),  # no repetition
        (3, "ab cd ab cd ab cd"),              # bigram cycle
        (4, "   "),                            # blank
        (5, "solo"),                           # single token, no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_features(df).collect()}
    assert out[1].n_words == 4 and out[1].top_word_ratio == 1.0
    # bigrams of doc1: 3x "spam spam" -> 2 of 3 are repeats
    assert out[1].dup_bigram_ratio == round(2 / 3, 6)
    assert out[2].top_word_ratio == round(1 / 6, 6)
    assert out[2].dup_bigram_ratio == 0.0
    # doc3 bigrams: [ab cd, cd ab, ab cd, cd ab, ab cd] -> 3 repeats of 5
    assert out[3].dup_bigram_ratio == round(3 / 5, 6)
    assert out[4].n_words == 0 and out[4].top_word_ratio == 0.0
    assert out[5].n_words == 1 and out[5].dup_bigram_ratio == 0.0
    assert dict(repetition_features(df).dtypes)["n_words"] == "bigint"


def test_chunk_documents_sliding_windows(spark):
    from quadtree_block_compression_spark.operators.text_analysis import (
        chunk_documents)
    import pytest as _pytest
    words = " ".join(f"w{i}" for i in range(10))        # 10 tokens
    rows = [(1, words), (2, "a b c"), (3, "   "), (4, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect():
        out.setdefault(r.doc_id, []).append(r)
    # doc1: stride 3, ceil((10-1)/3)=3 chunks: [0..3],[3..6],[6..9] tokens
    c1 = sorted(out[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_text for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]
    assert [r.chunk_n_tokens for r in c1] == [4, 4, 4]
    # every token appears; neighbors share exactly the 1-token overlap
    assert c1[0].chunk_text.split()[-1] == c1[1].chunk_text.split()[0]
    # short doc: one whole-doc chunk
    assert [(r.chunk_idx, r.chunk_n_tokens, r.chunk_text)
            for r in out[2]] == [(0, 3, "a b c")]
    # blank: no chunks; single token: one 1-token chunk
    assert 3 not in out
    assert [(r.chunk_idx, r.chunk_n_tokens) for r in out[4]] == [(0, 1)]
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_hashed_embedding_feeds_ann(spark):
    """The hashing-trick embedder closes the text→embedding→ANN loop:
    near-identical documents land near each other under cosine, blank docs
    embed as zero vectors, and vectors are unit-norm."""
    import numpy as np
    from quadtree_block_compression_spark.operators.embed_text import (
        hashed_embedding)
    from quadtree_block_compression_spark.operators.ann import (
        cosine_topk_bruteforce)
    base = ("the quick brown fox jumps over the lazy dog while rivers flow "
            "through quiet valleys carrying stories of distant mountains")
    rows = [(0, base),
            (1, base + " tonight"),                      # near-dup of 0
            (2, "completely unrelated census tabulation of maritime "
                "insurance premiums across nineteen provinces last winter"),
            (3, "   ")]                                   # blank
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = hashed_embedding(docs, dim=64).cache()
    vecs = {r.doc_id: np.array(r.embedding) for r in emb.collect()}
    assert np.allclose(vecs[3], 0.0)
    for d in (0, 1, 2):
        assert abs(np.linalg.norm(vecs[d]) - 1.0) < 1e-4
    q = (emb.where("doc_id = 0")
         .select(F.col("doc_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    top = cosine_topk_bruteforce(emb.withColumnRenamed("doc_id", "vec_id"),
                                 q, k=2).collect()
    assert top[0].vec_id == 1 and top[0].cos > 0.9   # near-dup found first
    assert top[1].cos < 0.5                           # unrelated far behind


def test_ngram_contamination_plan_broadcasts_benchmark(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"t{i}_{j}" for j in range(10)))
         for i in range(20)], "doc_id long, text string")
    bench = docs.where("doc_id % 10 = 0")
    plan = ngram_contamination(docs, bench, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the corpus-sized-benchmark degradation path (plain equi-join) returns
    # the identical result set
    want = {tuple(r) for r in ngram_contamination(docs, bench, n=3).collect()}
    got = {tuple(r) for r in
           ngram_contamination(docs, bench, n=3,
                               broadcast_benchmark=False).collect()}
    assert got == want
