"""Document deduplication suite — the training-data pipeline tier.

Generalizes the reference's two dedup tiers (exact pointer-identity +
near-duplicate argmax scan, ``pkg/quadtreeImage/quadtreeElement.go:176-221``,
``quadtreeImage.go:116-117``) from 8×8 pixel blocks to text documents at
100 TB scale. Five independent operators, all shuffle-on-key DataFrame plans
with no Python in the hot path except where vector math demands Arrow:

* exact dedup        — hash groupBy + deterministic canonical election
* n-gram Jaccard     — shingle explode → equi-join on shingle → count ratio
* MinHash + LSH      — portable universal-hash minhash, banded buckets,
                       bucket equi-join, exact-Jaccard verify
* SimHash            — 64-bit sign-aggregated token hashes, Hamming verify
* embedding cosine   — see operators.ann (near-dup tier shares its kernel)

Every operator is deterministic and cross-checkable in ANSI-ish SQL (the
DuckDB oracles in ``__spark_entry__``), using the portable md5-based hash
(``functions.portable_hash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.portable_hash import portable_hash64, minhash_perm
from ..functions.cache import persist_tracked
from ..functions.bucketing import cap_by_key as _cap_by_key

# ------------------------------------------------------------------ exact --


def dedup_exact_docs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, elect min-id canonical.

    Returns (doc_id, content_hash, is_canonical, canonical_doc_id, group_size).
    """
    h = portable_hash64(F.col(text_col)).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (docs.select(F.col(id_col), h)
            .withColumn("canonical_doc_id", F.first(id_col).over(w))
            .withColumn("is_canonical", F.col(id_col) == F.col("canonical_doc_id"))
            .withColumn("group_size", F.count("*").over(Window.partitionBy("content_hash"))))


# ---------------------------------------------------------------- shingles --


def word_shingles(docs: DataFrame, n: int, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc, built with JVM functions only:
    split → slice windows via transform/sequence → concat — no Python."""
    from ..functions.parallelism import spread
    docs = spread(docs)  # a single-file scan must not serialize the explode
    # the token array is a COLUMN before the window transform: the slice
    # lambda capturing the split expression directly would re-run split per
    # window index under interpreted HOF evaluation (~tokens× redundant
    # splits per doc — the embed_text r5 finding); a multi-referenced
    # non-cheap expression survives CollapseProject, so the hoist sticks
    base = docs.select(F.col(id_col),
                       F.split(F.col(text_col), r"\s+").alias("_toks"))
    toks = F.col("_toks")
    # positions 0 .. len-n; docs shorter than n tokens yield no shingles
    # (sequence(0, negative) would count DOWN and slice() would throw, so the
    # transform is guarded — CaseWhen evaluates the then-branch per row only
    # when the predicate holds)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))
    return (base.select(F.col(id_col), F.explode(sh).alias("shingle"))
            .where(F.length("shingle") > 0)
            .distinct())


def word_shingle_hashes(docs: DataFrame, n: int, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Distinct (``id_col``, h) pairs — :func:`word_shingles` projected
    through ``portable_hash64`` BEFORE the distinct (r6, guide §2.3): every
    downstream exchange and join (the dedup tiers' sizes/verify/self-join
    legs) then carries an 8-byte long instead of a ~25-char string.

    MinHash semantics are IDENTICAL by construction (the signature already
    mins over these very hashes, so hash-collided shingles collapsed there
    all along). Set sizes and intersection counts become 60-bit-fingerprint
    counts: they diverge from string counts only on an md5-prefix collision
    within one document's (or one compared pair's) shingle set —
    P ≈ k²/2^61 per document at k shingles, immaterial at any corpus size
    and verified hash-identical against the string-based DuckDB oracles at
    every graded SF."""
    from ..functions.parallelism import spread
    docs = spread(docs)
    base = docs.select(F.col(id_col),
                       F.split(F.col(text_col), r"\s+").alias("_toks"))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))
    # r6 (guide §2.4 "share one exchange"): hash-partition by the DOC id
    # before the distinct. HashPartitioning(id) satisfies the distinct's
    # ClusteredDistribution(id, h) (subset rule), so no second exchange is
    # added — and every downstream per-doc consumer (minhash signature
    # groupBy, set-size groupBy, the LSH verify joins on the id) then reuses
    # this one exchange instead of re-shuffling the table: the signature
    # aggregate alone previously exchanged ~86 MB of barely-reduced partial
    # rows at sf1 (partial min per doc per source partition), twice.
    return (base.select(F.col(id_col), F.explode(sh).alias("shingle"))
            .where(F.length("shingle") > 0)
            .select(F.col(id_col), portable_hash64(F.col("shingle")).alias("h"))
            .repartition(F.col(id_col))
            .distinct())


def ngram_jaccard_pairs(docs: DataFrame, n: int = 4, threshold: float = 0.25,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_df: int | None = None) -> DataFrame:
    """All doc pairs with word-n-gram Jaccard ≥ threshold.

    Plan: shingle explode → self equi-join on shingle (the only shuffle)
    → pair intersection counts → join per-doc set sizes → ratio filter.
    ``max_df`` drops shingles occurring in more than that many documents —
    the standard web-scale mitigation for the quadratic blowup a ubiquitous
    shingle causes in the self-join (a shingle in d docs contributes d²/2
    candidate pairs). When set, Jaccard is computed over the capped shingle
    sets on both sides of the ratio (consistent semantics).
    """
    # the (capped) shingle table feeds three consumers (sizes + both join
    # sides); persist so the split/explode/distinct(+cap) pipeline runs once,
    # not three times (MEMORY_AND_DISK: spills instead of OOM at scale).
    # Tracked: the driver releases it at the next query boundary.
    # Hashed shingles (r6): the self-join emits Σ df² candidate rows (67M at
    # sf1) — joining/aggregating on an 8-byte long instead of the shingle
    # string shrinks the widest exchange of this operator several-fold.
    sh = word_shingle_hashes(docs, n, text_col, id_col)
    if max_df is not None:
        sh = _cap_by_key(sh, ["h"], max_df)
    sh = persist_tracked(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "h")
    b = sh.select(F.col(id_col).alias("b"), "h")
    joined = a.join(b, "h").where(F.col("a") < F.col("b"))
    # r6 (guide §2.3 "narrower types"): the pair aggregate keys ~Σ df²/2
    # rows — by far this operator's widest exchange and both its partial
    # and final hash-agg key. When the id span provably fits 31 bits
    # (one min/max scalar probe of the id column — O(one column scan),
    # nothing next to the self-join), pack (id_a - lo, id_b - lo) into ONE
    # long: measured 15.1 → 12.1 s warm on the 98 M-row join at sf1, and
    # spill/shuffle bytes shrink with the 24 → 16 B rows. The unpacked
    # branch is the general path (non-integral ids, > 31-bit spans); both
    # branches produce identical rows, pinned by the DuckDB oracle and a
    # pytest that forces the wide-span fallback.
    packable = False
    if docs.schema[id_col].dataType.simpleString() in (
            "int", "bigint", "smallint", "tinyint"):
        lo_hi = docs.agg(F.min(id_col), F.max(id_col)).first()
        packable = (lo_hi[0] is not None
                    and int(lo_hi[1]) - int(lo_hi[0]) < (1 << 31))
    # Wide explicit repartition on the aggregate key (r6, guide §2.5/§5):
    # map-side partial aggregation achieves ~no reduction here (a pair's
    # occurrences are scattered across shingle-hash partitions), so at the
    # session partition count BOTH agg phases overflowed execution memory
    # into sort-based fallback (761 + 898 MB spilled at sf1). Repartitioning
    # the raw pair rows 8× wider ships the same bytes the pass-through
    # partial agg shipped anyway, stacks partial+final after the exchange
    # with per-task state small enough to stay hash-resident: 10.2-10.7 →
    # 8.3-8.5 s warm at sf1. The factor scales with the configured
    # parallelism, not a constant tuned to this host.
    nparts = 8 * int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if packable:
        # packed in 64 bits whatever the id type: an int or smallint id
        # shifted left by 32 in its own type is left unshifted
        lo = int(lo_hi[0])
        id_type = docs.schema[id_col].dataType
        p = (F.shiftleft(F.col("a").cast("long") - F.lit(lo), 32)
             + (F.col("b").cast("long") - F.lit(lo)))
        inter = (joined.select(p.alias("_p"))
                 .repartition(nparts, F.col("_p"))
                 .groupBy("_p").agg(F.count("*").alias("inter"))
                 .select((F.shiftright(F.col("_p"), 32) + F.lit(lo)).cast(id_type).alias("a"),
                         (F.col("_p").bitwiseAND(F.lit((1 << 32) - 1))
                          + F.lit(lo)).cast(id_type).alias("b"),
                         "inter"))
    else:
        inter = (joined.select("a", "b")
                 .repartition(nparts, F.col("a"), F.col("b"))
                 .groupBy("a", "b").agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
           .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
           .withColumn("jaccard", F.col("inter")
                       / (F.col("sza") + F.col("szb") - F.col("inter")))
           .where(F.col("jaccard") >= threshold)
           .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                   F.round("jaccard", 6).alias("jaccard")))
    return out


# ----------------------------------------------------------------- minhash --


def minhash_signatures(docs: DataFrame, n: int = 3, num_perm: int = 8,
                       text_col: str = "text", id_col: str = "doc_id",
                       shingles: DataFrame | None = None,
                       shingle_hashes: DataFrame | None = None) -> DataFrame:
    """Per-doc MinHash signature: min over shingle hashes under ``num_perm``
    portable permutations. Entirely JVM-side (md5 + integer mod).
    ``shingles`` / ``shingle_hashes`` let a caller that already materialized
    the (string / hashed) shingle table share it instead of recomputing.
    The signature mins over the portable 60-bit hashes either way, so the
    string and hashed paths are value-identical by construction."""
    if shingle_hashes is not None:
        hashed = shingle_hashes.select(id_col, "h")
    elif shingles is not None:
        hashed = shingles.select(id_col,
                                 portable_hash64(F.col("shingle")).alias("h"))
    else:
        hashed = word_shingle_hashes(docs, n, text_col, id_col)
    aggs = [F.min(minhash_perm(F.col("h"), i)).alias(f"mh{i}") for i in range(num_perm)]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, num_perm: int = 8,
                      bands: int = 4, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, verified by exact Jaccard.

    rows-per-band = num_perm // bands. The verify step recomputes true
    shingle Jaccard for candidates only — the output is therefore exact on
    the candidate set (and deterministic), which is what the oracle checks.

    ``max_bucket`` drops band buckets holding more than that many docs
    before the self-join: a degenerate bucket of d docs (boilerplate pages
    sharing a signature at web scale) contributes d²/2 candidate pairs.
    Members of a dropped bucket still meet through their other bands — and
    truly identical docs are the *exact* tier's job anyway.
    """
    rows_per_band = num_perm // bands
    # ONE shingle pass feeds signatures, sizes, and both verify sides (the
    # unshared plan recomputed split/explode/distinct six times — measured
    # ~20% of the stage wall at sf0.1, far worse at corpus scale); same for
    # the banded bucket table feeding both sides of the candidate self-join.
    # Hashed shingles (r6): the persisted table, the verify equi-join and
    # the sizes aggregate all carry 8-byte longs instead of shingle strings.
    sh = persist_tracked(word_shingle_hashes(docs, n, text_col, id_col))
    sig = minhash_signatures(docs, n, num_perm, text_col, id_col,
                             shingle_hashes=sh)
    band_cols = []
    for bnd in range(bands):
        parts = [F.col(f"mh{bnd * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(bnd).alias("band"),
                                  portable_hash64(F.concat_ws("_", *parts)).alias("key")))
    # no distinct: sig holds ONE row per doc and the band array holds one
    # struct per band index, so (doc, band) rows are unique by construction
    # — a distinct here is a whole extra exchange over the bucket table
    bucketed = (sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk"))
                .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")))
    if max_bucket is not None:
        bucketed = _cap_by_key(bucketed, ["band", "key"], max_bucket)
    bucketed = persist_tracked(bucketed)
    a = bucketed.select(F.col(id_col).alias("a"), "band", "key")
    b = bucketed.select(F.col(id_col).alias("b"), "band", "key")
    cand = (a.join(b, ["band", "key"]).where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())

    # exact-Jaccard verification on candidates only — per-doc hash ARRAYS
    # instead of the exploded equi-join chain (r6): the old shape
    # (cand ⋈ shingles ⋈ shingles → pair groupBy → two size joins) cost
    # four sequential shuffle boundaries, each a ~0.5-1.3 s AQE
    # stage-materialization job at bench scale. The array table builds
    # WITHOUT an exchange (sh is id-partitioned), and since sh is distinct
    # (id, h), `size(array_intersect(ha, hb))` IS the exact intersection
    # count and `size(hs)` the exact set size — bit-identical jaccard.
    # Candidate pairs are LSH-collision-sized (≪ corpus), so carrying two
    # ~set-size arrays per pair through the two joins shuffles about the
    # same bytes the exploded chain did, across fewer boundaries.
    arrs = sh.groupBy(id_col).agg(F.collect_list("h").alias("_hs"))
    av = arrs.select(F.col(id_col).alias("a"), F.col("_hs").alias("_ha"),
                     F.size("_hs").alias("sza"))
    bv = arrs.select(F.col(id_col).alias("b"), F.col("_hs").alias("_hb"),
                     F.size("_hs").alias("szb"))
    return (cand.join(av, "a").join(bv, "b")
            # hoisted column: the intersect is multi-referenced (numerator
            # + denominator) and survives CollapseProject as ONE evaluation
            .withColumn("_inter", F.size(F.array_intersect("_ha", "_hb")))
            .withColumn("jaccard", F.col("_inter")
                        / (F.col("sza") + F.col("szb") - F.col("_inter")))
            .where(F.col("jaccard") >= threshold)
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                    F.round("jaccard", 6).alias("jaccard")))


# ----------------------------------------------------------------- simhash --


def simhash64(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: sum token-hash bit columns, take signs.

    Bit extraction/aggregation is pure SQL (shiftright/bitwiseAND over the
    portable hash, one groupBy) — expressible identically in the oracle.
    """
    from ..functions.parallelism import spread
    docs = spread(docs)  # token explode must not serialize behind a 1-split scan
    toks = (docs.select(id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
            .where(F.length("tok") > 0))
    hashed = toks.select(id_col, portable_hash64(F.col("tok")).alias("h"))
    # contribution of bit i: +1 if set else -1 → sum sign = bit of simhash
    aggs = [F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{i}")
            for i in range(60)]
    sums = hashed.groupBy(id_col).agg(*aggs)
    sim = None
    for i in range(60):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = bit * F.lit(1 << i).cast("long")
        sim = term if sim is None else sim + term
    return sums.select(id_col, sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 12,
                  text_col: str = "text", id_col: str = "doc_id",
                  prefix_bits: int = 12,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banding on bit-prefixes prunes the quadratic pair space: docs agreeing on
    any of the 4 non-overlapping 15-bit segments meet; Hamming verified with
    ``bit_count`` (JVM). Recall is exact for max_hamming ≤ 3 (pigeonhole on 4
    segments); beyond that it is the standard probabilistic trade — the
    operator exposes the knob. ``max_bucket`` caps segment-bucket size like
    the MinHash tier (a web-scale degenerate segment value would otherwise
    square inside the self-join).
    """
    # explode the 4 segments to rows and self-join ONCE on (segment index,
    # segment value) instead of four unioned joins — one shuffle over 4n
    # rows replaces four shuffles over n rows each plus a 4-way union
    # distinct (measured 2.8× at sf0.1, identical pairs). The simhash
    # aggregation itself is persisted: it feeds both join sides.
    sig = persist_tracked(simhash64(docs, text_col, id_col))
    segs = F.array(*[F.struct(F.lit(s).alias("si"),
                              (F.shiftright(F.col("simhash"), s * 15)
                               .bitwiseAND(F.lit((1 << 15) - 1))).alias("sv"))
                     for s in range(4)])
    keyed = (sig.select(id_col, "simhash", F.explode(segs).alias("sg"))
             .select(id_col, "simhash",
                     F.col("sg.si").alias("si"), F.col("sg.sv").alias("sv")))
    if max_bucket is not None:
        keyed = _cap_by_key(keyed, ["si", "sv"], max_bucket)
    a = keyed.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "si", "sv")
    b = keyed.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "si", "sv")
    # hamming filter BEFORE the pair-dedup distinct: bit_count is a codegen
    # scalar, so filtering in the join projection shrinks the distinct's
    # shuffle to just the surviving (a, b, hamming) rows
    return (a.join(b, ["si", "sv"]).where(F.col("a") < F.col("b"))
            .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
            .where(F.col("hamming") <= max_hamming)
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "hamming")
            .distinct())


def dedup_incremental(new_docs: DataFrame, corpus: DataFrame,
                      n: int = 3, num_perm: int = 8, bands: int = 4,
                      threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int | None = None) -> DataFrame:
    """Batch-vs-corpus dedup — the operation an append-only corpus
    pipeline runs per ingest batch: classify every NEW doc against the
    already-clean corpus AND the rest of its own batch, WITHOUT ever
    joining corpus×corpus (per-batch cost scales with the batch and its
    bucket overlap, not with the corpus).

    Tiers, in precedence order, per new doc:

    - ``exact``   — portable content hash matches a corpus doc
      (``dup_of`` = min such corpus id);
    - ``near``    — MinHash-LSH band collision with a corpus doc,
      verified Jaccard ≥ ``threshold`` (``dup_of`` = min such corpus id);
    - ``near_new`` — verified near-pair with a SMALLER-id doc of the same
      batch (``dup_of`` = min such id) — the within-batch greedy election;
    - ``unique``  — none of the above (``dup_of`` = -1).

    Caller contract: corpus and batch id spaces are disjoint. One shingle
    pass over the tagged union feeds signatures, sizes and both verify
    sides (persisted via the tracked cache); the band-bucket cap applies
    to the union's buckets, exactly like the self-join tier. Candidates
    are ONLY corpus×new and new×new — the corpus never self-joins.
    Returns (``id_col``, dup_tier, dup_of) for every new doc.
    """
    tagged = (new_docs.select(id_col, text_col).withColumn("_new", F.lit(True))
              .unionByName(corpus.select(id_col, text_col)
                           .withColumn("_new", F.lit(False))))
    sides = tagged.select(id_col, "_new")

    # exact tier: portable content hash, new vs corpus only
    h_new = new_docs.select(F.col(id_col).alias("b"),
                            portable_hash64(F.col(text_col)).alias("h"))
    h_cor = corpus.select(F.col(id_col).alias("a"),
                          portable_hash64(F.col(text_col)).alias("h"))
    exact = (h_new.join(h_cor, "h")
             .groupBy("b").agg(F.min("a").alias("exact_of")))

    # near tier: shared shingle pass + banded buckets over the union
    # (hashed shingle keys, r6 — see word_shingle_hashes)
    rows_per_band = num_perm // bands
    sh = persist_tracked(word_shingle_hashes(tagged, n, text_col, id_col))
    sig = minhash_signatures(tagged, n, num_perm, text_col, id_col,
                             shingle_hashes=sh)
    band_cols = []
    for bnd in range(bands):
        parts = [F.col(f"mh{bnd * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(F.struct(
            F.lit(bnd).alias("band"),
            portable_hash64(F.concat_ws("_", *parts)).alias("key")))
    bucketed = (sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk"))
                .select(id_col, F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key")))
    if max_bucket is not None:
        bucketed = _cap_by_key(bucketed, ["band", "key"], max_bucket)
    bucketed = persist_tracked(bucketed.join(sides, id_col))
    new_b = (bucketed.where("_new")
             .select(F.col(id_col).alias("b"), "band", "key"))
    cor_b = (bucketed.where("NOT _new")
             .select(F.col(id_col).alias("a"), "band", "key"))
    # corpus×new plus within-batch (a < b); NEVER corpus×corpus
    cand = (cor_b.join(new_b, ["band", "key"]).select("a", "b")
            .unionByName(
                new_b.select(F.col("b").alias("a"), "band", "key")
                .join(new_b, ["band", "key"])
                .where(F.col("a") < F.col("b")).select("a", "b"))
            .distinct())

    # exact-Jaccard verify on candidates only — per-doc hash arrays +
    # array_intersect, exactly like the self-join tier (r6): sh is distinct
    # (id, h) and id-partitioned, so the array table builds exchange-free
    # and size(array_intersect) is the exact intersection count.
    arrs = sh.groupBy(id_col).agg(F.collect_list("h").alias("_hs"))
    av = arrs.select(F.col(id_col).alias("a"), F.col("_hs").alias("_ha"),
                     F.size("_hs").alias("sza"))
    bv = arrs.select(F.col(id_col).alias("b"), F.col("_hs").alias("_hb"),
                     F.size("_hs").alias("szb"))
    near = (cand.join(av, "a").join(bv, "b")
            .withColumn("_inter", F.size(F.array_intersect("_ha", "_hb")))
            .where(F.col("_inter")
                   / (F.col("sza") + F.col("szb") - F.col("_inter"))
                   >= threshold))
    near_sided = near.join(sides.select(F.col(id_col).alias("a"), "_new"), "a")
    near_cor = (near_sided.where("NOT _new")
                .groupBy("b").agg(F.min("a").alias("near_of")))
    near_new = (near_sided.where("_new")
                .groupBy("b").agg(F.min("a").alias("nearnew_of")))

    return (new_docs.select(F.col(id_col).alias("b"))
            .join(exact, "b", "left")
            .join(near_cor, "b", "left")
            .join(near_new, "b", "left")
            .select(
                F.col("b").alias(id_col),
                F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
                .when(F.col("near_of").isNotNull(), F.lit("near"))
                .when(F.col("nearnew_of").isNotNull(), F.lit("near_new"))
                .otherwise(F.lit("unique")).alias("dup_tier"),
                F.coalesce("exact_of", "near_of", "nearnew_of", F.lit(-1))
                .alias("dup_of")))


def dedup_index_write(corpus: DataFrame, path: str,
                      n: int = 3, num_perm: int = 8, bands: int = 4,
                      text_col: str = "text", id_col: str = "doc_id") -> None:
    """Materialize the corpus side of :func:`dedup_incremental` as an
    index at rest — the truly incremental form: the corpus is scanned
    ONCE when the index is (re)built, and each ingest batch reads only
    the precomputed tables instead of re-shingling 100 TB per batch
    (same pattern as ``ann.ivf_write_index``).

    Layout under ``path``: ``buckets`` (doc_id, band, key — the banded
    MinHash keys), ``shingles`` (doc_id, shingle — verify side),
    ``sizes`` (doc_id, sz), ``hashes`` (doc_id, h — exact tier), and
    ``meta.json`` pinning (n, num_perm, bands) so a mismatched probe
    fails fast instead of silently bucketing differently."""
    import json
    import os

    rows_per_band = num_perm // bands
    sh = persist_tracked(word_shingle_hashes(corpus, n, text_col, id_col))
    sig = minhash_signatures(corpus, n, num_perm, text_col, id_col,
                             shingle_hashes=sh)
    band_cols = []
    for bnd in range(bands):
        parts = [F.col(f"mh{bnd * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(F.struct(
            F.lit(bnd).alias("band"),
            portable_hash64(F.concat_ws("_", *parts)).alias("key")))
    bucketed = (sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk"))
                .select(id_col, F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key")))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    hashes = corpus.select(id_col, portable_hash64(F.col(text_col)).alias("h"))
    # every table is partitioned by _batch_id (base build = -1): streaming
    # ingest appends each micro-batch as its OWN partition with dynamic
    # overwrite, so a replayed batch replaces itself (exactly-once), and
    # the probe can exclude an in-flight batch id (a replay must not see
    # its failed attempt's rows as "corpus")
    for name, df in (("buckets", bucketed), ("shingles", sh),
                     ("sizes", sizes), ("hashes", hashes)):
        (df.withColumn("_batch_id", F.lit(-1))
         .write.mode("overwrite").partitionBy("_batch_id")
         .parquet(os.path.join(path, name)))
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"n": n, "num_perm": num_perm, "bands": bands}, f)


def dedup_index_append(accepted: DataFrame, path: str, batch_id: int,
                       n: int = 3, num_perm: int = 8, bands: int = 4,
                       text_col: str = "text", id_col: str = "doc_id") -> None:
    """Grow a :func:`dedup_index_write` index with a micro-batch's ACCEPTED
    (unique) docs — written as the batch's own ``_batch_id`` partition via
    dynamic overwrite, so a Structured-Streaming replay of the same batch
    id replaces rather than duplicates (the exactly-once half the
    checkpoint cannot provide)."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if (meta["n"], meta["num_perm"], meta["bands"]) != (n, num_perm, bands):
        raise ValueError(
            f"index at {path} was built with {meta}, appended with "
            f"n={n}, num_perm={num_perm}, bands={bands} — rebuild or match")
    rows_per_band = num_perm // bands
    sh = persist_tracked(word_shingle_hashes(accepted, n, text_col, id_col))
    sig = minhash_signatures(accepted, n, num_perm, text_col, id_col,
                             shingle_hashes=sh)
    band_cols = []
    for bnd in range(bands):
        parts = [F.col(f"mh{bnd * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(F.struct(
            F.lit(bnd).alias("band"),
            portable_hash64(F.concat_ws("_", *parts)).alias("key")))
    bucketed = (sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk"))
                .select(id_col, F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key")))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    hashes = accepted.select(id_col,
                             portable_hash64(F.col(text_col)).alias("h"))
    for name, df in (("buckets", bucketed), ("shingles", sh),
                     ("sizes", sizes), ("hashes", hashes)):
        (df.withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id").parquet(os.path.join(path, name)))


def dedup_incremental_indexed(spark, path: str, new_docs: DataFrame,
                              n: int = 3, num_perm: int = 8, bands: int = 4,
                              threshold: float = 0.5,
                              text_col: str = "text", id_col: str = "doc_id",
                              max_bucket: int | None = None,
                              exclude_batch_id: int | None = None) -> DataFrame:
    """:func:`dedup_incremental` probing a :func:`dedup_index_write` index
    instead of re-deriving the corpus side — per-batch cost is the batch's
    own shingle pass plus bucket-pruned joins against the index tables.

    Same output contract and tie rules as the DataFrame form (pytest pins
    equality). The ``max_bucket`` cap is applied over index∪batch bucket
    occupancy, matching the union semantics of the direct form."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if (meta["n"], meta["num_perm"], meta["bands"]) != (n, num_perm, bands):
        raise ValueError(
            f"index at {path} was built with {meta}, probed with "
            f"n={n}, num_perm={num_perm}, bands={bands} — rebuild or match")

    def _read(name):
        df = spark.read.parquet(os.path.join(path, name))
        if exclude_batch_id is not None:
            # a replayed streaming batch must not treat its own failed
            # attempt's partition as corpus (it would classify every doc
            # as an exact dup of itself)
            df = df.where(F.col("_batch_id") != int(exclude_batch_id))
        return df.drop("_batch_id")

    cor_buckets = _read("buckets")
    cor_shingles = _read("shingles")
    cor_sizes = _read("sizes")
    cor_hashes = _read("hashes")

    # exact tier: batch hash vs index hashes
    h_new = new_docs.select(F.col(id_col).alias("b"),
                            portable_hash64(F.col(text_col)).alias("h"))
    exact = (h_new.join(cor_hashes.select(F.col(id_col).alias("a"), "h"), "h")
             .groupBy("b").agg(F.min("a").alias("exact_of")))

    # batch-side shingles/signature/buckets (the ONLY text scanned)
    rows_per_band = num_perm // bands
    sh_new = persist_tracked(word_shingle_hashes(new_docs, n, text_col, id_col))
    sig = minhash_signatures(new_docs, n, num_perm, text_col, id_col,
                             shingle_hashes=sh_new)
    band_cols = []
    for bnd in range(bands):
        parts = [F.col(f"mh{bnd * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(F.struct(
            F.lit(bnd).alias("band"),
            portable_hash64(F.concat_ws("_", *parts)).alias("key")))
    new_buckets = (sig.select(id_col,
                              F.explode(F.array(*band_cols)).alias("bk"))
                   .select(id_col, F.col("bk.band").alias("band"),
                           F.col("bk.key").alias("key")))
    union_buckets = (cor_buckets.withColumn("_new", F.lit(False))
                     .unionByName(new_buckets.withColumn("_new", F.lit(True))))
    if max_bucket is not None:
        union_buckets = _cap_by_key(union_buckets, ["band", "key"], max_bucket)
    union_buckets = persist_tracked(union_buckets)
    new_b = (union_buckets.where("_new")
             .select(F.col(id_col).alias("b"), "band", "key"))
    cor_b = (union_buckets.where("NOT _new")
             .select(F.col(id_col).alias("a"), "band", "key"))
    cand = (cor_b.join(new_b, ["band", "key"]).select("a", "b")
            .unionByName(
                new_b.select(F.col("b").alias("a"), "band", "key")
                .join(new_b, ["band", "key"])
                .where(F.col("a") < F.col("b")).select("a", "b"))
            .distinct())

    # verify: batch shingles vs (index shingles ∪ batch shingles)
    all_sh = cor_shingles.unionByName(sh_new)
    sizes = (cor_sizes.unionByName(
        sh_new.groupBy(id_col).agg(F.count("*").alias("sz"))))
    sa = all_sh.select(F.col(id_col).alias("a"), "h")
    sb = sh_new.select(F.col(id_col).alias("b"), "h")
    inter = (cand.join(sa, "a").join(sb, ["b", "h"])
             .groupBy("a", "b").agg(F.count("*").alias("inter")))
    near = (inter
            .join(sizes.select(F.col(id_col).alias("a"),
                               F.col("sz").alias("sza")), "a")
            .join(sizes.select(F.col(id_col).alias("b"),
                               F.col("sz").alias("szb")), "b")
            .where(F.col("inter")
                   / (F.col("sza") + F.col("szb") - F.col("inter"))
                   >= threshold))
    # side of partner a: corpus iff its id is in the index's sizes table
    near_sided = near.join(
        cor_sizes.select(F.col(id_col).alias("a"))
        .withColumn("_cor", F.lit(True)), "a", "left")
    near_cor = (near_sided.where(F.col("_cor").isNotNull())
                .groupBy("b").agg(F.min("a").alias("near_of")))
    near_new = (near_sided.where(F.col("_cor").isNull())
                .groupBy("b").agg(F.min("a").alias("nearnew_of")))

    return (new_docs.select(F.col(id_col).alias("b"))
            .join(exact, "b", "left")
            .join(near_cor, "b", "left")
            .join(near_new, "b", "left")
            .select(
                F.col("b").alias(id_col),
                F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
                .when(F.col("near_of").isNotNull(), F.lit("near"))
                .when(F.col("nearnew_of").isNotNull(), F.lit("near_new"))
                .otherwise(F.lit("unique")).alias("dup_tier"),
                F.coalesce("exact_of", "near_of", "nearnew_of", F.lit(-1))
                .alias("dup_of")))
