"""Image-level near-duplicate detection via perceptual hash.

The ``images`` table carries a 64-bit DCT pHash per row (input_hint schema).
Near-duplicate images are pairs with Hamming(phash_a, phash_b) ≤ t. Banding
on four non-overlapping 16-bit segments prunes the quadratic pair space
(pigeonhole: any pair with Hamming ≤ 3 shares at least one segment exactly;
larger t trades recall, the standard SimHash argument). Everything is JVM
bit arithmetic — no Python.

Generalizes the reference's block-identity dedup
(``pkg/quadtreeImage/quadtreeElement.go:176-221``) from exact pixel equality
to whole-image perceptual similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_SEG_BITS = 16
_N_SEGS = 4
_SEG_MASK = (1 << _SEG_BITS) - 1


def phash_near_dup_pairs(images: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Pairs of images with pHash Hamming distance ≤ ``max_hamming``.

    One self-join on exploded (segment index, segment value) rows — a single
    shuffle over 4n rows, same restructuring as ``dedup_text.simhash_pairs``
    (which measured 2.8× over four unioned n-row joins). Pair uniqueness
    uses the REFERENCE-POINT rule (round-5 invariant, cf.
    ``spatial_join.overlap_join``): a pair is emitted ONLY at its FIRST
    agreeing segment — "every lower segment differs" is checkable from the
    XOR of the two hashes, so duplicates never exist and the post-join
    ``distinct()`` (a second shuffle over all candidate pairs) disappears.
    With no bucket cap in this tier the rule is exactly equivalent to the
    distinct: every agreeing segment survives to the join, so the first one
    is always present.
    """
    segs = F.array(*[
        F.struct(F.lit(s).alias("si"),
                 (F.shiftright(F.col("phash"), s * _SEG_BITS)
                  .bitwiseAND(F.lit(_SEG_MASK))).alias("sv"))
        for s in range(_N_SEGS)])
    keyed = (images.select(F.col("image_id"), F.col("phash"),
                           F.explode(segs).alias("sg"))
             .select("image_id", "phash",
                     F.col("sg.si").alias("si"), F.col("sg.sv").alias("sv")))
    a = keyed.select(F.col("image_id").alias("a"), F.col("phash").alias("ha"),
                     "si", "sv")
    b = keyed.select(F.col("image_id").alias("b"), F.col("phash").alias("hb"),
                     "si", "sv")
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    # reference point: all segments below the join segment differ
    first_agreeing = F.lit(True)
    for t in range(_N_SEGS - 1):
        chunk = (F.shiftright(xor, t * _SEG_BITS)
                 .bitwiseAND(F.lit(_SEG_MASK)))
        first_agreeing = first_agreeing & ((F.col("si") <= t) | (chunk != 0))
    return (a.join(b, ["si", "sv"])
            .where((F.col("a") < F.col("b")) & first_agreeing)
            .withColumn("hamming", F.bit_count(xor))
            .where(F.col("hamming") <= max_hamming)
            .select(F.col("a").alias("image_a"), F.col("b").alias("image_b"),
                    "hamming"))


def caption_dedup(images: DataFrame) -> DataFrame:
    """Cross-modal dedup on the CAPTION column of the image table
    (input_hint schema): strip a trailing bracketed annotation
    (``... [source#123]`` boilerplate), fingerprint the normalized caption
    with the portable hash, and elect one canonical image per caption group
    (min id). Unicode captions hash identically on both engines (md5 over
    UTF-8). One window shuffle on the fingerprint; no Python, no joins.
    An EMPTY normalized caption is not duplicate evidence: every untitled
    image stays its own singleton group (electing across them would drop
    all-but-one untitled image downstream — and at web scale the untitled
    fingerprint would be one giant hot partition in the election window,
    so the singleton subkey is also the skew guard).
    Returns (image_id, caption_norm, caption_fp, group_size, canonical_id,
    is_canonical).
    """
    from pyspark.sql import Window
    from ..functions.portable_hash import portable_hash64
    # NULL caption normalizes to '' (an untitled image), not NULL — a NULL
    # norm would NULL the fingerprint AND the singleton subkey below,
    # collapsing every NULL-caption image into one dedup group
    norm = F.coalesce(F.trim(F.regexp_replace(F.col("caption"),
                                              r"\s*\[[^\]]*\]$", "")),
                      F.lit(""))
    keyed = images.select(
        "image_id", norm.alias("caption_norm"),
        portable_hash64(norm).alias("caption_fp"))
    w = Window.partitionBy(
        "caption_fp",
        F.when(F.col("caption_norm") == "",
               F.col("image_id").cast("string")).otherwise(F.lit("")))
    return (keyed
            .withColumn("group_size", F.count(F.lit(1)).over(w))
            .withColumn("canonical_id", F.min("image_id").over(w))
            .withColumn("is_canonical",
                        F.col("image_id") == F.col("canonical_id")))


def phash_dedup_clusters(images: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Near-duplicate image CLUSTERS: connected components over the pHash
    pair edges, one canonical image per component (min id) — the image-
    modality twin of ``dedup_blocks`` → ``components`` (block symlink groups,
    ``quadtreeElement.go:176-221``) and ``corpus_clean_components`` (text).
    Returns (image_id, component_id, component_size, is_canonical); images
    with no near-dup are singleton components of themselves.
    """
    from .components import connected_components
    pairs = phash_near_dup_pairs(images, max_hamming=max_hamming)
    return connected_components(images, pairs, id_col="image_id",
                                a_col="image_a", b_col="image_b")


def multimodal_dedup_clusters(images: DataFrame,
                              max_hamming: int = 10) -> DataFrame:
    """JOINT image dedup over both evidence channels of the input table:
    edges = pHash near-dup pairs (pixels) ∪ same-normalized-caption pairs
    (text), connected components over the union — the LAION-style rule
    where a re-encoded image and a re-captioned image both collapse into
    one cluster, including transitively (A ≈pixels B, B =caption C ⇒ one
    component {A,B,C}).

    Caption evidence enters as STAR edges (group canonical → member), which
    yields identical components to the full clique while staying linear in
    group size — a 10^6-member boilerplate-caption group contributes 10^6−1
    edges, not 10^12/2. Rows whose normalized caption is EMPTY contribute
    no caption edges (an untitled image is not evidence of duplication).
    Returns (image_id, component_id, component_size, is_canonical).
    """
    from .components import connected_components
    ph = (phash_near_dup_pairs(images, max_hamming=max_hamming)
          .select(F.col("image_a").alias("a"), F.col("image_b").alias("b")))
    cap = caption_dedup(images)
    cap_edges = (cap.filter(~F.col("is_canonical")
                            & (F.col("caption_norm") != ""))
                 .select(F.col("canonical_id").alias("a"),
                         F.col("image_id").alias("b")))
    edges = ph.unionByName(cap_edges)
    return connected_components(images, edges, id_col="image_id",
                                a_col="a", b_col="b")
