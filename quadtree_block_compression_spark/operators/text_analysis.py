r"""Text analysis operators: language ID, quality scoring, token counting,
fingerprinting — all pure JVM column expressions (no Python anywhere).

These are the per-document scalar stages a 100 TB training-data pipeline
runs before dedup/filtering. Everything here whole-stage-codegens: one
projection over the documents scan, no shuffles, trivially linear scaling.

Each scalar feature is defined exactly once, as Spark SQL expression text
(:func:`_feature_sql`). A projection hands all of its features to ONE
``selectExpr`` — one parse on the JVM — and the Column helpers other
modules import are ``F.expr`` of the same text. Building the same
projection as per-feature Column trees cost ~1,900 py4j round trips for
:func:`annotate` (155–235 ms of driver time per call on a 4-core host);
the SQL text costs ~22, most of them the ``spread`` probe.

Regex character classes that mix ranges with ``\s`` are spelled out as one
ASCII set (``_FP_STRIP``, ``_BPE_OTHER``): JDK 17's ``Pattern`` compiles
``[^a-z0-9\s]`` to a chain of predicates (~100 ns/char) but a spelled-out
set of the same characters to one bit-set test (~20 ns/char). The sets are
equal over every code point (Java's ``\s`` is ``[\t\n\x0B\f\r ]``, VT
included); ``tests/test_ops_spark`` pins it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.portable_hash import portable_hash64_spark_sql

# tiny stopword inventories for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que"],
}

# [^a-z0-9\s] and [^A-Za-z0-9\s], spelled out as single ASCII sets
_FP_STRIP = r"[^\t\n\x0B\f\r 0123456789abcdefghijklmnopqrstuvwxyz]"
_BPE_OTHER = (r"[^\t\n\x0B\f\r 0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
              r"abcdefghijklmnopqrstuvwxyz]")
# quote characters as regex hex escapes, so no SQL literal holds a quote
_PUNCT = r"[.,;:!?\x27\x22]"

_ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


def _escaped_literals(spark: SparkSession | None = None) -> bool:
    """Whether the SQL parser keeps backslashes in string literals as-is."""
    spark = spark or SparkSession.active()
    return spark.conf.get(_ESCAPED_LITERALS, "false").strip().lower() == "true"


def _sql_str(s: str, escaped: bool) -> str:
    r"""SQL string literal that parses back to exactly ``s`` under the given
    ``spark.sql.parser.escapedStringLiterals`` setting: the default parser
    unescapes backslashes (so each is doubled), the legacy one keeps them.
    Neither can portably hold a quote — regexes write ``\x27``/``\x22``."""
    if "'" in s:
        raise ValueError(f"quote in SQL literal text: {s!r}")
    return "'" + (s if escaped else s.replace("\\", "\\\\")) + "'"


def _stop_count_sql(t: str, words_list, escaped: bool) -> str:
    """Occurrences of any ``words_list`` entry as a whole whitespace token
    in column ``t``, via ONE ``regexp_count`` over the lowercased text (r6).
    Equivalent to ``size(filter(split(lower(text), '\\s+'), w -> w ∈ set))``:
    a token is a maximal ``\\S+`` run, and the zero-width guards
    ``(?<!\\S)…(?!\\S)`` match exactly the whole-token occurrences — but
    without the interpreted per-element HOF filter + linear
    ``array_contains`` scan, which paid a large codegen-fallback warmup
    every first execution of the stage shape (annotate cold 10.5 → 2.3 s
    at sf1, warm equal, hash-identical; equivalence also pytest-pinned)."""
    alts = "|".join(re.escape(w) for w in
                    sorted(words_list, key=len, reverse=True))
    pattern = _sql_str(f"(?<!\\S)(?:{alts})(?!\\S)", escaped)
    return f"regexp_count(lower({t}), {pattern})"


def _feature_sql(escaped: bool = False) -> dict:
    """Spark SQL text of every scalar text feature of the ``text`` column,
    keyed by its output column name — the ONE definition that
    :func:`quality_features`, :func:`quality_score`, :func:`lang_id`,
    :func:`fingerprint`, :func:`annotate` and the Column helpers share."""
    def q(s):
        return _sql_str(s, escaped)

    t = "`text`"
    ws = q(r"\s+")
    n_chars = f"length({t})"
    toks = (f"CASE WHEN length(trim({t})) = 0 THEN 0 "
            f"ELSE size(split(trim({t}), {ws})) END")

    def per_char(regex):  # share of chars matching a one-char class
        return f"round(regexp_count({t}, {q(regex)}) / greatest({n_chars}, 1), 6)"

    f = {
        "n_chars_calc": n_chars,
        "n_tokens": toks,
        "n_sub_tokens": (f"size(regexp_extract_all({t}, "
                         f"{q('[A-Za-z]+|[0-9]+|' + _BPE_OTHER)}, 0))"),
        # regexp_count of the char class == length of the complement-replace
        # result (single-char matches), WITHOUT building a replaced copy of
        # every document — measured 6× on this projection at sf1 (r6);
        # equivalence pytest-pinned in test_ops_spark
        "punct_ratio": per_char(_PUNCT),
        "stopword_ratio": (f"round({_stop_count_sql(t, STOPWORDS['en'], escaped)}"
                           f" / greatest({toks}, 1), 6)"),
        "digit_ratio": per_char("[0-9]"),
        "upper_ratio": per_char("[A-Z]"),
        "mean_word_len": f"round(({n_chars} - {toks} + 1) / greatest({toks}, 1), 6)",
    }
    # composite 0..1 quality score (monotone penalties, documented weights)
    f["quality"] = (
        f"round(CASE WHEN {n_chars} >= 50 AND {n_chars} <= 10000 "
        f"THEN 1.0D ELSE 0.3D END"
        f" * CASE WHEN {f['punct_ratio']} <= 0.2D THEN 1.0D ELSE 0.5D END"
        f" * CASE WHEN {f['stopword_ratio']} >= 0.05D THEN 1.0D ELSE 0.6D END, 6)")
    # stopword-vote language ID: sorting (negated score, lang) ascending puts
    # the best score first, ties to the smallest language name; 'und' on zero
    n_words = f"greatest(size(split(lower({t}), {ws})), 1)"
    votes = []
    for lang in sorted(STOPWORDS):
        score = f"round({_stop_count_sql(t, STOPWORDS[lang], escaped)} / {n_words}, 6)"
        votes.append(f"named_struct({q('neg')}, -{score}, {q('lang')}, {q(lang)}, "
                     f"{q('score')}, {score})")
    best = f"sort_array(array({', '.join(votes)}))[0]"
    f["lang_pred"] = f"CASE WHEN {best}.score > 0 THEN {best}.lang ELSE {q('und')} END"
    f["lang_score"] = f"{best}.score"
    # fingerprint: portable 60-bit hash of the normalized text (lowercased,
    # punct-stripped, whitespace-collapsed)
    norm = (f"trim(regexp_replace(regexp_replace(lower({t}), {q(_FP_STRIP)}, {q('')}),"
            f" {ws}, {q(' ')}))")
    f["fingerprint"] = portable_hash64_spark_sql(norm)
    f["norm_len"] = f"length({norm})"
    return f


def _feature_expr(name: str):
    """One feature of :func:`_feature_sql` as a Column."""
    return F.expr(_feature_sql(_escaped_literals())[name])


def _project(docs: DataFrame, keep: str, names) -> DataFrame:
    """``docs`` projected to ``keep`` plus the named features — one
    ``selectExpr``, so the whole projection is parsed once on the JVM."""
    f = _feature_sql(_escaped_literals(docs.sparkSession))
    return docs.selectExpr(keep, *(f"{f[n]} AS {n}" for n in names))


def token_count():
    """Whitespace token count (column expression)."""
    return _feature_expr("n_tokens")


def bpe_ish_token_count():
    """Sub-word-ish token count: words + digit runs + punctuation marks, via
    one regexp pass (a cheap stand-in for BPE vocab tokenization)."""
    return _feature_expr("n_sub_tokens")


def _words_expr():
    """Lowercased whitespace token array (column expression)."""
    ws = _sql_str(r"\s+", _escaped_literals())
    return F.expr(f"split(lower(`text`), {ws})")


def _stop_count_expr(words_list):
    """Column form of :func:`_stop_count_sql`."""
    return F.expr(_stop_count_sql("`text`", words_list, _escaped_literals()))


def _quality_score_expr():
    """Composite 0..1 quality score (column expression)."""
    return _feature_expr("quality")


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc quality features: length, token stats, punctuation ratio,
    stopword ratio, uppercase ratio, digit ratio, mean word length."""
    return _project(docs, "doc_id", ("n_chars_calc", "n_tokens", "punct_ratio",
                                     "stopword_ratio", "digit_ratio",
                                     "upper_ratio", "mean_word_len"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Composite 0..1 quality score plus its inputs."""
    return _project(docs, "doc_id", ("quality", "n_tokens", "punct_ratio",
                                     "stopword_ratio"))


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: ``lang_pred`` is the language whose
    stopwords make up the largest share of the whitespace tokens (ties to
    the smallest name, 'und' when none occur), ``lang_score`` that share."""
    return _project(docs, "doc_id", ("lang_pred", "lang_score"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint — the canonicalization used for fuzzy-exact
    dedup: a portable 60-bit hash of the lowercased, punctuation-stripped,
    whitespace-collapsed text, plus that normalized text's length."""
    return _project(docs, "doc_id", ("fingerprint", "norm_len"))


# PII detector patterns, ordered (redaction applies them in this order).
# Written to the Java-regex ∩ RE2 common subset (no lookarounds, no
# backrefs, ASCII \b) so the DuckDB oracle runs the IDENTICAL patterns.
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("SSN", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("PHONE", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"),
    ("IP", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
)


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrub — the redaction pass a training-data pipeline runs before
    anything leaves the ingest boundary. Detects emails, SSN-shaped ids,
    phone numbers and IPv4 addresses; each is counted (on the input text,
    per pattern independently) and replaced by its ``<KIND>`` token in
    :data:`PII_PATTERNS` order.

    Pure whole-stage-codegen projection: one scan, zero joins, zero
    Python — same scaling posture as the rest of this module. The SSN and
    phone shapes are disjoint (3-2-4 vs 3-3-4 digit groups), so sequential
    replacement order cannot cannibalize counts; either way both engines
    apply the identical sequence, so the oracle comparison is exact.
    """
    from ..functions.parallelism import spread
    docs = spread(docs)  # regex-heavy projection: use every core
    t = F.col("text")
    counts = [F.regexp_count(t, F.lit(p)).cast("long") for _, p in PII_PATTERNS]
    count_cols = [c.alias(f"n_{k.lower()}")
                  for (k, _), c in zip(PII_PATTERNS, counts)]
    red = t
    for k, p in PII_PATTERNS:
        red = F.regexp_replace(red, p, f"<{k}>")
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return docs.select(F.col("doc_id"), red.alias("text_redacted"),
                       *count_cols, (total > 0).alias("has_pii"))


def repetition_features(docs: DataFrame) -> DataFrame:
    """Intra-document repetition signals — the Gopher-rule quality heuristics
    (top-term dominance, duplicate n-gram mass) used to drop boilerplate and
    degenerate generations from training corpora.

    Columns: ``n_words`` (whitespace tokens, 0 for blank), ``top_word_ratio``
    (most frequent word's share of all tokens), ``dup_bigram_ratio``
    (fraction of word bigrams that are repeats of an earlier bigram).

    All JVM higher-order functions over the per-row token array — per-doc
    work is O(tokens·distinct) with no shuffle, no explode, no Python, so
    the stage stays a single whole-stage projection at any corpus size.
    """
    from ..functions.parallelism import spread
    docs = spread(docs)
    t = F.trim(F.lower(F.col("text")))
    # the token array is hoisted to a COLUMN before the HOF stage: lambdas
    # capturing the split expression directly would re-run
    # trim+lower+split per lambda invocation (once per distinct token in
    # the count loop) — interpreted HOFs inline captured expressions, the
    # embed_text r5 finding. A multi-referenced non-cheap expression also
    # survives CollapseProject, so the hoist sticks.
    base = docs.select(F.col("doc_id"), (F.length(t) == 0).alias("_blank"),
                       F.split(t, r"\s+").alias("_w"))
    w = F.col("_w")
    n = F.size(w)
    counts = F.transform(
        F.array_distinct(w),
        lambda d: F.size(F.filter(w, lambda x: x == d)))
    bigrams = F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(0), n - 2),
                    lambda i: F.concat_ws(" ", F.slice(w, i + 1, 2)))
    ).otherwise(F.array().cast("array<string>"))
    mid = base.select("doc_id", "_blank", n.alias("_n"),
                      F.array_max(counts).alias("_topc"),
                      bigrams.alias("_bi"))
    n_bi = F.size("_bi")
    top_ratio = F.round(F.col("_topc") / F.col("_n"), 6)
    dup_bi = F.round((n_bi - F.size(F.array_distinct("_bi")))
                     / F.greatest(n_bi, F.lit(1)), 6)
    blank = F.col("_blank")
    return mid.select(
        F.col("doc_id"),
        F.when(blank, F.lit(0)).otherwise(F.col("_n")).cast("long")
        .alias("n_words"),
        F.when(blank, F.lit(0.0)).otherwise(top_ratio).alias("top_word_ratio"),
        F.when(blank, F.lit(0.0)).otherwise(dup_bi).alias("dup_bigram_ratio"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 32,
                    overlap: int = 8) -> DataFrame:
    """Context-window packing: split each document into sliding
    whitespace-token windows of ``chunk_tokens`` with ``overlap`` tokens of
    context carried between neighbors — the chunking step that feeds
    fixed-context training and embedding pipelines.

    Chunk ``i`` covers tokens ``[i·stride, min(i·stride+chunk, n))`` with
    ``stride = chunk_tokens − overlap``; the window count is
    ``ceil((n − overlap)/stride)`` (min 1 for non-blank docs), which
    guarantees every chunk contributes at least one token no earlier chunk
    had. Blank documents yield no chunks.

    One HOF projection + one explode per doc — no shuffle, no Python; the
    explode fan-out is bounded by tokens/stride per row.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens "
                         f"({chunk_tokens})")
    from ..functions.parallelism import spread
    docs = spread(docs)
    stride = chunk_tokens - overlap
    t = F.trim(F.col("text"))
    # hoist the token array to a column: the window lambda slicing the
    # split expression directly would re-run split per chunk index under
    # interpreted HOF evaluation (the embed_text r5 finding)
    docs = docs.select(F.col("doc_id"), (F.length(t) == 0).alias("_blank"),
                       F.split(t, r"\s+").alias("_toks"))
    toks = F.col("_toks")
    n = F.when(F.col("_blank"), F.lit(0)).otherwise(F.size(toks))
    n_chunks = F.when(
        n == 0, F.lit(0)
    ).otherwise(F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
        F.lit(1)))
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens))
            .alias("chunk_text")))
    return (docs
            .select(F.col("doc_id"), n.alias("_n"),
                    F.explode(F.when(n_chunks > 0, windows)
                              .otherwise(F.array().cast(
                                  "array<struct<chunk_idx:int,"
                                  "chunk_text:string>>"))).alias("c"))
            .select(F.col("doc_id"),
                    F.col("c.chunk_idx").alias("chunk_idx"),
                    F.least(F.lit(chunk_tokens),
                            F.col("_n") - F.col("c.chunk_idx") * stride)
                    .cast("int").alias("chunk_n_tokens"),
                    F.col("c.chunk_text").alias("chunk_text")))


def annotate(docs: DataFrame) -> DataFrame:
    """Fingerprint + quality + language in ONE whole-stage-codegen
    projection — the corpus-cleaning annotate stage without a single join
    or shuffle (the join-per-annotation form costs three shuffles and three
    extra scans of the corpus at 100 TB). Keeps every input column (the id
    among them, so it takes no id column) and adds ``fingerprint, norm_len,
    quality, n_tokens, punct_ratio, stopword_ratio, lang_pred,
    lang_score``, all parsed from one SQL projection (see the module
    docstring)."""
    from ..functions.parallelism import spread
    docs = spread(docs)  # regex-heavy projection: use every core on tiny scans
    return _project(docs, "*", ("fingerprint", "norm_len", "quality", "n_tokens",
                                "punct_ratio", "stopword_ratio", "lang_pred",
                                "lang_score"))
