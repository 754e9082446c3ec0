"""Cross-document line dedup (boilerplate removal) — the CCNet/C4 cleanup
stage: a line that recurs across many documents (navigation chrome, cookie
banners, license footers) is boilerplate and is stripped from every
document that carries it, preserving the order of what remains.

Generalizes the reference's exact-identity dedup tier
(``pkg/quadtreeImage/quadtreeElement.go:176-189``) from whole 8×8 blocks to
sub-document units: the dedup key is the NORMALIZED LINE, the frequency is
cross-document (a line repeated inside one document is content, not
boilerplate), and the action is redaction-in-place rather than election.

Plan shape (100 TB posture): one explode over a spread scan, one
2-column distinct + groupBy to build the (normalized line → document
frequency) table — shuffles carry only (hash-sized line, id) pairs, never
document bodies — then one equi-join back and one per-document aggregate
that reassembles the kept lines. No Python anywhere, no window, no
cartesian; the frequency table is df-filtered before the join so only
actual boilerplate lines ride the broadcast/shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def doc_lines(docs: DataFrame) -> DataFrame:
    """Explode documents into (doc_id, pos, line) with 0-based line positions.
    The scan is spread first — a single-file source must not serialize the
    explode stage (CLAUDE.md invariant)."""
    from ..functions.parallelism import spread
    return (spread(docs)
            .select(F.col("doc_id"),
                    F.posexplode(F.split(F.col("text"), "\n"))
                    .alias("pos", "line")))


def boilerplate_lines(lines: DataFrame, min_df: int = 2) -> DataFrame:
    """(nline, df) for normalized lines whose cross-document frequency
    reaches ``min_df``. Blank / whitespace-only lines are never boilerplate
    (they carry no content to dedup and would bridge unrelated documents).
    df counts DISTINCT documents: in-document repetition is content."""
    nline = F.trim(F.lower(F.col("line")))
    return (lines.where(nline != "")
            .select(nline.alias("nline"), F.col("doc_id")).distinct()
            .groupBy("nline").agg(F.count("*").alias("df"))
            .where(F.col("df") >= min_df))


def remove_boilerplate_lines(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Strip cross-document boilerplate lines from every document.

    Returns (doc_id, n_lines, n_removed, clean_text): total line count, how
    many lines were dropped as boilerplate, and the document rebuilt from
    the kept lines in their original order (empty string when every line
    was boilerplate). Matching is on the normalized (trim+lower) line; the
    original line text is what survives into ``clean_text``.
    """
    lines = doc_lines(docs)
    boiler = boilerplate_lines(lines, min_df)
    nline = F.trim(F.lower(F.col("line")))
    tagged = (lines.join(boiler, nline == boiler.nline, "left")
              .select("doc_id", "pos", "line",
                      F.col("df").isNotNull().alias("is_boiler")))
    # collect_list skips nulls: only kept lines enter the rebuild array
    kept = F.when(~F.col("is_boiler"), F.struct("pos", "line"))
    return (tagged.groupBy("doc_id")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list(kept)),
                                 lambda s: s.line),
                     "\n").alias("clean_text")))
