"""Windowed event aggregation — batch and Structured Streaming forms.

``tumbling_event_counts`` / ``session_windows`` are deterministic batch
DataFrame plans over the ``events`` table (oracle-checkable SQL). The
``streaming_event_counts`` variant is the same logical plan expressed as a
readStream→watermark→window→writeStream pipeline for live ingest; tests run
it with the rate/memory sinks to prove the wiring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _micro_sum(col: str = "value"):
    """Exact integer sum of a double column in micro-units.

    ``floor(value * 1e6)`` is the same IEEE op on every engine, and BIGINT
    summation is associative — unlike ``round(sum(double), 6)``, whose value
    depends on partition/summation order and can flip the 6th decimal between
    engines (the round-1 ``events_sessionize`` driver hash failure)."""
    return F.sum(F.floor(F.col(col) * 1000000.0).cast("long"))


def tumbling_event_counts(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Per event_type counts/sums over tumbling windows."""
    return (events
            .groupBy(F.window("ts", f"{minutes} minutes").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 _micro_sum("value").alias("sum_value_micros"))
            .select(F.col("win.start").alias("win_start"), "event_type",
                    "n_events", "sum_value_micros"))


def session_windows(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessionization via the lag/gap/cumsum pattern (windows, no
    UDF): a new session starts when the gap to the previous event exceeds
    ``gap_minutes``. Returns one row per (user, session)."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = events.withColumn(
        "_new", F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0))
    sess = marked.withColumn("session_id", F.sum("_new").over(
        Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 _micro_sum("value").alias("sum_value_micros")))


def streaming_session_counts(source_df: DataFrame, gap_minutes: int = 30,
                             watermark: str = "2 hours") -> DataFrame:
    """Structured Streaming form of ``session_windows`` using the native
    ``session_window`` aggregation (merging windows + watermark eviction —
    the scale path for live sessionization; the batch lag/cumsum form stays
    the oracle-checkable twin). Boundary semantics: an event exactly
    ``gap`` after its predecessor starts a NEW session here, while the
    batch form's ``gap > threshold`` keeps it — identical on any data
    without exact-gap spacing."""
    return (source_df.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("win"),
                     "user_id")
            .agg(F.count("*").alias("n_events"),
                 _micro_sum("value").alias("sum_value_micros"))
            .select("user_id", F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"),
                    "n_events", "sum_value_micros"))


def streaming_event_counts(spark, source_df: DataFrame | None = None,
                           minutes: int = 60, watermark: str = "2 hours"):
    """Structured Streaming form of ``tumbling_event_counts``.

    With ``source_df=None`` builds a rate-source demo stream; callers in
    tests pass a file/memory stream of the same schema. Returns the
    streaming DataFrame (caller attaches writeStream)."""
    if source_df is None:
        src = (spark.readStream.format("rate").option("rowsPerSecond", 100).load()
               .withColumn("event_type", F.concat(F.lit("t"), (F.col("value") % 3)))
               .withColumnRenamed("timestamp", "ts"))
    else:
        src = source_df
    return (src.withWatermark("ts", watermark)
            .groupBy(F.window("ts", f"{minutes} minutes").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("win.start").alias("win_start"), "event_type", "n_events"))


def asof_join(events: DataFrame, left_type: str, right_type: str) -> DataFrame:
    """Event-time AS-OF join: for every ``left_type`` event, the latest
    ``right_type`` event by the same ``user_id`` at or before its ``ts``.

    Spark-first plan — NO join at all: union both event streams, ONE
    shuffle on the key, and a running ``last(..., ignorenulls=True)``
    window ordered by (ts, kind, event_id) carries the most recent right
    event forward onto each left row (the merge-sorted as-of the
    time-series engines special-case, expressed with the primitives
    Catalyst already has). Right events sort BEFORE left events at an
    equal timestamp, so "at or before" includes same-instant matches;
    equal-timestamp right events resolve to the highest event_id
    (deterministic, mirrored in the oracle). Unmatched left rows keep
    NULL asof columns (left as-of).

    At 100 TB this is one hash exchange on the key plus a per-key sorted
    scan — no range-join blowup, no per-key collect; skewed keys spill
    within their task like any window.
    """
    from pyspark.sql import Window

    both = (events
            .where(F.col("event_type").isin(left_type, right_type))
            .where(F.col("ts").isNotNull())  # no event time → no as-of
            .select("event_id", "user_id", "ts", "event_type",
                    F.when(F.col("event_type") == right_type, 0)
                    .otherwise(1).alias("_kind")))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "_kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    # ONE struct carries (ts, id) atomically — two independent
    # last(ignorenulls) columns could pair an id with a DIFFERENT row's
    # timestamp if either piece were ever null-skipped independently
    right = F.when(F.col("_kind") == 0,
                   F.struct(F.col("ts").alias("ts"),
                            F.col("event_id").alias("event_id")))
    carried = both.select(
        "event_id", "user_id", "ts", "_kind",
        F.last(right, ignorenulls=True).over(w).alias("_asof"))
    return (carried.where(F.col("_kind") == 1)
            .select(F.col("event_id").alias("left_event_id"),
                    "user_id",
                    F.col("ts").alias("left_ts"),
                    F.col("_asof.event_id").alias("asof_event_id"),
                    F.col("_asof.ts").alias("asof_ts")))
