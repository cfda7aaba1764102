"""Event-time windowing & sessionization — the idiomatic generalization of
the reference's processing-time 5 s flush (SURVEY §2.8 ST1, flagged there
as the engine's extension surface).

Batch and Structured Streaming share these shapes: ``F.window`` works in
both; the session operator's lag+cumsum form is batch-only (a streaming
sessionizer would use Spark's built-in ``session_window``).

Every operator here reads the ``events`` table's columns: ``ts`` /
``ts_us`` (timestamp, epoch micros), ``user_id``, ``event_type``,
``event_id`` (the total-order tiebreaker) and ``value``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import stable_avg


def tumbling_stats(df: DataFrame) -> DataFrame:
    """Per (1-hour tumbling window × event_type) count + stable mean.

    Window start is exposed as epoch seconds (integer) — engine-portable
    and partition-prunable. One hash aggregate; at scale the window start
    is derivable map-side so no extra shuffle beyond the group-by.
    """
    return (
        df.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_avg("value").alias("avg_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def hopping_stats(df: DataFrame) -> DataFrame:
    """Per (2-hour window sliding by 1 hour × event_type) count + stable
    mean — the OVERLAPPING generalization of :func:`tumbling_stats`
    (``F.window`` with a ``slideDuration``): each event lands in
    duration/slide = 2 windows, so the same row contributes to every
    window covering it.

    Scale shape: Catalyst's TimeWindowing rule expands each row into its
    duration/slide window assignments MAP-SIDE (an Expand, no join, no
    extra shuffle) and the single hash aggregate that follows is the
    only exchange — identical plan skeleton to the tumbling case, just
    a constant-factor row fan-out. Window starts are epoch-aligned, so
    the oracle can reproduce assignment exactly with a bounded offsets
    cross join.
    """
    return (
        df.groupBy(F.window(F.col("ts"), "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_avg("value").alias("avg_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def moving_stats(df: DataFrame) -> DataFrame:
    """Sliding row-frame stats: per user, ordered by (ts_us, event_id),
    the moving sum/avg of ``value`` over the trailing 5 rows plus the
    running (unbounded-preceding) total.

    All three window aggregates share one (key, order) sort, so the
    physical plan is a single hash-partition shuffle + in-partition sort —
    the frame evaluation itself is streaming within the sort, no extra
    pass. Sums go through the decimal path (aggregates.dec) so the
    trailing-frame arithmetic is order-exact and matches the oracle
    bit-for-bit; event_id makes the order total (frame semantics are
    undefined under ties).
    """
    from .aggregates import dec

    order = [F.col("ts_us").asc(), F.col("event_id").asc()]
    frame = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(-4, Window.currentRow)
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "user_id",
        "ts_us",
        "event_id",
        F.col("value"),
        F.sum(dec("value")).over(frame).cast("double").alias("mov_sum"),
        (F.sum(dec("value")).over(frame).cast("double") / F.count(F.lit(1)).over(frame)).alias("mov_avg"),
        F.sum(dec("value")).over(run).cast("double").alias("run_sum"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(*order))
        .cast("long")
        .alias("seq"),
    )


def trailing_range_stats(df: DataFrame) -> DataFrame:
    """VALUE-based (RANGE) trailing window: per user, for every row, the
    count and decimal-exact sum of rows whose ``ts_s`` (epoch seconds)
    lies in ``[ts_s - 3600, ts_s]`` — the time-based sibling of
    :func:`moving_stats`' ROWS frames (SURVEY §2.6 frame
    generalization; e.g. "this user's events in the trailing hour").

    RANGE frames are tie-inclusive: rows sharing a timestamp are peers
    and every peer sees the full peer group, so the result is a pure
    function of the data — no tiebreaker column is needed (the opposite
    of ROWS frames, where ties make frames undefined). One hash
    partition + one in-partition sort serves both aggregates; the frame
    bound evaluation is streaming within the sort — same single-shuffle
    plan as moving_stats at any scale.
    """
    from .aggregates import dec

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return df.select(
        "user_id",
        F.col("ts_s"),
        F.col("value"),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_trailing"),
    )


def sessionize(df: DataFrame) -> DataFrame:
    """Gap-based sessions: per user, a new session starts when the
    inter-event gap exceeds 30 minutes. Classic lag +
    running-sum-of-boundaries; both window functions share one
    (user, ts_us, event_id) sort, so the physical plan is a single
    shuffle + sort per key — the standard sessionization plan at any scale.

    Output: one row per session with start/end (epoch s), event count.
    """
    order = [F.col("ts_us").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_us = 1800 * 1_000_000
    with_sessions = (
        df.withColumn("_prev_ts", F.lag("ts_us").over(w))
        .withColumn(
            "_new_session",
            F.when(
                F.col("_prev_ts").isNull()
                | ((F.col("ts_us") - F.col("_prev_ts")) > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_seq", F.sum("_new_session").over(run))
    )
    return with_sessions.groupBy("user_id", "session_seq").agg(
        F.expr("min(ts_us) div 1000000").alias("session_start_s"),
        F.expr("max(ts_us) div 1000000").alias("session_end_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
