"""Interval (point-in-range) join — the range-join scale pattern.

Spark has no range-join optimization: ``points JOIN intervals ON ts
BETWEEN start AND end`` plans as BroadcastNestedLoopJoin (a per-pair
scan — quadratic, a non-starter at 100 TB). The standard fix is **bin
blocking**, the temporal analogue of operators/proximity.py's grid
cells:

1. pick a bin width ≥ the longest interval (computed with one tiny
   aggregate when not supplied);
2. each interval explodes to the bins it covers (≤ 2 copies when the
   width covers its length; a narrower caller-supplied width gives
   longer intervals proportionally more — the explode handles any
   span); each point maps to exactly ONE bin;
3. equi-join on (keys…, bin) — hash-partitioned, AQE-skew-safe — then
   apply the exact BETWEEN predicate.

A matching pair meets in precisely the point's bin (which the interval
covers by definition), so the blocking is lossless AND duplicate-free —
no dedup pass needed. Candidate volume is points × intervals-per-bin-
neighborhood instead of points × intervals.

Bin indices use exact integer division (``div``), never float: int64
microsecond/nanosecond timestamps exceed 2^53, where ``floor(x / w)``
on an imprecise double is off-spec even when it happens to stay
monotone. ``div`` truncates toward zero, so for negative timestamps
bins straddling 0 merge — still lossless (assignment stays monotone and
consistent on both sides), just marginally less selective there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def choose_bin_width(intervals: DataFrame, start_col: str, end_col: str) -> int:
    """The longest interval: one tiny aggregate + a one-scalar collect
    (documented driver round-trip; pass an explicit ``bin_width`` to
    skip the probe job)."""
    longest = intervals.agg(F.max(F.col(end_col) - F.col(start_col))).collect()[0][0]
    return max(int(longest or 1), 1)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key_cols: list[str],
    point_ts: str,
    start_col: str,
    end_col: str,
    bin_width: int | None = None,
) -> DataFrame:
    """Rows of ``points`` × ``intervals`` (same keys) with
    ``start ≤ ts ≤ end``. Timestamps are integers (any unit, used
    consistently); output carries all columns of both sides minus the
    internal bin."""
    if bin_width is None:
        bin_width = choose_bin_width(intervals, start_col, end_col)
    bw = int(bin_width)
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"`{start_col}` div {bw}"),
                F.expr(f"`{end_col}` div {bw}"),
            )
        ),
    )
    pt = points.withColumn("_bin", F.expr(f"`{point_ts}` div {bw}"))
    return (
        pt.join(iv, [*key_cols, "_bin"])
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bin")
    )
