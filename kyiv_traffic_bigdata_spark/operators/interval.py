"""Interval (point-in-range) join — the range-join scale pattern.

Spark has no range-join optimization: ``points JOIN intervals ON ts
BETWEEN start AND end`` plans as BroadcastNestedLoopJoin (a per-pair
scan — quadratic, a non-starter at 100 TB). The standard fix is **bin
blocking**, the temporal analogue of operators/proximity.py's grid
cells:

1. the caller passes a bin width, ideally ≥ the longest interval;
2. each interval explodes to the bins it covers (≤ 2 copies when the
   width covers its length; a narrower width gives longer intervals
   proportionally more — the explode handles any span); each point
   maps to exactly ONE bin;
3. equi-join on (user, bin) — hash-partitioned, AQE-skew-safe — then
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


def interval_join(
    points: DataFrame, intervals: DataFrame, bin_width: int
) -> DataFrame:
    """Rows of ``points`` (``user_id``, ``ts_us``) × ``intervals``
    (``user_id``, ``err_start``, ``err_end``) of the same user with
    ``err_start ≤ ts_us ≤ err_end``. Timestamps are integers; output
    carries all columns of both sides minus the internal bin."""
    bw = int(bin_width)
    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(F.expr(f"err_start div {bw}"), F.expr(f"err_end div {bw}"))),
    )
    pt = points.withColumn("_bin", F.expr(f"ts_us div {bw}"))
    return (
        pt.join(iv, ["user_id", "_bin"])
        .where((F.col("ts_us") >= F.col("err_start")) & (F.col("ts_us") <= F.col("err_end")))
        .drop("_bin")
    )
