"""As-of (temporal) join — SURVEY §7.3's "built-in but non-trivial"
extension (weather/telemetry enrichment: for each left row, the most
recent right row at or before it, per key).

Spark has no ASOF JOIN operator (DuckDB/Pandas do), and the naive
formulation — inequality join + per-left-row max — explodes to
O(|L| x |R| / keys) pairs before pruning. The scale-correct shape is the
**union-sort-fill** pattern:

    tag left/right → union → one window partitioned by key, ordered by
    (ts, side, tiebreak) → last(right_col, ignorenulls) over an
    unbounded-preceding frame → keep left rows.

One shuffle (hash by key), one in-partition sort, zero row expansion —
the same cost as a lag window regardless of how many right rows precede
each left row. Ordering puts the right side BEFORE left on equal
timestamps, giving inclusive (<=) semantics, and the right ``event_id``
tiebreak makes duplicate right timestamps deterministic (last-by-tiebreak
wins, matching a QUALIFY row_number dedup in the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Left as-of join of two event frames: for each left row, the latest
    right row of the same ``user_id`` with ``ts_us`` at or before it.

    Returns every left row plus ``asof_ts_us``, ``asof_event_id`` and
    ``asof_value`` (null when no right row precedes).
    """
    values = ("event_id", "value")
    l_tag = left.select(
        "user_id",
        F.col("ts_us").alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_rtb"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in values],
        F.lit(None).cast(right.schema["ts_us"].dataType).alias("_r_ts"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    r_tag = right.select(
        "user_id",
        F.col("ts_us").alias("_ts"),
        F.lit(0).alias("_side"),
        F.col("event_id").cast("long").alias("_rtb"),
        *[F.col(c).alias(f"_r_{c}") for c in values],
        F.col("ts_us").alias("_r_ts"),
        F.lit(None).cast(l_tag.schema["_l"].dataType).alias("_l"),
    )
    merged = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_rtb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged
    for c in [f"_r_{c}" for c in values] + ["_r_ts"]:
        filled = filled.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))

    out = filled.where(F.col("_side") == 1)
    return out.select(
        "_l.*",
        F.col("_r_ts").alias("asof_ts_us"),
        *[F.col(f"_r_{c}").alias(f"asof_{c}") for c in values],
    )
