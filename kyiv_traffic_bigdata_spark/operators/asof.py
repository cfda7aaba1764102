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
timestamps, giving inclusive (<=) semantics, and a caller-supplied right
tiebreak makes duplicate right timestamps deterministic (last-by-tiebreak
wins, matching a QUALIFY row_number dedup in the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: latest right row with ``right_ts <= left_ts`` per key.

    Returns every left row plus ``asof_<right_ts>`` and the requested
    right value columns (null when no right row precedes).
    """
    l_tag = left.select(
        *key_cols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_rtb"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_value_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_r_ts"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    rtb = (
        F.col(right_tiebreak).cast("long")
        if right_tiebreak is not None
        else F.lit(0).cast("long")
    )
    r_tag = right.select(
        *key_cols,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        rtb.alias("_rtb"),
        *[F.col(c).alias(f"_r_{c}") for c in right_value_cols],
        F.col(right_ts).alias("_r_ts"),
        F.lit(None).cast(l_tag.schema["_l"].dataType).alias("_l"),
    )
    merged = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_rtb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fill_cols = [f"_r_{c}" for c in right_value_cols] + ["_r_ts"]
    filled = merged
    for c in fill_cols:
        filled = filled.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))

    out = filled.where(F.col("_side") == 1)
    return out.select(
        "_l.*",
        F.col("_r_ts").alias(f"asof_{right_ts}"),
        *[F.col(f"_r_{c}").alias(f"asof_{c}") for c in right_value_cols],
    )
