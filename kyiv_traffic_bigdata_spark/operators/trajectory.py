"""Consecutive-row (lag-window) trajectory operators — SURVEY §2.6 W1.

The reference's flagship computation (kpt/visualize.py:60-88): per vehicle,
sort fixes by timestamp, pair each fix with its predecessor, derive
dt / haversine distance / speed, and drop implausible pairs (dt<=0,
dt>300 s, speed<=0 or >=120 km/h — F5/F6 guards, visualize.py:12-14,75-86).

Spark shape: ONE window ``partition by key order by ts`` feeding all lag
columns — a single hash-partition shuffle + in-partition sort. At 100 TB
this is the canonical "sort within key" pattern; on a store bucketed
and sorted by (key, ts), Catalyst would elide the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..functions.rounding import round6

from ..config import MAX_PLAUSIBLE_SPEED_KMH, MAX_TIME_GAP_S
from ..functions.geo import haversine_km


def consecutive_deltas(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    carry_cols: list[str],
    tiebreak_cols: list[str],
) -> DataFrame:
    """Attach ``prev_<c>`` lag-1 columns per key, ordered by (ts, tiebreak).

    Deterministic ordering requires a total order — the tiebreak columns
    settle repeated ts within a key (the shipped reference data has ~10%
    duplicate keys, SURVEY §2.8 ST5).
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    out = df
    for c in [ts_col, *carry_cols]:
        out = out.withColumn(f"prev_{c}", F.lag(c).over(w))
    return out


def trajectory_speeds(
    positions: DataFrame,
    key_col: str = "vehicle_id",
    ts_col: str = "timestamp",
    max_gap_s: int = MAX_TIME_GAP_S,
    *,
    tiebreak_cols: list[str],
    round_speed: int | None = None,
) -> DataFrame:
    """Reference W1: per-key consecutive-fix speeds of ``lat``/``lon``
    fixes with plausibility guards.

    Matches kpt/visualize.py:60-88 semantics exactly:
    keep pairs with ``0 < dt <= max_gap_s`` and
    ``0 < speed < MAX_PLAUSIBLE_SPEED_KMH``;
    speed = haversine_km * 3600 / dt.

    ``round_speed`` optionally rounds the transcendental result (needed
    when a cross-engine oracle re-computes haversine with a different libm).
    """
    lagged = consecutive_deltas(
        positions, [key_col], ts_col, ["lat", "lon"], tiebreak_cols
    )
    dt = F.col(ts_col) - F.col(f"prev_{ts_col}")
    dist = haversine_km(
        F.col("prev_lat"),
        F.col("prev_lon"),
        F.col("lat"),
        F.col("lon"),
    )
    speed: Column = dist * 3600.0 / dt
    if round_speed is not None:
        speed = F.round(speed, round_speed)
    return (
        lagged.where(F.col(f"prev_{ts_col}").isNotNull())
        .withColumn("dt_s", dt)
        .where((F.col("dt_s") > 0) & (F.col("dt_s") <= max_gap_s))
        .withColumn("speed_kmh", speed)
        .where((F.col("speed_kmh") > 0) & (F.col("speed_kmh") < MAX_PLAUSIBLE_SPEED_KMH))
    )


def value_rate(events: DataFrame) -> DataFrame:
    """W1 generalized to any numeric series: per-``user_id`` d(value)/dt
    in (ts_us, event_id) order, over gaps of at most one week.

    The star-schema analog the correctness gate runs on ``events``:
    dt in seconds from exact integer micros ``ts_us``, rate =
    |Δvalue| / dt. Pure int/double per-row arithmetic → bit-identical
    in any engine.
    """
    max_gap_s = 604800
    lagged = consecutive_deltas(events, ["user_id"], "ts_us", ["value"], ["event_id"])
    dt_s = (F.col("ts_us") - F.col("prev_ts_us")).cast("double") / 1e6
    return (
        lagged.where(F.col("prev_ts_us").isNotNull())
        .withColumn("dt_s", dt_s)
        .where((F.col("dt_s") > 0) & (F.col("dt_s") <= max_gap_s))
        .withColumn(
            "rate",
            round6(F.abs(F.col("value") - F.col("prev_value")) / F.col("dt_s")),
        )
    )
