"""Geo-proximity range join — SURVEY §7.3's "range join + haversine
predicate" extension (geo enrichment: all right-side points within
PROXIMITY_RADIUS_KM of each left-side point).

The naive formulation is a cross join with a distance predicate —
O(|L| x |R|) haversine evaluations and, worse, a Cartesian physical plan.
The scale shape is **grid-cell blocking**: bucket both sides into square
lat/lon cells at least as wide (in degrees, at the data's worst-case
latitude) as the radius, expand each left row to its 3x3 cell
neighborhood, and equi-join on the cell id. Any pair within the radius is
guaranteed to land in adjacent cells, so the exact haversine predicate
applied after the equi-join makes the blocking a pure optimization — the
result is IDENTICAL to the cross-join formulation (the oracle states it
as a plain distance join). The equi-join hash-partitions by cell —
co-located, broadcast-able when one side is small, skew-handled by AQE —
and the 9x left-side expansion is far cheaper than an O(n·m) cross
product at any realistic density.

The cell width encodes the worst-case latitude: 1 km is ~0.009° of
latitude everywhere but ~0.0142° of longitude at Kyiv's 50.7°N
(degrees-per-km grows with |lat|), so PROXIMITY_CELL_DEG must stay
``>= PROXIMITY_RADIUS_KM / (111.19 * cos(max_abs_lat))`` (pinned in
tests/test_proximity.py). No antimeridian handling — fine for the
reference's Kyiv/Ukraine bboxes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import haversine_km

#: Join radius and grid cell width.
PROXIMITY_RADIUS_KM = 1.0
PROXIMITY_CELL_DEG = 0.02


def proximity_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """All (left, right) pairs with haversine distance <=
    PROXIMITY_RADIUS_KM between their ``lat``/``lon`` columns.

    Returns every left column prefixed ``p_`` (probe), every right
    column prefixed ``e_`` (event), plus exact ``dist_km``. Self-pairs
    are the caller's concern (filter on ids afterwards).
    """
    left_prefix, right_prefix = "p_", "e_"
    cell_deg, radius_km = PROXIMITY_CELL_DEG, PROXIMITY_RADIUS_KM
    l_cells = left.select(
        *[F.col(c).alias(f"{left_prefix}{c}") for c in left.columns],
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("_dlat"),
    ).select(
        "*",
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("_dlon"),
    ).select(
        "*",
        (F.floor(F.col(f"{left_prefix}lat") / F.lit(cell_deg)) + F.col("_dlat")).alias("_clat"),
        (F.floor(F.col(f"{left_prefix}lon") / F.lit(cell_deg)) + F.col("_dlon")).alias("_clon"),
    ).drop("_dlat", "_dlon")

    r_cells = right.select(
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns],
        F.floor(F.col(f"{right_prefix}lat") / F.lit(cell_deg)).alias("_clat"),
        F.floor(F.col(f"{right_prefix}lon") / F.lit(cell_deg)).alias("_clon"),
    )

    dist = haversine_km(
        F.col(f"{left_prefix}lat"),
        F.col(f"{left_prefix}lon"),
        F.col(f"{right_prefix}lat"),
        F.col(f"{right_prefix}lon"),
    )
    return (
        l_cells.join(r_cells, ["_clat", "_clon"])
        .where(dist <= radius_km)
        .drop("_clat", "_clon")
        .withColumn("dist_km", dist)
    )
