"""KPT batch-analytics pipeline — the reference's query workload, §3.2.

Reproduces ``kpt/visualize.py`` end to end as one declarative DataFrame
chain: trajectory speeds (W1) → global stats (A2) → per-route stats with
catalog enrichment (J1/J2/A3) → top/slowest/fastest rankings (W3/W4/F7) →
latest-fix map rows (W2/A4/A5) → Leaflet HTML artifact (S15).

**Order-dependence, made deterministic.** Three reference behaviors depend
on file order (SURVEY §7.4): the stable timestamp sort inside
``calculate_speeds`` (visualize.py:69 — ties keep insertion order), the
last-seen vehicle→route assignment (:118-126), and first-wins latest-fix
ties (:175-183). The engine threads the explicit file order
(``ingest_ts``, ``pos_idx`` from ``read_positions_ordered``) through every
window as a tiebreak, so results equal the reference's *exactly* on the
same files, while staying well-defined under Spark's unordered scans.

**Scale shape.** One hash-partition-by-vehicle window (shuffle #1) feeds
speeds; per-route aggregation is the only other shuffle; the 179-row
catalog broadcasts; rankings are TakeOrderedAndProject (no full sort);
only map rows (≤ fleet size) and top-10 lists ever reach the driver.
"""

from __future__ import annotations

import json
from string import Template

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import (
    MIN_ROUTE_SAMPLES,
    TOP_K_ROUTES,
)
from .operators.enrich import broadcast_enrich, route_label
from .operators.trajectory import trajectory_speeds
from .functions.geo import speed_bucket

#: Map fallback center (reference visualize.py:16-17).
KYIV_CENTER = (50.45, 30.52)

#: File-order tiebreak columns produced by sources.kpt.read_positions_ordered.
FILE_ORDER = ["ingest_ts", "pos_idx"]


def speed_samples(fixes: DataFrame) -> DataFrame:
    """W1 (visualize.py:60-88): consecutive-fix speeds per vehicle.

    Input must carry the FILE_ORDER columns; rows with falsy vehicle_id
    are excluded up front (reference :62-64 truthiness gate).
    """
    valid = fixes.where(F.col("vehicle_id").isNotNull() & (F.col("vehicle_id") != 0))
    return trajectory_speeds(valid, tiebreak_cols=FILE_ORDER)


def global_speed_stats(samples: DataFrame) -> DataFrame:
    """A2 (visualize.py:137-145): fleet-wide speed summary."""
    return samples.agg(
        F.countDistinct("vehicle_id").alias("n_vehicles"),
        F.count("*").alias("n_samples"),
        F.avg("speed_kmh").alias("avg_speed"),
        F.min("speed_kmh").alias("min_speed"),
        F.max("speed_kmh").alias("max_speed"),
    )


def vehicle_route_assignment(fixes: DataFrame) -> DataFrame:
    """J2 (visualize.py:118-126): each vehicle's *last-seen* route.

    Reference semantics are last-in-file-order (dict overwrite), which the
    FILE_ORDER struct reproduces exactly via one max_by aggregate."""
    both = fixes.where(
        F.col("vehicle_id").isNotNull() & (F.col("vehicle_id") != 0)
        & F.col("route_id").isNotNull() & (F.col("route_id") != 0)
    )
    return both.groupBy("vehicle_id").agg(
        F.max_by("route_id", F.struct(*FILE_ORDER)).alias("route_id")
    )


def route_vehicle_counts(fixes: DataFrame) -> DataFrame:
    """Distinct vehicles ever seen per route (visualize.py:122-126)."""
    both = fixes.where(
        F.col("vehicle_id").isNotNull() & (F.col("vehicle_id") != 0)
        & F.col("route_id").isNotNull() & (F.col("route_id") != 0)
    )
    return both.groupBy("route_id").agg(
        F.countDistinct("vehicle_id").alias("n_vehicles")
    )


def route_speed_stats(
    fixes: DataFrame, samples: DataFrame, routes: DataFrame
) -> DataFrame:
    """A3 + J1 (visualize.py:99-166): per-route speed stats, labeled.

    A vehicle's *entire* speed history is attributed to its last-seen
    route (reference :129-135), not to the route active at each sample —
    a deliberate parity choice.
    """
    per_vehicle = samples.select("vehicle_id", "speed_kmh")
    assigned = broadcast_enrich(
        per_vehicle, vehicle_route_assignment(fixes), on="vehicle_id", how="inner"
    )
    stats = assigned.groupBy("route_id").agg(
        F.avg("speed_kmh").alias("avg_speed"),
        F.count("*").alias("n_samples"),
    )
    stats = stats.join(route_vehicle_counts(fixes), "route_id", "left")
    labeled = broadcast_enrich(
        stats, routes.withColumnRenamed("id", "route_id"), on="route_id", how="left"
    )
    return labeled.select(
        "route_id",
        route_label(F.col("type"), F.col("number"), F.col("route_id")).alias("label"),
        "avg_speed",
        "n_samples",
        F.coalesce("n_vehicles", F.lit(0)).alias("n_vehicles"),
    )


def top_routes_by_samples(route_stats: DataFrame, k: int = TOP_K_ROUTES) -> DataFrame:
    """W3 (visualize.py:147-150). Reference tie order is dict-insertion;
    the engine defines ties deterministically by route_id."""
    return route_stats.orderBy(F.desc("n_samples"), F.asc("route_id")).limit(k)


def slowest_routes(
    route_stats: DataFrame,
    k: int = TOP_K_ROUTES,
    min_samples: int = MIN_ROUTE_SAMPLES,
) -> DataFrame:
    """W4/F7 (visualize.py:152-161): slowest k with >= min_samples."""
    return (
        route_stats.where(F.col("n_samples") >= min_samples)
        .orderBy(F.asc("avg_speed"), F.asc("route_id"))
        .limit(k)
    )


def fastest_routes(
    route_stats: DataFrame,
    k: int = TOP_K_ROUTES,
    min_samples: int = MIN_ROUTE_SAMPLES,
) -> DataFrame:
    """W4/F7 (visualize.py:163-166): fastest k with >= min_samples."""
    return (
        route_stats.where(F.col("n_samples") >= min_samples)
        .orderBy(F.desc("avg_speed"), F.asc("route_id"))
        .limit(k)
    )


def latest_fixes(fixes: DataFrame) -> DataFrame:
    """W2 (visualize.py:175-183): max-timestamp fix per vehicle;
    timestamp ties keep the *first* row in file order (strict > compare)."""
    valid = fixes.where(F.col("vehicle_id").isNotNull() & (F.col("vehicle_id") != 0))
    w = Window.partitionBy("vehicle_id").orderBy(
        F.desc("timestamp"), *[F.asc(c) for c in FILE_ORDER]
    )
    return (
        valid.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def map_rows(fixes: DataFrame, samples: DataFrame) -> DataFrame:
    """A5 + P10 (visualize.py:185-187): latest fix per vehicle with its
    mean speed (0 when the vehicle produced no valid samples)."""
    per_vehicle_avg = samples.groupBy("vehicle_id").agg(
        F.avg("speed_kmh").alias("avg_speed")
    )
    rows = latest_fixes(fixes).join(per_vehicle_avg, "vehicle_id", "left")
    return rows.select(
        "vehicle_id",
        "route_id",
        "lat",
        "lon",
        "timestamp",
        F.coalesce("avg_speed", F.lit(0.0)).alias("avg_speed"),
        speed_bucket(F.coalesce("avg_speed", F.lit(0.0))).alias("bucket"),
    )


def map_center(rows: list[dict]) -> tuple[float, float]:
    """A4 (visualize.py:189-193): center of mass of the collected latest
    fixes; KYIV_CENTER when there are none."""
    if not rows:
        return KYIV_CENTER
    n = len(rows)
    return (sum(r["lat"] for r in rows) / n, sum(r["lon"] for r in rows) / n)


#: Minimal Leaflet artifact (functional equivalent of the reference's
#: kpt/templates/vehicle_map.html: circle markers colored by the 5 speed
#: buckets, popup with vehicle/route/speed). Written fresh for this engine.
_MAP_TEMPLATE = Template("""<!DOCTYPE html>
<html>
<head>
<meta charset="utf-8"/>
<title>Vehicle speed map</title>
<link rel="stylesheet" href="https://unpkg.com/leaflet@1.9.4/dist/leaflet.css"/>
<script src="https://unpkg.com/leaflet@1.9.4/dist/leaflet.js"></script>
<style>html, body, #map { height: 100%; margin: 0; }</style>
</head>
<body>
<div id="map"></div>
<script>
const rows = $positions_json;
const map = L.map('map').setView([$center_lat, $center_lon], 11);
L.tileLayer('https://tile.openstreetmap.org/{z}/{x}/{y}.png',
            {attribution: '&copy; OpenStreetMap contributors'}).addTo(map);
const colors = {lt10: '#d73027', lt20: '#fc8d59', lt30: '#fee08b',
                lt40: '#91cf60', ge40: '#1a9850'};
for (const r of rows) {
  L.circleMarker([r.lat, r.lon], {radius: 5, color: colors[r.bucket] || '#999'})
   .bindPopup(`vehicle $${r.vehicle_id} route $${r.route_id}: ` +
              `$${r.avg_speed.toFixed(1)} km/h`)
   .addTo(map);
}
</script>
</body>
</html>
""")


def render_map_html(rows: DataFrame, output_path: str) -> int:
    """S15: collect <=fleet-size map rows and render the Leaflet page."""
    collected = [r.asDict() for r in rows.collect()]
    center = map_center(collected)
    html = _MAP_TEMPLATE.substitute(
        center_lat=center[0],
        center_lon=center[1],
        positions_json=json.dumps(collected),
    )
    with open(output_path, "w", encoding="utf-8") as fh:
        fh.write(html)
    return len(collected)
