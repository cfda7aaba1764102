"""Golden tests: the Spark KPT analytics pipeline vs an in-test pure-Python
oracle that re-executes the reference semantics (kpt/visualize.py:60-193)
over the reference's shipped capture data — SURVEY §5's golden strategy.

The oracle replicates the order-dependent details exactly: stable
timestamp sort (ties keep file order), last-seen-in-file-order route
assignment, strict-greater latest-fix comparison. The Spark side must
match to float precision, proving the FILE_ORDER tiebreak reproduces
reference results on real data.
"""

from __future__ import annotations

import json
import math
import os
import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.kpt_pipeline import (
    KYIV_CENTER,
    fastest_routes,
    global_speed_stats,
    latest_fixes,
    map_center,
    map_rows,
    render_map_html,
    route_speed_stats,
    slowest_routes,
    speed_samples,
    top_routes_by_samples,
)
from kyiv_traffic_bigdata_spark.sources.kpt import (
    read_positions_ordered,
    read_routes,
)

REF_POS = "/root/reference/data/kpt_positions_20260207.jsonl"
REF_ROUTES = "/root/reference/data/kpt_routes_20260207.jsonl"

needs_ref = pytest.mark.skipif(
    not os.path.exists(REF_POS), reason="reference data absent"
)


# ---------------------------------------------------------------------------
# Pure-Python oracle (reference semantics re-executed)
# ---------------------------------------------------------------------------

def _haversine(lat1, lon1, lat2, lon2):
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
        * math.sin(dlon / 2) ** 2
    )
    return 6371 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


class Oracle:
    def __init__(self, pos_path, routes_path):
        self.positions = []
        with open(pos_path) as fh:
            for line in fh:
                self.positions.extend(json.loads(line).get("positions", []))
        self.routes = {}
        with open(routes_path) as fh:
            for line in fh:
                for r in json.loads(line).get("routes", []):
                    if r.get("id"):
                        self.routes[r["id"]] = r

        # calculate_speeds (visualize.py:60-88)
        grouped = defaultdict(list)
        for p in self.positions:
            if p.get("vehicle_id"):
                grouped[p["vehicle_id"]].append(p)
        self.speeds = defaultdict(list)
        for vid, plist in grouped.items():
            ordered = sorted(plist, key=lambda p: p.get("timestamp", 0))
            for prev, curr in zip(ordered, ordered[1:]):
                dt = curr["timestamp"] - prev["timestamp"]
                if dt <= 0 or dt > 300:
                    continue
                v = _haversine(prev["lat"], prev["lon"], curr["lat"], curr["lon"]) / dt * 3600
                if 0 < v < 120:
                    self.speeds[vid].append(v)

        # vehicle->route / route->vehicles (visualize.py:118-126)
        self.vehicle_route = {}
        self.route_vehicles = defaultdict(set)
        for p in self.positions:
            if p.get("vehicle_id") and p.get("route_id"):
                self.vehicle_route[p["vehicle_id"]] = p["route_id"]
                self.route_vehicles[p["route_id"]].add(p["vehicle_id"])

        self.route_speeds = defaultdict(list)
        for vid, vsp in self.speeds.items():
            rid = self.vehicle_route.get(vid)
            if rid:
                self.route_speeds[rid].extend(vsp)

        # latest per vehicle (visualize.py:175-183): strict > keeps first tie
        self.latest = {}
        for p in self.positions:
            vid = p.get("vehicle_id")
            if vid and (vid not in self.latest or p["timestamp"] > self.latest[vid]["timestamp"]):
                self.latest[vid] = p


@pytest.fixture(scope="module")
def oracle():
    return Oracle(REF_POS, REF_ROUTES)


@pytest.fixture(scope="module")
def pipeline(spark):
    fixes = read_positions_ordered(spark, REF_POS).cache()
    samples = speed_samples(fixes).cache()
    routes = read_routes(spark, REF_ROUTES)
    return fixes, samples, routes


@needs_ref
def test_global_stats_match(oracle, pipeline):
    _, samples, _ = pipeline
    got = global_speed_stats(samples).collect()[0]
    all_speeds = [v for vs in oracle.speeds.values() for v in vs]
    assert got.n_vehicles == len(oracle.speeds)
    assert got.n_samples == len(all_speeds)
    assert got.avg_speed == pytest.approx(sum(all_speeds) / len(all_speeds), rel=1e-9)
    assert got.min_speed == pytest.approx(min(all_speeds), rel=1e-9)
    assert got.max_speed == pytest.approx(max(all_speeds), rel=1e-9)


@needs_ref
def test_route_stats_match_exhaustively(oracle, pipeline):
    fixes, samples, routes = pipeline
    got = {
        r.route_id: r for r in route_speed_stats(fixes, samples, routes).collect()
    }
    assert set(got) == set(oracle.route_speeds)
    for rid, sp in oracle.route_speeds.items():
        row = got[rid]
        assert row.n_samples == len(sp), rid
        assert row.avg_speed == pytest.approx(sum(sp) / len(sp), rel=1e-9), rid
        assert row.n_vehicles == len(oracle.route_vehicles[rid]), rid
        info = oracle.routes.get(rid, {})
        number, rtype = info.get("number", ""), info.get("type", 0)
        prefix = {1: "Bus", 2: "Trol", 3: "Tram"}.get(rtype, "")
        expected_label = f"{prefix} {number}".strip() if number else f"#{rid}"
        assert row.label == expected_label, rid


@needs_ref
def test_rankings_match(oracle, pipeline):
    fixes, samples, routes = pipeline
    stats = route_speed_stats(fixes, samples, routes).cache()

    def avg(rid):
        sp = oracle.route_speeds[rid]
        return sum(sp) / len(sp)

    # engine tie order: (key, route_id) — apply the same to the oracle
    exp_top = sorted(
        oracle.route_speeds, key=lambda r: (-len(oracle.route_speeds[r]), r)
    )[:10]
    assert [r.route_id for r in top_routes_by_samples(stats).collect()] == exp_top

    eligible = [r for r, sp in oracle.route_speeds.items() if len(sp) >= 10]
    exp_slow = sorted(eligible, key=lambda r: (avg(r), r))[:10]
    exp_fast = sorted(eligible, key=lambda r: (-avg(r), r))[:10]
    assert [r.route_id for r in slowest_routes(stats).collect()] == exp_slow
    assert [r.route_id for r in fastest_routes(stats).collect()] == exp_fast


@needs_ref
def test_latest_fixes_match(oracle, pipeline):
    fixes, _, _ = pipeline
    got = {r.vehicle_id: r for r in latest_fixes(fixes).collect()}
    assert set(got) == set(oracle.latest)
    for vid, p in oracle.latest.items():
        assert got[vid].timestamp == p["timestamp"], vid
        assert got[vid].lat == p["lat"] and got[vid].lon == p["lon"], vid


@needs_ref
def test_map_center_matches(oracle, pipeline):
    fixes, _, _ = pipeline
    la, lo = map_center([r.asDict() for r in latest_fixes(fixes).collect()])
    vals = oracle.latest.values()
    assert la == pytest.approx(sum(p["lat"] for p in vals) / len(vals), rel=1e-9)
    assert lo == pytest.approx(sum(p["lon"] for p in vals) / len(vals), rel=1e-9)


@needs_ref
def test_map_rows_and_render(oracle, pipeline, tmp_path):
    fixes, samples, _ = pipeline
    rows = map_rows(fixes, samples)
    got = {r.vehicle_id: r for r in rows.collect()}
    # vehicles without samples carry avg_speed 0 (visualize.py:185-187)
    no_sample = set(oracle.latest) - set(oracle.speeds)
    assert no_sample and all(got[v].avg_speed == 0.0 for v in no_sample)
    some_vid = next(iter(oracle.speeds))
    sp = oracle.speeds[some_vid]
    assert got[some_vid].avg_speed == pytest.approx(sum(sp) / len(sp), rel=1e-9)

    out = str(tmp_path / "map.html")
    n = render_map_html(rows, out)
    assert n == len(oracle.latest)
    html = open(out).read()
    assert "leaflet" in html and "circleMarker" in html


def test_latest_fix_tie_keeps_first_in_file_order(spark):
    env = [
        {"timestamp": "2026-02-07T00:00:00", "count": 2,
         "positions": [
             {"vehicle_id": 1, "route_id": 5, "lat": 50.40, "lon": 30.50,
              "direction": 0, "flag": 0, "timestamp": 100},
             {"vehicle_id": 1, "route_id": 5, "lat": 50.41, "lon": 30.51,
              "direction": 0, "flag": 0, "timestamp": 100},
         ]},
    ]
    import tempfile
    with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
        for e in env:
            fh.write(json.dumps(e) + "\n")
        path = fh.name
    fixes = read_positions_ordered(spark, path)
    got = latest_fixes(fixes).collect()
    assert len(got) == 1 and got[0].lat == 50.40  # first, not last
    os.unlink(path)


def _rendered_center(html: str) -> tuple[float, float]:
    m = re.search(r"setView\(\[([-\d.e]+), ([-\d.e]+)\]", html)
    return float(m.group(1)), float(m.group(2))


def test_render_map_centers_on_collected_rows(spark, tmp_path):
    """The map center is the mean of the very rows the page plots, and
    an empty fleet falls back to KYIV_CENTER."""
    path = tmp_path / "positions.jsonl"
    path.write_text(json.dumps({
        "timestamp": "2026-02-07T00:00:00", "count": 3,
        "positions": [
            {"vehicle_id": 1, "route_id": 5, "lat": 50.40, "lon": 30.50,
             "direction": 0, "flag": 0, "timestamp": 100},
            {"vehicle_id": 1, "route_id": 5, "lat": 50.41, "lon": 30.51,
             "direction": 0, "flag": 0, "timestamp": 130},
            {"vehicle_id": 2, "route_id": 6, "lat": 50.47, "lon": 30.61,
             "direction": 0, "flag": 0, "timestamp": 120},
        ],
    }) + "\n")
    fixes = read_positions_ordered(spark, str(path))
    rows = map_rows(fixes, speed_samples(fixes))
    plotted = rows.collect()
    assert len(plotted) == 2

    out = tmp_path / "map.html"
    assert render_map_html(rows, str(out)) == 2
    la, lo = _rendered_center(out.read_text())
    assert la == sum(r.lat for r in plotted) / 2
    assert lo == sum(r.lon for r in plotted) / 2

    empty = tmp_path / "empty.html"
    assert render_map_html(rows.limit(0), str(empty)) == 0
    assert _rendered_center(empty.read_text()) == KYIV_CENTER
