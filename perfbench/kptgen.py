"""Seeded synthetic Kyiv KPT capture with exact ground truth.

The capture imitates the reference poller's shipped data (BASELINE.md):
about 2.3k vehicles on about 260 routes, about 10% re-sent duplicate
``(vehicle_id, timestamp)`` keys, about 87% stale device clocks, and every
payload form the parser accepts (Socket.IO CSV list, Socket.IO dict list,
bare CSV) mixed with frames it must drop (protocol frames, malformed
frames, wrong-arity CSV, non-position events, fixes outside the bounding
box).

It is written in two shapes:

* ``frames/part-NNN.txt``: the raw frame transcript, for the streaming
  ingest graph;
* ``positions.jsonl`` and ``routes.jsonl``: the envelopes the reference
  poller writes from the same frames (duplicates included, as in its
  at-least-once output), for the batch analytics chain.

:func:`expected_analytics` recomputes ``kpt_pipeline``'s route stats and
map rows from the generated fixes in plain Python, following the reference
semantics the pipeline documents.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

# KYIV_BBOX_POLLER, the ingest graph's default filter.
BBOX = (50.2, 50.7, 30.2, 31.0)
# Vehicles stay inside this box, well within BBOX.
DRIVE_BOX = (50.30, 50.60, 30.30, 30.90)
CAPTURE_START = 1_770_458_400  # 2026-02-07T10:00:00Z
FLUSH_S = 5
STALE_BEFORE = 1_767_225_600  # 2026-01-01T00:00:00Z
EARTH_RADIUS_KM = 6371.0


@dataclass
class Capture:
    frames: list[str]
    envelopes: list[dict]
    route_polls: list[dict]
    # (envelope index, index in envelope, vehicle_id, route_id, lat, lon,
    # direction, flag, timestamp), one per in-box position, duplicates included
    fixes: list[tuple] = field(default_factory=list)

    @property
    def positions(self) -> int:
        return len(self.fixes)

    @property
    def distinct_keys(self) -> int:
        return len({(f[2], f[8]) for f in self.fixes})

    @property
    def vehicles(self) -> int:
        return len({f[2] for f in self.fixes})

    @property
    def routes(self) -> int:
        return len({f[3] for f in self.fixes})

    @property
    def stale_share(self) -> float:
        return sum(f[8] < STALE_BEFORE for f in self.fixes) / max(1, len(self.fixes))

    @property
    def duplicate_share(self) -> float:
        return 1.0 - self.distinct_keys / max(1, len(self.fixes))

    def truth(self) -> dict:
        return {
            "frames": len(self.frames),
            "positions": self.positions,
            "distinct_keys": self.distinct_keys,
            "vehicles": self.vehicles,
            "routes": self.routes,
        }


def _csv(p: dict) -> str:
    return (
        f"{p['vehicle_id']},{p['route_id']},{p['lat']:.6f},{p['lon']:.6f},"
        f"{p['direction']},{p['flag']},{p['timestamp']}"
    )


def _dict(p: dict, rng: np.random.Generator) -> dict:
    d = {
        "lat": float(f"{p['lat']:.6f}"),
        "lon": float(f"{p['lon']:.6f}"),
        "direction": p["direction"],
        "flag": p["flag"],
        "timestamp": p["timestamp"],
    }
    # the reference accepts both key spellings (models.py alias coercion)
    if rng.random() < 0.5:
        d["vehicle_id"], d["route_id"] = p["vehicle_id"], p["route_id"]
    else:
        d["id"], d["routeId"] = p["vehicle_id"], p["route_id"]
    return d


def _iso(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S+00:00")


def generate(
    seed: int,
    vehicles: int = 2300,
    routes: int = 260,
    minutes: int = 10,
) -> Capture:
    """A capture of ``minutes`` minutes from ``vehicles`` vehicles."""
    rng = np.random.default_rng(seed)
    route_ids = np.sort(rng.choice(np.arange(1, 5000), routes, replace=False))
    vehicle_ids = np.sort(rng.choice(np.arange(1000, 100000), vehicles, replace=False))
    veh_route = rng.choice(route_ids, vehicles)
    # A few vehicles change route mid-capture: the last-seen route wins.
    switch_route = rng.choice(route_ids, vehicles)
    switches = rng.random(vehicles) < 0.05
    stale = rng.random(vehicles) < 0.87
    clock_offset = np.where(
        stale, -rng.integers(30 * 86400, 6 * 365 * 86400, vehicles), 0
    )
    lat = rng.uniform(DRIVE_BOX[0], DRIVE_BOX[1], vehicles)
    lon = rng.uniform(DRIVE_BOX[2], DRIVE_BOX[3], vehicles)
    heading = rng.uniform(0, 2 * math.pi, vehicles)
    speed_kmh = rng.uniform(5, 60, vehicles)

    duration = minutes * 60
    n_flush = duration // FLUSH_S
    # Each flush window carries the fixes reported in it; a vehicle
    # reports every 20-70 s.
    next_report = rng.integers(0, 40, vehicles)
    per_flush: list[list[dict]] = [[] for _ in range(n_flush)]
    for t in range(0, duration, FLUSH_S):
        due = np.nonzero(next_report < t + FLUSH_S)[0]
        for v in due:
            gap = int(rng.integers(20, 71))
            dist_km = speed_kmh[v] * gap / 3600.0
            if rng.random() < 0.01:
                dist_km *= 20  # GPS jump: an implausible speed the W1 guard drops
            heading[v] += rng.normal(0, 0.4)
            lat[v] += dist_km / 111.0 * math.cos(heading[v])
            lon[v] += dist_km / 71.0 * math.sin(heading[v])
            if not DRIVE_BOX[0] <= lat[v] <= DRIVE_BOX[1]:
                heading[v] = math.pi - heading[v]
                lat[v] = min(max(lat[v], DRIVE_BOX[0]), DRIVE_BOX[1])
            if not DRIVE_BOX[2] <= lon[v] <= DRIVE_BOX[3]:
                heading[v] = -heading[v]
                lon[v] = min(max(lon[v], DRIVE_BOX[2]), DRIVE_BOX[3])
            route = switch_route[v] if switches[v] and t > duration // 2 else veh_route[v]
            per_flush[t // FLUSH_S].append({
                "vehicle_id": int(vehicle_ids[v]),
                "route_id": int(route),
                "lat": float(f"{lat[v]:.6f}"),
                "lon": float(f"{lon[v]:.6f}"),
                "direction": int(rng.integers(0, 2)),
                "flag": int(rng.integers(0, 3)),
                "timestamp": int(CAPTURE_START + int(next_report[v]) + int(clock_offset[v])),
            })
            next_report[v] += gap

    # ~10% re-sends: an exact copy of a fix, within two flushes of it.
    for i in range(n_flush):
        for p in list(per_flush[i]):
            if rng.random() < 0.108:
                j = min(n_flush - 1, i + int(rng.integers(0, 3)))
                per_flush[j].append(dict(p))

    frames: list[str] = []
    envelopes: list[dict] = []
    fixes: list[tuple] = []
    for i, batch in enumerate(per_flush):
        order = rng.permutation(len(batch))
        batch = [batch[k] for k in order]
        envelopes.append({
            "collected_by": "kpt_poller",
            "timestamp": _iso(CAPTURE_START + i * FLUSH_S + FLUSH_S),
            "count": len(batch),
            "positions": batch,
        })
        for k, p in enumerate(batch):
            fixes.append((
                i, k, p["vehicle_id"], p["route_id"], p["lat"], p["lon"],
                p["direction"], p["flag"], p["timestamp"],
            ))
        frames.extend(_frames_for(batch, rng))
        frames.extend(_noise_frames(rng, vehicle_ids))

    polls = _route_polls(rng, route_ids, n_polls=max(2, duration // 30 // 4))
    return Capture(frames=frames, envelopes=envelopes, route_polls=polls, fixes=fixes)


def _frames_for(batch: list[dict], rng: np.random.Generator) -> list[str]:
    """Pack one flush window's fixes into frames of all three payload forms."""
    out: list[str] = []
    k = 0
    while k < len(batch):
        form = rng.random()
        n = int(rng.integers(1, 12))
        chunk = batch[k : k + n]
        if form < 0.15:
            chunk = batch[k : k + 1]
            out.append(_csv(chunk[0]))
        elif form < 0.65:
            out.append('42["vehicles",' + json.dumps([_csv(p) for p in chunk]) + "]")
        else:
            event = ["locations", "positions", "v"][int(rng.integers(0, 3))]
            out.append(
                f'42["{event}",' + json.dumps([_dict(p, rng) for p in chunk]) + "]"
            )
        k += len(chunk)
    return out


def _noise_frames(rng: np.random.Generator, vehicle_ids: np.ndarray) -> list[str]:
    """Frames the parser must drop: about one in six lines."""
    out = []
    for _ in range(int(rng.integers(2, 7))):
        kind = int(rng.integers(0, 6))
        vid = int(rng.choice(vehicle_ids))
        if kind == 0:
            out.append(["2", "3", "40", '0{"sid":"x","pingInterval":25000}'][int(rng.integers(0, 4))])
        elif kind == 1:
            out.append('42["vehicles",["' + str(vid) + ",1,50.4")  # truncated frame
        elif kind == 2:
            out.append(f"{vid},7,50.45,30.52,0,0")  # six fields
        elif kind == 3:
            out.append(f'42["vehicles",["{vid},7,50.45,30.52,0,0,1770000000,9"]]')
        elif kind == 4:
            out.append('42["routes",[{"id":7,"type":1,"number":"7"}]]')
        else:
            # in the wire format, outside the Kyiv box: the bbox filter drops it
            out.append(f"{vid},7,48.{int(rng.integers(0, 999)):03d},24.1,0,0,1770000000")
    return out


def _route_polls(
    rng: np.random.Generator, route_ids: np.ndarray, n_polls: int
) -> list[dict]:
    """Catalog polls: 70% of routes are listed; later polls relabel a few."""
    listed = route_ids[rng.random(len(route_ids)) < 0.7]
    types = {int(r): int(rng.integers(1, 4)) for r in listed}
    numbers = {int(r): str(int(rng.integers(1, 120))) for r in listed}
    polls = []
    for i in range(n_polls):
        for r in rng.choice(listed, max(1, len(listed) // 20)):
            numbers[int(r)] = str(int(rng.integers(1, 120))) + ("K" if i % 2 else "")
        routes = [{"id": r, "type": types[r], "number": numbers[r]} for r in sorted(types)]
        polls.append({
            "collected_by": "kpt_poller",
            "timestamp": _iso(CAPTURE_START + 30 * i),
            "poll_number": i + 1,
            "route_count": len(routes),
            "routes": routes,
        })
    return polls


def write(capture: Capture, out_dir: str, n_files: int) -> dict[str, str]:
    """Write the transcript in ``n_files`` parts plus the two envelope files."""
    frames_dir = os.path.join(out_dir, "frames")
    os.makedirs(frames_dir, exist_ok=True)
    per_file = -(-len(capture.frames) // n_files)
    for i in range(n_files):
        part = capture.frames[i * per_file : (i + 1) * per_file]
        path = os.path.join(frames_dir, f"part-{i:03d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(part) + "\n")
        # the file source orders by modification time, then by name
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    positions = os.path.join(out_dir, "positions.jsonl")
    with open(positions, "w") as fh:
        for env in capture.envelopes:
            fh.write(json.dumps(env) + "\n")
    routes = os.path.join(out_dir, "routes.jsonl")
    with open(routes, "w") as fh:
        for poll in capture.route_polls:
            fh.write(json.dumps(poll) + "\n")
    return {"frames": frames_dir, "positions": positions, "routes": routes}


def _haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) * math.sin(dlat / 2)
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
        * math.sin(dlon / 2) * math.sin(dlon / 2)
    )
    return EARTH_RADIUS_KM * (2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)))


def speed_bucket(speed: float) -> str:
    for limit, name in ((10, "lt10"), (20, "lt20"), (30, "lt30"), (40, "lt40")):
        if speed < limit:
            return name
    return "ge40"


def expected_analytics(capture: Capture) -> dict:
    """Route stats and map rows as ``kpt_pipeline`` defines them.

    Returns ``{"samples": n, "route_stats": {route_id: (n_samples,
    n_vehicles, avg_speed)}, "map_rows": {vehicle_id: (route_id, lat, lon,
    timestamp, avg_speed)}}``.
    """
    by_vehicle: dict[int, list[tuple]] = {}
    for f in capture.fixes:
        if f[2]:
            by_vehicle.setdefault(f[2], []).append(f)
    speeds: dict[int, list[float]] = {}
    for vid, rows in by_vehicle.items():
        rows = sorted(rows, key=lambda f: (f[8], f[0], f[1]))
        for prev, cur in zip(rows, rows[1:]):
            dt = cur[8] - prev[8]
            if not 0 < dt <= 300:
                continue
            speed = _haversine_km(prev[4], prev[5], cur[4], cur[5]) * 3600.0 / dt
            if 0 < speed < 120:
                speeds.setdefault(vid, []).append(speed)
    last_route = {}
    route_vehicles: dict[int, set] = {}
    for f in sorted(capture.fixes, key=lambda f: (f[0], f[1])):
        if f[2] and f[3]:
            last_route[f[2]] = f[3]
            route_vehicles.setdefault(f[3], set()).add(f[2])
    per_route: dict[int, list[float]] = {}
    for vid, s in speeds.items():
        if vid in last_route:
            per_route.setdefault(last_route[vid], []).extend(s)
    route_stats = {
        rid: (len(s), len(route_vehicles.get(rid, ())), sum(s) / len(s))
        for rid, s in per_route.items()
    }
    map_rows = {}
    for vid, rows in by_vehicle.items():
        latest = min(rows, key=lambda f: (-f[8], f[0], f[1]))
        s = speeds.get(vid)
        avg = sum(s) / len(s) if s else 0.0
        map_rows[vid] = (latest[3], latest[4], latest[5], latest[8], avg)
    return {
        "samples": sum(len(s) for s in speeds.values()),
        "route_stats": route_stats,
        "map_rows": map_rows,
    }
