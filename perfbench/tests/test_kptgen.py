"""The kpt_replay generator's ground truth, checked against an independent
parse of the frames it writes, on a tiny capture."""

import json
import math
import re

import pytest

import kptgen
from kyiv_traffic_bigdata_spark.config import POSITION_EVENT_NAMES

FRAME = re.compile(r'^42\["([^"]+)",(.*)\]$', re.S)


def _csv(text):
    parts = text.split(",")
    if len(parts) != 7:
        return None
    try:
        vid, rid = int(parts[0]), int(parts[1])
        lat, lon = float(parts[2]), float(parts[3])
        int(parts[4]), int(parts[5])
        ts = int(parts[6])
    except ValueError:
        return None
    return vid, rid, lat, lon, ts


def _dict(d):
    vid = d.get("vehicle_id", d.get("id"))
    rid = d.get("route_id", d.get("routeId"))
    if vid is None or rid is None:
        return None
    return vid, rid, d["lat"], d["lon"], d["timestamp"]


def parse(frames):
    """In-bbox positions the engine's parse rules accept, in frame order."""
    lo_lat, hi_lat, lo_lon, hi_lon = kptgen.BBOX
    out = []
    for line in frames:
        pos = _csv(line)
        elems = [pos] if pos else []
        m = None if pos else FRAME.match(line)
        if m and m.group(1) in POSITION_EVENT_NAMES:
            try:
                payload = json.loads(m.group(2))
            except ValueError:
                payload = []
            for e in payload:
                elems.append(_csv(e) if isinstance(e, str) else _dict(e))
        out += [
            p for p in elems
            if p and lo_lat <= p[2] <= hi_lat and lo_lon <= p[3] <= hi_lon
        ]
    return out


@pytest.fixture(scope="module")
def capture():
    return kptgen.generate(7, vehicles=60, routes=9, minutes=3)


def test_frames_parse_to_exactly_the_truth(capture):
    truth = capture.truth()
    parsed = parse(capture.frames)
    assert truth["frames"] == len(capture.frames)
    assert len(parsed) == truth["positions"]
    assert len({(p[0], p[4]) for p in parsed}) == truth["distinct_keys"]
    assert len({p[0] for p in parsed}) == truth["vehicles"] == 60
    assert truth["routes"] <= 9
    # the frames carry the envelopes' fixes, duplicates included
    assert sorted(parsed) == sorted((f[2], f[3], f[4], f[5], f[8]) for f in capture.fixes)


def test_capture_has_the_reference_mix(capture):
    frames = capture.frames
    assert any(not FRAME.match(f) and _csv(f) for f in frames)  # bare CSV
    assert any(f.startswith('42["vehicles",["') for f in frames)  # CSV list
    assert any(f.startswith('42["') and '{"' in f for f in frames)  # dict list
    assert any(f in ("2", "3", "40") or f.startswith("0{") for f in frames)  # protocol
    assert any(not FRAME.match(f) and _csv(f) and not parse([f]) for f in frames)  # out of box
    assert any(f.startswith('42["routes"') for f in frames)  # not a position event
    assert 0.05 < capture.duplicate_share < 0.2
    assert 0.7 < capture.stale_share < 0.98


def test_same_seed_same_capture():
    a = kptgen.generate(3, vehicles=20, routes=4, minutes=1)
    b = kptgen.generate(3, vehicles=20, routes=4, minutes=1)
    c = kptgen.generate(4, vehicles=20, routes=4, minutes=1)
    assert a.frames == b.frames and a.fixes == b.fixes
    assert a.frames != c.frames


def test_expected_analytics_follow_the_fixes(capture):
    exp = kptgen.expected_analytics(capture)
    assert exp["samples"] == sum(n for n, _, _ in exp["route_stats"].values())
    assert set(exp["map_rows"]) == {f[2] for f in capture.fixes}
    for vid, (rid, lat, lon, ts, avg) in exp["map_rows"].items():
        latest = max(f[8] for f in capture.fixes if f[2] == vid)
        assert ts == latest
        assert avg >= 0 and not math.isnan(avg)
    for n, vehicles, avg in exp["route_stats"].values():
        assert n > 0 and vehicles > 0 and 0 < avg < 120
