"""Unit tests for the EWAY binary GPS decoder (sources/eway.py).

Fixtures are synthesized with the same ``<II`` little-endian fixed-point
layout the reference wire carries (ws_interceptor.py:22-23,117-124):
(lon*1e8, lat*1e8) uint32 pairs, base64-encoded.

NOTE on the wire format: uint32/1e8 caps representable coordinates at
[0, 42.95) — so the reference's -90..90/-180..180 validity check can never
reject a decoded pair, and the kyiv (lat 50.3+) / ukraine (lat 44+)
categories are unreachable from real frames (consistent with the pipeline
being "blocked upstream" per the reference docs). Decode tests therefore
use representable coords; categorization is tested on constructed rows.
"""

from __future__ import annotations

import base64
import struct

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.sources.eway import (
    GPS_SCALE,
    REPORT_OTHER_CAP,
    build_report,
    categorize,
    decode_messages,
)

ANKARA = (37.0, 38.0)  # lat, lon — inside the Turkey/Syria named bbox
SUDAN = (20.0, 35.0)  # Red Sea/Sudan named region
GULF = (5.0, 10.0)  # unknown other


def encode_pairs(*latlon, pad_garbage=0):
    data = b"".join(
        struct.pack("<II", int(lon * GPS_SCALE), int(lat * GPS_SCALE))
        for lat, lon in latlon
    )
    data += b"\x01" * pad_garbage  # trailing partial pair must be ignored
    return base64.b64encode(data).decode().rstrip("=")


def _decode(spark, messages, min_len=0):
    raw = spark.createDataFrame([(m,) for m in messages], "value string")
    return decode_messages(raw, min_len=min_len)


def test_decode_roundtrip(spark):
    msg = encode_pairs(ANKARA, SUDAN, pad_garbage=3)
    rows = _decode(spark, [msg]).collect()
    assert len(rows) == 2
    assert rows[0].offset == 0 and rows[1].offset == 8
    assert rows[0].latitude == pytest.approx(ANKARA[0], abs=1e-7)
    assert rows[0].longitude == pytest.approx(ANKARA[1], abs=1e-7)


def test_arbitrary_bytes_decode_in_range(spark):
    # Any uint32 payload decodes to coords in [0, 43) — garbage bytes never
    # produce out-of-range rows, and offsets track true byte positions.
    msg = base64.b64encode(bytes(range(248)) * 2).decode()
    rows = _decode(spark, [msg]).collect()
    assert len(rows) == (248 * 2) // 8
    assert all(0 <= r.latitude < 43 and 0 <= r.longitude < 43 for r in rows)
    assert [r.offset for r in rows] == list(range(0, 248 * 2 - 7, 8))


def test_non_base64_dropped_not_fatal(spark):
    assert _decode(spark, ["!!!not base64!!!", ""]).collect() == []


def test_base64_padding_repaired(spark):
    # rstrip("=") in encode_pairs strips padding; decoder must repair it.
    msg = encode_pairs(GULF)
    assert "=" not in msg and len(msg) % 4 != 0
    assert len(_decode(spark, [msg]).collect()) == 1


def test_length_gate(spark):
    short = encode_pairs(GULF)  # ~11 chars, below the reference's 100 gate
    assert _decode(spark, [short], min_len=100).collect() == []
    assert len(_decode(spark, [short], min_len=0).collect()) == 1


def _gps_df(spark, *latlon):
    return spark.createDataFrame(
        [(la, lo, i * 8) for i, (la, lo) in enumerate(latlon)],
        "latitude double, longitude double, offset int",
    )


def test_categorize_regions(spark):
    kyiv, lviv = (50.45, 30.52), (49.84, 24.03)
    cat = categorize(_gps_df(spark, kyiv, lviv, ANKARA, GULF))
    got = {r.offset: (r.region, r.region_detail) for r in cat.collect()}
    assert got[0] == ("kyiv", None)
    assert got[8] == ("ukraine", None)
    assert got[16] == ("other", "Turkey/Syria")
    assert got[24] == ("other", "Unknown region")


def test_categorize_drops_invalid_coords(spark):
    cat = categorize(_gps_df(spark, (95.0, 30.0), (50.45, 30.52)))
    assert cat.count() == 1


def test_report_shape_and_cap(spark):
    msg = encode_pairs(SUDAN, *([GULF] * (REPORT_OTHER_CAP + 4)))
    report = build_report(categorize(_decode(spark, [msg])))
    n = REPORT_OTHER_CAP + 5
    assert report["summary"] == {"total": n, "kyiv": 0, "ukraine": 0, "other": n}
    assert len(report["other_positions"]) == REPORT_OTHER_CAP
    assert set(report["other_positions"][0]) == {"latitude", "longitude", "offset"}
