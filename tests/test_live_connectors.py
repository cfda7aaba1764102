"""Offline tests for the live-network connector layer: Overpass POST
pacing/error handling (S9) and the EWAY timed capture session (S13).
All transports are injected fakes — no sockets."""

from __future__ import annotations

import json
from urllib.parse import parse_qs

import pytest

from kyiv_traffic_bigdata_spark.sources.eway import TimedCapture, live_eway_recv
from kyiv_traffic_bigdata_spark.sources.osm import (
    OverpassClient,
    OverpassHTTPError,
    dataset_queries,
)


class FakeClock:
    def __init__(self):
        self.now = 0.0
        self.sleeps = []

    def __call__(self):
        return self.now

    def sleep(self, s):
        self.sleeps.append(s)
        self.now += s


def _client(responses, clock):
    calls = []

    def transport(url, form):
        calls.append((url, form))
        return responses.pop(0)

    c = OverpassClient(transport=transport, clock=clock, sleep=clock.sleep)
    return c, calls


def test_overpass_posts_form_encoded_query():
    clock = FakeClock()
    body = json.dumps({"version": 0.6, "elements": [{"type": "node", "id": 1}]})
    c, calls = _client([(200, body)], clock)
    out = c.execute('[out:json];way["highway"];out body;')
    assert out["elements"][0]["id"] == 1
    url, form = calls[0]
    assert url.endswith("/api/interpreter")
    sent = parse_qs(form.decode())["data"][0]
    assert sent == '[out:json];way["highway"];out body;'


def test_overpass_rate_limits_between_requests():
    """Reference pacing (importer.py:117-120): ≥1.5 s between POSTs; the
    first request never waits, a later one waits only the remainder."""
    clock = FakeClock()
    body = json.dumps({"elements": []})
    c, _ = _client([(200, body)] * 3, clock)
    c.execute("q1")
    assert clock.sleeps == []  # first request: no wait
    clock.now += 0.5  # only 0.5s since last
    c.execute("q2")
    assert clock.sleeps == [1.0]  # slept the remaining 1.0s
    clock.now += 10.0  # long idle: no sleep needed
    c.execute("q3")
    assert clock.sleeps == [1.0]


def test_overpass_raises_on_http_error():
    clock = FakeClock()
    c, _ = _client([(429, "rate limited")], clock)
    with pytest.raises(OverpassHTTPError) as ei:
        c.execute("q")
    assert ei.value.status == 429


def test_overpass_fetch_dataset_roundtrips_to_reader_file(tmp_path):
    """fetch_dataset writes the exact file shape read_osm_elements scans."""
    clock = FakeClock()
    body = json.dumps(
        {
            "version": 0.6,
            "elements": [
                {"type": "node", "id": 7, "lat": 50.45, "lon": 30.52,
                 "tags": {"highway": "traffic_signals"}}
            ],
        }
    )
    c, calls = _client([(200, body)], clock)
    out_file = tmp_path / "signals.json"
    resp = c.fetch_dataset("traffic_signals", out_path=str(out_file))
    assert resp["elements"][0]["id"] == 7
    # the posted query is the DSL-built one for that dataset
    sent = parse_qs(calls[0][1].decode())["data"][0]
    assert sent == dataset_queries()["traffic_signals"]
    assert json.loads(out_file.read_text())["elements"][0]["lat"] == 50.45
    with pytest.raises(KeyError):
        c.fetch_dataset("nope", out_path=str(out_file))


def test_timed_capture_respects_deadline_and_timeouts():
    """S13 session semantics (ws_interceptor.py:174-196): run for the
    duration, count idle ticks, spool every message."""
    clock = FakeClock()
    script = [b"frame1", None, b"frame2", None, None, b"frame3"]

    def recv():
        clock.now += 30.0  # each recv costs 30s of session time
        return script.pop(0) if script else None

    out = []
    cap = TimedCapture(recv, out.append, clock=clock, duration_minutes=3)
    stats = cap.run()
    # 180s / 30s per recv = 6 receives: 3 frames + 3 timeouts
    assert out == [b"frame1", b"frame2", b"frame3"]
    assert stats["messages"] == 3 and stats["timeouts"] == 3
    assert not stats["closed"]


def test_timed_capture_stops_on_connection_close():
    clock = FakeClock()
    script = [b"frame1", ConnectionError("server closed")]

    def recv():
        clock.now += 1.0
        item = script.pop(0)
        if isinstance(item, Exception):
            raise item
        return item

    out = []
    stats = TimedCapture(recv, out.append, duration_minutes=3, clock=clock).run()
    assert out == [b"frame1"]
    assert stats["closed"] and stats["messages"] == 1


def test_live_recv_decodes_frames_via_injected_connection():
    """The live ws binding (no longer a stub) maps RFC 6455 frames to the
    TimedCapture contract: text → str, binary → bytes, None on idle."""
    from kyiv_traffic_bigdata_spark.streaming.ws import OP_BINARY, OP_TEXT

    class FakeConn:
        def __init__(self):
            self.connected = False
            self.script = [
                (OP_TEXT, "hello".encode("utf-8")),
                (OP_BINARY, b"\x01\x02\x03"),
                None,  # idle timeout
            ]

        def connect(self):
            self.connected = True

        def recv_message(self):
            if not self.script:
                raise ConnectionError("closed")
            return self.script.pop(0)

    conn = FakeConn()
    recv = live_eway_recv("wss://example.invalid/ws", connection=conn)
    assert conn.connected
    assert recv() == "hello"
    assert recv() == b"\x01\x02\x03"
    assert recv() is None
    with pytest.raises(ConnectionError):
        recv()
