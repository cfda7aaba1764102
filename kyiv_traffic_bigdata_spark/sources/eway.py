"""EWAY binary GPS source — SURVEY §2.1 S13/S14, §2.2 P6/P7, §2.3 F2/F8/F9.

The reference intercepts base64-encoded binary WebSocket frames and decodes
them as a flat sequence of little-endian ``<II`` (lon_raw, lat_raw) uint32
pairs scaled by 1e8 (``eway/pipeline/ws_interceptor.py:97-138``; constants
at ``:22-23``). Invalid coordinates are skipped per-pair, decode failures
drop the whole message, and rows are categorized kyiv / ukraine / other
(``:141-153``).

Spark mapping:

* P6 base64 repair+decode is a pure column expression (``unbase64`` after
  a charset gate + ``=``-padding to a multiple of 4) — JVM-side, codegen'd.
* P7 byte-stride struct unpacking is the one genuinely non-relational step
  (SURVEY §2.9): an Arrow-batched ``pandas_udf`` that turns each binary
  blob into ``array<struct<latitude,longitude,offset>>`` via a single
  vectorized ``numpy.frombuffer`` view per blob — no per-pair Python loop.
* Timestamps: the reference stamps ``datetime.now()`` per message
  (``:110``). The engine takes the ingest timestamp as a *column* so batch
  replays are deterministic (same stance as the KPT parser defaults).

Scale: decode is embarrassingly parallel (one blob → one row group, no
shuffle); the categorize step is a ``when`` cascade. At 100 TB the only
knob is input partition sizing — blobs are independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..config import KYIV_BBOX_NARROW, UKRAINE_BBOX, BoundingBox
from ..functions.geo import classify_region, valid_coords

#: Fixed-point scale for raw uint32 coordinates (ws_interceptor.py:22).
GPS_SCALE = 100_000_000

#: Bytes per (lon, lat) pair (ws_interceptor.py:23).
PAIR_BYTES = 8

#: F9 length gate: skip base64 attempt for short frames (ws_interceptor.py:24).
MIN_B64_LEN = 100

#: Named sub-regions for "other" positions (ws_interceptor.py:29-33):
#: ((lat_min, lat_max), (lon_min, lon_max), label) — first match wins.
FOUND_REGIONS = (
    (BoundingBox(35.0, 40.0, 35.0, 42.0), "Turkey/Syria"),
    (BoundingBox(15.0, 25.0, 30.0, 40.0), "Red Sea/Sudan"),
    (BoundingBox(30.0, 35.0, 15.0, 25.0), "Libya/Egypt"),
)

_DECODED_ELEM = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("offset", T.IntegerType()),
    ]
)


def repair_base64(message: Column) -> Column:
    """P6 (ws_interceptor.py:97-106): pad to a multiple of 4 and decode;
    null (not error) on non-base64 input, matching the reference's
    catch-and-drop contract."""
    pad = (4 - F.length(message) % 4) % 4
    padded = F.concat(message, F.repeat(F.lit("="), pad))
    is_b64 = message.rlike(r"^[A-Za-z0-9+/\s]*=*$")
    return F.when(is_b64, F.unbase64(padded))


@pandas_udf(T.ArrayType(_DECODED_ELEM))
def _decode_frames(blobs: pd.Series) -> pd.Series:
    """P7 (ws_interceptor.py:109-138): stride-8 ``<II`` unpack, /1e8 scale,
    (lon, lat) wire order, per-pair validity skip. Vectorized: one
    ``frombuffer`` + boolean mask per blob, never a per-pair loop."""

    def decode(data):
        if data is None:
            return None
        usable = len(data) - (len(data) % PAIR_BYTES)
        if usable == 0:
            return []
        raw = np.frombuffer(data[:usable], dtype="<u4").reshape(-1, 2)
        lon = raw[:, 0] / GPS_SCALE
        lat = raw[:, 1] / GPS_SCALE
        offsets = np.arange(0, usable, PAIR_BYTES, dtype=np.int32)
        # F2 validity applied per pair (ws_interceptor.py:126-127): with
        # uint32 raws, lon/lat are always >= 0, so only the upper bound bites.
        ok = (lat <= 90.0) & (lon <= 180.0)
        return [
            {"latitude": float(la), "longitude": float(lo), "offset": int(of)}
            for la, lo, of in zip(lat[ok], lon[ok], offsets[ok])
        ]

    return blobs.map(decode)


def decode_messages(raw: DataFrame, min_len: int = MIN_B64_LEN) -> DataFrame:
    """Full S13 decode chain over the ``value`` column: F9 length gate →
    P6 base64 → P7 unpack → one explode → flat GPS rows (latitude,
    longitude, offset + carried columns)."""
    carried = [c for c in raw.columns if c != "value"]
    blobs = (
        raw.where(F.length(F.col("value")) >= min_len)
        .select(*carried, repair_base64(F.col("value")).alias("blob"))
        .where(F.col("blob").isNotNull())
    )
    return (
        blobs.select(*carried, F.explode(_decode_frames(F.col("blob"))).alias("g"))
        .select(*carried, "g.latitude", "g.longitude", "g.offset")
    )


def identify_region(lat: Column, lon: Column) -> Column:
    """Named-region lookup for out-of-Ukraine positions
    (ws_interceptor.py:141-153): first-match bbox list else 'Unknown region'."""
    expr = F.lit("Unknown region")
    for bbox, label in reversed(FOUND_REGIONS):
        expr = F.when(
            lat.between(bbox.lat_min, bbox.lat_max)
            & lon.between(bbox.lon_min, bbox.lon_max),
            F.lit(label),
        ).otherwise(expr)
    return expr


def categorize(gps: DataFrame) -> DataFrame:
    """F8 (ws_interceptor.py:141-153): add ``region`` (kyiv/ukraine/other,
    narrow Kyiv box) and ``region_detail`` (named bbox for 'other') —
    one DataFrame, not the reference's three driver-side lists."""
    lat, lon = F.col("latitude"), F.col("longitude")
    out = gps.where(valid_coords(lat, lon)).withColumn(
        "region", classify_region(lat, lon)
    )
    return out.withColumn(
        "region_detail",
        F.when(F.col("region") == "other", identify_region(lat, lon)),
    )


#: Caps on the position arrays of :func:`build_report`: the reference's
#: ``other`` cap, and the kyiv/ukraine one this engine adds.
REPORT_OTHER_CAP = 100
REPORT_REGION_CAP = 10_000


def build_report(categorized: DataFrame) -> dict:
    """S14 (ws_interceptor.py:259-290): the categorized JSON report —
    summary counts plus per-region position arrays, ``other`` capped.

    Aggregates distribute; the collected arrays are ALL capped (the
    reference caps only "other", but an uncapped driver-side list is a
    100 TB OOM waiting to happen — summary counts stay exact, the
    position arrays are a bounded sample artifact)."""
    counts = {
        r["region"]: r["n"]
        for r in categorized.groupBy("region").agg(F.count("*").alias("n")).collect()
    }
    cols = ["latitude", "longitude", "offset"]

    def rows(region, cap):
        df = categorized.where(F.col("region") == region).select(*cols).limit(cap)
        return [r.asDict() for r in df.collect()]

    return {
        "summary": {
            "total": sum(counts.values()),
            "kyiv": counts.get("kyiv", 0),
            "ukraine": counts.get("ukraine", 0),
            "other": counts.get("other", 0),
        },
        "kyiv_positions": rows("kyiv", REPORT_REGION_CAP),
        "ukraine_positions": rows("ukraine", REPORT_REGION_CAP),
        "other_positions": rows("other", REPORT_OTHER_CAP),
    }


# ---------------------------------------------------------------------------
# S13 live listener — timed, capped capture sessions
# ---------------------------------------------------------------------------

#: Reference listener pacing (ws_interceptor.py:17-24): per-message
#: receive timeout (the 3-minute default session length is the CLI's
#: ``eway-capture --minutes``).
MESSAGE_TIMEOUT_S = 10.0


class TimedCapture:
    """The reference's timed capture loop (ws_interceptor.py:156-231),
    transport-agnostic: listen for ``duration_minutes``, tolerate
    ``recv`` timeouts (logged idle ticks in the reference), stop early on
    connection close, and spool every raw message to a sink.

    ``recv`` is any callable returning the next message (str | bytes),
    ``None`` on a timeout tick, or raising ``ConnectionError`` when the
    server closes — so the session semantics (the part of S13 the round-1
    audit flagged as absent) are fully unit-testable without a WebSocket
    library. The live binding is one line with any ws client:
    ``TimedCapture(ws.recv, sink, minutes).run()``. Captured messages feed
    ``repair_base64``/``decode_gps_frames`` exactly like replayed ones.
    """

    def __init__(self, recv, sink, duration_minutes: float, clock=None):
        import time as _time

        self._recv = recv
        self._sink = sink
        self._clock = clock or _time.monotonic
        self.duration_s = duration_minutes * 60
        self.stats = {"messages": 0, "timeouts": 0, "closed": False}

    def run(self) -> dict:
        deadline = self._clock() + self.duration_s
        while self._clock() < deadline:
            try:
                msg = self._recv()
            except ConnectionError:
                self.stats["closed"] = True  # server hangup ends the session
                break
            if msg is None:
                self.stats["timeouts"] += 1  # idle tick, keep listening
                continue
            self.stats["messages"] += 1
            self._sink(msg)
        return self.stats


def live_eway_recv(url: str, timeout_s: float = MESSAGE_TIMEOUT_S, connection=None):
    """Live WebSocket binding for :class:`TimedCapture` over the stdlib
    RFC 6455 client (streaming/ws.py) — the reference's raw listener
    (ws_interceptor.py:169) without the ``websockets`` dependency.

    Returns a zero-arg ``recv`` callable with exactly the TimedCapture
    contract: next message (str for text frames, bytes for the binary
    GPS frames EWAY actually sends), ``None`` on an idle receive timeout,
    ``ConnectionError`` on server close. Usage::

        conn_recv = live_eway_recv("wss://host/path")
        TimedCapture(conn_recv, sink, 3).run()
    """
    from ..streaming.ws import OP_TEXT, WSConnection

    conn = connection or WSConnection(url, timeout_s=timeout_s)
    conn.connect()

    def recv():
        msg = conn.recv_message()
        if msg is None:
            return None
        opcode, payload = msg
        return payload.decode("utf-8", "replace") if opcode == OP_TEXT else payload

    return recv
