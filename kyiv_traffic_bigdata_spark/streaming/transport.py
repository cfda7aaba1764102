"""Live Socket.IO/Engine.IO transport behind the ``kpt_socketio`` seam —
SURVEY §2.8 ST7 (reconnect/backoff) + ST9 (session refresh on 403).

The reference runs a full asyncio WebSocket client
(``kpt/poller/websocket_client.py:135-374``: polling handshake, ws
upgrade probe, ping/pong keepalive, exponential reconnect backoff) over
an HTTP session that raises on 403 and is refreshed by the poller
(``kpt/poller/session.py:49-77``, ``poller.py:173-187``).

Spark-first restatement, three layers:

1. **Sans-IO protocol core** (this module, pure functions + state
   machine): Engine.IO payload codec, keepalive state machine,
   backoff and session-refresh policies. No sockets anywhere, so every
   protocol path — including the 403 dance — is unit-testable offline
   against the shipped ``kpt_poller.log`` frames.
2. **Transport**: a REAL stdlib long-polling transport (Engine.IO's
   polling mode is plain HTTP GET/POST — no WebSocket library needed,
   same urllib posture as sources/weather.py). The client loop takes
   any object with the same duck type, which is how tests script it.
3. **The Spark seam**: :class:`LiveSocketIOClient` is a tiny edge agent
   that appends raw frames to a transcript file — the very file
   ``kpt_socketio`` (streaming/socketio.py) tails as a Structured
   Streaming source. The client is the reference's poller process; the
   transcript is its WAL; Spark's checkpoint supplies exactly-once
   downstream. Live ingest and replay testing are the same pipeline.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .socketio import FRAME_NS_CONNECT, FRAME_PING, FRAME_PONG, parse_handshake

# ---------------------------------------------------------------------------
# Engine.IO v3 polling payload codec (public protocol: each packet is
# ``<length>:<packet>`` with length counted in characters).
# ---------------------------------------------------------------------------


def decode_polling_payload(payload: str) -> list[str]:
    """Split an EIO=3 polling body into packets. Malformed tails are
    dropped (never raises) — matching the reference parser posture of
    "log and continue" (parsers.py)."""
    packets: list[str] = []
    i, n = 0, len(payload)
    while i < n:
        colon = payload.find(":", i)
        if colon < 0:
            break
        try:
            length = int(payload[i:colon])
        except ValueError:
            break
        start = colon + 1
        end = start + length
        if length < 0 or end > n:
            break
        packets.append(payload[start:end])
        i = end
    return packets


def encode_polling_payload(packets: list[str]) -> str:
    """Inverse of :func:`decode_polling_payload`."""
    return "".join(f"{len(p)}:{p}" for p in packets)


def handshake_url(base_url: str) -> str:
    """Polling handshake URL (reference websocket_client.py:193)."""
    return f"{base_url.rstrip('/')}/socket.io/?EIO=3&transport=polling"


def polling_url(base_url: str, sid: str) -> str:
    return f"{base_url.rstrip('/')}/socket.io/?EIO=3&transport=polling&sid={sid}"


# ---------------------------------------------------------------------------
# Sans-IO actions: the state machine returns these; the driving loop
# performs them. Keeps every protocol decision synchronous and testable.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Send:
    """Write this text frame to the transport."""

    data: str


@dataclass(frozen=True)
class Deliver:
    """Hand this data frame downstream (the transcript sink)."""

    frame: str


@dataclass(frozen=True)
class Closed:
    """The server ended the Engine.IO session (close packet ``1``) —
    the driving loop must reconnect, not keep polling a dead sid."""


class SocketIOStateMachine:
    """Engine.IO/Socket.IO client protocol over long-polling, sans IO.

    Mirrors the reference's frame handling
    (websocket_client.py:244-269 ``_handle_protocol_message`` /
    ``_handle_message``; 295-330 keepalive), minus its ws upgrade:

    * the session is live as soon as the handshake + namespace connect
      complete — no probe dance, and the ws-only ``5`` packet is never
      sent (a protocol violation on polling). Keepalive pings flow
      immediately;
    * server ``2`` (ping) → answer ``3`` (pong); ``3`` (pong) /
      ``6`` (noop) / ``40`` / ``0{...}`` → bookkeeping only;
    * ``1`` (close) → :class:`Closed`, never delivered downstream;
    * idle longer than ping_interval → send ``2`` (client ping);
    * anything else non-protocol (``42[...]`` events, unknown frames the
      parser may still salvage) → delivered downstream.
    """

    def __init__(self, ping_interval_s: float, clock=time.monotonic):
        self.ping_interval = ping_interval_s
        self._clock = clock
        self.connected = False
        self._last_ping = clock()
        self.stats = {"messages": 0, "delivered": 0, "pings_sent": 0}

    def on_open(self) -> list:
        """Channel established: a polling session is already working."""
        self._last_ping = self._clock()
        self.connected = True
        return []

    def on_frame(self, message: str) -> list:
        self.stats["messages"] += 1
        if not message:
            return []
        if message == FRAME_PONG:
            return []
        if message == FRAME_PING:
            return [Send(FRAME_PONG)]
        if message == "1":  # Engine.IO close: session is gone
            self.connected = False
            return [Closed()]
        if message == "6":  # Engine.IO noop (poll cycling): ignore
            return []
        if message == FRAME_NS_CONNECT or message.startswith("0{"):
            return []  # namespace ack / open packet: no data
        self.stats["delivered"] += 1
        return [Deliver(message)]

    def on_tick(self) -> list:
        """Call periodically (e.g. per recv timeout): emits a keepalive
        ping when one is due (websocket_client.py:323-330)."""
        now = self._clock()
        if self.connected and now - self._last_ping > self.ping_interval:
            self._last_ping = now
            self.stats["pings_sent"] += 1
            return [Send(FRAME_PING)]
        return []


@dataclass
class BackoffPolicy:
    """ST7: exponential reconnect backoff — starts at ``base``, doubles
    per consecutive failure, capped at ``cap``, reset on success
    (websocket_client.py:334-374, poller.py:32-48)."""

    base: float = 5.0
    cap: float = 300.0
    _delay: float = field(init=False, default=0.0)

    def __post_init__(self) -> None:
        self._delay = self.base

    def next_delay(self) -> float:
        d = self._delay
        self._delay = min(self._delay * 2, self.cap)
        return d

    def reset(self) -> None:
        self._delay = self.base


class SessionPolicy:
    """ST9: when to throw the HTTP session away and start fresh.

    Refresh immediately on 403 (cookies expired —
    session.py:49-77 raises, poller.py:173-177 refreshes), and after
    MAX_FAILURES consecutive failures of any kind
    (poller.py:184-187). Success resets the streak.
    """

    MAX_FAILURES = 5

    def __init__(self):
        self.consecutive_failures = 0
        self.refreshes = 0

    def record_success(self) -> None:
        self.consecutive_failures = 0

    def record_failure(self, http_status: int | None) -> bool:
        """Returns True when the session must be refreshed now."""
        self.consecutive_failures += 1
        if http_status == 403 or self.consecutive_failures >= self.MAX_FAILURES:
            self.consecutive_failures = 0
            self.refreshes += 1
            return True
        return False


class TransportError(Exception):
    """Transport-level failure; ``status`` carries the HTTP code when one
    exists (403 drives the ST9 refresh path)."""

    def __init__(self, message: str, status: int | None = None):
        super().__init__(message)
        self.status = status


# ---------------------------------------------------------------------------
# Transports
# ---------------------------------------------------------------------------


class PollingTransport:
    """REAL live transport over stdlib urllib: Engine.IO long-polling.

    Engine.IO's polling mode is plain HTTP — GET drains queued packets,
    POST sends ours — so live ingest needs no WebSocket library at all
    (the upgrade to websocket is an optimization the protocol makes
    optional). Same no-extra-deps network posture as sources/weather.py.
    """

    def __init__(self, base_url: str, timeout_s: float = 30.0):
        self.base_url = base_url
        self.timeout_s = timeout_s
        self.sid: str | None = None
        self._rx: list[str] = []

    def _http(self, url: str, data: bytes | None = None) -> str:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            url,
            data=data,
            headers={"Origin": self.base_url},
            method="POST" if data is not None else "GET",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return resp.read().decode("utf-8")
        except urllib.error.HTTPError as exc:  # noqa: PERF203
            raise TransportError(str(exc), status=exc.code) from exc
        except Exception as exc:  # noqa: BLE001 — URLError, socket.timeout
            raise TransportError(str(exc)) from exc

    def handshake(self) -> tuple[str, float]:
        text = self._http(handshake_url(self.base_url))
        sid, ping_ms = parse_handshake(text)
        if not sid:
            raise TransportError(f"unparseable handshake: {text[:100]!r}")
        self.sid = sid
        # queued packets may ride along with the handshake payload
        self._rx.extend(p for p in decode_polling_payload(text) if not p.startswith("0{"))
        return sid, (ping_ms or 25000) / 1000.0

    def connect(self) -> None:
        if self.sid is None:
            raise TransportError("connect before handshake")
        # polling mode: namespace connect goes out as a POSTed packet
        self.send(FRAME_NS_CONNECT)

    def recv(self) -> str | None:
        """Next packet, long-polling the server when the queue is empty.
        Returns None when a poll comes back empty (idle tick)."""
        if self._rx:
            return self._rx.pop(0)
        if self.sid is None:
            raise TransportError("recv before handshake")
        payload = self._http(polling_url(self.base_url, self.sid))
        self._rx.extend(decode_polling_payload(payload))
        return self._rx.pop(0) if self._rx else None

    def send(self, frame: str) -> None:
        if self.sid is None:
            raise TransportError("send before handshake")
        self._http(
            polling_url(self.base_url, self.sid),
            data=encode_polling_payload([frame]).encode("utf-8"),
        )

    def close(self) -> None:
        self.sid = None
        self._rx.clear()

    def refresh(self) -> None:
        """ST9: drop all session state (sid ≈ cookies here); the next
        handshake starts from scratch (session.py:103-108)."""
        self.close()


# ---------------------------------------------------------------------------
# The live client: transport + state machine + policies → transcript file
# ---------------------------------------------------------------------------


class TranscriptSink:
    """Append frames to the file ``kpt_socketio`` tails. Line-buffered
    append is atomic enough for a single writer + tailing reader (the
    reader counts whole lines only)."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, frame: str) -> None:
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(frame.replace("\n", " ") + "\n")


class LiveSocketIOClient:
    """Drives any transport through the protocol state machine and spools
    data frames to a sink; reconnects with exponential backoff (ST7) and
    refreshes the session on 403 / repeated failures (ST9).

    The synchronous single-threaded loop replaces the reference's asyncio
    task graph — an edge agent feeding a transcript needs no concurrency;
    Spark owns all downstream parallelism.
    """

    def __init__(self, transport, sink, sleep=time.sleep):
        self.transport = transport
        self.sink = sink
        self.backoff = BackoffPolicy()
        self.session = SessionPolicy()
        self._sleep = sleep
        self.machine: SocketIOStateMachine | None = None
        self.stats = {"connections": 0, "frames": 0, "errors": 0}

    def _apply(self, actions: list) -> None:
        for act in actions:
            if isinstance(act, Send):
                self.transport.send(act.data)
            elif isinstance(act, Deliver):
                self.sink(act.frame)
                self.stats["frames"] += 1

    def run(self, max_frames: int | None = None, max_connects: int | None = None) -> None:
        """Pump until ``max_frames`` data frames are sunk (None = forever)
        or ``max_connects`` connection attempts are exhausted."""
        connects = 0
        refreshed_last = False
        while max_frames is None or self.stats["frames"] < max_frames:
            if max_connects is not None and connects >= max_connects:
                return
            connects += 1
            try:
                _sid, ping_s = self.transport.handshake()
                self.machine = SocketIOStateMachine(ping_s)
                self.transport.connect()
                self._apply(self.machine.on_open())
                self.session.record_success()
                self.backoff.reset()
                refreshed_last = False
                self.stats["connections"] += 1
                self._pump(max_frames)
            except TransportError as exc:
                self.stats["errors"] += 1
                if self.session.record_failure(exc.status):
                    self.transport.refresh()
                    # the FIRST refresh retries immediately (the reference's
                    # 403 dance), but refresh-looping (server 403s every
                    # fresh session) must back off like any other outage —
                    # otherwise this is a zero-delay hammer loop
                    if refreshed_last:
                        self._sleep(self.backoff.next_delay())
                    refreshed_last = True
                    continue
                refreshed_last = False
                self._sleep(self.backoff.next_delay())

    def _pump(self, max_frames: int | None) -> None:
        assert self.machine is not None
        while max_frames is None or self.stats["frames"] < max_frames:
            frame = self.transport.recv()  # None = idle poll timeout
            if frame is None:
                self._apply(self.machine.on_tick())
                continue
            for act in self.machine.on_frame(frame):
                if isinstance(act, Closed):
                    raise TransportError("server closed the session")
                self._apply([act])
