"""Minimal RFC 6455 WebSocket client — stdlib ``socket``/``ssl``/
``base64``/``hashlib`` only, no external library.

Closes the one transport the round-2 audit left stubbed: the reference's
wss upgrade path (``kpt/poller/websocket_client.py:135-374``) and EWAY's
raw binary listener (``eway/pipeline/ws_interceptor.py:156-231``) both
ride the ``websockets`` package; this module plays the same client role
directly against the RFC.

Layering matches streaming/transport.py's sans-IO posture:

* pure codec functions (handshake build/verify, frame encode/decode) —
  unit-testable with no sockets, reusable by the loopback test *server*;
* :class:`WSConnection` — a small blocking connection that reassembles
  fragmented messages, auto-answers pings, and maps the close handshake
  to ``ConnectionError`` (the contract ``TimedCapture`` and the Engine.IO
  transport already expect).

Scope (documented): client side only, no extensions (RSV bits rejected),
no outbound fragmentation (messages we send fit one frame), 2^63 length
cap per the RFC. That is the full requirement set for the two reference
endpoints this backs.
"""

from __future__ import annotations

import base64
import hashlib
import os
import socket
import ssl
import struct
from urllib.parse import urlsplit

#: RFC 6455 §1.3 handshake GUID (public constant).
WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT = 0x0
OP_TEXT = 0x1
OP_BINARY = 0x2
OP_CLOSE = 0x8
OP_PING = 0x9
OP_PONG = 0xA

_CONTROL_OPS = (OP_CLOSE, OP_PING, OP_PONG)


class WSError(Exception):
    """Protocol violation or failed upgrade; ``status`` carries the HTTP
    code when the handshake was refused (403 feeds the ST9 path)."""

    def __init__(self, message: str, status: int | None = None):
        super().__init__(message)
        self.status = status


# ---------------------------------------------------------------------------
# Handshake codec
# ---------------------------------------------------------------------------


def accept_key(key: str) -> str:
    """Server's Sec-WebSocket-Accept for a client key (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((key + WS_GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def build_handshake(host: str, resource: str, key: str, origin: str | None) -> bytes:
    """Client upgrade request (RFC 6455 §4.1)."""
    lines = [
        f"GET {resource} HTTP/1.1",
        f"Host: {host}",
        "Upgrade: websocket",
        "Connection: Upgrade",
        f"Sec-WebSocket-Key: {key}",
        "Sec-WebSocket-Version: 13",
    ]
    if origin:
        lines.append(f"Origin: {origin}")
    return ("\r\n".join(lines) + "\r\n\r\n").encode("ascii")


def check_handshake_response(response: bytes, key: str) -> None:
    """Validate the server's 101 + accept key; raises :class:`WSError`
    (with the HTTP status for non-101s, e.g. the 403 refresh signal)."""
    head, _, _body = response.partition(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    parts = lines[0].split(" ", 2)
    if len(parts) < 2 or not parts[1].isdigit():
        raise WSError(f"malformed upgrade response: {lines[0]!r}")
    status = int(parts[1])
    if status != 101:
        raise WSError(f"upgrade refused: {lines[0]!r}", status=status)
    headers = {}
    for ln in lines[1:]:
        name, _, value = ln.partition(":")
        headers[name.strip().lower()] = value.strip()
    if headers.get("upgrade", "").lower() != "websocket":
        raise WSError("missing Upgrade: websocket header")
    if headers.get("sec-websocket-accept") != accept_key(key):
        raise WSError("Sec-WebSocket-Accept mismatch")


# ---------------------------------------------------------------------------
# Frame codec (sans-IO)
# ---------------------------------------------------------------------------


def mask_bytes(payload: bytes, mask_key: bytes) -> bytes:
    """XOR-mask (involution — also unmasks). int.from_bytes trickery is
    slower than the repeated-key XOR for typical frame sizes; keep simple."""
    if not payload:
        return b""
    reps = -(-len(payload) // 4)
    keystream = (mask_key * reps)[: len(payload)]
    return bytes(a ^ b for a, b in zip(payload, keystream))


def encode_frame(opcode: int, payload: bytes, mask_key: bytes | None = None) -> bytes:
    """One unfragmented (FIN) frame. Client→server frames MUST carry a
    4-byte ``mask_key`` (RFC 6455 §5.3); server frames pass None."""
    b0 = 0x80 | (opcode & 0x0F)
    mask_bit = 0x80 if mask_key is not None else 0
    n = len(payload)
    if n < 126:
        header = struct.pack("!BB", b0, mask_bit | n)
    elif n < 1 << 16:
        header = struct.pack("!BBH", b0, mask_bit | 126, n)
    else:
        header = struct.pack("!BBQ", b0, mask_bit | 127, n)
    if mask_key is None:
        return header + payload
    return header + mask_key + mask_bytes(payload, mask_key)


def decode_frames(buf: bytes) -> tuple[list[tuple[bool, int, bytes]], bytes]:
    """Parse complete frames off the front of ``buf``.

    Returns ``([(fin, opcode, payload), ...], remainder)`` — the
    incremental-read contract: callers append received bytes and re-call.
    Masked (client) frames are unmasked transparently so the test server
    reuses this decoder. Raises :class:`WSError` on RSV bits (extensions
    were not negotiated)."""
    frames: list[tuple[bool, int, bytes]] = []
    i = 0
    while True:
        if len(buf) - i < 2:
            break
        b0, b1 = buf[i], buf[i + 1]
        if b0 & 0x70:
            raise WSError("unexpected RSV bits (no extension negotiated)")
        fin, opcode = bool(b0 & 0x80), b0 & 0x0F
        masked, ln = bool(b1 & 0x80), b1 & 0x7F
        j = i + 2
        if ln == 126:
            if len(buf) - j < 2:
                break
            (ln,) = struct.unpack_from("!H", buf, j)
            j += 2
        elif ln == 127:
            if len(buf) - j < 8:
                break
            (ln,) = struct.unpack_from("!Q", buf, j)
            j += 8
        key = b""
        if masked:
            if len(buf) - j < 4:
                break
            key = buf[j : j + 4]
            j += 4
        if len(buf) - j < ln:
            break
        payload = buf[j : j + ln]
        if masked:
            payload = mask_bytes(payload, key)
        frames.append((fin, opcode, payload))
        i = j + ln
    return frames, buf[i:]


# ---------------------------------------------------------------------------
# Blocking connection
# ---------------------------------------------------------------------------


class WSConnection:
    """Client connection: connect + upgrade, then message-level IO.

    ``recv_message()`` returns ``(opcode, payload)`` for a complete
    (reassembled) data message, ``None`` on an idle receive timeout, and
    raises ``ConnectionError`` when the peer closes (after echoing the
    close frame, per §5.5.1) — exactly the recv contract
    ``sources/eway.TimedCapture`` and the Engine.IO client loop expect.
    Pings are answered inline; pongs are swallowed.
    """

    def __init__(
        self,
        url: str,
        timeout_s: float,
        origin: str | None = None,
        ssl_context: ssl.SSLContext | None = None,
    ):
        self.url = url
        self.timeout_s = timeout_s
        self.origin = origin
        self._ssl_context = ssl_context
        self._sock: socket.socket | None = None
        self._buf = b""
        self._pending: list[tuple[bool, int, bytes]] = []
        self._fragments: list[bytes] = []
        self._frag_opcode: int | None = None

    # -- lifecycle ----------------------------------------------------

    def connect(self) -> None:
        parts = urlsplit(self.url)
        if parts.scheme not in ("ws", "wss"):
            raise WSError(f"not a ws url: {self.url!r}")
        host = parts.hostname or ""
        port = parts.port or (443 if parts.scheme == "wss" else 80)
        resource = parts.path or "/"
        if parts.query:
            resource += "?" + parts.query
        raw = socket.create_connection((host, port), timeout=self.timeout_s)
        if parts.scheme == "wss":
            ctx = self._ssl_context or ssl.create_default_context()
            raw = ctx.wrap_socket(raw, server_hostname=host)
        self._sock = raw
        key = base64.b64encode(os.urandom(16)).decode("ascii")
        raw.sendall(build_handshake(host, resource, key, origin=self.origin))
        response = b""
        while b"\r\n\r\n" not in response:
            chunk = raw.recv(4096)
            if not chunk:
                raise WSError("connection closed during upgrade")
            response += chunk
            if len(response) > 65536:
                raise WSError("oversized upgrade response")
        head, _, rest = response.partition(b"\r\n\r\n")
        check_handshake_response(head + b"\r\n\r\n", key)
        self._buf = rest  # frames may ride the same segment

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._send_frame(OP_CLOSE, struct.pack("!H", 1000))
                self._sock.close()
            except OSError:
                pass
            self._sock = None

    # -- IO -----------------------------------------------------------

    def _send_frame(self, opcode: int, payload: bytes) -> None:
        if self._sock is None:
            raise WSError("not connected")
        self._sock.sendall(encode_frame(opcode, payload, mask_key=os.urandom(4)))

    def send_text(self, text: str) -> None:
        self._send_frame(OP_TEXT, text.encode("utf-8"))

    def send_binary(self, data: bytes) -> None:
        self._send_frame(OP_BINARY, data)

    def recv_message(self) -> tuple[int, bytes] | None:
        """One complete data message; None on timeout (idle tick)."""
        if self._sock is None:
            raise WSError("not connected")
        while True:
            # decoded-but-unprocessed frames survive across calls in
            # _pending, so returning one message never drops the frames
            # decoded right behind it in the same read
            while self._pending:
                fin, opcode, payload = self._pending.pop(0)
                msg = self._handle_frame(fin, opcode, payload)
                if msg is not None:
                    return msg
            frames, self._buf = decode_frames(self._buf)
            if frames:
                self._pending.extend(frames)
                continue
            try:
                chunk = self._sock.recv(65536)
            except (TimeoutError, socket.timeout):  # idle tick
                return None
            except OSError as exc:
                raise ConnectionError(f"socket error: {exc}") from exc
            if not chunk:
                raise ConnectionError("connection closed (EOF)")
            self._buf += chunk

    def _handle_frame(
        self, fin: bool, opcode: int, payload: bytes
    ) -> tuple[int, bytes] | None:
        if opcode in _CONTROL_OPS:
            if not fin:
                raise WSError("fragmented control frame")
            if opcode == OP_PING:
                self._send_frame(OP_PONG, payload)
                return None
            if opcode == OP_PONG:
                return None
            # close: echo then surface as the session-over signal
            try:
                self._send_frame(OP_CLOSE, payload[:2])
                self._sock.close()  # type: ignore[union-attr]
            except OSError:
                pass
            self._sock = None
            raise ConnectionError("server sent close")
        if opcode == OP_CONT:
            if self._frag_opcode is None:
                raise WSError("continuation without a started message")
            self._fragments.append(payload)
            if not fin:
                return None
            whole = b"".join(self._fragments)
            op = self._frag_opcode
            self._fragments, self._frag_opcode = [], None
            return (op, whole)
        # data frame (text/binary)
        if self._frag_opcode is not None:
            raise WSError("new data frame inside a fragmented message")
        if fin:
            return (opcode, payload)
        self._frag_opcode = opcode
        self._fragments = [payload]
        return None
