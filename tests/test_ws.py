"""RFC 6455 client tests: pure codec vectors + live loopback-socket
integration (the test is the server, built on the same sans-IO codec).
"""

from __future__ import annotations

import socket
import struct
import threading

import pytest

from kyiv_traffic_bigdata_spark.streaming.ws import (
    OP_BINARY,
    OP_CLOSE,
    OP_CONT,
    OP_PING,
    OP_PONG,
    OP_TEXT,
    WSConnection,
    WSError,
    accept_key,
    build_handshake,
    check_handshake_response,
    decode_frames,
    encode_frame,
)

# ---------------------------------------------------------------------------
# Codec
# ---------------------------------------------------------------------------


def test_accept_key_rfc_vector():
    # the worked example from RFC 6455 §1.3
    assert accept_key("dGhlIHNhbXBsZSBub25jZQ==") == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="


@pytest.mark.parametrize("n", [0, 1, 125, 126, 65535, 65536])
@pytest.mark.parametrize("mask", [None, b"\x01\x02\x03\x04"])
def test_frame_roundtrip_all_length_encodings(n, mask):
    payload = bytes(i % 251 for i in range(n))
    wire = encode_frame(OP_BINARY, payload, mask_key=mask)
    frames, rest = decode_frames(wire)
    assert rest == b""
    assert frames == [(True, OP_BINARY, payload)]


def test_incremental_decode_byte_by_byte():
    wire = encode_frame(OP_TEXT, b"hello", mask_key=b"abcd") + encode_frame(
        OP_PING, b"x"
    )
    got, buf = [], b""
    for i in range(len(wire)):
        buf += wire[i : i + 1]
        frames, buf = decode_frames(buf)
        got.extend(frames)
    assert got == [(True, OP_TEXT, b"hello"), (True, OP_PING, b"x")]


def test_rsv_bits_rejected():
    wire = bytearray(encode_frame(OP_TEXT, b"hi"))
    wire[0] |= 0x40
    with pytest.raises(WSError):
        decode_frames(bytes(wire))


def test_handshake_request_and_response_validation():
    key = "dGhlIHNhbXBsZSBub25jZQ=="
    req = build_handshake("example.com", "/socket.io/?x=1", key, origin="https://o")
    assert b"GET /socket.io/?x=1 HTTP/1.1\r\n" in req
    assert b"Sec-WebSocket-Version: 13\r\n" in req
    ok = (
        b"HTTP/1.1 101 Switching Protocols\r\n"
        b"Upgrade: websocket\r\nConnection: Upgrade\r\n"
        b"Sec-WebSocket-Accept: s3pPLMBiTxaQ9kYGzzhZRbK+xOo=\r\n\r\n"
    )
    check_handshake_response(ok, key)  # no raise
    with pytest.raises(WSError) as ei:
        check_handshake_response(b"HTTP/1.1 403 Forbidden\r\n\r\n", key)
    assert ei.value.status == 403  # the ST9 session-refresh signal
    bad = ok.replace(b"s3pP", b"XXXX")
    with pytest.raises(WSError):
        check_handshake_response(bad, key)


# ---------------------------------------------------------------------------
# Loopback server harness (server role built on the same codec)
# ---------------------------------------------------------------------------


class LoopbackServer:
    """One-connection RFC 6455 server for tests. ``script(conn)`` runs
    after a validated upgrade; ``conn`` is a ServerConn."""

    def __init__(self, script):
        self._script = script
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(1)
        self.port = self._srv.getsockname()[1]
        self.errors: list[str] = []
        self.client_frames: list[tuple[int, bytes]] = []
        self.saw_unmasked_client_frame = False
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        try:
            self._srv.settimeout(10)
            sock, _ = self._srv.accept()
            sock.settimeout(10)
            req = b""
            while b"\r\n\r\n" not in req:
                req += sock.recv(4096)
            key = None
            for line in req.split(b"\r\n"):
                if line.lower().startswith(b"sec-websocket-key:"):
                    key = line.split(b":", 1)[1].strip().decode()
            sock.sendall(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {accept_key(key)}\r\n\r\n"
                ).encode()
            )
            self._script(ServerConn(sock, self))
        except Exception as exc:  # noqa: BLE001 — surfaced by the test
            self.errors.append(f"{type(exc).__name__}: {exc}")
        finally:
            self._srv.close()

    def join(self):
        self._thread.join(timeout=10)
        assert not self._thread.is_alive(), "server thread hung"
        assert self.errors == [], self.errors


class ServerConn:
    def __init__(self, sock, server: LoopbackServer):
        self._sock = sock
        self._server = server
        self._buf = b""
        self._pending: list[tuple[bool, int, bytes]] = []

    def send_raw(self, data: bytes):
        self._sock.sendall(data)

    def send_text(self, text: str):
        self.send_raw(encode_frame(OP_TEXT, text.encode()))

    def recv_frame(self) -> tuple[int, bytes]:
        while not self._pending:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("client EOF")
            # RFC 6455 §5.3 check: with no partial frame buffered, a new
            # chunk starts at a frame boundary — byte 1 must carry MASK
            if not self._buf and len(chunk) >= 2 and not chunk[1] & 0x80:
                self._server.saw_unmasked_client_frame = True
            self._buf += chunk
            frames, self._buf = decode_frames(self._buf)
            self._pending.extend(frames)
        _fin, op, payload = self._pending.pop(0)
        self._server.client_frames.append((op, payload))
        return op, payload

    def expect_text(self, expected: str):
        op, payload = self.recv_frame()
        assert op == OP_TEXT and payload.decode() == expected, (op, payload)

    def close(self, code: int = 1000):
        self.send_raw(encode_frame(OP_CLOSE, struct.pack("!H", code)))
        # drain the client's close echo (best effort)
        try:
            self._sock.settimeout(2)
            self._sock.recv(65536)
        except OSError:
            pass
        self._sock.close()


# ---------------------------------------------------------------------------
# Loopback integration
# ---------------------------------------------------------------------------


def test_wsconnection_loopback_text_ping_fragmentation_close():
    def script(conn: ServerConn):
        conn.send_text("hello")
        conn.send_raw(encode_frame(OP_PING, b"x"))
        op, payload = conn.recv_frame()  # the auto-pong
        assert op == OP_PONG and payload == b"x", (op, payload)
        # fragmented message: text "wor" + continuation "ld"
        first = bytearray(encode_frame(OP_TEXT, b"wor"))
        first[0] &= 0x7F  # clear FIN: more fragments follow
        conn.send_raw(bytes(first))
        conn.send_raw(encode_frame(OP_CONT, b"ld"))
        conn.expect_text("bye")  # client's own send, masked
        conn.close()

    srv = LoopbackServer(script)
    c = WSConnection(f"ws://127.0.0.1:{srv.port}/", timeout_s=5)
    c.connect()
    assert c.recv_message() == (OP_TEXT, b"hello")
    # ping is answered inline while waiting for the next data message
    assert c.recv_message() == (OP_TEXT, b"world")
    c.send_text("bye")
    with pytest.raises(ConnectionError):
        c.recv_message()
    srv.join()
    assert not srv.saw_unmasked_client_frame  # §5.3 client masking held


def test_eway_timed_capture_over_live_websocket(tmp_path):
    """S13 live binding: binary GPS frames arrive over a real socket and
    land in the capture sink as bytes; server close ends the session."""
    from kyiv_traffic_bigdata_spark.sources.eway import TimedCapture, live_eway_recv

    blob = struct.pack("<II", 3050000000, 4245000000)

    def script(conn: ServerConn):
        conn.send_raw(encode_frame(OP_BINARY, blob))
        conn.send_text("info")
        conn.close()

    srv = LoopbackServer(script)
    recv = live_eway_recv(f"ws://127.0.0.1:{srv.port}/", timeout_s=5)
    captured: list = []
    stats = TimedCapture(recv, captured.append, duration_minutes=1).run()
    srv.join()
    assert captured == [blob, "info"]
    assert stats["messages"] == 2 and stats["closed"] is True
