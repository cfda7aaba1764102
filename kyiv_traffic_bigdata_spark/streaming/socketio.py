"""Socket.IO streaming source — SURVEY §2.1 S5/S7/S8, §2.8 ST6/ST7.

The reference ingests vehicle positions over Engine.IO/Socket.IO
(``kpt/poller/websocket_client.py:135-374``): HTTP handshake returning
``<len>:0{"sid":...,"pingInterval":...}``, WebSocket upgrade via
``2probe``/``3probe``/``5`` then ``40`` namespace connect, ``2``/``3``
ping-pong keepalive, and ``42["event",payload]`` data frames. Its
hand-built WAL (bounded deque mirrored to ws_buffer.jsonl with a
rename-to-.processing two-phase flush, ``websocket_client.py:25-95``)
exists only to survive crashes.

Spark-first restatement: a **Python DataSource** (Spark 4 API) whose
offsets are monotone frame sequence numbers. Structured Streaming's
checkpoint (offsets + commits WAL) then subsumes S7/S8 recovery wholesale
— ``readBetweenOffsets`` replays any uncommitted range, so crash recovery
is exact instead of at-least-once.

The source replays a captured frame-per-line transcript from disk.
``maxFramesPerBatch`` bounds each micro-batch — the declarative analog
of the reference's drop-oldest backpressure (ST6), except nothing is
ever dropped. Live capture is the CLI ``poll`` command: the Engine.IO
long-polling client in streaming/transport.py appends frames to the
transcript this source tails.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

#: Engine.IO protocol text frames (reference websocket_client.py:244-269).
FRAME_PING = "2"
FRAME_PONG = "3"
FRAME_NS_CONNECT = "40"


def parse_handshake(text: str) -> tuple[str | None, int | None]:
    """Extract (sid, pingInterval ms) from an Engine.IO handshake body
    ``<length>:0{json}`` (reference parsers.py:137-165). Returns
    (None, None) on anything malformed — never raises."""
    marker = text.find(":0{")
    if marker < 0:
        return None, None
    depth, start = 0, marker + 2
    for i in range(start, len(text)):
        if text[i] == "{":
            depth += 1
        elif text[i] == "}":
            depth -= 1
            if depth == 0:
                try:
                    obj = json.loads(text[start : i + 1])
                except json.JSONDecodeError:
                    return None, None
                return obj.get("sid"), obj.get("pingInterval")
    return None, None


class _TranscriptStreamReader(SimpleDataSourceStreamReader):
    """Replays a frame-per-line transcript file as a stream.

    Offset = {"seq": <count of frames emitted so far>}. The file may grow
    between batches (tail semantics). The *simple* reader API is
    deliberate: ``read(start)`` always receives the last committed offset
    — including across restarts — so progress can never run backwards and
    ``readBetweenOffsets`` replays any uncommitted range byte-identically
    (exactly-once downstream). A low-throughput driver-side reader is the
    right physical shape for a ~25 msg/s protocol feed; partition-level
    parallelism belongs to the downstream parse, not the tail.
    """

    def __init__(self, options: dict):
        path = options.get("transcript")
        if not path:
            raise ValueError(
                "kpt_socketio: option 'transcript' is required (capture "
                "one with the CLI 'poll' command, then replay it)"
            )
        self.path = path
        self.max_per_batch = int(options.get("maxFramesPerBatch", 10_000))

    def _lines(self) -> list[str]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, encoding="utf-8") as fh:
            return [line.rstrip("\n") for line in fh]

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # advance at most max_per_batch per micro-batch: declarative
        # backpressure (ST6) with nothing dropped, unlike the reference's
        # drop-oldest bounded queue
        lines = self._lines()
        lo = start["seq"]
        hi = min(len(lines), lo + self.max_per_batch)
        # a concrete list, not a generator: the engine pickles the batch
        # for prefetch/replay
        rows = [(i, lines[i]) for i in range(lo, hi)]
        return rows, {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        lines = self._lines()
        return [(i, lines[i]) for i in range(start["seq"], min(end["seq"], len(lines)))]

    def commit(self, end: dict) -> None:
        pass  # transcript is immutable history; nothing to release


class KptSocketIODataSource(DataSource):
    """``spark.readStream.format("kpt_socketio").option("transcript", p)``.

    Emits ``(seq long, value string)`` raw frames; feed into
    ``sources.kpt.parse_messages`` for the full P1–P5 pipeline.
    """

    @classmethod
    def name(cls) -> str:
        return "kpt_socketio"

    def schema(self) -> str:
        return "seq long, value string"

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _TranscriptStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(KptSocketIODataSource)
