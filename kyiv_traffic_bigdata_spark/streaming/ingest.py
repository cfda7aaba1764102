"""Streaming ingest graph — SURVEY §3.1's dataflow on Structured Streaming.

Reference hot path (``kpt/poller/poller.py:191-211``,
``websocket_client.py:271-332``): WS frame → parse → bbox filter → TTL
dedup → bounded WAL queue → 5-s flush → rotating daily JSONL. Spark
mapping (SURVEY §3.1): the parse/filter is the same column pipeline the
batch layer uses (one code path, two execution modes); dedup moves into
the state store via ``dropDuplicatesWithinWatermark``; WAL/flush/rotation
collapse into checkpointed micro-batches writing a date-partitioned sink.

Watermarks ride on **ingest time**, never device time — 87% of device
timestamps are stale by years (ST4, SURVEY §7.4) and an event-time
watermark would silently drop nearly everything. Device ``timestamp``
stays payload.

Scale: stateful dedup keys ~(fleet x TTL) — thousands, trivial for the
state store (use RocksDB off-heap on a real cluster); the sink commits
atomically per micro-batch so restarts are exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DEDUP_TTL_S, FLUSH_INTERVAL_S
from ..sources.kpt import parse_messages


def replay_text_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Test/replay source: a directory of raw frame lines as a stream
    (SURVEY §5.5 — file-source replay of WS message logs)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def ingest_transform(raw: DataFrame) -> DataFrame:
    """Raw frame lines → deduplicated position rows with ingest_ts.

    * P1–P5 + F1/F3/F4 via the shared batch/stream parse pipeline;
    * ST3: state-store dedup on (vehicle_id, timestamp) with the
      reference's 60-s TTL (DEDUP_TTL_S) expressed as an ingest-time
      watermark (``websocket_client.py:98-125``).
    """
    parsed = parse_messages(raw.withColumn("ingest_ts", F.current_timestamp()))
    return parsed.withWatermark(
        "ingest_ts", f"{DEDUP_TTL_S} seconds"
    ).dropDuplicatesWithinWatermark(["vehicle_id", "timestamp"])


def start_positions_sink(
    positions: DataFrame,
    out_path: str,
    checkpoint_path: str,
    fmt: str = "json",
    available_now: bool = False,
) -> StreamingQuery:
    """ST1/ST10/S3: micro-batch flush into a date-partitioned store.

    The reference's midnight file rotation (writer.py:18-23) becomes a
    ``date`` partition column; its 5-s flush timer (FLUSH_INTERVAL_S)
    becomes the processing trigger, or ``available_now`` drains what is
    there and stops; its WAL-rename two-phase commit becomes the
    checkpoint.
    """
    # 100 TB state posture: stateful stages (the TTL dedup upstream of
    # this sink) run on RocksDB when the JVM has it — state bounded by
    # local disk, not executor heap. Falls back to the default in-memory
    # provider when absent. Read at query start, so setting it here
    # covers the whole query's stateful operators.
    from .state import configure_state_store

    configure_state_store(positions.sparkSession)
    out = positions.withColumn(
        "date", F.date_format(F.col("ingest_ts"), "yyyyMMdd")
    )
    writer = (
        out.writeStream.format(fmt)
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{FLUSH_INTERVAL_S} seconds")
    return writer.start()


def observed(positions: DataFrame, name: str = "ingest_metrics") -> DataFrame:
    """A8 (reference PollerStats counters): per-batch observable metrics
    surfaced through StreamingQueryListener instead of mutable counters."""
    return positions.observe(
        name,
        F.count(F.lit(1)).alias("positions"),
        F.approx_count_distinct("vehicle_id").alias("vehicles"),
    )
