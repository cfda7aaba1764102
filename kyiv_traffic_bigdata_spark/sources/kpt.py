"""KPT positions/routes format layer — SURVEY §2.1 S1–S4 and §2.2 P1–P5.

Readers for the reference's nested-JSONL envelopes, the full Socket.IO /
CSV message-parse pipeline as pure column expressions, the partitioned
writers, and the ST2 routes refresher. Reference semantics (file:line
cites per function):

* positions envelope: one JSONL line per 5-s flush
  (``kpt/poller/writer.py:86-91``) — ``collected_by``, ISO ingest
  ``timestamp``, ``count``, ``positions: [VehiclePosition]``.
* routes envelope: one line per 30-s poll (``kpt/poller/models.py:42-59``).
* message parsing: CSV-first, then Socket.IO event frame, else drop
  (``kpt/poller/parsers.py:115-134``).

Everything is PERMISSIVE schema-on-read: malformed input degrades to null
rows that the F3 parse-success filter drops — the reference's
"bad input is dropped, never fatal" contract (SURVEY §5).

Scale: readers are plain ``spark.read.json`` scans with explicit schemas
(no inference pass over 100 TB); the parse pipeline is one projection +
filter — fully codegen'd, shuffle-free. The canonical store written by
:func:`write_positions` is date-partitioned parquet.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import (
    KYIV_BBOX_POLLER,
    POSITION_EVENT_NAMES,
    ROUTES_POLL_INTERVAL_S,
)
from ..functions.geo import in_bbox
from ..operators.latest import latest_per_key
from ..schemas import POSITION, POSITIONS_ENVELOPE, ROUTES_ENVELOPE

#: Socket.IO text frame: ``42["event",<payload>]`` (parsers.py:13-14).
SOCKETIO_FRAME_RE = r'^42\["(\w+)",(.*)\]\s*$'

#: Position dict payload with the reference's alias keys
#: (models.py:30-39: ``vehicle_id``|``id``, ``route_id``|``routeId``).
POSITION_DICT_DDL = (
    "vehicle_id LONG, id LONG, route_id LONG, routeId LONG, lat DOUBLE, "
    "lon DOUBLE, direction INT, flag INT, timestamp LONG"
)


# ---------------------------------------------------------------------------
# S1 / S2 — envelope readers
# ---------------------------------------------------------------------------

def read_position_envelopes(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Raw envelope lines (one row per 5-s flush), explicit schema."""
    return spark.read.schema(POSITIONS_ENVELOPE).json(paths)


def read_positions_ordered(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1 (visualize.py:39-45): concat all ``positions`` arrays, with the
    reference's *file order* made explicit.

    Output: one row per vehicle fix + ``ingest_ts`` (envelope collection
    time — the watermark-safe clock, SURVEY ST4) alongside the stale
    device ``timestamp``.

    ``visualize.py`` concatenates envelope lines sequentially, and several
    of its operators are order-dependent (stable sort ties, last-seen route
    J2, first-wins latest-fix ties — SURVEY §7.4). File order ≡ (envelope
    ingest timestamp, index within the envelope's array), which
    ``posexplode`` captures as a total order usable as a window tiebreak.
    """
    env = read_position_envelopes(spark, paths)
    return (
        env.select(
            F.to_timestamp(F.col("timestamp")).alias("ingest_ts"),
            F.posexplode("positions").alias("pos_idx", "p"),
        )
        .select("ingest_ts", "pos_idx", "p.*")
    )


def read_routes(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S2 (visualize.py:48-57): route catalog, last-write-wins per id.

    The reference builds a dict so later JSONL lines overwrite earlier
    ones; file order ≈ poll time, so we define the survivor as
    latest-by-(poll timestamp, poll_number) — deterministic under Spark's
    unordered scan (SURVEY §7.4 order-dependence note).
    """
    env = spark.read.schema(ROUTES_ENVELOPE).json(paths)
    exploded = env.select(
        F.to_timestamp(F.col("timestamp")).alias("poll_ts"),
        F.col("poll_number"),
        F.explode("routes").alias("r"),
    ).select("poll_ts", "poll_number", "r.id", "r.type", "r.number")
    return latest_per_key(exploded, ["id"], ["poll_ts", "poll_number"], ["type", "number"])


def start_routes_refresher(
    spark: SparkSession,
    fetch_routes: Callable[[], list[dict]],
    out_path: str,
    checkpoint_path: str,
    interval_s: int = ROUTES_POLL_INTERVAL_S,
) -> StreamingQuery:
    """ST2 (poller.py:136-189): poll the (injected) route-catalog fetcher
    every ``interval_s`` and append a timestamped snapshot partition.

    The rate source provides the trigger clock + exactly-once batch ids;
    the fetcher is driver-side (a 179-row REST call — there is nothing to
    distribute). Failures in one poll fail that micro-batch and retry on
    the next trigger, mirroring the reference's skip-and-continue loop.
    The refresher only ever appends — :func:`latest_routes_snapshot`
    reduces last-write-wins on read, so there is no read-modify-write
    race, and the append log doubles as a slowly-changing-dimension
    history.
    """
    ticks = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )

    def poll(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        routes = fetch_routes()
        if not routes:
            return
        snapshot = spark.createDataFrame(
            [(int(batch_id), r["id"], r["type"], r["number"]) for r in routes],
            "poll_number long, id long, type int, number string",
        ).withColumn("poll_ts", F.current_timestamp())
        snapshot.write.mode("append").parquet(out_path)

    return (
        ticks.writeStream.foreachBatch(poll)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{interval_s} seconds")
        .start()
    )


def latest_routes_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read side of the refresher's append log: the current catalog, with
    the same last-write-wins rule as :func:`read_routes`."""
    snaps = spark.read.parquet(path)
    return latest_per_key(snaps, ["id"], ["poll_ts", "poll_number"], ["type", "number"])


# ---------------------------------------------------------------------------
# P1–P5 — message parse pipeline (column expressions)
# ---------------------------------------------------------------------------

def parse_csv_position(value: Column) -> Column:
    """P1 (parsers.py:24-53): 7-field CSV line → position struct, null if
    wrong arity or any cast fails (reference drops on first bad cast)."""
    parsed = F.from_csv(value, POSITION.simpleString())
    ok = (
        (F.size(F.split(value, ",", -1)) == 7)
        & parsed["vehicle_id"].isNotNull()
        & parsed["route_id"].isNotNull()
        & parsed["lat"].isNotNull()
        & parsed["lon"].isNotNull()
        & parsed["direction"].isNotNull()
        & parsed["flag"].isNotNull()
        & parsed["timestamp"].isNotNull()
    )
    return F.when(ok, parsed)


def coerce_position_dict(d: Column) -> Column:
    """P4 (models.py:30-39): alias coercion ``id``→``vehicle_id``,
    ``routeId``→``route_id``; null when either key is absent (the
    reference raises → message dropped). Caller supplies the
    timestamp default (now) so batch replays stay deterministic."""
    vid = F.coalesce(d["vehicle_id"], d["id"])
    rid = F.coalesce(d["route_id"], d["routeId"])
    struct = F.struct(
        vid.alias("vehicle_id"),
        rid.alias("route_id"),
        d["lat"].alias("lat"),
        d["lon"].alias("lon"),
        F.coalesce(d["direction"], F.lit(0)).alias("direction"),
        F.coalesce(d["flag"], F.lit(0)).alias("flag"),
        d["timestamp"].alias("timestamp"),
    )
    return F.when(vid.isNotNull() & rid.isNotNull(), struct)


def parse_messages(raw: DataFrame, default_ts: Column | None = None) -> DataFrame:
    """P1–P5 + F1/F3/F4 (parsers.py:115-134): raw ``value`` text lines →
    position rows; ``default_ts`` (now by default) fills a missing
    timestamp.

    Dispatch order matches the reference exactly:

    1. bare CSV line (P1);
    2. else Socket.IO frame ``42["evt",payload]`` with evt in the
       POSITION_EVENT_NAMES allowlist (P2/F4), payload exploded (P3)
       where each element is a CSV string or a position dict (P4);
    3. else drop (F3).

    The KYIV_BBOX_POLLER filter (F1) applies inside the same projection,
    mirroring the reference's parse-time pushdown (parsers.py:40-41,100).
    One explode + one filter — no shuffle, fully codegen'd except from_csv.
    """
    v = F.col("value")
    event = F.regexp_extract(v, SOCKETIO_FRAME_RE, 1)
    payload = F.regexp_extract(v, SOCKETIO_FRAME_RE, 2)
    is_event = event.isin(*POSITION_EVENT_NAMES)

    # P3: payload forms — array of CSV strings, array of dicts, a bare JSON
    # string, or a single dict. One normalization covers all four:
    # from_json(·, array<string>) keeps JSON *objects* as their raw JSON
    # text, so every payload becomes array<string> and each element is
    # retried per-shape below (CSV first, then JSON dict) — exactly the
    # reference's per-element dispatch (parsers.py:74-104). Scalars are
    # wrapped in [] because from_json has no scalar-string schema.
    wrapped = F.concat(F.lit("["), payload, F.lit("]"))
    elements = F.coalesce(
        F.from_json(payload, "array<string>"),
        F.from_json(wrapped, "array<string>"),
    )
    event_elements = F.when(is_event, elements)

    csv_direct = parse_csv_position(v)
    # P5 dispatch: CSV-first short-circuit, else event payload elements.
    unified = F.when(csv_direct.isNotNull(), F.array(v)).otherwise(event_elements)

    exploded = raw.select(
        *[c for c in raw.columns if c != "value"],
        F.explode(unified).alias("elem"),
    )
    elem = F.col("elem")
    from_csv_elem = parse_csv_position(elem)
    from_dict_elem = coerce_position_dict(
        F.from_json(elem, f"struct<{POSITION_DICT_DDL}>")
    )
    pos = F.coalesce(from_csv_elem, from_dict_elem)

    out = (
        exploded.select(
            *[c for c in exploded.columns if c != "elem"], pos.alias("p")
        )
        .where(F.col("p").isNotNull())
        .select(*[c for c in exploded.columns if c != "elem"], "p.*")
    )
    ts_default = default_ts if default_ts is not None else F.unix_timestamp()
    out = out.withColumn("timestamp", F.coalesce(F.col("timestamp"), ts_default.cast("long")))
    return out.where(in_bbox(F.col("lat"), F.col("lon"), KYIV_BBOX_POLLER))


# ---------------------------------------------------------------------------
# S3 / S4 — sinks
# ---------------------------------------------------------------------------

def write_positions(df: DataFrame, path: str) -> None:
    """S3 canonical store: parquet partitioned by ``ingest_ts`` date
    (ST10), replacing what ``path`` held."""
    out = df.withColumn("date", F.date_format(F.col("ingest_ts"), "yyyyMMdd"))
    out.write.mode("overwrite").partitionBy("date").parquet(path)


def write_position_envelopes_jsonl(
    df: DataFrame, path: str, collected_by: str = "kyiv_traffic_bigdata_spark"
) -> None:
    """S4 byte-parity mode (writer.py:82-92): wrap rows grouped by ingest
    ts into ``{collected_by, timestamp, count, positions}`` JSONL lines.

    Only for reference-format interchange; the parquet store is canonical.
    """
    env = (
        df.groupBy(F.col("ingest_ts"))
        .agg(
            F.collect_list(
                F.struct(
                    "vehicle_id", "route_id", "lat", "lon", "direction", "flag", "timestamp"
                )
            ).alias("positions")
        )
        .select(
            F.lit(collected_by).alias("collected_by"),
            F.date_format("ingest_ts", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("timestamp"),
            F.size("positions").cast("long").alias("count"),
            "positions",
        )
    )
    env.write.mode("overwrite").json(path)
