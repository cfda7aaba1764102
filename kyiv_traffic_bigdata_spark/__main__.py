"""Command-line parity surface: the reference repo's runnable pipelines
(`python -m kpt.poller`, `kpt/visualize.py`, `eway/pipeline/ws_interceptor.py`,
`open-street-map/pipeline/importer.py`, `weather/pipeline/extract.py`) as one
`python -m kyiv_traffic_bigdata_spark <cmd>` CLI over the Spark engine.

Every network-touching command has an offline twin (`--replay` /
`--from-file`) that reads a captured transcript through the SAME parse
path, so live fetch and replay share one scan — the testable seam the
test-suite drives (tests/test_cli.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(app)


# ---------------------------------------------------------------------------
# visualize — kpt/visualize.py:169-204
# ---------------------------------------------------------------------------

def cmd_visualize(args: argparse.Namespace) -> int:
    from .kpt_pipeline import map_rows, render_map_html, speed_samples
    from .sources.kpt import read_positions_ordered

    spark = _spark("kpt-visualize")
    fixes = read_positions_ordered(spark, args.positions).cache()
    rows = map_rows(fixes, speed_samples(fixes))
    n = render_map_html(rows, args.out)
    print(f"wrote {args.out}: {n} vehicles")
    return 0


# ---------------------------------------------------------------------------
# ingest — captured envelopes -> canonical date-partitioned parquet (S3/ST10)
# ---------------------------------------------------------------------------

def cmd_ingest(args: argparse.Namespace) -> int:
    from .sources.kpt import read_positions_ordered, write_positions

    spark = _spark("kpt-ingest")
    fixes = read_positions_ordered(spark, args.positions)
    write_positions(fixes, args.out)
    print(f"wrote {args.out}")
    return 0


# ---------------------------------------------------------------------------
# poll — live Socket.IO capture (kpt/poller) over the stdlib transport
# ---------------------------------------------------------------------------

def cmd_poll(args: argparse.Namespace) -> int:  # pragma: no cover - network
    from .streaming.transport import (
        LiveSocketIOClient,
        PollingTransport,
        TranscriptSink,
    )

    client = LiveSocketIOClient(PollingTransport(args.url), TranscriptSink(args.out))
    client.run(max_frames=args.max_frames, max_connects=args.max_connects)
    print(json.dumps(client.stats))
    return 0


# ---------------------------------------------------------------------------
# eway-capture — timed binary-WS capture -> categorized JSON report (S13/S14)
# ---------------------------------------------------------------------------

def cmd_eway_capture(args: argparse.Namespace) -> int:
    from .sources.eway import (
        TimedCapture,
        build_report,
        categorize,
        decode_messages,
        live_eway_recv,
    )

    captured: list[str] = []
    if args.replay:
        with open(args.replay, encoding="utf-8") as fh:
            captured = [ln.rstrip("\n") for ln in fh if ln.strip()]
    else:  # pragma: no cover - network path
        recv = live_eway_recv(args.url)
        stats = TimedCapture(
            recv,
            lambda m: captured.append(m if isinstance(m, str) else m.decode("latin1")),
            duration_minutes=args.minutes,
        ).run()
        print(json.dumps(stats), file=sys.stderr)

    spark = _spark("eway-capture")
    raw = spark.createDataFrame([(m,) for m in captured] or [("",)], "value string")
    report = build_report(categorize(decode_messages(raw)))
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=2)
    print(f"wrote {args.out}: {report['summary']}")
    return 0


# ---------------------------------------------------------------------------
# osm-import — Overpass fetch (or replay) -> GeoJSON (S9/S10/S11)
# ---------------------------------------------------------------------------

def cmd_osm_import(args: argparse.Namespace) -> int:
    from .sources.osm import (
        OverpassClient,
        nodes_to_geojson_features,
        read_osm_elements,
        write_geojson,
    )

    src = args.from_file
    if not src:  # pragma: no cover - network path
        OverpassClient().fetch_dataset(args.dataset, out_path=args.elements_out)
        src = args.elements_out

    spark = _spark("osm-import")
    elements = read_osm_elements(spark, src)
    n = write_geojson(nodes_to_geojson_features(elements), args.out)
    print(f"wrote {args.out}: {n} features")
    return 0


# ---------------------------------------------------------------------------
# weather — Open-Meteo fetch (or replay) -> hourly rows (S12 + F-pivot)
# ---------------------------------------------------------------------------

def cmd_weather(args: argparse.Namespace) -> int:
    from .operators.pivot import explode_parallel_arrays
    from .schemas import WEATHER_HOURLY_FIELDS
    from .sources.weather import (
        fetch_weather_json,
        read_weather_json,
        weather_df_from_payload,
    )

    spark = _spark("weather-etl")
    if args.from_file:
        df = read_weather_json(spark, args.from_file)
    else:  # pragma: no cover - network path
        df = weather_df_from_payload(
            spark, fetch_weather_json(start_date=args.start, end_date=args.end)
        )
    hourly = explode_parallel_arrays(
        df.select("hourly.*"), ["time"] + list(WEATHER_HOURLY_FIELDS)
    )
    hourly.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}: {spark.read.parquet(args.out).count()} hourly rows")
    return 0


# ---------------------------------------------------------------------------
# query — run one registered analytics query against a testdata dir
# ---------------------------------------------------------------------------

def cmd_query(args: argparse.Namespace) -> int:
    from .queries import QUERIES

    if args.list:
        for name, fn in QUERIES.items():
            doc = (fn.__doc__ or "").strip().splitlines()
            print(f"{name}: {doc[0] if doc else ''}")
        return 0
    if args.name is None:
        print("one of --name or --list is required", file=sys.stderr)
        return 2
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; one of {sorted(QUERIES)}", file=sys.stderr)
        return 2
    spark = _spark(f"query-{args.name}")
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.show, truncate=False)
    return 0


# ---------------------------------------------------------------------------
# curate — end-to-end corpus curation run (the artifact a training-data
# engineer publishes: kept corpus + per-doc lineage audit + summary)
# ---------------------------------------------------------------------------

def cmd_curate(args: argparse.Namespace) -> int:
    import os

    from pyspark.sql import functions as F

    from .queries import QUERIES
    from .tables import load_table

    spark = _spark("curate")
    lineage = QUERIES["doc_curation_pipeline"](spark, args.sf_dir)
    lineage_path = os.path.join(args.out, "lineage")
    corpus_path = os.path.join(args.out, "corpus")
    lineage.write.mode("overwrite").parquet(lineage_path)
    lineage = spark.read.parquet(lineage_path)  # reuse, don't recompute
    docs = load_table(spark, args.sf_dir, "documents")
    kept = docs.join(
        lineage.where(F.col("kept")).select("doc_id"), "doc_id"
    )
    kept.write.mode("overwrite").parquet(corpus_path)
    stats = lineage.agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("kept").cast("long")).alias("docs_kept"),
        F.sum((~F.col("gopher_ok")).cast("long")).alias("dropped_quality"),
        F.sum((~F.col("is_canonical")).cast("long")).alias("dropped_neardup"),
        F.sum((~F.col("sampled")).cast("long")).alias("dropped_sample"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "docs_in": stats.docs_in,
                "docs_kept": stats.docs_kept,
                "dropped_quality": stats.dropped_quality,
                "dropped_neardup": stats.dropped_neardup,
                "dropped_sample": stats.dropped_sample,
                "corpus": corpus_path,
                "lineage": lineage_path,
            }
        )
    )
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from .tables import run_sql

    spark = _spark("sql")
    df = run_sql(spark, args.sf_dir, args.query)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.show, truncate=False)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kyiv_traffic_bigdata_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("visualize", help="positions JSONL -> Leaflet HTML map")
    v.add_argument("--positions", required=True)
    v.add_argument("--out", required=True)
    v.set_defaults(fn=cmd_visualize)

    i = sub.add_parser("ingest", help="positions JSONL -> date-partitioned parquet")
    i.add_argument("--positions", required=True)
    i.add_argument("--out", required=True)
    i.set_defaults(fn=cmd_ingest)

    po = sub.add_parser("poll", help="live Socket.IO capture -> transcript JSONL")
    po.add_argument("--url", required=True)
    po.add_argument("--out", required=True)
    po.add_argument("--max-frames", type=int, default=None)
    po.add_argument("--max-connects", type=int, default=None)
    po.set_defaults(fn=cmd_poll)

    e = sub.add_parser("eway-capture", help="timed binary-WS capture -> JSON report")
    e.add_argument("--url", default="")
    # the reference listener's capped session (ws_interceptor.py:17-24)
    e.add_argument("--minutes", type=float, default=3.0)
    e.add_argument("--replay", default=None, help="offline: captured b64 lines")
    e.add_argument("--out", required=True)
    e.set_defaults(fn=cmd_eway_capture)

    o = sub.add_parser("osm-import", help="Overpass dataset -> GeoJSON")
    o.add_argument("--dataset", default="transport_stops")
    o.add_argument("--from-file", default=None, help="offline: elements JSON")
    o.add_argument("--elements-out", default="osm_elements.json")
    o.add_argument("--out", required=True)
    o.set_defaults(fn=cmd_osm_import)

    w = sub.add_parser("weather", help="Open-Meteo history -> hourly parquet")
    w.add_argument("--start", default="2026-01-01")
    w.add_argument("--end", default="2026-01-07")
    w.add_argument("--from-file", default=None, help="offline: response JSON")
    w.add_argument("--out", required=True)
    w.set_defaults(fn=cmd_weather)

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("--name", default=None)
    q.add_argument("--list", action="store_true", help="list registered queries")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--show", type=int, default=20)
    q.add_argument("--out", default=None)
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser(
        "curate", help="end-to-end corpus curation -> kept corpus + lineage"
    )
    c.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    c.add_argument("--out", required=True)
    c.set_defaults(fn=cmd_curate)

    sq = sub.add_parser("sql", help="ad-hoc SQL over the registered tables")
    sq.add_argument("--query", required=True)
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq.add_argument("--show", type=int, default=20)
    sq.add_argument("--out", default=None)
    sq.set_defaults(fn=cmd_sql)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
