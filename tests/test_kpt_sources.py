"""Unit tests for the KPT format layer (sources/kpt.py) — SURVEY §2.1 S1–S4,
§2.2 P1–P5, §2.3 F1/F3/F4.

Message fixtures are lifted from the reference's real run artifacts
(kpt/poller/data/remote/kpt_poller.log, data/kpt_positions_20260207.jsonl)
so parse semantics are checked against what the wire actually carries —
including the float-``flag`` CSV rows the reference *drops*
(int("297.4") raises → None, parsers.py:49-53).
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.sources.kpt import (
    latest_routes_snapshot,
    parse_messages,
    read_position_envelopes,
    read_positions_ordered,
    read_routes,
    start_routes_refresher,
    write_position_envelopes_jsonl,
    write_positions,
)

REF_POSITIONS = "/root/reference/data/kpt_positions_20260207.jsonl"
REF_ROUTES = "/root/reference/data/kpt_routes_20260207.jsonl"


def _parse(spark, lines, **kw):
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    kw.setdefault("default_ts", F.lit(1_770_000_000))
    return parse_messages(raw, **kw)


def test_bare_csv_line(spark):
    rows = _parse(
        spark, ["12585093,12583358,50.50963,30.64338,0,0,1769342268"]
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.vehicle_id, r.route_id) == (12585093, 12583358)
    assert (r.lat, r.lon) == (50.50963, 30.64338)
    assert r.timestamp == 1769342268


def test_csv_float_flag_dropped_like_reference(spark):
    # Real wire line (kpt_poller.log): flag field "297.4" — int() raises in
    # the reference → dropped. Our from_csv cast-to-int nulls → dropped.
    rows = _parse(
        spark, ["12584998,12583520,50.51171,30.42652,0,297.4,1770486043"]
    ).collect()
    assert rows == []


def test_socketio_csv_array_payload(spark):
    msg = '42["locations",["12585093,12583358,50.50963,30.64338,0,0,1769342268","12585094,12583358,50.51,30.65,1,2,1769342269"]]'
    rows = _parse(spark, [msg]).collect()
    assert {r.vehicle_id for r in rows} == {12585093, 12585094}


def test_socketio_dict_payload_alias_keys(spark):
    payload = [
        {"id": 7, "routeId": 9, "lat": 50.45, "lon": 30.52, "timestamp": 1770000001},
        {"vehicle_id": 8, "route_id": 10, "lat": 50.46, "lon": 30.53},
    ]
    msg = f'42["vehicles",{json.dumps(payload)}]'
    rows = {r.vehicle_id: r for r in _parse(spark, [msg]).collect()}
    assert rows[7].route_id == 9 and rows[7].timestamp == 1770000001
    # missing timestamp defaults (reference models.py:38: now; here injected)
    assert rows[8].timestamp == 1_770_000_000
    assert rows[8].direction == 0 and rows[8].flag == 0


def test_event_allowlist(spark):
    good = '42["v",["1,2,50.5,30.5,0,0,1770000000"]]'
    bad = '42["stats",["1,2,50.5,30.5,0,0,1770000000"]]'
    assert len(_parse(spark, [good]).collect()) == 1
    assert _parse(spark, [bad]).collect() == []


def test_malformed_never_fatal(spark):
    junk = [
        "",
        "not,a,position",
        "40",
        "3probe",
        '42["locations",not json]',
        '42["locations",{"weird": true}]',
        "a,b,c,d,e,f,g",  # 7 fields, all bad casts
        "1,2,3",
    ]
    assert _parse(spark, junk).collect() == []


def test_bbox_filter_applied_at_parse(spark):
    inside = "1,2,50.45,30.52,0,0,1770000000"
    outside = "3,4,49.0,30.52,0,0,1770000000"
    rows = _parse(spark, [inside, outside]).collect()
    assert [r.vehicle_id for r in rows] == [1]


def test_extra_columns_pass_through(spark):
    raw = spark.createDataFrame(
        [("k1", "1,2,50.45,30.52,0,0,1770000000")], "key string, value string"
    )
    rows = parse_messages(raw, default_ts=F.lit(0)).collect()
    assert rows[0].key == "k1"


@pytest.mark.skipif(not os.path.exists(REF_POSITIONS), reason="reference data absent")
def test_read_positions_golden_counts(spark):
    # data/kpt_positions_20260207.jsonl: 125 envelopes / 22,504 positions
    # (SURVEY §6 fleet-cardinality row: 2,339 vehicles, 263 route ids).
    env = read_position_envelopes(spark, REF_POSITIONS)
    assert env.count() == 125
    pos = read_positions_ordered(spark, REF_POSITIONS)
    agg = pos.agg(
        F.count("*").alias("n"),
        F.countDistinct("vehicle_id").alias("veh"),
        F.countDistinct("route_id").alias("routes"),
    ).collect()[0]
    assert (agg.n, agg.veh, agg.routes) == (22504, 2339, 263)
    assert pos.where(F.col("ingest_ts").isNull()).count() == 0


@pytest.mark.skipif(not os.path.exists(REF_ROUTES), reason="reference data absent")
def test_read_routes_last_write_wins(spark):
    routes = read_routes(spark, REF_ROUTES)
    assert routes.count() == 179  # 179-route catalog, one row per id
    r1 = routes.where(F.col("id") == 4194305).collect()[0]
    assert (r1.type, r1.number) == (1, "1")


def test_write_read_roundtrip(spark, tmp_path):
    lines = ['42["locations",["1,2,50.45,30.52,0,0,1770000000","3,4,50.46,30.53,1,5,1770000060"]]']
    df = _parse(spark, lines).withColumn(
        "ingest_ts", F.to_timestamp(F.lit("2026-02-07 16:35:02"))
    )
    pq = str(tmp_path / "pos_parquet")
    write_positions(df, pq)
    back = spark.read.parquet(pq)
    assert back.count() == 2
    # partition values come back type-inferred (int) on plain reads
    assert "date" in back.columns
    assert str(back.select("date").distinct().collect()[0].date) == "20260207"

    jl = str(tmp_path / "pos_jsonl")
    write_position_envelopes_jsonl(df, jl)
    reread = read_positions_ordered(spark, jl)
    assert reread.count() == 2
    assert {r.vehicle_id for r in reread.collect()} == {1, 3}


def test_routes_refresher_appends_and_reduces(spark, tmp_path):
    calls = []

    def fake_fetch():
        calls.append(1)
        n = len(calls)
        # catalog evolves: route 2's number changes on later polls
        return [
            {"id": 1, "type": 1, "number": "1"},
            {"id": 2, "type": 3, "number": f"99-v{n}"},
        ]

    out, ckpt = str(tmp_path / "routes"), str(tmp_path / "ckpt")
    q = start_routes_refresher(spark, fake_fetch, out, ckpt, interval_s=1)
    try:
        # wait on durable output (stop() may abort an in-flight poll write)
        deadline = time.time() + 120
        committed = 0
        while time.time() < deadline and committed < 4:
            time.sleep(0.5)
            try:
                committed = spark.read.parquet(out).count()
            except Exception:
                committed = 0
    finally:
        q.stop()
    snaps = spark.read.parquet(out)
    assert snaps.count() >= 4  # at least two full polls landed

    latest = {r.id: r for r in latest_routes_snapshot(spark, out).collect()}
    assert set(latest) == {1, 2}
    last_poll = max(r.poll_number for r in snaps.select("poll_number").collect())
    committed_calls = snaps.select("poll_number").distinct().count()
    assert committed_calls >= 2
    # last write wins: the surviving number is the one from the max poll
    survivor_version = {
        r.poll_number: r.number
        for r in snaps.where(F.col("id") == 2).collect()
    }[last_poll]
    assert latest[2].number == survivor_version
    assert latest[1].number == "1"
