"""Every package module, and every top-level function or class in one,
is reached from an entry point (the CLI, bench.py, __spark_entry__.py,
perfbench/ or tools/): code only tests reach is dead code, so it either
gets a caller or is deleted."""

import importlib.util
from pathlib import Path

import pytest

TOOL = Path(__file__).resolve().parent.parent / "tools" / "reachability.py"

#: Reference rows (SURVEY §2) that wait for an entry point. Wiring one
#: means deleting its line here; new dead code fails the test.
PENDING = {
    # A2, W3, W4: need a `visualize --routes` option
    "kyiv_traffic_bigdata_spark/kpt_pipeline.py:fastest_routes",
    "kyiv_traffic_bigdata_spark/kpt_pipeline.py:global_speed_stats",
    "kyiv_traffic_bigdata_spark/kpt_pipeline.py:slowest_routes",
    "kyiv_traffic_bigdata_spark/kpt_pipeline.py:top_routes_by_samples",
    # S4, S6/ST2
    "kyiv_traffic_bigdata_spark/sources/kpt.py:latest_routes_snapshot",
    "kyiv_traffic_bigdata_spark/sources/kpt.py:start_routes_refresher",
    "kyiv_traffic_bigdata_spark/sources/kpt.py:write_position_envelopes_jsonl",
    # S10, S11
    "kyiv_traffic_bigdata_spark/sources/osm.py:_xml_elements",
    "kyiv_traffic_bigdata_spark/sources/osm.py:osm_elements_from_xml",
    "kyiv_traffic_bigdata_spark/sources/osm.py:read_geojson_features",
    # A8
    "kyiv_traffic_bigdata_spark/streaming/ingest.py:observed",
    # S5
    "kyiv_traffic_bigdata_spark/streaming/socketio.py:KptSocketIODataSource",
    "kyiv_traffic_bigdata_spark/streaming/socketio.py:_TranscriptStreamReader",
    "kyiv_traffic_bigdata_spark/streaming/socketio.py:register",
}


@pytest.fixture(scope="module")
def reachability():
    spec = importlib.util.spec_from_file_location("reachability", TOOL)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_every_package_module_is_reached_from_an_entry_point(reachability):
    assert reachability.unreached() == []


def test_only_pending_functions_are_unreached(reachability):
    assert set(reachability.unreached_functions()) == PENDING
