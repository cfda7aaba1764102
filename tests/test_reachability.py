"""Every package module, and every top-level function or class in one,
is reached from an entry point (the CLI, bench.py, __spark_entry__.py,
perfbench/ or tools/): code only tests reach is dead code, so it either
gets a caller or is deleted. Likewise every parameter of a reached
function takes two or more values across the reached calls, or it is a
constant; and a default some reached call relies on, or it is dropped."""

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


_DEPLOY = "deployment setting"
_FAKE = "fake: tests inject"
_CAP = "cap: tests lower it to reach a guarded path on tiny data"
_TWO = "two values: a tested property compares them"
_FROZEN = "frozen caller: perfbench/ passes it"

#: Parameters the reached calls fix (one value, or a default no call
#: uses), each with why it is not a constant. A new fixed option fails
#: the test: make it a constant.
SEAMS = {
    "kyiv_traffic_bigdata_spark/session.py:get_spark:master": f"{_DEPLOY}: Spark master URL",
    "kyiv_traffic_bigdata_spark/session.py:get_spark:shuffle_partitions": f"{_DEPLOY}: partition count",
    "kyiv_traffic_bigdata_spark/sources/eway.py:live_eway_recv:timeout_s": f"{_DEPLOY}: receive timeout",
    "kyiv_traffic_bigdata_spark/sources/osm.py:OverpassClient.__init__:url": f"{_DEPLOY}: endpoint",
    "kyiv_traffic_bigdata_spark/sources/osm.py:OverpassClient.__init__:delay_s": f"{_DEPLOY}: request pacing",
    "kyiv_traffic_bigdata_spark/sources/osm.py:OverpassClient.__init__:timeout_s": f"{_DEPLOY}: HTTP timeout",
    "kyiv_traffic_bigdata_spark/sources/osm.py:dataset_queries:timeout_s": f"{_DEPLOY}: server-side query timeout",
    "kyiv_traffic_bigdata_spark/sources/weather.py:fetch_weather_json:timeout_s": f"{_DEPLOY}: HTTP timeout",
    "kyiv_traffic_bigdata_spark/streaming/transport.py:PollingTransport.__init__:timeout_s": f"{_DEPLOY}: HTTP timeout",
    "kyiv_traffic_bigdata_spark/streaming/ws.py:WSConnection.__init__:origin": f"{_DEPLOY}: Origin header",
    "kyiv_traffic_bigdata_spark/streaming/ws.py:WSConnection.__init__:ssl_context": f"{_DEPLOY}: TLS trust",
    "kyiv_traffic_bigdata_spark/sources/eway.py:TimedCapture.__init__:clock": f"{_FAKE} a clock to end the session",
    "kyiv_traffic_bigdata_spark/sources/eway.py:live_eway_recv:connection": f"{_FAKE} a scripted WebSocket",
    "kyiv_traffic_bigdata_spark/sources/kpt.py:parse_messages:default_ts": f"{_FAKE} a fixed clock for frames without a timestamp",
    "kyiv_traffic_bigdata_spark/sources/osm.py:OverpassClient.__init__:clock": f"{_FAKE} a clock to check pacing",
    "kyiv_traffic_bigdata_spark/sources/osm.py:OverpassClient.__init__:sleep": f"{_FAKE} a sleep to check pacing",
    "kyiv_traffic_bigdata_spark/sources/osm.py:OverpassClient.__init__:transport": f"{_FAKE} an HTTP transport",
    "kyiv_traffic_bigdata_spark/streaming/transport.py:LiveSocketIOClient.__init__:sleep": f"{_FAKE} a sleep that records backoff delays",
    "kyiv_traffic_bigdata_spark/streaming/transport.py:SocketIOStateMachine.__init__:clock": f"{_FAKE} a clock to drive ping timing",
    "kyiv_traffic_bigdata_spark/streaming/ws.py:encode_frame:mask_key": f"{_FAKE} a WebSocket server, whose frames go unmasked",
    "kyiv_traffic_bigdata_spark/operators/graph.py:connected_components:max_iter": f"{_CAP}: the non-convergence RuntimeError on a 7-node path",
    "kyiv_traffic_bigdata_spark/sources/eway.py:decode_messages:min_len": f"{_CAP}: hand-built frames shorter than the 100-char gate",
    "kyiv_traffic_bigdata_spark/operators/heavy.py:heavy_hitters_exact:k": f"{_CAP}: the Misra-Gries prune on streams of a few dozen values",
    "kyiv_traffic_bigdata_spark/operators/qsketch.py:build_rank_sketch:width": f"{_TWO}: colliding (16) and collision-free (4096) sketches",
    "kyiv_traffic_bigdata_spark/operators/qsketch.py:descend_quantile:width": f"{_TWO}: colliding (16) and collision-free (4096) sketches",
    "kyiv_traffic_bigdata_spark/operators/similarity.py:ann_ivf_topk:n_probe": f"{_TWO}: IVF_PROBES recall against exhaustive IVF_CELLS probing",
    "kyiv_traffic_bigdata_spark/operators/graph.py:bfs_depths:seed_mod": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/operators/graph.py:bfs_depths:max_depth": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/operators/graph.py:k_core:k": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/operators/graph.py:k_core:rounds": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/operators/graph.py:label_propagation:rounds": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/operators/dedup.py:repeated_spans:gram_len": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/operators/interval.py:interval_join:bin_width": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/functions/text.py:winnowed_fps:k": f"{_TWO}: hypothesis draws it",
    "kyiv_traffic_bigdata_spark/streaming/ingest.py:replay_text_stream:max_files_per_trigger": _FROZEN,
    "kyiv_traffic_bigdata_spark/streaming/ingest.py:start_positions_sink:fmt": _FROZEN,
    "kyiv_traffic_bigdata_spark/streaming/ingest.py:start_positions_sink:available_now": _FROZEN,
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


def test_only_seam_parameters_are_fixed(reachability):
    assert set(reachability.fixed_parameters()) == SEAMS.keys()


def test_every_seam_has_a_keep_reason():
    reasons = (_DEPLOY, _FAKE, _CAP, _TWO, _FROZEN)
    assert all(why.startswith(reasons) for why in SEAMS.values())
