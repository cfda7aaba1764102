"""Unit tests for the OSM connector (sources/osm.py).

Query-string parity is asserted against the exact OverpassQL the reference
emits (importer.py:40-49,76-78,92-100,113-115); the GeoJSON reader gets a
golden check against the reference's shipped 3,221-feature artifact.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.sources.osm import (
    QUERY_TIMEOUT_S,
    dataset_queries,
    nodes_to_geojson_features,
    osm_elements_from_xml,
    osm_nodes,
    read_geojson_features,
    read_osm_elements,
    regex_clause,
    tag_clause,
    union_body,
    overpass_query,
    write_geojson,
)

REF_GEOJSON = "/root/reference/open-street-map/data/traffic_signals_20260124_113829.geojson"


def test_query_string_parity():
    assert tag_clause("way", ("narrow", "yes")) == 'way["narrow"="yes"]'
    assert tag_clause("node", ("ele", None)) == 'node["ele"]'
    assert (
        tag_clause("way", ("lanes:forward", None), ("lanes:backward", None))
        == 'way["lanes:forward"]["lanes:backward"]'
    )
    assert (
        regex_clause("way", "landuse", ("residential", "industrial"))
        == 'way["landuse"~"^(residential|industrial)$"]'
    )
    body = union_body(['node["highway"="traffic_signals"]'])
    assert body == '(\nnode["highway"="traffic_signals"];\n)'


def test_overpass_header_footer():
    q = overpass_query("(\nnode[\"ele\"];\n)", QUERY_TIMEOUT_S, True)
    assert q.startswith("[out:json][timeout:90][bbox:50.3,30.2,50.6,30.8];")
    assert q.endswith("out body;\n>;\nout skel qt;")
    q2 = overpass_query("body", QUERY_TIMEOUT_S, include_geometry=False)
    assert q2.endswith("\nbody\nout body;")


def test_dataset_queries_cover_reference_surface():
    qs = dataset_queries()
    assert set(qs) == {
        "road_network", "narrowing", "landuse", "elevation",
        "traffic_signals", "pedestrian_crossings",
    }
    assert 'way["highway"~"^(motorway|' in qs["road_network"]
    # traffic_signals is the one dataset fetched without geometry recursion
    assert qs["traffic_signals"].endswith("out body;")
    assert "out skel qt;" in qs["road_network"]


OSM_XML = """<osm version="0.6">
  <node id="1" lat="50.45" lon="30.52"><tag k="highway" v="traffic_signals"/></node>
  <node id="2" lat="50.46" lon="30.53"/>
  <way id="10"><nd ref="1"/><nd ref="2"/><tag k="highway" v="residential"/></way>
  <relation id="20"><member type="way" ref="10" role="outer"/><tag k="landuse" v="residential"/></relation>
</osm>"""


def test_xml_elements_distributed(spark):
    docs = spark.createDataFrame([(OSM_XML,)], "xml string")
    elems = osm_elements_from_xml(docs)
    by_type = {r.type: r for r in elems.collect()}
    assert by_type["node"].tags in ({"highway": "traffic_signals"}, {})
    way = by_type["way"]
    assert way.id == 10 and way.nodes == [1, 2]
    rel = by_type["relation"]
    assert rel.members[0].asDict() == {"type": "way", "ref": 10, "role": "outer"}
    assert elems.where(F.col("type") == "node").count() == 2


def test_nodes_to_geojson_lon_lat_order(spark):
    docs = spark.createDataFrame([(OSM_XML,)], "xml string")
    feats = nodes_to_geojson_features(osm_elements_from_xml(docs))
    f1 = feats.where(F.col("id") == 1).collect()[0]
    assert f1.geometry.type == "Point"
    assert f1.geometry.coordinates == [30.52, 50.45]  # [lon, lat]!
    assert f1.properties == {"highway": "traffic_signals"}
    # tag-less node gets empty properties, not null
    f2 = feats.where(F.col("id") == 2).collect()[0]
    assert f2.properties == {}


def test_geojson_write_read_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame([(OSM_XML,)], "xml string")
    feats = nodes_to_geojson_features(osm_elements_from_xml(docs))
    out = str(tmp_path / "nodes.geojson")
    assert write_geojson(feats, out) == 2
    with open(out) as fh:
        doc = json.load(fh)
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == 2
    back = read_geojson_features(spark, out)
    assert back.count() == 2
    assert set(back.columns) == {"type", "id", "geometry", "properties"}


def test_osm_response_reader(spark, tmp_path):
    resp = {
        "version": 0.6,
        "generator": "Overpass API",
        "elements": [
            {"type": "node", "id": 1, "lat": 50.45, "lon": 30.52,
             "tags": {"highway": "traffic_signals"}},
            {"type": "way", "id": 10, "nodes": [1, 2],
             "tags": {"highway": "residential"}},
        ],
    }
    p = str(tmp_path / "resp.json")
    with open(p, "w") as fh:
        json.dump(resp, fh, indent=2)
    elems = read_osm_elements(spark, p)
    assert elems.count() == 2
    assert osm_nodes(elems).count() == 1


import pytest


@pytest.mark.skipif(not os.path.exists(REF_GEOJSON), reason="reference data absent")
def test_reference_geojson_golden(spark):
    feats = read_geojson_features(spark, REF_GEOJSON)
    assert feats.count() == 3221
    stats = feats.agg(
        F.min(F.col("geometry.coordinates")[1]).alias("lat_min"),
        F.max(F.col("geometry.coordinates")[1]).alias("lat_max"),
    ).collect()[0]
    # all features inside the narrow Kyiv bbox the importer queried with
    assert 50.3 <= stats.lat_min <= stats.lat_max <= 50.6
