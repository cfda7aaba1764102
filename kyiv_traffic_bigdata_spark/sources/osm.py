"""OSM / Overpass connector — SURVEY §2.1 S9/S10/S11, §2.2 P8/P12, §2.7 U2.

Three concerns, cleanly split:

* **Query DSL (P12/S9)**: tiny OverpassQL string builder mirroring the
  reference's filter grammar (``open-street-map/pipeline/importer.py:
  35-100``): tag equality / tag presence / anchored regex unions, a
  parenthesized disjunction body (U2), and the ``[out:json][timeout][bbox]``
  header. The remote Overpass service is the execution engine; the DSL is
  a connector concern, not Catalyst.
* **Element readers (S9 read side / S10)**: Overpass JSON responses load
  with an explicit sparse-union schema (node/way/relation fields,
  ``importer.py:258-291``); OSM XML converts through a small ElementTree
  walker (the container bundles no spark-xml) and lands in the same
  element shape.
* **GeoJSON (S11/P8)**: node elements project to Point features
  (coordinate order **[lon, lat]**, ``importer.py:209``); FeatureCollection
  files read back with ``multiLine`` (they are pretty-printed on disk).

Scale: element tables are plain schema'd JSON scans (pruned, pushdown-able)
after a one-time explode; `tags` is a MapType so per-key predicates compile
to ``element_at`` without schema churn. XML parsing is per-document and
runs distributed via mapInPandas when given a DataFrame of XML blobs.
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import KYIV_BBOX_NARROW
from ..schemas import GEOJSON_FEATURE_COLLECTION, OSM_ELEMENT, OSM_RESPONSE

#: Default Overpass query timeout, seconds (reference importer.py:18).
QUERY_TIMEOUT_S = 90

#: Road classes fetched by the road-network dataset (reference importer.py:21-31).
HIGHWAY_TYPES = (
    "motorway", "trunk", "primary", "secondary", "tertiary",
    "unclassified", "residential", "service",
    "motorway_link", "trunk_link", "primary_link", "secondary_link",
)

#: Landuse classes (reference importer.py:33).
LANDUSE_TYPES = ("residential", "industrial", "commercial", "retail")


# ---------------------------------------------------------------------------
# P12 — OverpassQL builder
# ---------------------------------------------------------------------------

def tag_clause(element: str, *tags: tuple[str, str | None]) -> str:
    """One element selector: ``way["k"="v"]["k2"]`` — value None means
    tag-presence (reference OsmFilter.to_query, importer.py:40-46)."""
    parts = [
        f'["{k}"="{v}"]' if v is not None else f'["{k}"]' for k, v in tags
    ]
    return element + "".join(parts)


def regex_clause(element: str, tag: str, alternatives: Iterable[str]) -> str:
    """Anchored regex-union selector: ``way["highway"~"^(a|b)$"]``
    (reference OsmFilter.with_pattern, importer.py:48-49)."""
    return f'{element}["{tag}"~"^({"|".join(alternatives)})$"]'


def union_body(clauses: Iterable[str]) -> str:
    """U2 disjunction: one parenthesized union, one scan on the server
    (reference build_query_body, importer.py:76-78)."""
    inner = "\n".join(c + ";" for c in clauses)
    return "(\n" + inner + "\n)"


def overpass_query(
    body: str, timeout_s: int, include_geometry: bool
) -> str:
    """Full OverpassQL text (reference OverpassQueryBuilder.build,
    importer.py:92-100): global KYIV_BBOX_NARROW header, body,
    recurse-down footer."""
    bbox = KYIV_BBOX_NARROW
    bbox_str = f"{bbox.lat_min},{bbox.lon_min},{bbox.lat_max},{bbox.lon_max}"
    header = f"[out:json][timeout:{timeout_s}][bbox:{bbox_str}];"
    footer = "out body;\n>;\nout skel qt;" if include_geometry else "out body;"
    return f"{header}\n{body}\n{footer}"


#: The six reference datasets (importer.py:53-73,146-190) as
#: name -> (body, include_geometry).
def dataset_queries(timeout_s: int = QUERY_TIMEOUT_S) -> dict[str, str]:
    bodies: dict[str, tuple[str, bool]] = {
        "road_network": (regex_clause("way", "highway", HIGHWAY_TYPES), True),
        "narrowing": (
            union_body([
                tag_clause("way", ("narrow", "yes")),
                tag_clause("way", ("highway", "construction")),
                tag_clause("way", ("lanes:forward", None), ("lanes:backward", None)),
                tag_clause("node", ("traffic_calming", None)),
                tag_clause("node", ("barrier", "bollard")),
            ]),
            True,
        ),
        "landuse": (
            union_body([
                regex_clause("way", "landuse", LANDUSE_TYPES),
                regex_clause("relation", "landuse", LANDUSE_TYPES),
            ]),
            True,
        ),
        "elevation": (
            union_body([
                tag_clause("way", ("incline", None)),
                tag_clause("node", ("ele", None)),
                tag_clause("way", ("highway", None), ("incline", None)),
            ]),
            True,
        ),
        "traffic_signals": (
            union_body([
                tag_clause("node", ("highway", "traffic_signals")),
                tag_clause("node", ("crossing", "traffic_signals")),
            ]),
            False,
        ),
        "pedestrian_crossings": (
            union_body([
                tag_clause("node", ("highway", "crossing")),
                tag_clause("way", ("highway", "footway"), ("footway", "crossing")),
            ]),
            True,
        ),
    }
    return {
        name: overpass_query(body, timeout_s, include_geometry=geom)
        for name, (body, geom) in bodies.items()
    }


# ---------------------------------------------------------------------------
# S9 read side — Overpass JSON responses → element table
# ---------------------------------------------------------------------------

def read_osm_elements(spark: SparkSession, path: str) -> DataFrame:
    """Response JSON file(s) → one row per element (sparse node/way/relation
    union; absent fields are null). Files are pretty-printed → multiLine."""
    resp = spark.read.schema(OSM_RESPONSE).option("multiLine", True).json(path)
    return resp.select(F.explode("elements").alias("e")).select("e.*")


def osm_nodes(elements: DataFrame) -> DataFrame:
    """Valid point nodes (reference _is_valid_node, importer.py:200-201)."""
    return elements.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )


# ---------------------------------------------------------------------------
# S10 — OSM XML → elements
# ---------------------------------------------------------------------------

def _xml_elements(xml_text: str) -> list[dict]:
    """ElementTree walk of an OSM XML document into the element-dict shape
    (reference parse_xml_to_json, importer.py:258-309). Missing attrs
    default like the reference (id/ref 0, lat/lon 0.0, role '')."""
    root = ET.fromstring(xml_text)
    out: list[dict] = []
    for n in root.iter("node"):
        out.append({
            "type": "node",
            "id": int(n.get("id", 0)),
            "lat": float(n.get("lat", 0)),
            "lon": float(n.get("lon", 0)),
            "tags": {t.get("k"): t.get("v") for t in n.findall("tag")},
        })
    for w in root.iter("way"):
        out.append({
            "type": "way",
            "id": int(w.get("id", 0)),
            "nodes": [int(nd.get("ref", 0)) for nd in w.findall("nd")],
            "tags": {t.get("k"): t.get("v") for t in w.findall("tag")},
        })
    for r in root.iter("relation"):
        out.append({
            "type": "relation",
            "id": int(r.get("id", 0)),
            "members": [
                {
                    "type": m.get("type"),
                    "ref": int(m.get("ref", 0)),
                    "role": m.get("role", ""),
                }
                for m in r.findall("member")
            ],
            "tags": {t.get("k"): t.get("v") for t in r.findall("tag")},
        })
    return out


def osm_elements_from_xml(xml_docs: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Distributed S10: DataFrame of XML documents → element rows via
    mapInPandas (per-document parse, no driver round-trip)."""

    cols = ["type", "id", "lat", "lon", "tags", "nodes", "members"]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc in batch[xml_col]:
                if doc:
                    # normalize to the full sparse-union row so absent
                    # fields stay None (NaN floats break Arrow list cols)
                    rows.extend({c: e.get(c) for c in cols} for e in _xml_elements(doc))
            yield pd.DataFrame(rows, columns=cols, dtype=object)

    return xml_docs.mapInPandas(parse, schema=OSM_ELEMENT)


# ---------------------------------------------------------------------------
# S11 / P8 — GeoJSON
# ---------------------------------------------------------------------------

def nodes_to_geojson_features(elements: DataFrame) -> DataFrame:
    """P8 (importer.py:203-212): node elements → Point features.
    Coordinate order is [lon, lat]; tags become properties."""
    return osm_nodes(elements).select(
        F.lit("Feature").alias("type"),
        F.col("id"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(F.col("lon"), F.col("lat")).alias("coordinates"),
        ).alias("geometry"),
        F.coalesce(
            F.col("tags"), F.from_json(F.lit("{}"), "map<string,string>")
        ).alias("properties"),
    )


def read_geojson_features(spark: SparkSession, path: str) -> DataFrame:
    """S11 read side: FeatureCollection file(s) → one row per feature.
    Real artifacts are pretty-printed (multi-line) JSON."""
    fc = (
        spark.read.schema(GEOJSON_FEATURE_COLLECTION)
        .option("multiLine", True)
        .json(path)
    )
    return fc.select(F.explode("features").alias("f")).select("f.*")


def write_geojson(features: DataFrame, filepath: str) -> int:
    """S11 sink: collect features into one pretty FeatureCollection file
    (reference save_response, importer.py:214-238). Driver-side by design —
    a presentation artifact, bounded by the upstream bbox query."""
    feats = [json.loads(r.json_str) for r in
             features.select(F.to_json(F.struct("*")).alias("json_str")).collect()]
    doc = {"type": "FeatureCollection", "features": feats}
    with open(filepath, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, ensure_ascii=False, indent=2)
    return len(feats)


# ---------------------------------------------------------------------------
# S9 live execution — Overpass POST with rate limiting
# ---------------------------------------------------------------------------

#: Public Overpass API endpoint + client pacing (reference importer.py:16-19).
OVERPASS_URL = "https://overpass-api.de/api/interpreter"
REQUEST_DELAY_S = 1.5
REQUEST_TIMEOUT_S = 120


class OverpassHTTPError(Exception):
    """Non-2xx from the Overpass endpoint (reference raise_for_status,
    importer.py:122-133)."""

    def __init__(self, status: int, body: str):
        self.status = status
        super().__init__(f"Overpass HTTP {status}: {body[:200]}")


class OverpassClient:
    """Live S9 executor: POSTs OverpassQL with the reference's pacing —
    ≥ ``delay_s`` between requests (importer.py:117-120, a shared-service
    courtesy limit), form-encoded ``data=<query>`` body, raise on non-2xx.

    The transport is a plain callable ``(url, form_bytes) -> (status,
    text)`` — default is stdlib urllib (same posture as
    sources/weather.py); tests inject a fake, so pacing and error paths
    are covered offline. The fetched JSON lands in the exact element
    shape ``read_osm_elements`` scans, closing the loop: DSL → live POST
    → response file → schema'd Spark scan.
    """

    def __init__(
        self,
        url: str = OVERPASS_URL,
        delay_s: float = REQUEST_DELAY_S,
        timeout_s: float = REQUEST_TIMEOUT_S,
        transport=None,
        clock=None,
        sleep=None,
    ):
        import time as _time

        self.url = url
        self.delay_s = delay_s
        self.timeout_s = timeout_s
        self._transport = transport or self._urllib_transport
        self._clock = clock or _time.monotonic
        self._sleep = sleep or _time.sleep
        self._last_request = float("-inf")

    def _urllib_transport(self, url: str, form: bytes) -> tuple[int, str]:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            url,
            data=form,
            headers={"User-Agent": "kyiv-traffic-bigdata-spark/1.0 (research)"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return resp.status, resp.read().decode("utf-8")
        except urllib.error.HTTPError as exc:
            return exc.code, exc.read().decode("utf-8", errors="replace")

    def _rate_limit(self) -> None:
        elapsed = self._clock() - self._last_request
        if elapsed < self.delay_s:
            self._sleep(self.delay_s - elapsed)

    def execute(self, overpass_query_text: str) -> dict:
        """Run one query; returns the decoded JSON response dict."""
        from urllib.parse import urlencode

        self._rate_limit()
        form = urlencode({"data": overpass_query_text}).encode("utf-8")
        try:
            status, text = self._transport(self.url, form)
        finally:
            # stamp even on transport failure: fast-failing retries must
            # still honor the courtesy spacing toward the shared service
            self._last_request = self._clock()
        if not 200 <= status < 300:
            raise OverpassHTTPError(status, text)
        return json.loads(text)

    def fetch_dataset(self, name: str, out_path: str) -> dict:
        """Fetch one of the six reference datasets (dataset_queries) and
        spool the raw response to ``out_path`` — the file
        ``read_osm_elements`` ingests, so live fetch and offline replay
        share one scan path."""
        queries = dataset_queries()
        if name not in queries:
            raise KeyError(f"unknown dataset {name!r}; one of {sorted(queries)}")
        resp = self.execute(queries[name])
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(resp, fh, ensure_ascii=False, indent=2)
        return resp
