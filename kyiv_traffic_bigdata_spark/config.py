"""Engine constants, matching the reference semantics.

The reference ships two inconsistent Kyiv bounding boxes (see SURVEY.md
§1.2): the live poller filter uses the wider box (reference
``kpt/poller/config.py:34-43``) while the EWAY/OSM modules use a narrower
one (reference ``settings.py:53``, ``eway/pipeline/ws_interceptor.py:27``).
Each module here uses the box its reference counterpart uses.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True, slots=True)
class BoundingBox:
    lat_min: float
    lat_max: float
    lon_min: float
    lon_max: float

    def contains(self, lat: float, lon: float) -> bool:
        return (
            self.lat_min <= lat <= self.lat_max
            and self.lon_min <= lon <= self.lon_max
        )


#: Wider box used by the live position filter (reference kpt/poller/config.py:34-38).
KYIV_BBOX_POLLER = BoundingBox(50.2, 50.7, 30.2, 31.0)

#: Narrower box used by EWAY/OSM (reference settings.py:53, ws_interceptor.py:27).
KYIV_BBOX_NARROW = BoundingBox(50.3, 50.6, 30.2, 30.8)

#: Ukraine-wide box for region classification (reference ws_interceptor.py:44-54).
UKRAINE_BBOX = BoundingBox(44.0, 52.0, 22.0, 40.0)

#: Global coordinate validity (reference ws_interceptor.py:86-87).
VALID_COORDS_BBOX = BoundingBox(-90.0, 90.0, -180.0, 180.0)

#: Route-type labels. The reference's code (kpt/visualize.py:19-23) and docs
#: (docs/data-sources.md:44) disagree; we follow the CODE for output parity.
ROUTE_TYPE_LABELS: dict[int, str] = {1: "Bus", 2: "Trol", 3: "Tram"}

#: Earth radius in km for haversine (reference kpt/visualize.py:11).
EARTH_RADIUS_KM = 6371.0

#: Speed-plausibility window, km/h (reference kpt/visualize.py:12-14).
MAX_PLAUSIBLE_SPEED_KMH = 120.0

#: Max seconds between consecutive fixes for a valid speed sample
#: (reference kpt/visualize.py:12).
MAX_TIME_GAP_S = 300

#: Minimum samples for a route to enter the speed ranking
#: (reference kpt/visualize.py:14).
MIN_ROUTE_SAMPLES = 10

#: Top-K size for route rankings (reference kpt/visualize.py:15).
TOP_K_ROUTES = 10

#: Streaming dedup TTL, seconds (reference kpt/poller/config.py:60-64).
DEDUP_TTL_S = 60

#: Micro-batch flush interval, seconds (reference kpt/poller/config.py:51-53).
FLUSH_INTERVAL_S = 5

#: Dimension (routes) poll interval, seconds (reference kpt/poller/config.py:102-104).
ROUTES_POLL_INTERVAL_S = 30

#: Socket.IO event names that carry positions (reference kpt/poller/parsers.py:107-112).
POSITION_EVENT_NAMES = ("locations", "vehicles", "positions", "v")

#: Expected CSV arity of a position frame (reference kpt/poller/parsers.py:17).
POSITION_CSV_FIELDS = 7
