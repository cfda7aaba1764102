"""Open-Meteo weather source — SURVEY §2.1 S12, §1.1 WeatherResponse.

The reference fetches hourly history for a fixed Kyiv point
(weather/pipeline/extract.py:24-58) and stores the struct-of-arrays JSON
verbatim. The engine's read path: ``spark.read.schema(WEATHER_RESPONSE)
.json(path)`` then ``operators.pivot.explode_parallel_arrays`` to rows
(CLI ``weather``).

Network fetch is a driver-side connector concern (one small JSON per
request); it is isolated behind ``fetch_weather_json`` so tests and
offline runs never touch the network.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..schemas import WEATHER_HOURLY_FIELDS, WEATHER_RESPONSE

#: Kyiv coordinates used by the reference (weather/pipeline/extract.py).
KYIV_LAT, KYIV_LON = 50.4501, 30.5234


def read_weather_json(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first read of Open-Meteo response JSON (one object per file/line)."""
    return spark.read.schema(WEATHER_RESPONSE).json(path)


def weather_df_from_payload(spark: SparkSession, payload: dict) -> DataFrame:
    """Build a WeatherResponse DataFrame from an in-memory API payload."""
    return spark.read.schema(WEATHER_RESPONSE).json(
        spark.sparkContext.parallelize([json.dumps(payload)])
    )


def fetch_weather_json(
    start_date: str, end_date: str, timeout_s: int = 30
):  # pragma: no cover - network path, exercised manually
    """Driver-side REST fetch (reference extract.py:24-58). Offline-safe:
    raises RuntimeError when the network is unavailable. Location: Kyiv
    (KYIV_LAT, KYIV_LON)."""
    import urllib.error
    import urllib.parse
    import urllib.request

    params = urllib.parse.urlencode(
        {
            "latitude": KYIV_LAT,
            "longitude": KYIV_LON,
            "start_date": start_date,
            "end_date": end_date,
            "hourly": ",".join(WEATHER_HOURLY_FIELDS),
        }
    )
    url = f"https://archive-api.open-meteo.com/v1/archive?{params}"
    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            return json.loads(resp.read())
    except (urllib.error.URLError, OSError) as e:
        raise RuntimeError(f"weather fetch unavailable: {e}") from e


def synthetic_weather_literals() -> tuple[list[str], list[tuple[str, list[float]]]]:
    """Deterministic 24-hour WeatherResponse-shaped literals.

    Used by the `weather_pivot` correctness query (the driver testdata has
    no weather table) and by unit tests. Values are simple closed-form
    functions of the hour index so both engines embed identical literals.
    """
    hours = list(range(24))
    times = [f"2026-01-15T{h:02d}:00" for h in hours]
    metrics: list[tuple[str, list[float]]] = [
        ("temperature_2m", [round(-5.0 + 0.7 * h, 2) for h in hours]),
        ("relative_humidity_2m", [round(60.0 + (h * 7) % 30, 2) for h in hours]),
        ("precipitation", [round((h % 5) * 0.2, 2) for h in hours]),
        ("rain", [round((h % 7) * 0.1, 2) for h in hours]),
        ("snowfall", [round((h % 3) * 0.05, 2) for h in hours]),
        ("weather_code", [float((h * 3) % 10) for h in hours]),
        ("wind_speed_10m", [round(8.0 + (h * 11) % 17, 2) for h in hours]),
        ("wind_direction_10m", [float((h * 37) % 360) for h in hours]),
    ]
    return times, metrics
