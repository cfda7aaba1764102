"""Struct-of-arrays → rows pivot — SURVEY §1.1 WeatherResponse, §2.1 S12.

The reference's one columnar input: Open-Meteo returns 8 parallel arrays
keyed by a ``time`` array (weather/pipeline/extract.py:14-41). The Spark
idiom is ``arrays_zip + explode``: zip the parallel arrays into an array of
structs, explode to one row per element — a map-side-only transform (no
shuffle), which is what you want when the arrays arrive inside millions of
API-response rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_parallel_arrays(df: DataFrame, array_cols: list[str]) -> DataFrame:
    """One row per index across equal-length parallel array columns."""
    zipped = F.arrays_zip(*[F.col(c) for c in array_cols]).alias("_z")
    out = df.select(F.explode(zipped).alias("_e"))
    return out.select(*[F.col(f"_e.{c}").alias(c) for c in array_cols])


