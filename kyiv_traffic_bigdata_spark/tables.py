"""Star-schema table loader for the driver's testdata.

The driver generates TPC-H-ish parquet (``region nation customer supplier
part orders lineitem events documents embeddings``, see TESTDATA.md). This
module is the single place that knows two quirks:

* ``events.ts`` may arrive either as a native timestamp (the driver's
  testdata is plain parquet ``timestamp[us]``, read as TIMESTAMP_NTZ) or as
  INT64 TIMESTAMP(NANOS) (which Spark only reads with
  ``spark.sql.legacy.parquet.nanosAsLong``, surfacing LongType nanos). We
  dispatch on the *loaded* dtype and normalize to a uniform contract: raw
  nanos (``ts_ns``), exact micros (``ts_us``, integer math only — int64
  nanos exceed 2^53 so double division would corrupt), and a proper
  ``TimestampType`` column (``ts``) for event-time windowing. Session TZ is
  pinned to UTC (session.py), so NTZ→timestamp is an identity re-tag.
* all other timestamp columns are micro/milli precision and read natively.

Scale note: loaders only attach metadata / cheap projections — no caching,
no collect. Partition layout is whatever the parquet files carry; at 100 TB
the same code path reads a date-partitioned table directory unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing the events timestamp."""
    if name == "events":
        # Lets INT64 TIMESTAMP(NANOS) files load at all (as LongType nanos);
        # a no-op for native timestamp[us] files like the driver testdata.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):
            # True nanos path: integer division is exact for any int64;
            # double division is NOT (nanos exceed 2^53).
            df = (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            )
        else:
            # timestamp / timestamp_ntz path (the actual testdata). Session
            # TZ is UTC, so casting NTZ through unix_micros is lossless.
            df = (
                df.withColumn(
                    "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
                )
                .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view (normalized schema —
    events carries ts/ts_us/ts_ns like every registered query sees it)
    so users can drive the engine with plain ``spark.sql``. Returns the
    view names. Views are lazy: registration costs one schema resolve
    per table, no data motion."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return list(TABLE_NAMES)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """The engine's ad-hoc SQL surface: registered views + one
    ``spark.sql`` call — Catalyst plans it like any registered query
    (same pushdown/broadcast/AQE posture, since the views resolve to
    the identical loader frames)."""
    register_views(spark, sf_dir)
    return spark.sql(query)
