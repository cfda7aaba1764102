"""SparkSession factory with scale-aware defaults.

Local test/bench runs use ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster (AQE, skew-join handling, Arrow,
UTC session time zone for oracle comparability). Only the master URL and
memory sizing differ between the two.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Local cores and default shuffle partitions: the CPUs this process may
#: run on, unless the SPARK_GRAFT_CPUS deployment override says otherwise.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Scale posture (holds at 100 TB / 1000 executors):
      * AQE on: runtime coalescing, skew-join splitting, broadcast demotion.
      * Shuffle partitions sized to cores locally; on a cluster AQE's
        coalescing makes the static number mostly irrelevant.
      * Arrow enabled for every pandas_udf / toPandas boundary.
      * UTC session time zone so timestamps compare bit-for-bit against
        UTC-naive engines (DuckDB oracle) and across clusters.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split sizing. 128m is right for
        # row-group-sized cluster files (partitions must fit executor
        # memory without multiplying scheduler overhead at 100 TB task
        # counts). Shrinking it to parallelize the bench's tiny files was
        # measured NET-NEGATIVE here (4m: 101s vs 66s total at sf0.1 —
        # tiny-task overhead beats the extra cores); operators that grind
        # interpreted lambdas per row instead repartition explicitly
        # (shingle_index, winnow_fingerprints), which pays one cheap
        # round-robin shuffle exactly where the compute is heavy.
        # NB the driver's testdata tables are SINGLE-row-group parquet
        # files, so scan parallelism is structurally 1 no matter the
        # split config (a parquet split only yields rows for the row
        # groups whose midpoint it contains) — the simple fact-table agg
        # queries are single-core at bench scale. Measured: pre-agg
        # round-robin repartition buys only ~25% (the lone scan task
        # still reads+feeds every row) and is the WRONG plan at real
        # scale (shuffling a petabyte fact ahead of a partial agg), so
        # it is deliberately not done; real deployments write multi-
        # row-group files and get scan parallelism for free.
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
