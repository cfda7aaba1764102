"""Table maintenance: small-file compaction.

Streaming sinks (5 s micro-batches, ST1/ST10) and bucketed writers leave
directories with thousands of small files; parquet scans then pay per-file
open cost and lose row-group locality — at 100 TB the file count, not the
byte count, becomes the scan bottleneck. Compaction rewrites a directory
into ~target-sized files: one read, one repartition (round-robin — no key
skew), one write.

The reference has no analogue (its sinks are single JSONL appenders);
this is part of operating the same pipeline on a cluster.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def directory_bytes(path: str) -> int:
    """Total data bytes under a local path (cluster deployments would ask
    the Hadoop FileSystem API the same question)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def plan_compaction(total_bytes: int, target_mb: int = 256) -> int:
    """Number of output files: ceil(total / target), minimum 1. Parquet
    compresses ~the same before and after, so input bytes are a good
    proxy for output sizing."""
    return max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 256,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files at
    ``out_path``; returns the file count written. Readers swap to the
    new location on success (write-then-swap keeps the old data intact
    if the job dies mid-rewrite — never compact in place).

    With ``partition_by``, rows are hash-distributed on the partition
    columns first, so each Hive partition's rows land in as few write
    tasks as possible (round-robin would spread every partition across
    all ``n`` tasks and emit up to n×#partitions small files — the very
    problem being fixed). Returns the write-task count, an upper bound
    on files per Hive partition.
    """
    df: DataFrame = spark.read.parquet(path)
    n = plan_compaction(directory_bytes(path), target_mb)
    if partition_by:
        shaped = df.repartition(n, *[df[c] for c in partition_by])
    else:
        shaped = df.repartition(n)
    writer = shaped.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)
    return n


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Dataset-version diff — the audit a curation pipeline runs between
    two crawls/snapshots of the same table: which keys were ``added``,
    ``removed``, or ``changed`` (content fingerprint differs on
    ``compare_cols``, default: all non-key columns common to both
    sides). Unchanged rows are dropped — at 100 TB the unchanged mass
    dominates and nobody audits it row by row.

    Shape: one md5 fingerprint per side (map-only) and ONE full-outer
    equi-join on the key columns — co-partitioned shuffle both sides,
    no window, no driver state; AQE handles key skew. Output is one row
    per differing key: key cols + change_type + old_fp/new_fp.
    """
    from pyspark.sql import functions as F

    if compare_cols is None:
        keys = set(key_cols)
        compare_cols = [c for c in old.columns if c not in keys and c in new.columns]

    def fp(df: DataFrame, alias: str) -> DataFrame:
        # concat_ws with a field separator + explicit null token keeps
        # ("a", null) and ("an", "ull") from colliding
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in compare_cols
        ]
        return df.select(
            *key_cols, F.md5(F.concat_ws("\x1f", *parts)).alias(alias)
        )

    o = fp(old, "old_fp")
    n = fp(new, "new_fp")
    joined = o.join(n, on=key_cols, how="full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type", "old_fp", "new_fp")
    )
