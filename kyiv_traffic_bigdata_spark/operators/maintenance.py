"""Table maintenance: the dataset-version diff a curation pipeline
audits between two snapshots of the same table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
