"""Table maintenance: the dataset-version diff a curation pipeline
audits between two snapshots of the same table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Dataset-version diff — the audit a curation pipeline runs between
    two crawls/snapshots of the documents table: which ``doc_id`` keys
    were ``added``, ``removed``, or ``changed`` (content fingerprint of
    ``text``, ``lang`` and ``source`` differs). Unchanged rows are
    dropped — at 100 TB the unchanged mass dominates and nobody audits
    it row by row.

    Shape: one md5 fingerprint per side (map-only) and ONE full-outer
    equi-join on the key columns — co-partitioned shuffle both sides,
    no window, no driver state; AQE handles key skew. Output is one row
    per differing key: doc_id + change_type + old_fp/new_fp.
    """
    key_cols, compare_cols = ["doc_id"], ["text", "lang", "source"]

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
