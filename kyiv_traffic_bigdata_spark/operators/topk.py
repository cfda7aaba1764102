"""Top-K / Bottom-K ranking — SURVEY §2.6 W3/W4/W6.

``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject``: each
partition keeps a k-element heap, the driver merges #partitions × k rows —
no global sort, no shuffle of the full table. That is exactly the plan you
want at 100 TB, so these helpers exist mainly to enforce the one rule the
reference ignores: ALWAYS carry a unique tiebreak column so K-th place is
deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """K rows by the given total order (pass tiebreaks explicitly)."""
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
) -> DataFrame:
    """Top-k within each group via row_number window.

    One shuffle on the group key; with many groups this stays balanced.
    For skewed groups at scale, pre-aggregate or salt before ranking.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= k)
        .drop("_rank")
    )
