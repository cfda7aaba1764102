"""2-D skyline (Pareto frontier) as a distributed two-phase operator.

The SKYLINE of a point set under coordinate-wise minimisation is the
set of points not DOMINATED by any other: p dominates q when
p.x <= q.x AND p.y <= q.y AND (p.x < q.x OR p.y < q.y). It is the
classic multi-criteria OLAP operator (Borzsony/Kossmann/Stocker, ICDE
2001 "The Skyline Operator") — "cheapest AND smallest" style queries
that no single ORDER BY can answer.

Spark-first shape (the textbook distributed skyline — local skyline
per block, then a merge over the survivors, which for d=2 is a single
ordered cummin sweep):

1. REDUCE: one hash aggregate to per-x MIN(y). For equal x, a larger
   y is always dominated, so only the min survives; this also makes
   every later window tie-free (one row per distinct x).
2. LOCAL PRUNE: range-bucket on x, and inside each bucket an ordered
   running-min window over STRICTLY-cheaper rows (rowsBetween
   unboundedPreceding, -1): a row survives iff no cheaper row in its
   own bucket has y <= its y. Parallel across buckets; eliminates the
   overwhelming majority of points (the skyline of n random 2-D points
   has expected size O(log n)).
3. GLOBAL MERGE: the same strict-cummin sweep over the few survivors —
   a bounded slab (documented single-partition window over the
   candidate set, not the input).

Dominance with ties: two points with IDENTICAL (x, y) do not dominate
each other (strict-in-one fails), so the skyline is a set of POINTS;
callers join the winning points back to the base table to recover every
row sitting on the frontier.

At 100 TB the reduce in step 1 is the only full shuffle; buckets give
step 2 the parallelism, and step 3 touches only the per-bucket
survivors. A finer SKYLINE_BUCKET raises parallelism at the cost of a
slightly weaker local prune (the global sweep fixes any leak).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: Width of the x range buckets of the local prune (in price units).
SKYLINE_BUCKET = 100.0


def skyline_points_2d(df: DataFrame) -> DataFrame:
    """Skyline POINTS of parts' (p_retailprice, p_size) under
    minimise-both semantics ("cheapest AND smallest").

    Returns one row per frontier point with columns ``(p_retailprice,
    p_size)`` — join back to the source to list all rows on those points.
    """
    x_col, y_col = "p_retailprice", "p_size"
    pts = df.groupBy(x_col).agg(F.min(y_col).alias(y_col))

    def survives(part_cols: list[Column]) -> Column:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col(x_col).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prev_min = F.min(y_col).over(w)
        return prev_min.isNull() | (F.col(y_col) < prev_min)

    bucket = F.floor(F.col(x_col) / F.lit(SKYLINE_BUCKET))
    local = (
        pts.withColumn("_bk", bucket)
        .withColumn("_keep", survives([F.col("_bk")]))
        .where(F.col("_keep"))
        .drop("_bk", "_keep")
    )
    # Global sweep over the per-bucket survivors only: a bounded slab
    # (skyline candidates, not input rows) — the d=2 merge step.
    return (
        local.withColumn("_keep", survives([]))
        .where(F.col("_keep"))
        .drop("_keep")
    )
