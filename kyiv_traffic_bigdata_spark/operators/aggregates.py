"""Aggregation helpers with cross-engine-deterministic numerics.

Floating-point sums are order-dependent; Spark's partial/final hash
aggregation and DuckDB's scan order WILL disagree in the last ulps on any
non-trivial table. Every user-facing sum/avg over doubles therefore goes
through fixed-point decimal:

    cast(x as decimal(28,10)) → exact decimal sum → one final double cast

which is associative, so partial aggregation (map-side combine) on a
1000-executor cluster produces bit-identical results to a single-threaded
oracle. Columns that are already exact (ints, decimals) aggregate natively.

The query bodies and operators/windows.py use these for their A2/A3
(SURVEY §2.5) style summaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fixed-point type used for stable double aggregation. 18 integer digits
#: / 10 fractional digits comfortably covers km/h speeds, prices, and
#: ratio-valued metrics at 100 TB row counts (sum fits decimal(38,10)).
STABLE_DECIMAL = "decimal(28,10)"


def dec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(STABLE_DECIMAL)


def stable_sum(col: Column | str) -> Column:
    """Order-independent sum of a double column, returned as double."""
    return F.sum(dec(col)).cast("double")


def stable_avg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, one double divide.

    NOT ``avg(decimal)``: DuckDB computes decimal avg in floating point,
    Spark widens the decimal — neither matches the other. sum/count does.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias("stable_avg")


