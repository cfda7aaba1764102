"""Dimension-enrichment joins — SURVEY §2.4 J1, §2.2 P9.

The reference enriches positions with a 179-row route catalog via a Python
dict (kpt/visualize.py:48-57,91-96). The Spark-first shape is an explicit
``broadcast()`` left join: the dimension ships to every executor once, the
fact table never shuffles. At 100 TB of facts this is the difference
between a map-side join and a petabyte shuffle — so broadcast is explicit
here rather than left to the autoBroadcastJoinThreshold guess.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ROUTE_TYPE_LABELS


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Left-join a (small) dimension with an explicit broadcast hint."""
    return fact.join(F.broadcast(dim), on=on, how=how)


#: Salt buckets of :func:`salted_join`: how many partitions a hot key
#: is split across.
SALT_BUCKETS = 8


def salted_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Skew-resilient inner equi-join of lineitem facts to a supplier
    dimension on ``l_suppkey``: salt the fact side, replicate the build
    side.

    The 100 TB answer to a hot key (SURVEY §7.4: one degenerate route id
    carries a large share of all positions): a plain shuffle join puts the
    whole hot key in ONE reducer partition. Salting splits it across
    SALT_BUCKETS partitions — the fact side gets a deterministic salt from
    ``l_orderkey`` (a well-distributed existing column; no rand(), so the
    plan stays deterministic and retry-safe), the dim side is exploded
    SALT_BUCKETS× (dim rows are the small side; replication is cheap), and
    the join key becomes (l_suppkey, salt). Result set is byte-identical to the
    unsalted join; only the physical distribution changes. This is the
    manual form of what AQE skew-join does adaptively — kept explicit so
    pipelines can pin it where the skew is known ahead of time.
    """
    f = fact.withColumn("_salt", F.pmod(F.xxhash64(F.col("l_orderkey")), F.lit(SALT_BUCKETS)))
    d = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)).cast("array<bigint>")),
    )
    return f.join(d, on=["l_suppkey", "_salt"]).drop("_salt")


def route_label(type_col: Column, number_col: Column, id_col: Column) -> Column:
    """Reference P9 display label: "<TypeLabel> <number>", fallback "#<id>".

    Label map follows kpt/visualize.py:19-23 (code wins over docs — see
    SURVEY §1.2 discrepancy note).
    """
    label = F.lit("")
    for t, name in sorted(ROUTE_TYPE_LABELS.items(), reverse=True):
        label = F.when(type_col == t, F.lit(name)).otherwise(label)
    # reference: f"{prefix} {number}".strip() if number else f"#{route_id}" —
    # an unknown type with a number still labels as the bare number.
    return F.when(
        number_col.isNotNull() & (number_col != ""),
        F.trim(F.concat_ws(" ", label, number_col)),
    ).otherwise(F.concat(F.lit("#"), id_col.cast("string")))
