"""Deterministic sketch primitives shared by batch queries and their
DuckDB oracles.

The count-min bucket expansion lives here so the batch query
(queries.q_event_cms_heavy_hitters) and its DuckDB oracle address the
IDENTICAL d×w cells: row ``j``'s hash is the portable md5
hash (functions.text.portable_hash — the only hash Spark and DuckDB
share bit-for-bit) of the key with a ``"j:"`` prefix, so the d rows are
independent without needing a second hash family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import portable_hash


def cms_buckets(col: Column, depth: int, width: int) -> Column:
    """Array of ``(j, b)`` structs — the CMS cells one key increments.

    Explode this against a fact row to feed the counter aggregate; the
    expansion is a constant ``depth``-way fan-out, and the downstream
    counter table is bounded by ``depth × width`` regardless of key
    cardinality (the whole point of the sketch).
    """
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (portable_hash(F.concat(F.lit(f"{j}:"), col)) % width).alias(
                    "b"
                ),
            )
            for j in range(depth)
        ]
    )
