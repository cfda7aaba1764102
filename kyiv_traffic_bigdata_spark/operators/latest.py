"""Latest-row-per-key operators — SURVEY §2.6 W2, §2.4 J2, §2.1 S2.

The reference implements "latest" three ways (running dict compare at
kpt/visualize.py:175-183, last-seen overwrite at 118-126, last-line-wins
at 48-57) — all order-dependent on file iteration. The engine defines ONE
deterministic semantic: latest by (order column, tiebreak) — and uses
``max_by(struct)`` so the whole thing is a single hash aggregate with
map-side partials (no window shuffle + filter, no row_number sort) — the
cheapest plan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """One row per key: the payload of the max (order_cols) tuple.

    ``max_by(struct(payload), struct(order))`` — struct comparison is
    lexicographic, so order_cols must form a total order per key (append a
    unique id as final tiebreak). One aggregation, no window, no second
    shuffle; partial aggregation pushes the max to the map side.
    """
    ordering = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in payload_cols])
    agg = df.groupBy(*key_cols).agg(F.max_by(payload, ordering).alias("_latest"))
    return agg.select(
        *key_cols, *[F.col(f"_latest.{c}").alias(c) for c in payload_cols]
    )


def dedup_exact(df: DataFrame) -> DataFrame:
    """Batch twin of the streaming ST3 dedup: one event per
    (user_id, ts_us), the one with the smallest event_id.

    Unlike ``dropDuplicates`` (arbitrary survivor), the survivor is
    deterministic — required for oracle comparison and for reproducible
    100 TB backfills.
    """
    keys = ["user_id", "ts_us"]
    payload = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.min_by(F.struct(*payload), F.col("event_id")).alias("_first")
    )
    return agg.select(*keys, *[F.col(f"_first.{c}").alias(c) for c in payload])


def apply_changelog(df: DataFrame) -> DataFrame:
    """CDC changelog application: materialize current table state from a
    per-user insert/update/delete stream of (user_id, event_id, ts_us,
    op, value) — the latest record per user by (ts_us, event_id) wins, a
    delete tombstone (op ``"D"``) as the latest record removes the user
    entirely (the Debezium / Kafka-compacted-topic semantic).

    Same single-aggregate shape as :func:`latest_per_key` (``max_by`` over
    a total order, map-side partials, no window): the op column rides the
    payload struct and the tombstone filter runs on the one-row-per-key
    result — at 100 TB the changelog shuffles once, keyed, and nothing
    else."""
    latest = latest_per_key(
        df, ["user_id"], ["ts_us", "event_id"], ["op", "event_id", "ts_us", "value"]
    )
    return latest.where(F.col("op") != "D").drop("op")
