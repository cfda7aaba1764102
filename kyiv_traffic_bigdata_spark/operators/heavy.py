"""Deterministic heavy hitters: Misra-Gries candidates + exact verify.

The DETERMINISTIC counterpart of the probabilistic CMS heavy-hitter
query (`event_cms_heavy_hitters`): a two-phase frequent-items operator
with a provable no-false-negative guarantee and NO full-domain shuffle.

Phase 1 (candidates): every partition folds its value stream into a
bounded Misra-Gries summary of capacity ``k`` (mapInPandas — the
summary is the per-partition state, never more than ``k`` entries).
Batches merge via the mergeable-summaries form of MG (Agarwal et al.,
PODS'12): add the batch's counts, then subtract the (k+1)-th largest
count from every entry and drop the non-positive ones. Total decrement
on a partition processing N_p values is ≤ N_p/(k+1), so every value
with local frequency > N_p/(k+1) survives its partition's summary; by
pigeonhole any value with GLOBAL frequency > N/(k+1) exceeds the local
threshold in at least one partition — the union of partition summaries
is a guaranteed superset of the global heavy hitters.

Phase 2 (verify): exact counts for candidate values only (left-semi
against the ≤ k·#partitions candidate set — bounded by construction,
so broadcasting it is safe at any corpus size), filtered with exact
integer arithmetic ``count·(k+1) > N``. The verified output is
therefore EXACT and order-independent even though the intermediate
summaries depend on partition layout — which is what makes a full SQL
oracle (GROUP BY … HAVING) possible for a bounded-memory sketch.

Scale story: a naive GROUP BY over the full value domain shuffles the
entire multiset (the token stream of a 100 TB corpus); here the only
rows that reach an exchange are the candidate values (≤ k per
partition before the semi-join prunes map-side) and the per-partition
partial counts. The two token-stream passes are map-only.

Reference parity: the reference has no frequent-items operator; this
extends its counting surface (`kpt/analytics.py` value counts) the way
SURVEY §2's sketch family extension prescribes.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_candidates(values: DataFrame, k: int) -> DataFrame:
    """Distinct candidate heavy hitters: the union of per-partition
    Misra-Gries summaries of capacity ``k`` over ``values.token``.

    Guaranteed superset of every value with global frequency
    > N/(k+1). Output: one column ``token``, ≤ k rows per input
    partition before the final distinct.

    NULLs are excluded up front (here AND in the N of
    :func:`heavy_hitters_exact`): pandas ``value_counts`` silently
    drops NaN, so a null-heavy column would otherwise inflate N
    without null ever being a candidate — breaking the superset
    guarantee for exactly the value the stream has most of.

    The candidate frame keeps the input column's exact Spark type
    (derived from ``values.schema``, not hardcoded to string): the
    downstream semi-join in :func:`heavy_hitters_exact` must compare
    keys at their native type — a stringified candidate column would
    make Spark cast the join keys, risking precision loss for large
    longs and a silent type change for any non-string caller."""
    col = "token"
    values = values.where(F.col(col).isNotNull())
    col_type = values.schema[col].dataType.simpleString()

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summ: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                summ[v] = summ.get(v, 0) + int(c)
            if len(summ) > k:
                # mergeable-MG prune: subtract the (k+1)-th largest
                # count everywhere, drop the non-positive entries
                m = heapq.nlargest(k + 1, summ.values())[-1]
                summ = {v: c - m for v, c in summ.items() if c > m}
        yield pd.DataFrame({col: list(summ.keys())})

    return values.mapInPandas(summarize, f"`{col}` {col_type}").distinct()


def heavy_hitters_exact(values: DataFrame, k: int) -> DataFrame:
    """Exact heavy hitters (frequency·(k+1) > N) without a full-domain
    shuffle: MG candidates → bounded-broadcast semi-join → exact counts
    of candidates only → integer-exact threshold filter.

    Output: ``token`` plus ``n_occurrences`` (exact long count), only
    for values strictly above the N/(k+1) frequency threshold. N counts
    non-null values only (matching the candidate phase)."""
    col = "token"
    values = values.where(F.col(col).isNotNull())
    cands = mg_candidates(values, k)
    total = values.agg(F.count(F.lit(1)).alias("_n"))
    return (
        values.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * (k + 1) > F.col("_n"))
        .drop("_n")
    )
