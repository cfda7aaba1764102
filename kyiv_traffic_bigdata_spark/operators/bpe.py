"""Adjacent token-pair counts — the statistic one greedy BPE merge round
(Sennrich et al., 2016) consumes, used by queries.doc_token_pair_stats."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def adjacent_pair_counts(tokens_df: DataFrame) -> DataFrame:
    """(a, b, n) counts of adjacent token pairs of the token-array column
    ``t`` — one explode + one partial-aggregated hash aggregate."""
    t = F.col("t")
    pairs = tokens_df.where(F.size(t) >= 2).select(
        F.explode(F.sequence(F.lit(1), F.size(t) - 1)).alias("_i"),
        t.alias("_t"),
    ).select(
        F.element_at("_t", F.col("_i")).alias("a"),
        F.element_at("_t", F.col("_i") + 1).alias("b"),
    )
    return pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
