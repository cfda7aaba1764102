"""Distributed percent-rank gate — exact window semantics without the
single-partition-per-group sort.

The straightforward ``percent_rank() OVER (PARTITION BY grp ORDER BY v)``
puts every row of a group into ONE task for the rank sort: with a handful
of skewed groups (five languages over a 100 TB corpus) the dominant group
is a single executor's problem — OOM or a terminal straggler.

This module computes the *same* rounded percent_rank in three fully
parallel phases, exploiting the fact that the ranked value has a bounded
codomain (here: a quality score rounded to 6 decimals, so ≤ 1e6 + 1
distinct values per group *regardless of corpus size*):

1. ``groupBy(grp, v).count()`` — an ordinary hash aggregate with map-side
   partials; output is bounded by the value codomain, not the row count.
2. A window over that *aggregated* table (≤ ~1e6 rows per group) derives,
   per (grp, v): the group total ``n`` and ``cum_before`` = how many rows
   of the group order strictly below this value. Groups whose best
   possible rank is still below the gate are dropped here — the bulk of
   the corpus never reaches phase 3.
3. Surviving (grp, v) slabs broadcast-join back to the fact rows; the
   only per-row window is ``row_number() OVER (PARTITION BY grp, v ORDER
   BY tiebreak)`` — partitioned by the *composite* key, so skew is
   bounded by the largest set of rows sharing one exact value, not by
   group size.

``percent_rank`` of a row is then ``(cum_before + rn - 1) / (n - 1)``,
identical (after rounding) to the monolithic window because the ordering
``(v, tiebreak)`` makes every row's rank unique.

Reference parity: this backs the quality-percentile corpus gate
(reference repo has no analogue; the operator exists for the LLM-curation
query family). Oracle twin: a plain PERCENT_RANK window in DuckDB —
sf-small inputs make the monolithic form fine *there*; this module is the
scale path. See SCALING.md ("quality gate").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..functions.rounding import round6


#: Rank cutoff of :func:`percent_rank_gate` (the top quarter per language).
GATE_MIN_RANK = 0.75


def percent_rank_gate(df: DataFrame) -> DataFrame:
    """Keep documents whose rounded percent_rank within their ``lang``
    (ordered by ``quality`` asc, ``doc_id`` asc) is ≥ GATE_MIN_RANK,
    emitting the exact rank as ``q_rank`` — with no per-group global sort.

    Requires ``quality`` to have a bounded number of distinct values per
    group (a score rounded to 6 places); phase-2 cost is proportional to
    that bound, not to the row count.

    Single-row groups get rank 0.0 (Spark/DuckDB ``percent_rank``
    convention) and therefore fail any positive gate.

    NULL handling: rows with a NULL ``quality`` (or ``lang``) are kept —
    the slab join is null-safe — and rank FIRST within their group
    (Spark's ``ASC NULLS FIRST`` window default; an oracle twin with
    NULLs present must spell ``ORDER BY v ASC NULLS FIRST``). A NULL
    therefore fails any positive gate unless the whole group is NULL.
    """
    v = F.col("quality")

    # Phase 1: bounded hash aggregate (map-side partials; fully parallel).
    slabs = df.groupBy("lang", "quality").agg(F.count(F.lit(1)).alias("_cnt"))

    # Phase 2: offsets over the aggregated table. The window partitions by
    # group ONLY here, but its input is the slab table — bounded by the
    # value codomain, so one task per group is ≤ ~1e6 rows at any corpus
    # size. Drop slabs whose BEST row (the last in tiebreak order) still
    # ranks below the gate.
    wg = Window.partitionBy("lang")
    wcum = wg.orderBy(v.asc()).rowsBetween(Window.unboundedPreceding, -1)
    slabs = (
        slabs.withColumn("_n", F.sum("_cnt").over(wg))
        .withColumn("_cum_before", F.coalesce(F.sum("_cnt").over(wcum), F.lit(0)))
    )
    best = _rounded_rank(
        F.col("_cum_before") + F.col("_cnt") - 1, F.col("_n")
    )
    slabs = slabs.where(best >= F.lit(GATE_MIN_RANK))

    # Phase 3: slabs are bounded metadata — broadcast them back onto the
    # fact rows (an inner join doubles as the bulk filter), then rank
    # within the composite (group, value) key only.
    survivors = _slab_join(df, slabs, "lang", "quality")
    wrow = Window.partitionBy("lang", "quality").orderBy(F.col("doc_id").asc())
    rank = _rounded_rank(
        F.col("_cum_before") + F.row_number().over(wrow) - 1,
        F.col("_n"),
    )
    return (
        survivors.withColumn("q_rank", rank)
        .where(F.col("q_rank") >= F.lit(GATE_MIN_RANK))
        .drop("_cnt", "_n", "_cum_before")
    )


def percent_rank_all(df: DataFrame) -> DataFrame:
    """Exact rounded percent_rank ``d_rank`` of EVERY embedding within its
    ``cluster_id`` (ordered by ``sq_dist`` asc, ``vec_id`` asc) — the same
    three-phase
    slab shape as :func:`percent_rank_gate` (bounded slab aggregate →
    offsets over slabs → broadcast join + composite-key row_number), but
    ungated: callers that need the rank as a feature (e.g. the
    prototypicality prune flag) keep the full frame. Phase-2's early
    slab drop doesn't apply, so cost is one extra broadcast of the full
    slab table — still bounded by the value codomain, never row count.

    NULL handling (keep-the-full-frame contract): rows with a NULL
    ``sq_dist`` (or cluster) are NOT dropped — the slab join is
    null-safe — and rank FIRST within their group, matching Spark's
    ``ASC NULLS FIRST`` window default (oracle twins with NULLs must
    spell ``ORDER BY v ASC NULLS FIRST``)."""
    v = F.col("sq_dist")

    slabs = df.groupBy("cluster_id", "sq_dist").agg(F.count(F.lit(1)).alias("_cnt"))
    wg = Window.partitionBy("cluster_id")
    wcum = wg.orderBy(v.asc()).rowsBetween(Window.unboundedPreceding, -1)
    slabs = (
        slabs.withColumn("_n", F.sum("_cnt").over(wg))
        .withColumn("_cum_before", F.coalesce(F.sum("_cnt").over(wcum), F.lit(0)))
    )
    joined = _slab_join(df, slabs, "cluster_id", "sq_dist")
    wrow = Window.partitionBy("cluster_id", "sq_dist").orderBy(F.col("vec_id").asc())
    rank = _rounded_rank(
        F.col("_cum_before") + F.row_number().over(wrow) - 1,
        F.col("_n"),
    )
    return joined.withColumn("d_rank", rank).drop("_cnt", "_n", "_cum_before")


#: Tiebreak-hash shards per group in :func:`bottom_k_slab`.
BOTTOM_K_SLABS = 32


def bottom_k_slab(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int,
    tiebreak_cols: list[str],
    ascending: bool = True,
    rank_alias: str = "_rk",
) -> DataFrame:
    """Exact per-group k smallest (``ascending``) or largest rows WITHOUT
    the one-task-per-group global sort.

    Two bounded phases: (1) rank within ``(group, slab)`` — slab = a hash
    shard of the tiebreak — and keep each slab's best k (any row in the
    group's true top-k is necessarily in its own slab's top-k, so the
    prune is lossless); (2) rank the ≤ BOTTOM_K_SLABS·k survivors per group.
    Phase-1 windows partition by the composite key (task size =
    group/BOTTOM_K_SLABS), phase-2's input is k-bounded — group skew never
    lands on one executor. Slab assignment only affects distribution,
    never the result, so it may use Spark's native hash.

    Backs the KMV distinct sketch and priority sampling queries; the
    oracle twin is a plain ROW_NUMBER window (sf-small inputs make the
    monolithic form fine there — this is the scale path)."""
    order = [
        (F.col(value_col).asc() if ascending else F.col(value_col).desc()),
        *[F.col(t).asc() for t in tiebreak_cols],
    ]
    slabbed = df.withColumn("_slab", F.pmod(F.hash(*tiebreak_cols), F.lit(BOTTOM_K_SLABS)))
    w1 = Window.partitionBy(*group_cols, "_slab").orderBy(*order)
    survivors = (
        slabbed.withColumn("_srk", F.row_number().over(w1))
        .where(F.col("_srk") <= k)
        .drop("_srk", "_slab")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return survivors.withColumn(rank_alias, F.row_number().over(w2)).where(
        F.col(rank_alias) <= k
    )


def quantile_disc_slab(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[tuple[str, int, int]],
    count_alias: str = "n",
) -> DataFrame:
    """Exact per-group DISCRETE quantiles — the value whose 1-based
    ascending rank is ceil(p·n) — without a per-group sort.

    Same bounded-codomain discipline as :func:`percent_rank_gate`: one
    hash aggregate to the (group, value) histogram, one cumulative
    window over that histogram (≤ distinct-values rows per group,
    regardless of corpus size), then the quantile is simply the
    smallest value whose cumulative count reaches the target rank —
    a conditional MIN, no selection pass over the fact.

    ``quantiles`` are (alias, numerator, denominator) fractions;
    the target rank ceil(num·n/den) is computed in INTEGER arithmetic
    ((num·n + den − 1) div den), so both engines agree exactly — a
    double ceil(0.9·n) rounds up spuriously whenever 0.9·n lands just
    above an integer in binary.

    NULL values count in neither ``n`` nor the cumulative counts (their
    bin counts 0), so a group's quantiles are those of its non-NULL
    values; a group of NULLs only keeps its row with n = 0."""
    hist = df.groupBy(group_col, value_col).agg(F.count(value_col).alias("_c"))
    wg = Window.partitionBy(group_col)
    wcum = wg.orderBy(F.col(value_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("_n", F.sum("_c").over(wg)).withColumn(
        "_cum", F.sum("_c").over(wcum)
    )
    aggs = [F.max("_n").cast("long").alias(count_alias)]
    for alias, num, den in quantiles:
        rank = F.expr(f"({num} * _n + {den - 1}) div {den}")
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col(value_col))).alias(alias)
        )
    return cum.groupBy(group_col).agg(*aggs)


def _slab_join(
    df: DataFrame, slabs: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Broadcast the slab table back onto the fact rows with NULL-SAFE
    key equality: a plain ``on=[group, value]`` equi-join silently drops
    every NULL-valued row (NULL = NULL is never true), which broke the
    keep-the-full-frame contract (r5 ADVICE). ``eqNullSafe`` keys keep
    Spark's broadcast-hash strategy (<=> hashes like =)."""
    fact, slab = df.alias("_fact"), slabs.alias("_slab")
    cond = F.col(f"_fact.{group_col}").eqNullSafe(
        F.col(f"_slab.{group_col}")
    ) & F.col(f"_fact.{value_col}").eqNullSafe(F.col(f"_slab.{value_col}"))
    return fact.join(F.broadcast(slab), cond, "inner").select(
        "_fact.*", "_slab._cnt", "_slab._n", "_slab._cum_before"
    )


def _rounded_rank(rank_minus_1: Column, n: Column) -> Column:
    """round((rank-1)/(n-1), 6) with the n==1 → 0.0 convention."""
    return F.when(n > 1, round6(rank_minus_1 / (n - F.lit(1)))).otherwise(
        F.lit(0.0)
    )
