"""Iterative graph operators over edge lists — the near-dup graph
family: connected components (the dedup *resolution* step: pair
operators emit edges, choosing ONE canonical document per duplicate
group needs their transitive closure), multi-source BFS, k-core peel,
label propagation and PageRank.

Scale design: every round is a few equi-joins and aggregates on the
(symmetrized) edge list, shuffle-partitioned by node id — no
driver-side graph, no windows. Node-sized state is staged every round
(operators.staging.stage: localCheckpoint by default, reliable
checkpoint on clusters — the standard iterative-Spark pattern; a plan
that grows every round otherwise re-executes from the source and
overwhelms the optimizer).

:func:`fixpoint` owns the round and convergence policy for the loops
that run to a fixed point (components, BFS, k-core). The step carries
a per-row changed flag ``_chg`` through the staged frame, so the
convergence check is an any-row scan of the just-materialized blocks
(``isEmpty`` = limit-1 take, no shuffle) and a round costs one staging
action plus one block scan — no re-join of two state snapshots, no
extra ``count()`` (2 jobs for a map-only step; AQE adds a job per
shuffle stage of the step). Label propagation and PageRank run a fixed
round count instead: their oracles unroll that count, and LPA need not
reach a fixed point (2-node components swap labels every round).

Cross-engine determinism: PageRank's float sums over in-neighbors are
accumulation-order-dependent, so rank states are quantized to 6
decimals and contributions are summed exactly on the 6-dp grid
(functions.gridsum) — every sweep's state is bit-identical across
Spark, DuckDB and any partitioning.
"""

from __future__ import annotations

import itertools
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.gridsum import grid_sum
from ..functions.rounding import round6
from .staging import stage

DAMPING = 0.85


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """Staged, distinct ``(a, b)`` edges in both directions from the
    ``(id_a, id_b)`` pairs. Staged once because every round joins
    against it; without truncation each round would re-execute the
    (possibly expensive) upstream pair pipeline."""
    e = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    return stage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )


def fixpoint(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], max_rounds: int
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state)`` until a round changes nothing, for at
    most ``max_rounds`` rounds. ``step`` returns the next state plus a
    boolean ``_chg`` column marking the rows that round changed; each
    round is staged, and ``_chg`` is dropped from the state handed to
    the next round. ``step`` is called exactly once per round, in round
    order, so a step may count its rounds itself (``bfs_depths`` does).
    Returns ``(state, converged)``."""
    for _ in range(max_rounds):
        staged = stage(step(state))
        state = staged.drop("_chg")
        if staged.where(F.col("_chg")).isEmpty():
            return state, True
    return state, False


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the smallest node id reachable from the node
    (min-label propagation, rounds = graph diameter; near-dup groups are
    clique-like, so it settles in 1-3 rounds).

    Raises after ``max_iter`` non-converged rounds instead of silently
    returning partial labels — wrong components merge documents that are
    not duplicates, which is corpus corruption, not degraded accuracy.
    """
    sym = symmetric_edges(edges)
    # Seed with round 1 fused into initialization: label(v) =
    # min(v, min(neighbors)) is ONE aggregation over the edge list when
    # every label is still the identity — no join needed.
    labels = stage(
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .withColumnRenamed("a", "node")
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("component").alias("_nc")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("_nc").alias("_mn"))
            .withColumnRenamed("a", "node")
        )
        newc = F.least(F.col("component"), F.coalesce(F.col("_mn"), F.col("component")))
        return labels.join(nbr_min, "node", "left").select(
            "node", newc.alias("component"), (newc != F.col("component")).alias("_chg")
        )

    labels, converged = fixpoint(labels, step, max_iter)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "graph diameter exceeds the near-dup assumption; use "
            "large-star/small-star for general graphs"
        )
    return labels


def bfs_depths(edges: DataFrame, seed_mod: int, max_depth: int) -> DataFrame:
    """(node, depth) multi-source BFS over the undirected pair graph:
    depth = unweighted hop distance to the NEAREST seed, seeds being
    the graph nodes with ``node % seed_mod == 0``; nodes farther than
    ``max_depth`` from every seed are excluded.

    The depth BOUND is part of the operator's definition, not a
    convergence heuristic — it makes the result identical to a
    depth-capped recursive-CTE oracle and keeps the round count
    corpus-independent. Round k expands the depth k-1 frontier with one
    equi-join and anti-joins the settled set; an empty frontier ends the
    loop early.
    """
    sym = symmetric_edges(edges)
    seeds = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .where(F.col("node") % seed_mod == 0)
        .select("node", F.lit(0).cast("long").alias("depth"))
    )
    depth = itertools.count(1)

    def step(settled: DataFrame) -> DataFrame:
        k = next(depth)
        frontier = settled.where(F.col("depth") == k - 1).select("node")
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .select("node", F.lit(k).cast("long").alias("depth"))
        )
        return settled.unionByName(nxt).withColumn("_chg", F.col("depth") == k)

    return fixpoint(seeds, step, max_depth)[0]


def k_core(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """(node, deg) for the nodes left after at most ``rounds`` k-core
    peel rounds over the ``(id_a, id_b)`` edges, ``deg`` being the
    node's degree among the kept edges. Each round drops the edges the
    previous round marked, counts every endpoint's degree and marks the
    edges with an endpoint of degree < ``k``. ``edges`` is taken as
    given (one row per undirected edge).
    A peel cut off by ``rounds`` returns the unmarked edges, so the
    result equals exactly ``rounds`` unrolled peel rounds either way."""
    state = stage(
        edges.select(
            F.col("id_a").alias("lo"), F.col("id_b").alias("hi"), F.lit(False).alias("_dead")
        )
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("lo").alias("node"))
            .unionAll(e.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    def step(e: DataFrame) -> DataFrame:
        live = e.where(~F.col("_dead"))
        deg = degrees(live)
        dead = (F.col("_dl") < k) | (F.col("_dh") < k)
        return (
            live.join(deg.select(F.col("node").alias("lo"), F.col("deg").alias("_dl")), "lo")
            .join(deg.select(F.col("node").alias("hi"), F.col("deg").alias("_dh")), "hi")
            .select("lo", "hi", dead.alias("_dead"), dead.alias("_chg"))
        )

    return degrees(fixpoint(state, step, rounds)[0].where(~F.col("_dead")))


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """(node, label) after ``rounds`` (≥ 1) synchronous label-propagation
    rounds over the ``(id_a, id_b)`` edges: every node adopts the most
    frequent label among its neighbors, ties to the smallest label.
    The edges are taken as a set of undirected edges — duplicate rows
    and both orientations of an edge count once (symmetric_edges), so a
    multigraph input is read as its simple graph. Each round is one
    equi-join, one count aggregate and a min-of-struct argmax — never a
    per-node window; labels are staged per round."""
    sym = symmetric_edges(edges)
    # Round 1 fused into initialization: with identity labels and
    # distinct edges every neighbor label counts once, so the argmax
    # is the smallest neighbor id — one aggregate, no join.
    labels = stage(
        sym.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("label"))
    )
    for _ in range(rounds - 1):
        cnt = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = stage(
            cnt.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("lb"))).alias("_m"))
            .select("node", F.col("_m.lb").alias("label"))
        )
    return labels


#: PageRank sweeps (fixed so the SQL twin can unroll the same number of
#: CTE layers).
PAGERANK_ITERS = 3


def pagerank(edges: DataFrame) -> DataFrame:
    """(node, deg, rank) after PAGERANK_ITERS sweeps with damping DAMPING
    over the symmetrized edge list. Nodes are the endpoints of ``edges``; every node of a
    symmetric graph has out-degree ≥ 1, so there is no dangling-mass
    term. Rank states are 6-decimal-quantized and contributions are
    grid-summed — see the module docstring."""
    sym = symmetric_edges(edges)
    # deg is staged too: it appears in every sweep's join and in the
    # final projection, and the node-sized checkpoint also makes the
    # count() below a block read.
    deg = stage(
        sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed("a", "node")
    )
    n = deg.count()  # driver scalar — node count is metadata
    if n == 0:
        return deg.select("node", "deg", F.lit(0.0).alias("rank"))
    r = deg.select("node", "deg", round6(F.lit(1.0) / F.lit(n)).alias("rank"))
    teleport = F.lit(1.0 - DAMPING) / F.lit(n)
    for _ in range(PAGERANK_ITERS):
        contrib = sym.join(r, sym.a == r.node).select(
            F.col("b").alias("node"),
            round6(F.col("rank") / F.col("deg")).alias("_c"),
        )
        # _c is a round6 output, i.e. a 6-dp grid value in [0, 1]: the
        # int64 grid split-sum equals a decimal(18,6) cast-sum
        # bit-for-bit (see functions/gridsum.py — the SQL twin keeps the
        # decimal formula and the oracle re-proves the equality per sweep)
        inflow = contrib.groupBy("node").agg(grid_sum(F.col("_c"), 6).alias("_s"))
        r = deg.join(inflow, "node", "left").select(
            "node",
            "deg",
            round6(teleport + F.lit(DAMPING) * F.coalesce(F.col("_s"), F.lit(0.0))).alias("rank"),
        )
    return r
