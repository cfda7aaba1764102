"""Distributed logistic regression (full-batch gradient descent) — the
quality/language classifier-training workload as DataFrame aggregates,
the supervised sibling of operators.kmeans.

Shape is the kmeans contract: the model (d+1 weights) is DRIVER
METADATA shipped into the plan as literals; each iteration is one
map-only scoring pass plus ONE partially-aggregated d-column gradient
aggregate (no shuffle of rows, no per-row Python); corpus size only
adds map tasks, iteration count only adds passes. A production
fastText-style quality filter swaps richer features in; the training
loop and plan shape stay identical.

Cross-engine determinism (the PageRank discipline, applied to GD):

* the margin z accumulates LEFT-ASSOCIATIVELY over the fixed feature
  order — the oracle writes the identical expression;
* the sigmoid output and every per-row gradient term are floor-rounded
  to 6 decimals BEFORE aggregation (the only transcendental, exp, is
  engine-library math — rounding quarantines its ulp wiggle);
* gradient sums run in DECIMAL (exact, order-free) and the weight
  update applies the same floor-form rounding driver-side,

so k iterations produce bit-identical weights on Spark, DuckDB (as k
unrolled CTE layers), or any partitioning. Note the floor-form on
signed values rounds half-cases toward +inf — a convention, applied
identically everywhere, which is all the differential gate needs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round6


#: Gradient-descent passes and learning rate — fixed so the oracle can
#: unroll the same number of GD layers.
LOGREG_ITERS = 10
LOGREG_LR = 8.0


def _r6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def margin(feature_cols: list[str], weights: list[float]):
    """Left-associative Σ w_j·x_j as a Column — the exact expression
    shape the SQL twin unrolls."""
    z = F.lit(0.0)
    for c, w in zip(feature_cols, weights):
        z = z + F.lit(w) * F.col(c)
    return z


def predict_proba(feature_cols: list[str], weights: list[float]):
    """round6(sigmoid(margin)) as a Column."""
    z = margin(feature_cols, weights)
    return round6(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def logistic_regression_gd(
    df: DataFrame, feature_cols: list[str]
) -> tuple[list[float], int]:
    """Train full-batch GD for LOGREG_ITERS passes from zero weights on
    the 0.0/1.0 label column ``y``. Returns ``(weights, n_rows)``."""
    n = df.count()
    if n == 0:
        raise ValueError("cannot train on an empty frame")
    # Scale-adaptive training parallelism (r12, guide §2.5): each GD
    # pass is a tiny 4-column aggregate, so its cost is dominated by
    # task scheduling when the feature frame carries many near-empty
    # partitions (the upstream tokenizer wants them; the trainer does
    # not). Derive the partition count from the ROW COUNT just
    # measured — never from the local core count: ~256k feature rows
    # per task, floored at 1, capped at the current layout (coalesce
    # only narrows). At corpus scale the cap wins and this is a no-op;
    # at bench scale 10 passes drop from 3.3 s to 2.0 s. Decimal
    # gradient sums are order-free, so the weights are bit-identical
    # under any partitioning (A/B-verified).
    parts = max(1, min(df.rdd.getNumPartitions(), -(-n // 262144)))
    train = df.coalesce(parts)
    w = [0.0] * len(feature_cols)
    for _ in range(LOGREG_ITERS):
        p = predict_proba(feature_cols, w)
        err = p - F.col("y")
        aggs = [
            F.sum(round6(err * F.col(c)).cast("decimal(18,6)"))
            .cast("double")
            .alias(f"g{j}")
            for j, c in enumerate(feature_cols)
        ]
        row = train.agg(*aggs).collect()[0]
        w = [
            _r6(w[j] - LOGREG_LR * _r6(row[f"g{j}"] / n))
            for j in range(len(feature_cols))
        ]
    return w, n
