"""Distributed PCA over embedding columns — the classic Spark shape
(what MLlib's PCA does, in DataFrame form): the only corpus-sized work
is accumulating the d x d Gram matrix; everything eigen is metadata.

1. **Gram accumulation** — `mapInPandas` computes per-batch partial
   X^T X (float64 numpy, Arrow-batched) plus the column-sum vector and
   row count; partials are d*d+d+1 doubles per *batch*, element-wise
   summed through one tiny hash aggregate. 100 TB only adds map tasks.
2. **Covariance + eigendecomposition** — driver-side numpy on the d x d
   matrix (d<=4096 → at most ~130 MB: metadata). Deterministic sign
   convention: each eigenvector's largest-|.|-component is positive.
3. **Projection** — map-only dot products against the literal component
   matrix (same posture as kmeans assignment / IVF centroids).

No SQL oracle exists for eigenvectors (DuckDB has no eigen solver), so
this operator is pinned by property tests (tests/test_pca.py): exact
recovery on a known-covariance fixture, variance ordering, orthonormal
components, map-only projection plan — the same accuracy-contract
posture as the ANN operators.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double, literal_matrix


def gram_stats(df: DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """(X^T X, column sums, n) of the ``embedding`` column accumulated
    distributively.

    One `mapInPandas` pass emits per-Arrow-batch partials (flattened
    d*d gram + d sums + count), one aggregate sums them element-wise;
    the driver receives a single row of d*d+d+1 doubles."""
    dim = len(df.select("embedding").first()[0])

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            g = x.T @ x
            yield pd.DataFrame(
                {"part": [np.concatenate([g.ravel(), x.sum(axis=0), [float(len(x))]]).tolist()]}
            )

    width = dim * dim + dim + 1
    parts = df.select("embedding").mapInPandas(partials, schema="part array<double>")
    summed = (
        parts.select(F.posexplode("part").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    flat = np.zeros(width)
    for r in summed:
        flat[r.i] = r.s
    gram = flat[: dim * dim].reshape(dim, dim)
    sums = flat[dim * dim : dim * dim + dim]
    n = int(flat[-1])
    return gram, sums, n


def fit_pca(df: DataFrame, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-k principal components of the mean-centered corpus.

    Returns (components [k x d], explained_variance [k], mean [d]).
    Covariance assembles driver-side from the distributed gram:
    cov = (X^T X)/n - mean mean^T (exact, order-independent up to float
    sum association — the accuracy contract is property-tested, not
    hash-matched)."""
    gram, sums, n = gram_stats(df)
    if n < 2:
        raise ValueError(f"need >= 2 rows to fit PCA, got {n}")
    mean = sums / n
    cov = gram / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    # deterministic sign: largest-|component| entry positive
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return comps, vals[order], mean


def project(df: DataFrame, components: np.ndarray, mean: np.ndarray) -> DataFrame:
    """Map-only projection of ``embedding`` onto the fitted components,
    as column ``pca``: (x - mean) · c_i for each component, as one
    codegen'd transform over a literal matrix — identical posture to
    kmeans assignment."""
    comp_lit = literal_matrix([list(map(float, c)) for c in components])
    mean_lit = F.expr(
        "array(" + ", ".join(f"cast({m!r} as double)" for m in mean) + ")"
    )
    centered = F.zip_with(as_double(F.col("embedding")), mean_lit, lambda x, m: x - m)
    proj = F.transform(
        comp_lit,
        lambda c: F.aggregate(
            F.zip_with(centered, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return df.withColumn("pca", proj)
