"""Distributed k-means over embedding columns (Lloyd's algorithm).

Cluster-based corpus curation is a standard large-scale training-data
operation (cluster embeddings, then balance / dedup / filter per
cluster); the reference has no clustering, so this is a first-class
extension alongside the ANN operators (cf. ``operators/similarity.py``,
whose IVF coarse quantizer is exactly the "centroids trained offline"
consumer of this operator).

Scale design — the classic Spark k-means shape (what MLlib does, in
DataFrame form):

* centroids are **metadata**: k x dim doubles (k<=4096, dim<=4096 is
  ~100 MB worst case, typically ~kB). They live driver-side and ship to
  executors as a literal array-of-arrays — never a shuffle side.
* **assignment is map-only**: each row computes k squared-L2 distances
  against the literal centroid matrix inside one codegen'd
  ``transform`` + ``array_position(array_min(...))`` expression — pure
  Catalyst, no UDF, no Python in the hot path; argmin ties break to the
  lowest cluster id (``array_position`` returns the first match).
* **update is one hash aggregate**: ``posexplode`` the vectors to
  (cluster, dim_idx, x) and average per (cluster, dim_idx) — map-side
  partial aggregation contains the x``dim`` row expansion, and the
  result collected per iteration is k x dim rows (metadata again).
* empty clusters keep their previous centroid (standard Lloyd's
  fallback), so k never silently shrinks.

Per-iteration cost is one scan + one shuffle of k x dim partials —
flat in corpus size; 100 TB just means more map tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..functions.rounding import round6

from ..functions.vector import as_double, literal_matrix, sq_dist


def initial_centroids(
    df: DataFrame, k: int, vec_col: str = "embedding", allow_fewer: bool = False
) -> list[list[float]]:
    """Deterministic seed: the k lowest-id vectors (collect is k rows —
    bounded metadata, same contract as similarity.ann_ivf_topk's coarse
    quantizer). Production alternative: k-means|| style sampling.

    ``allow_fewer=True`` returns whatever the corpus holds (possibly
    fewer than k, possibly none) — the exact ``LIMIT k`` semantics of
    the SQL oracles, so seed-only callers stay engine-parity on tiny
    and empty corpora (the r08 empty-input contract); the default stays
    a loud refusal because Lloyd TRAINING genuinely needs k seeds."""
    rows = (
        df.select(F.col("vec_id").alias("id"), as_double(F.col(vec_col)).alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if len(rows) < k and not allow_fewer:
        raise ValueError(f"need >= {k} vectors to seed {k} clusters, got {len(rows)}")
    return [[float(x) for x in r.v] for r in rows]


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only nearest-centroid assignment.

    Returns ``(vec_id, *keep_cols, cluster_id, _sqd)`` where ``_sqd`` is
    the squared distance to the winning centroid (for inertia); ties on
    distance go to the lowest cluster id.
    """
    cents = literal_matrix(centroids)
    vd = as_double(F.col(vec_col))
    dists = F.transform(cents, lambda c: sq_dist(vd, c))
    return df.select(
        "vec_id",
        *keep_cols,
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("long")
        .alias("cluster_id"),
        F.array_min(dists).alias("_sqd"),
    )


#: Lloyd's early exit: stop once the relative inertia improvement of an
#: iteration drops below this.
LLOYD_TOL = 1e-6


def lloyd_iterations(
    df: DataFrame, k: int, n_iters: int = 10, vec_col: str = "embedding"
) -> tuple[DataFrame, list[list[float]], list[float]]:
    """Run Lloyd's algorithm; returns (assignments, centroids, inertia_history).

    ``assignments`` is the final map-only assignment against the trained
    centroids (lazy — composes into downstream plans without a shuffle).
    ``inertia_history`` holds the summed squared distance after each
    assignment step; it is non-increasing (asserted in tests, the
    standard Lloyd's guarantee under exact arithmetic).

    Seeds are :func:`initial_centroids`. Early exit when the relative
    inertia improvement drops below LLOYD_TOL.
    """
    cents = initial_centroids(df, k, vec_col)
    history: list[float] = []
    for _ in range(n_iters):
        assigned = assign_clusters(df, cents, vec_col, keep_cols=(vec_col,))
        # one pass: per-(cluster, dim) sums for the update AND global
        # inertia, so each iteration is exactly one scan + one partial-agg
        # shuffle (no join — the vector rides through the assignment).
        stats = (
            assigned.select(
                "cluster_id",
                "_sqd",
                F.posexplode(as_double(F.col(vec_col))).alias("_i", "_x"),
            )
            .groupBy("cluster_id", "_i")
            .agg(
                F.sum("_x").alias("_sx"),
                F.count("*").alias("_n"),
                F.sum("_sqd").alias("_sqd_sum"),
            )
            .collect()
        )
        # _sqd_sum per (cluster, dim) repeats the cluster's inertia dim
        # times; take dim 0 only.
        inertia = float(sum(r._sqd_sum for r in stats if r._i == 0))
        history.append(inertia)
        new_cents = [list(c) for c in cents]  # empty cluster -> keep old
        for r in stats:
            new_cents[r.cluster_id][r._i] = float(r._sx) / float(r._n)
        cents = new_cents
        if len(history) >= 2 and history[-2] > 0:
            if (history[-2] - history[-1]) / history[-2] < LLOYD_TOL:
                break
        if inertia == 0.0:
            break
    final = assign_clusters(df, cents, vec_col).drop("_sqd")
    return final, cents, history


def cluster_profile(assigned: DataFrame) -> DataFrame:
    """Per-cluster size + majority label + purity — the curation view
    (which clusters are homogeneous enough to sample down / drop).
    Two hash aggregates + a k-row join; ties on the majority break to
    the lowest label."""
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    lab = (
        assigned.groupBy("cluster_id", "label")
        .agg(F.count("*").alias("_c"))
        .groupBy("cluster_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("label").cast("long").alias("l"), F.col("_c").alias("c")
                ),
                # max_by on (count, -label): largest count, lowest label on ties
                F.struct(F.col("_c"), (-F.col("label")).cast("long")),
            ).alias("_m")
        )
        .select(
            "cluster_id",
            F.col("_m.l").alias("majority_label"),
            F.col("_m.c").alias("_mc"),
        )
    )
    return (
        sizes.join(lab, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "majority_label",
            round6(F.col("_mc").cast("double") / F.col("n_members")).alias(
                "label_purity"
            ),
        )
    )
