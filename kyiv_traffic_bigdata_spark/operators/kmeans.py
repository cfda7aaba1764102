"""Seeded nearest-centroid clustering over embedding columns.

Cluster-based corpus curation is a standard large-scale training-data
operation (cluster embeddings, then balance / dedup / filter per
cluster); the reference has no clustering, so this is a first-class
extension alongside the ANN operators (cf. ``operators/similarity.py``,
whose IVF coarse quantizer and SemDeDup gate consume the same seeded
assignment).

Every registered caller uses the same deterministic, oracle-expressible
shape — the k lowest-id vectors as centroids, one assignment pass — so
the DuckDB twins rebuild it with ``ORDER BY vec_id LIMIT k``:

* centroids are **metadata**: k x dim doubles collected from a k-row
  ``LIMIT`` (~kB). They ship to executors as a literal array-of-arrays
  — never a shuffle side.
* **assignment is map-only**: each row computes k squared-L2 distances
  against the literal centroid matrix inside one codegen'd
  ``transform`` + ``array_position(array_min(...))`` expression — pure
  Catalyst, no UDF, no Python in the hot path; argmin ties break to the
  lowest cluster id (``array_position`` returns the first match).
* the curation **profile** is two hash aggregates over k output rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..functions.rounding import round6

from ..functions.vector import as_double, literal_matrix, sq_dist


def initial_centroids(df: DataFrame, k: int) -> list[list[float]]:
    """Deterministic seed: the k lowest-id vectors (collect is k rows —
    bounded metadata, same contract as similarity.ann_ivf_topk's coarse
    quantizer). A corpus with fewer than k vectors seeds all of them,
    possibly none — the exact ``LIMIT k`` semantics of the SQL oracles,
    so callers stay engine-parity on tiny and empty corpora (the r08
    empty-input contract)."""
    rows = (
        df.select(F.col("vec_id").alias("id"), as_double(F.col("embedding")).alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r.v] for r in rows]


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only nearest-centroid assignment.

    Returns ``(vec_id, *keep_cols, cluster_id, _sqd)`` where ``_sqd`` is
    the squared distance to the winning centroid (for inertia); ties on
    distance go to the lowest cluster id.
    """
    cents = literal_matrix(centroids)
    vd = as_double(F.col("embedding"))
    dists = F.transform(cents, lambda c: sq_dist(vd, c))
    return df.select(
        "vec_id",
        *keep_cols,
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("long")
        .alias("cluster_id"),
        F.array_min(dists).alias("_sqd"),
    )


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
