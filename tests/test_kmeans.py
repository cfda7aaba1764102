"""Lloyd's k-means trainer (operators/kmeans.py): convergence,
determinism, empty-cluster handling, and the curation profile. The
registered single-pass assignment query is oracle-checked in
test_oracle.py (emb_kmeans); these tests pin the iterative path the
SQL twin cannot express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.kmeans import (
    assign_clusters,
    cluster_profile,
    initial_centroids,
    lloyd_iterations,
)


def _toy(spark):
    # two tight blobs around (0,0) and (10,10), one straggler at (5,5)
    rows = [
        (0, [0.0, 0.1], 0),
        (1, [0.1, 0.0], 0),
        (2, [0.2, 0.2], 0),
        (3, [10.0, 10.1], 1),
        (4, [10.1, 9.9], 1),
        (5, [9.8, 10.0], 1),
        (6, [5.0, 5.0], 1),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_inertia_non_increasing_and_converges(spark):
    d = _toy(spark)
    assigned, cents, hist = lloyd_iterations(d, k=2, n_iters=10)
    assert len(hist) >= 2
    assert all(a >= b - 1e-9 for a, b in zip(hist, hist[1:]))
    # the two blobs must separate regardless of the straggler
    got = {r.vec_id: r.cluster_id for r in assigned.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    assert len(cents) == 2 and len(cents[0]) == 2


def test_deterministic_across_runs(spark):
    d = _toy(spark)
    a1, c1, h1 = lloyd_iterations(d, k=3, n_iters=5)
    a2, c2, h2 = lloyd_iterations(d, k=3, n_iters=5)
    assert c1 == c2 and h1 == h2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_empty_cluster_keeps_previous_centroid(spark):
    # the seeds (the two lowest ids, 0 and 1) are both inside blob A;
    # after one update the loser seed must survive (not NaN / not
    # dropped) so k stays 2
    d = _toy(spark)
    _, cents, _ = lloyd_iterations(d, k=2, n_iters=1)
    assert len(cents) == 2
    assert all(all(x == x for x in c) for c in cents)  # no NaN


def test_initial_centroids_are_lowest_ids(spark):
    d = _toy(spark)
    cents = initial_centroids(d, 2)
    assert cents == [[0.0, 0.1], [0.1, 0.0]]
    with pytest.raises(ValueError):
        initial_centroids(d, 100)


def test_initial_centroids_allow_fewer_matches_limit_k(spark):
    """allow_fewer=True is the oracles' LIMIT-k semantics: a corpus
    with n < k seeds all n vectors, and an empty corpus seeds none —
    never a refusal (the r09 degenerate-input contract)."""
    d = _toy(spark)
    all_of_them = initial_centroids(d, 100, allow_fewer=True)
    assert len(all_of_them) == d.count()
    assert all_of_them[:2] == [[0.0, 0.1], [0.1, 0.0]]
    assert initial_centroids(d.limit(0), 8, allow_fewer=True) == []


def test_assignment_tie_breaks_to_lowest_cluster(spark):
    d = spark.createDataFrame(
        [(0, [1.0, 1.0], 0)], "vec_id long, embedding array<double>, label int"
    )
    # two identical centroids -> equal distance -> cluster 0 wins
    a = assign_clusters(d, [[0.0, 0.0], [0.0, 0.0]])
    assert a.collect()[0].cluster_id == 0


def test_cluster_profile_majority_and_purity(spark):
    d = _toy(spark)
    assigned, _, _ = lloyd_iterations(d, k=2, n_iters=10)
    prof = cluster_profile(
        assigned.join(d.select("vec_id", "label"), "vec_id")
    ).collect()
    by_n = {r.n_members: r for r in prof}
    assert set(by_n) == {3, 4}
    assert by_n[3].majority_label == 0 and by_n[3].label_purity == 1.0
    assert by_n[4].majority_label == 1 and by_n[4].label_purity == 1.0


def test_assignment_is_map_only(spark, sf_dir):
    """The scale contract: nearest-centroid assignment must not shuffle."""
    from kyiv_traffic_bigdata_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = initial_centroids(emb, 4)
    plan = assign_clusters(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
