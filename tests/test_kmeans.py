"""Seeded nearest-centroid clustering (operators/kmeans.py): the seed
contract, assignment tie-breaks, the curation profile and the map-only
plan. The registered assignment query is oracle-checked in
test_oracle.py (emb_kmeans)."""

from __future__ import annotations

from kyiv_traffic_bigdata_spark.operators.kmeans import (
    assign_clusters,
    cluster_profile,
    initial_centroids,
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


def test_initial_centroids_are_lowest_ids(spark):
    d = _toy(spark)
    cents = initial_centroids(d, 2)
    assert cents == [[0.0, 0.1], [0.1, 0.0]]


def test_initial_centroids_allow_fewer_matches_limit_k(spark):
    """The oracles' LIMIT-k semantics: a corpus with n < k seeds all n
    vectors, and an empty corpus seeds none — never a refusal (the r09
    degenerate-input contract)."""
    d = _toy(spark)
    all_of_them = initial_centroids(d, 100)
    assert len(all_of_them) == d.count()
    assert all_of_them[:2] == [[0.0, 0.1], [0.1, 0.0]]
    assert initial_centroids(d.limit(0), 8) == []


def test_assignment_tie_breaks_to_lowest_cluster(spark):
    d = spark.createDataFrame(
        [(0, [1.0, 1.0], 0)], "vec_id long, embedding array<double>, label int"
    )
    # two identical centroids -> equal distance -> cluster 0 wins
    a = assign_clusters(d, [[0.0, 0.0], [0.0, 0.0]])
    assert a.collect()[0].cluster_id == 0


def test_cluster_profile_majority_and_purity(spark):
    d = _toy(spark)
    # one centroid per blob; the straggler (5,5) is nearer (9,9)
    assigned = assign_clusters(d, [[0.0, 0.0], [9.0, 9.0]], keep_cols=("label",))
    prof = cluster_profile(assigned).collect()
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
