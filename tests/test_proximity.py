"""Unit tests for grid-cell proximity join (operators/proximity.py) and
embedding-cosine near-dup pairs (operators/similarity.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.functions.geo import haversine_km
from kyiv_traffic_bigdata_spark.operators.proximity import (
    PROXIMITY_CELL_DEG,
    PROXIMITY_RADIUS_KM,
    proximity_join,
)
from kyiv_traffic_bigdata_spark.operators.similarity import (
    NEARDUP_THRESHOLD,
    cosine_neardup_pairs,
    neardup_rows_per_band,
)


def _points(spark, rows):
    return spark.createDataFrame(rows, "pid long, lat double, lon double")


def test_proximity_equals_bruteforce(spark):
    """Cell blocking must be lossless: same pairs as the cross join."""
    import random

    rng = random.Random(7)
    rows = [
        (i, 50.3 + rng.random() * 0.3, 30.3 + rng.random() * 0.5)
        for i in range(200)
    ]
    pts = _points(spark, rows)
    got = {
        (r.p_pid, r.e_pid)
        for r in proximity_join(pts, pts).collect()
    }
    brute = {
        (r.a, r.b)
        for r in pts.alias("x")
        .crossJoin(pts.alias("y"))
        .select(
            F.col("x.pid").alias("a"),
            F.col("y.pid").alias("b"),
            haversine_km(
                F.col("x.lat"), F.col("x.lon"), F.col("y.lat"), F.col("y.lon")
            ).alias("d"),
        )
        .where(F.col("d") <= PROXIMITY_RADIUS_KM)
        .collect()
    }
    assert got == brute and len(brute) >= 200  # self-pairs guarantee >= n


def test_proximity_no_duplicate_pairs(spark):
    """3x3 probe expansion must not emit the same pair twice."""
    pts = _points(spark, [(1, 50.3001, 30.3001), (2, 50.3002, 30.3002)])
    out = proximity_join(pts, pts)
    pairs = [(r.p_pid, r.e_pid) for r in out.collect()]
    assert sorted(pairs) == [(1, 1), (1, 2), (2, 1), (2, 2)]


def test_proximity_boundary_cells(spark):
    """Points straddling a cell boundary within the radius still match."""
    # 0.019999 vs 0.020001 deg lon: adjacent cells at cell width 0.02
    pts1 = _points(spark, [(1, 50.5, 30.019999)])
    pts2 = _points(spark, [(2, 50.5, 30.020001)])
    out = proximity_join(pts1, pts2).collect()
    assert len(out) == 1 and out[0].dist_km < 0.001


def test_proximity_cell_covers_radius():
    """Blocking is lossless only while a cell spans the radius in
    longitude at the northern edge of the Ukraine bbox."""
    from kyiv_traffic_bigdata_spark.config import UKRAINE_BBOX

    deg_per_km = 1 / (111.19 * math.cos(math.radians(UKRAINE_BBOX.lat_max)))
    assert PROXIMITY_CELL_DEG >= PROXIMITY_RADIUS_KM * deg_per_km


def _emb_frame(spark):
    """20 vectors in 2 planted clusters + noise (dim 64, the embeddings
    table's width)."""
    import random

    rng = random.Random(3)
    base_a = [1.0, 0.5, -0.3, 0.8, 0.1, -0.6, 0.4, 0.2] * 8
    base_b = [-0.7, 0.2, 0.9, -0.1, 0.5, 0.3, -0.8, 0.6] * 8
    rows = []
    for i in range(20):
        base = base_a if i % 2 == 0 else base_b
        vec = [x + rng.gauss(0, 0.05 if i < 10 else 2.0) for x in base]
        rows.append((i, [float(v) for v in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_neardup_pairs_subset_of_exact_and_thresholded(spark):
    emb = _emb_frame(spark)
    got = cosine_neardup_pairs(emb, neardup_rows_per_band(20)).collect()
    assert len(got) > 0
    # every reported pair is ordered, above threshold, and exact-verified
    rows = emb.collect()
    vecs = {r.vec_id: r.embedding for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb) if na * nb else 0.0

    exact = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b and cos(vecs[a], vecs[b]) >= NEARDUP_THRESHOLD
    }
    for r in got:
        assert r.id_a < r.id_b
        assert r.cosine_sim >= NEARDUP_THRESHOLD - 1e-6
        assert (r.id_a, r.id_b) in exact
    # tight clusters (sigma 0.05) collide in at least one band essentially
    # always; require meaningful recall on the planted half
    planted = {p for p in exact if p[0] < 10 and p[1] < 10}
    found = {(r.id_a, r.id_b) for r in got}
    assert len(found & planted) >= len(planted) * 0.5


def test_neardup_band_width_scales_with_corpus():
    """Adaptive LSH band width: 2^w buckets must keep expected bucket
    population <= target, clamped to [MIN, MAX] — the fix for the fixed
    16-bucket design whose verify work grew as n²/16."""
    from kyiv_traffic_bigdata_spark.operators.similarity import (
        NEARDUP_MAX_ROWS,
        NEARDUP_MIN_ROWS,
        NEARDUP_TARGET_BUCKET,
        neardup_rows_per_band,
    )

    t = NEARDUP_TARGET_BUCKET
    assert neardup_rows_per_band(0) == NEARDUP_MIN_ROWS
    assert neardup_rows_per_band(t) == NEARDUP_MIN_ROWS
    assert neardup_rows_per_band(10**12) == NEARDUP_MAX_ROWS
    prev = 0
    for n in [t, 4 * t, 16 * t, 256 * t, 2**20 * t]:
        w = neardup_rows_per_band(n)
        assert w >= prev  # monotone in corpus size
        prev = w
        if w < NEARDUP_MAX_ROWS:
            # the defining property: enough buckets for the corpus
            assert 2**w >= n / t
