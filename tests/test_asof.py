"""Unit tests for the as-of join operator (operators/asof.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 150, "c"), (3, 50, "d")],
        "user_id long, ts_us long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 90, 0, 10.0), (1, 150, 1, 20.0), (2, 150, 2, 30.0), (2, 10, 3, 40.0)],
        "user_id long, ts_us long, event_id long, value double",
    )
    return left, right


def test_basic_asof_semantics(spark):
    left, right = _frames(spark)
    out = {
        r.tag: r
        for r in asof_join(left, right).collect()
    }
    assert out["a"].asof_value == 10.0  # 90 <= 100, not 150
    assert out["b"].asof_value == 20.0  # latest of {90, 150}
    assert out["c"].asof_value == 30.0  # inclusive: right ts == left ts matches
    assert out["d"].asof_value is None and out["d"].asof_ts_us is None  # no match


def test_left_rows_all_preserved_no_expansion(spark):
    left, right = _frames(spark)
    out = asof_join(left, right)
    assert out.count() == left.count()
    assert sorted(r.tag for r in out.collect()) == ["a", "b", "c", "d"]


def test_duplicate_right_ts_tiebreak_deterministic(spark):
    left = spark.createDataFrame([(1, 100)], "user_id long, ts_us long")
    right = spark.createDataFrame(
        [(1, 100, 7, 1.0), (1, 100, 9, 2.0), (1, 100, 8, 3.0)],
        "user_id long, ts_us long, event_id long, value double",
    )
    out = asof_join(left, right).collect()[0]
    assert out.asof_event_id == 9 and out.asof_value == 2.0  # max tiebreak wins


def test_single_shuffle_plan(spark):
    from kyiv_traffic_bigdata_spark.plans import physical_plan
    from plan_checks import exchange_count

    left, right = _frames(spark)
    plan = physical_plan(asof_join(left, right))
    assert exchange_count(plan) == 1


def test_interval_join_matches_bruteforce_and_is_dup_free(spark):
    """Bin blocking must be lossless (same pairs as the inequality join)
    and duplicate-free (a pair meets in exactly one bin), including
    intervals straddling bin boundaries and spanning multiple bins."""
    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.operators.interval import interval_join

    pts = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate([5, 99, 100, 101, 150, 250, 1000])]
        + [(2, 100, 100)],
        "user_id long, pid long, ts_us long",
    )
    iv = spark.createDataFrame(
        [
            (1, 10, 90, 120),    # straddles the bin boundary at 100
            (1, 11, 0, 500),     # spans many bins
            (1, 12, 140, 160),   # interior
            (2, 13, 90, 120),    # other key
        ],
        "user_id long, iid long, err_start long, err_end long",
    )
    got = interval_join(pts, iv, 100)
    pairs = sorted((r.pid, r.iid) for r in got.collect())
    brute = sorted(
        (r.pid, r.iid)
        for r in pts.join(iv, "user_id")
        .where((F.col("ts_us") >= F.col("err_start")) & (F.col("ts_us") <= F.col("err_end")))
        .collect()
    )
    assert pairs == brute
    assert len(pairs) == len(set(pairs))  # no duplicates from the explode


def test_interval_join_exact_beyond_double_precision(spark):
    """Bin assignment must use exact integer division: int64 nanosecond
    timestamps exceed 2^53, where float floor(ts/width) is off-spec.
    Values here sit 1 below / 1 above a bin boundary near 2^60 — a
    double rounds them ONTO the boundary (ULP is 256 there)."""
    from kyiv_traffic_bigdata_spark.operators.interval import interval_join

    width = 32000
    boundary = ((1 << 60) // width) * width  # exact multiple near 2^60
    pts = spark.createDataFrame(
        [(1, 0, boundary - 1), (1, 1, boundary), (1, 2, boundary + 1)],
        "user_id long, pid long, ts_us long",
    )
    iv = spark.createDataFrame(
        [(1, 10, boundary - 5, boundary - 1), (1, 11, boundary, boundary + 5)],
        "user_id long, iid long, err_start long, err_end long",
    )
    got = sorted((r.pid, r.iid) for r in interval_join(pts, iv, width).collect())
    assert got == [(0, 10), (1, 11), (2, 11)]
