"""Trajectory speed guards (operators/trajectory.py) — SURVEY F5/F6:
implausible consecutive-fix pairs never become speed samples."""

from kyiv_traffic_bigdata_spark.operators.trajectory import trajectory_speeds


def test_implausible_pairs_are_gated(spark):
    # dt=0 (dup ts), a teleport (>120 km/h) and a dt > 300 s gap all drop
    fixes = spark.createDataFrame(
        [
            (7, 50.40, 30.50, 1000),
            (7, 50.41, 30.50, 1000),  # dt=0
            (7, 51.40, 30.50, 1030),  # ~111 km in 30 s -> gated
            (7, 51.41, 30.50, 2000),  # dt=970 > 300 -> gated
        ],
        "vehicle_id long, lat double, lon double, timestamp long",
    )
    assert trajectory_speeds(fixes, tiebreak_cols=["lat"]).count() == 0
