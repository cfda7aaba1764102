"""Distributed logistic-regression tests (operators/logreg.py)."""

from __future__ import annotations


def test_logreg_learns_separable_data_and_is_partition_invariant(spark):
    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.operators.logreg import (
        logistic_regression_gd,
        predict_proba,
    )

    # linearly separable in f1: y = (f1 > 0.5)
    rows = [(i, 1.0, (i % 100) / 100.0, 1.0 if (i % 100) / 100.0 > 0.5 else 0.0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, f0 double, f1 double, y double")
    w, n = logistic_regression_gd(df, ["f0", "f1"])
    assert n == 400
    assert w[1] > 0  # the separating feature gets positive weight
    scored = df.select(
        "y", (predict_proba(["f0", "f1"], w) >= 0.5).alias("pred")
    )
    acc = scored.where(F.col("pred") == (F.col("y") == 1.0)).count() / 400
    assert acc >= 0.95

    w2, _ = logistic_regression_gd(df.repartition(13), ["f0", "f1"])
    assert w == w2  # decimal-summed gradients: bit-identical weights


def test_logreg_rejects_empty_frame(spark):
    import pytest

    from kyiv_traffic_bigdata_spark.operators.logreg import logistic_regression_gd

    df = spark.createDataFrame([], "f0 double, y double")
    with pytest.raises(ValueError):
        logistic_regression_gd(df, ["f0"])
