"""Accuracy contracts for the sketch-path aggregates.

r11: the registered ``approx_event_stats`` query was re-based on the
PORTABLE md5-register HLL (operators/hll.py) so it holds a full DuckDB
oracle — cross-engine equality is now the driver gate's job, and these
tests pin that the estimate is a GOOD one. The native HLL++ path
(``approx_count_distinct``) is not used: its engine-defined sampling
can never match an oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.hll import HLL_M
from kyiv_traffic_bigdata_spark.queries import QUERIES
from kyiv_traffic_bigdata_spark.tables import load_table


def _exact_distinct(spark, sf_dir):
    return {
        r.event_type: r.exact
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }


def test_portable_hll_estimate_within_error_budget(spark, sf_dir):
    """The registered query's portable-HLL estimate stays within 4x the
    m=64 theoretical standard error (1.04/sqrt(64) ~ 13%) of the exact
    distinct count per group — same budget test_hll.py applies to
    user_hll_sketch (the two share operators/hll.py)."""
    approx = {
        r.event_type: r.users_est
        for r in QUERIES["approx_event_stats"](spark, sf_dir).collect()
    }
    exact = _exact_distinct(spark, sf_dir)
    assert set(approx) == set(exact)
    budget = 4 * 1.04 / (HLL_M**0.5)
    for t, e in exact.items():
        rel = abs(approx[t] - e) / max(e, 1)
        assert rel <= budget, (t, approx[t], e, rel)


def test_approx_avg_matches_exact_path(spark, sf_dir):
    """The non-sketch columns of the approx variant must be identical to
    the exact operator's output (same decimal-stable sum path)."""
    a = {
        r.event_type: (r.avg_value, r.samples)
        for r in QUERIES["approx_event_stats"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    from kyiv_traffic_bigdata_spark.operators.aggregates import stable_avg

    b = {
        r.event_type: (r.avg_value, r.samples)
        for r in ev.groupBy("event_type")
        .agg(stable_avg("value").alias("avg_value"), F.count("value").alias("samples"))
        .collect()
    }
    assert a == b
