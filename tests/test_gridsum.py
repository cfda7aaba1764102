"""Equivalence pins for functions.gridsum (r12 optimization).

grid_sum replaces the per-row double→decimal cast in the portable-sum
convention with int64 grid arithmetic; these tests pin that it is
VALUE-IDENTICAL to ``sum(cast(x as decimal(28,10)))`` on decimal-grid
data — including negatives, NULLs, empty groups, and magnitudes past
2^53 where a naive long-sum→double→divide recombination would double-
round. The converted queries' DuckDB oracles (unchanged decimal
formulas) re-prove the same equality end-to-end at every SF.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.functions.gridsum import (
    grid_scaled,
    grid_sum,
    grid_sum_dec,
)

DEC = "decimal(28,10)"


def _both(df, col, dp):
    row = df.agg(
        F.sum(col.cast(DEC)).cast("double").alias("ref"),
        grid_sum(col, dp).alias("fast"),
    ).collect()[0]
    return row["ref"], row["fast"]


def test_grid_sum_matches_decimal_sum_random_2dp(spark):
    rng = random.Random(42)
    rows = [(i % 7, round(rng.uniform(-1e5, 1e5), 2)) for i in range(5000)]
    rows += [(i % 7, None) for i in range(50)]
    df = spark.createDataFrame(rows, "g int, x double")
    got = (
        df.groupBy("g")
        .agg(
            F.sum(F.col("x").cast(DEC)).cast("double").alias("ref"),
            grid_sum(F.col("x"), 2).alias("fast"),
            F.sum((F.col("x") * F.col("x")).cast(DEC))
            .cast("double")
            .alias("ref2"),
            grid_sum(F.col("x") * F.col("x"), 4).alias("fast2"),
        )
        .collect()
    )
    assert len(got) == 7
    for r in got:
        assert r["ref"] == r["fast"], (r["g"], r["ref"], r["fast"])
        assert r["ref2"] == r["fast2"], (r["g"], r["ref2"], r["fast2"])


def test_grid_sum_all_null_group_and_empty(spark):
    df = spark.createDataFrame(
        [(0, 1.25), (0, 2.50), (1, None), (1, None)], "g int, x double"
    )
    got = {
        r["g"]: (r["ref"], r["fast"])
        for r in df.groupBy("g")
        .agg(
            F.sum(F.col("x").cast(DEC)).cast("double").alias("ref"),
            grid_sum(F.col("x"), 2).alias("fast"),
        )
        .collect()
    }
    assert got[0] == (3.75, 3.75)
    assert got[1] == (None, None)
    empty = df.where("g = 99")
    ref, fast = _both(empty, F.col("x"), 2)
    assert ref is None and fast is None


def test_grid_sum_past_2p53_matches_correctly_rounded_cast(spark):
    """Sums whose scaled integer exceeds 2^53: the decimal recombine +
    decimal divide must still match the decimal(28,10) sum bit-for-bit
    (a double-domain ``cast(sum as double)/10^dp`` would not)."""
    # 4e6 rows of ~5e7.xx → Σ(x·100) ≈ 2e16 > 2^53 ≈ 9.0e15
    df = spark.range(4_000_000).select(
        (F.lit(50_000_000.0) + (F.col("id") % 100) / F.lit(100.0)).alias("x")
    )
    ref, fast = _both(df, F.col("x"), 2)
    assert ref == fast
    assert ref * 100 > 2.0**53  # the scaled sum really crossed 2^53


def test_grid_sum_negative_half_grid_values(spark):
    """Negative grid values (acctbal-like): arithmetic shiftright keeps
    the split exact; result matches the decimal sum exactly."""
    rng = random.Random(7)
    rows = [(round(rng.uniform(-9999.99, 9999.99), 2),) for _ in range(3000)]
    df = spark.createDataFrame(rows, "x double")
    ref, fast = _both(df, F.col("x"), 2)
    assert ref == fast


def test_grid_sum_max_magnitude_charge_products(spark):
    """Adversarial margin pin (r12 ADVICE): for multi-rounding DERIVED
    6-dp products at max magnitude (charge ≈ 1.3e5, ~5 accumulated
    double roundings) the per-row deviation from the grid value can
    exceed the decimal(28,10) cast's 5e-11 half-grid, so per-row
    equality with the decimal path is NOT claimed; what the module
    docstring claims — and this test pins — is equality of the final
    aggregate double within 2 ulps."""
    import math

    rng = random.Random(13)
    rows = []
    for _ in range(20_000):
        # TPC-H-shaped extremes: price pinned near its ~1.1e5 ceiling,
        # worst-case discount/tax corners mixed with random grid values
        price = round(rng.uniform(90_000.0, 104_949.5), 2)
        disc = round(rng.choice([0.0, 0.01, 0.1, rng.uniform(0, 0.1)]), 2)
        tax = round(rng.choice([0.0, 0.08, rng.uniform(0, 0.08)]), 2)
        rows.append((price, disc, tax))
    df = spark.createDataFrame(rows, "p double, d double, t double")
    charge = F.col("p") * (F.lit(1.0) - F.col("d")) * (F.lit(1.0) + F.col("t"))
    ref, fast = _both(df, charge, 6)
    ulp = math.ulp(max(abs(ref), abs(fast)))
    assert abs(ref - fast) <= 2 * ulp, (
        f"aggregate deviation {abs(ref - fast)} > 2 ulps ({2 * ulp})"
    )
    # stored-grid columns (single rounding) stay bit-identical per row:
    # the grid integer and the decimal(28,10) cast recover the same n
    mism = df.where(
        grid_scaled(F.col("p"), 2)
        != F.round(F.col("p").cast(DEC) * 100).cast("long")
    ).count()
    assert mism == 0


def test_grid_scaled_integer_column(spark):
    df = spark.createDataFrame([(50.0,), (1.0,), (-3.0,)], "x double")
    got = df.select(grid_scaled(F.col("x"), 0).alias("n")).collect()
    assert [r["n"] for r in got] == [50, 1, -3]


def test_grid_sum_dec_matches_decimal_sum_as_decimal(spark):
    """grid_sum_dec feeds downstream decimal re-aggregation
    (important_part_value): the NUMERIC value must equal the old
    decimal(38,10) sum's."""
    df = spark.createDataFrame(
        [(1, 10.25), (1, 0.50), (2, -7.75)], "g int, x double"
    )
    got = {
        r["g"]: (float(r["ref"]), float(r["fast"]))
        for r in df.groupBy("g")
        .agg(
            F.sum(F.col("x").cast(DEC)).alias("ref"),
            grid_sum_dec(F.col("x"), 2).alias("fast"),
        )
        .collect()
    }
    assert got[1] == (10.75, 10.75)
    assert got[2] == (-7.75, -7.75)
