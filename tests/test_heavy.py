"""Misra-Gries heavy hitters (operators/heavy.py).

The uniform synthetic corpus never triggers the MG prune (vocab 31 <
capacity 48), so these tests build SKEWED streams where the summary
overflows and the decrement path actually runs, then check:

1. guarantee: candidates ⊇ every value with frequency > N/(k+1),
   across partition layouts (the superset property must hold for ANY
   layout — layouts only change the non-guaranteed extras);
2. exactness: the verified output equals the naive full GROUP BY +
   threshold filter, value-for-value and count-for-count;
3. boundary: a value at EXACTLY N/(k+1) is excluded (strict >,
   integer-exact via count·(k+1) > N — no float division);
4. tiny-k stress: k=2 on a Zipf-ish stream still verifies exactly.
"""

from __future__ import annotations

import pytest

from kyiv_traffic_bigdata_spark.operators.heavy import (
    heavy_hitters_exact,
    mg_candidates,
)


def _stream(spark, freqs: dict[str, int], parts: int):
    rows = [(v,) for v, c in freqs.items() for _ in range(c)]
    # deterministic interleave so every partition sees a mix
    rows.sort(key=lambda r: hash(r[0]) % 7)
    return spark.createDataFrame(rows, "token string").repartition(parts)


ZIPFISH = {f"t{i}": max(1, 600 // (i + 1)) for i in range(40)}  # 600,300,200,…


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_candidates_superset_guarantee_any_layout(spark, parts):
    k = 5
    df = _stream(spark, ZIPFISH, parts)
    n = sum(ZIPFISH.values())
    cands = {r.token for r in mg_candidates(df, k).collect()}
    must_have = {v for v, c in ZIPFISH.items() if c * (k + 1) > n}
    assert must_have, "test stream must contain at least one heavy hitter"
    assert must_have <= cands


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_verified_output_is_exact(spark, parts):
    k = 5
    df = _stream(spark, ZIPFISH, parts)
    n = sum(ZIPFISH.values())
    got = {
        (r.token, r.n_occurrences)
        for r in heavy_hitters_exact(df, k).collect()
    }
    want = {(v, c) for v, c in ZIPFISH.items() if c * (k + 1) > n}
    assert got == want


def test_exact_threshold_boundary_is_strict(spark):
    # N = 60, k = 2 -> threshold N/(k+1) = 20: the 20-count value sits
    # exactly ON the boundary and must be excluded; 25 qualifies.
    freqs = {"on_boundary": 20, "heavy": 25, "a": 5, "b": 5, "c": 5}
    df = _stream(spark, freqs, 4)
    got = {r.token for r in heavy_hitters_exact(df, 2).collect()}
    assert got == {"heavy"}


def test_tiny_capacity_still_exact(spark):
    freqs = {"x": 500, "y": 300, **{f"z{i}": 3 for i in range(50)}}
    df = _stream(spark, freqs, 6)
    n = sum(freqs.values())
    got = {
        (r.token, r.n_occurrences)
        for r in heavy_hitters_exact(df, 2).collect()
    }
    want = {(v, c) for v, c in freqs.items() if c * 3 > n}
    assert got == want


def test_nulls_excluded_from_candidates_and_total(spark):
    """NULLs must not count toward N (pandas value_counts drops NaN, so
    an unfiltered N would inflate the threshold and could hide real
    heavy hitters behind null mass)."""
    rows = [("x",)] * 10 + [(None,)] * 100 + [("y",)] * 3
    df = spark.createDataFrame(rows, "token string").repartition(3)
    # N(non-null) = 13, k=2 -> threshold 13/3: x (10) qualifies, y (3) not.
    # With nulls wrongly counted N would be 113 and x (10*3=30 < 113) lost.
    got = {(r.token, r.n_occurrences) for r in heavy_hitters_exact(df, 2).collect()}
    assert got == {("x", 10)}


def test_empty_stream_yields_empty_frame(spark):
    df = spark.createDataFrame([], "token string")
    out = heavy_hitters_exact(df, 8)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["token", "n_occurrences"]


def test_non_string_key_type_is_preserved(spark):
    """The candidate frame must carry the input column's native Spark
    type (r09 ADVICE): a hardcoded string schema would stringify long
    keys and force a casting join in the exact phase — precision loss
    past 2^53 and a silent type change for any non-string caller."""
    big = 2**62 + 7  # not exactly representable as float64
    rows = [(big,)] * 9 + [(big + 1,)] * 2 + [(12,)] * 1
    df = spark.createDataFrame(rows, "token long").repartition(3)
    cands = mg_candidates(df, 3)
    assert cands.schema["token"].dataType.simpleString() == "bigint"
    out = heavy_hitters_exact(df, 2)
    assert out.schema["token"].dataType.simpleString() == "bigint"
    # N = 12, k = 2 -> threshold 4: only the 9-count key qualifies, and
    # it must come back bit-exact (big and big+1 collide as float64).
    assert {(r.token, r.n_occurrences) for r in out.collect()} == {(big, 9)}
