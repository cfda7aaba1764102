"""Brute-force semantic references for the r11 drift/change-point
statistics — Spark-free on purpose.

The oracle gate (tests/test_oracle.py) proves Spark ≡ DuckDB cell-for-
cell; these tests prove DuckDB-oracle ≡ a from-first-principles Python
implementation of the textbook definition, closing the loop
brute-force ≡ oracle ≡ Spark. Running the reference against the ORACLE
side means no SparkSession is needed, so this file is cheap and safe
to run concurrently with anything.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from kyiv_traffic_bigdata_spark.queries import (
    CUSUM_HOUR_US,
    SQL_CUSUM_SHIFT,
    SQL_EVENT_MAD,
    SQL_KS_DRIFT,
    SQL_MWU_DRIFT,
    SQL_WELCH_DRIFT,
    _sql_quantile_disc,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    yield con
    con.close()


@pytest.fixture(scope="module")
def rows(duck):
    """(event_type, value, ts_us) for non-null values."""
    return duck.sql(
        "SELECT event_type, value, epoch_us(ts) FROM events "
        "WHERE value IS NOT NULL"
    ).fetchall()


def _halves(rows):
    mid = (min(r[2] for r in rows) + max(r[2] for r in rows)) // 2
    by_type: dict[str, tuple[list, list]] = {}
    for t, v, ts in rows:
        a, b = by_type.setdefault(t, ([], []))
        (a if ts <= mid else b).append(v)
    return by_type


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _disc(sorted_vals, num, den):
    """The ceil(num/den * n)-th smallest value (1-based), exact."""
    return sorted_vals[-(-num * len(sorted_vals) // den) - 1]


def test_quantile_disc_matches_sorted_list():
    """The shared discrete-quantile CTE picks the ceil(p*n)-th value of
    the sorted group, on ties, on a one-row group and at p = 1/20, 1/2
    and 99/100."""
    groups = {
        "ties": [3.0, 1.0, 2.0, 2.0, 2.0, 5.0, 5.0, 9.0, 1.0, 2.0],
        "one": [7.5],
        "wide": [float(i % 37) for i in range(250)],
    }
    fracs = [("p05", 1, 20), ("p50", 1, 2), ("p99", 99, 100)]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW t AS SELECT * FROM (VALUES "
        + ", ".join(f"('{g}', {v})" for g, vs in groups.items() for v in vs)
        + ") AS x(g, v)"
    )
    got = {
        r[0]: r[1:]
        for r in con.sql(_sql_quantile_disc("t", fracs, "n_rows")).fetchall()
    }
    con.close()
    assert set(got) == set(groups)
    for g, vs in groups.items():
        sv = sorted(vs)
        assert got[g] == (len(sv), *(_disc(sv, n, d) for _, n, d in fracs))


def test_ks_matches_textbook_sup_distance(duck, rows):
    """The KS statistic recomputed as sup|F_a - F_b| over the pooled
    values, from the two halves' empirical CDFs, must match the oracle;
    its integer numerator max|cum_a*n_b - cum_b*n_a| must match exactly."""
    got = {r[0]: r for r in duck.sql(SQL_KS_DRIFT).fetchall()}
    for t, (a, b) in _halves(rows).items():
        if not a or not b:
            assert t not in got
            continue
        na, nb = len(a), len(b)
        d_num, sup = 0, 0.0
        for x in sorted(set(a + b)):
            ca = sum(1 for v in a if v <= x)
            cb = sum(1 for v in b if v <= x)
            d_num = max(d_num, abs(ca * nb - cb * na))
            sup = max(sup, abs(ca / na - cb / nb))
        name, n1, n2, g_num, ks = got[t]
        assert (n1, n2, g_num) == (na, nb, d_num)
        assert ks == pytest.approx(sup, abs=1e-6)


def test_mad_matches_sorted_list_median(duck, rows):
    """MAD recomputed as the lower median of |v - med| with med the
    lower median of the values, both read off sorted lists."""
    vals: dict[str, list[float]] = {}
    for t, v, _ in rows:
        vals.setdefault(t, []).append(v)
    got = {r[0]: r for r in duck.sql(SQL_EVENT_MAD).fetchall()}
    assert set(got) == set(vals)
    for t, vs in vals.items():
        med = _disc(sorted(vs), 1, 2)
        mad = _disc(sorted(abs(v - med) for v in vs), 1, 2)
        assert got[t] == (t, len(vs), med, mad)


def test_mwu_matches_textbook_midranks(duck, rows):
    """U from explicitly-constructed midranks over the pooled sorted
    sample (the definition every stats text gives) must equal the
    oracle's histogram-slab computation exactly."""
    got = {
        r[0]: r for r in duck.sql(SQL_MWU_DRIFT).fetchall()
    }
    for t, (a, b) in _halves(rows).items():
        if not a or not b:
            assert t not in got
            continue
        pooled = sorted(a + b)
        # midrank of each distinct value = mean of its 1-based rank span
        start: dict[float, int] = {}
        count: dict[float, int] = {}
        for i, v in enumerate(pooled):
            start.setdefault(v, i + 1)
            count[v] = count.get(v, 0) + 1
        midrank = {v: start[v] + (count[v] - 1) / 2 for v in start}
        r_a = sum(midrank[v] for v in a)
        u_a = r_a - len(a) * (len(a) + 1) / 2
        name, n1, n2, u2, auc = got[t]
        assert (n1, n2) == (len(a), len(b))
        assert u2 == round(2 * u_a)
        assert auc == pytest.approx(
            _round6(u_a / (len(a) * len(b))), abs=1e-9
        )


def test_welch_matches_textbook_formula(duck, rows):
    """t and the Welch–Satterthwaite df recomputed with plain Python
    floats from the textbook formulas (sample variance with n-1) must
    match the oracle to round6 tolerance."""
    got = {r[0]: r for r in duck.sql(SQL_WELCH_DRIFT).fetchall()}
    for t, (a, b) in _halves(rows).items():
        if not a or not b:
            assert t not in got
            continue
        name, n1, n2, m1, m2, t_stat, dfw = got[t]
        assert (n1, n2) == (len(a), len(b))
        ma, mb = sum(a) / len(a), sum(b) / len(b)
        assert m1 == pytest.approx(ma, abs=1e-6)
        assert m2 == pytest.approx(mb, abs=1e-6)
        if len(a) < 2 or len(b) < 2:
            assert t_stat is None and dfw is None
            continue
        va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
        vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
        pooled = va / len(a) + vb / len(b)
        if pooled <= 0:
            assert t_stat is None and dfw is None
            continue
        t_ref = (ma - mb) / math.sqrt(pooled)
        df_ref = pooled * pooled / (
            (va / len(a)) ** 2 / (len(a) - 1)
            + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        # the engines sum via exact decimals; the float reference can
        # differ in late ulps, amplified by the variance cancellation —
        # 1e-4 relative still catches any formula/handedness error
        assert t_stat == pytest.approx(t_ref, rel=1e-4, abs=1e-6)
        assert dfw == pytest.approx(df_ref, rel=1e-4)


def test_cusum_matches_bruteforce_argmax(duck):
    """The peak hour and the H-scaled peak recomputed by literally
    accumulating S_h over the hourly series must match the oracle,
    including the earliest-hour tie-break."""
    hourly = duck.sql(
        f"SELECT event_type, (epoch_us(ts) // {CUSUM_HOUR_US}) * 3600, "
        "COUNT(*) FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict[str, list[tuple[int, int]]] = {}
    for t, h, x in hourly:
        series.setdefault(t, []).append((h, x))
    got = {r[0]: r for r in duck.sql(SQL_CUSUM_SHIFT).fetchall()}
    assert set(got) == set(series)
    for t, hs in series.items():
        big_h = len(hs)
        total = sum(x for _, x in hs)
        cum = 0
        best = None  # (abs_s2, -hour) maximized -> earliest hour on tie
        for idx, (h, x) in enumerate(hs, start=1):
            cum += x
            s2 = big_h * cum - idx * total
            key = (abs(s2), -h)
            if best is None or key > best:
                best = key
        name, n_hours, n_events, shift_hour, peak, frac = got[t]
        assert (n_hours, n_events) == (big_h, total)
        assert peak == best[0]
        assert shift_hour == -best[1]
        assert frac == pytest.approx(
            _round6(best[0] / (big_h * total)), abs=1e-9
        )


def test_psi_matches_bruteforce(duck, rows):
    """PSI recomputed by literally freezing first-half deciles
    (discrete: smallest value with cum count ≥ ceil(i·n/10)), bucketing
    both halves with the same ≤-edge scan, and summing the textbook
    terms over buckets populated on both sides."""
    from kyiv_traffic_bigdata_spark.queries import _sql_psi_drift

    got = {r[0]: r for r in duck.sql(_sql_psi_drift()).fetchall()}
    for t, (a, b) in _halves(rows).items():
        if not a or not b:
            assert t not in got
            continue
        sa = sorted(a)
        n = len(sa)
        edges = [sa[(i * n + 9) // 10 - 1] for i in range(1, 10)]

        def bucket(v):
            for i, e in enumerate(edges, start=1):
                if v <= e:
                    return i
            return 10

        ca = [0] * 11
        cb = [0] * 11
        for v in a:
            ca[bucket(v)] += 1
        for v in b:
            cb[bucket(v)] += 1
        terms = []
        used = 0
        for i in range(1, 11):
            if ca[i] > 0 and cb[i] > 0:
                used += 1
                p, q = ca[i] / len(a), cb[i] / len(b)
                terms.append((p - q) * math.log(p / q))
        name, n1, n2, nb_used, psi = got[t]
        assert (n1, n2, nb_used) == (len(a), len(b), used)
        assert psi == pytest.approx(sum(terms), abs=1e-6)


def test_winsor_matches_bruteforce(duck):
    """Winsorized mean recomputed from the discrete p05/p95 definition
    (clip then average) per type."""
    from kyiv_traffic_bigdata_spark.queries import SQL_WINSOR_STATS

    vals: dict[str, list[float]] = {}
    for t, v in duck.sql(
        "SELECT event_type, value FROM events WHERE value IS NOT NULL"
    ).fetchall():
        vals.setdefault(t, []).append(v)
    got = {r[0]: r for r in duck.sql(SQL_WINSOR_STATS).fetchall()}
    assert set(got) == set(vals)
    for t, vs in vals.items():
        sv = sorted(vs)
        n = len(sv)
        p05 = sv[(1 * n + 19) // 20 - 1]
        p95 = sv[(19 * n + 19) // 20 - 1]
        clipped = [min(max(v, p05), p95) for v in vs]
        name, n_values, g05, g95, mean_raw, mean_w, lo, hi = got[t]
        assert (n_values, g05, g95) == (n, p05, p95)
        assert lo == sum(1 for v in vs if v < p05)
        assert hi == sum(1 for v in vs if v > p95)
        assert mean_raw == pytest.approx(sum(vs) / n, abs=1e-6)
        assert mean_w == pytest.approx(sum(clipped) / n, abs=1e-6)
