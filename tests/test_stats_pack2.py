"""Brute-force semantic references for the r11 batch-2 additions
(Benford, Jensen-Shannon, Kaplan-Meier, Poisson bootstrap, skyline,
Morton density).

Same contract as tests/test_drift_stats.py: the oracle gate proves
Spark ≡ DuckDB cell-for-cell, so these tests prove DuckDB-oracle ≡ a
from-first-principles Python implementation of the textbook
definition, closing brute-force ≡ oracle ≡ Spark. Everything here is
Spark-free except the skyline-operator edge cases, which exercise
bucket/tie behavior the parquet tables cannot produce on demand.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

from kyiv_traffic_bigdata_spark.queries import (
    BENFORD_SHARES,
    BOOT_REPS,
    KM_CENSOR_US,
    MORTON_BITS,
    POISSON1_CDF,
    SQL_JS_DIVERGENCE,
    SQL_KAPLAN_MEIER,
    SQL_PART_SKYLINE,
    _sql_benford,
    _sql_morton_density,
    _sql_poisson_bootstrap,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "orders", "part", "documents"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


# ---------------------------------------------------------------- Benford


def test_benford_matches_textbook_chi_square(duck):
    """Digit shares and the chi-square distance recomputed from raw
    counts with Python ints/floats must match the oracle exactly."""
    rows = duck.sql(
        "SELECT o_orderpriority, o_totalprice FROM orders"
    ).fetchall()
    counts: dict[str, dict[int, int]] = {}
    for pri, price in rows:
        cents = int(math.floor(price * 100.0 + 0.5))
        d = int(str(cents)[0])
        counts.setdefault(pri, dict.fromkeys(range(1, 10), 0))
        counts[pri][d] += 1

    got = {
        (r[0], r[1]): r for r in duck.sql(_sql_benford()).fetchall()
    }
    assert len(got) == 9 * len(counts)
    for pri, by_digit in counts.items():
        n_tot = sum(by_digit.values())
        chi2 = sum(
            (by_digit[d] - n_tot * BENFORD_SHARES[d - 1]) ** 2
            / (n_tot * BENFORD_SHARES[d - 1])
            for d in range(1, 10)
        )
        for d in range(1, 10):
            pri2, d2, n, obs, exp, c2 = got[(pri, d)]
            assert n == by_digit[d]
            assert obs == _round6(by_digit[d] / n_tot)
            assert exp == _round6(BENFORD_SHARES[d - 1])
            # chi2 rides a 10-dp decimal fold in the oracle; the pure-
            # float reference agrees to well inside the 6-dp round.
            assert abs(c2 - chi2) < 1e-6


def test_benford_expected_shares_sum_to_one():
    assert abs(sum(BENFORD_SHARES) - 1.0) < 1e-15


# ------------------------------------------------------- Jensen-Shannon


def test_js_divergence_matches_textbook(duck):
    """Per-type JS contribution recomputed from raw counts; also pins
    the log-sum-inequality property (every term >= 0) and that the
    total lands in [0, 1] bit."""
    rows = duck.sql(
        "SELECT event_type, epoch_us(ts) FROM events"
    ).fetchall()
    mid = (min(r[1] for r in rows) + max(r[1] for r in rows)) // 2
    na: dict[str, int] = {}
    nb: dict[str, int] = {}
    for t, ts in rows:
        (na if ts <= mid else nb).setdefault(t, 0)
        (na if ts <= mid else nb)[t] = (na if ts <= mid else nb).get(t, 0) + 1
    ta, tb = sum(na.values()), sum(nb.values())

    got = {r[0]: r for r in duck.sql(SQL_JS_DIVERGENCE).fetchall()}
    assert set(got) == set(na) | set(nb)
    total = 0.0
    for t in got:
        p = na.get(t, 0) / ta
        q = nb.get(t, 0) / tb
        m = (p + q) / 2.0
        term = (
            (p * math.log2(p / m) if p > 0 else 0.0)
            + (q * math.log2(q / m) if q > 0 else 0.0)
        ) / 2.0
        _, n1, n2, ps, qs, tbits = got[t]
        assert (n1, n2) == (na.get(t, 0), nb.get(t, 0))
        assert ps == _round6(p) and qs == _round6(q)
        assert tbits == _round6(term)
        assert tbits >= 0.0  # log-sum inequality, pointwise
        total += tbits
    assert 0.0 <= total <= 1.0 + 1e-9  # JSD (base 2) is bounded by 1 bit


def test_js_divergence_zero_on_identical_halves():
    """A corpus whose two halves have the same type mix must score 0
    on every term."""
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{t}', TIMESTAMP '2024-01-01' + INTERVAL ({h}) HOUR)"
            for t in ("a", "a", "b")
            for h in (0, 10)  # same mix at hour 0 (first) and 10 (second)
        )
        + ") AS v(event_type, ts)"
    )
    for _, _, _, _, _, term in con.sql(SQL_JS_DIVERGENCE).fetchall():
        assert term == 0.0
    con.close()


# --------------------------------------------------------- Kaplan-Meier


def test_kaplan_meier_matches_product_limit(duck):
    """The life table recomputed with the literal product-limit
    definition: sort distinct durations, walk them accumulating the
    at-risk set, multiply the survival factors."""
    rows = duck.sql(
        "SELECT user_id, MIN(epoch_us(ts)), MAX(epoch_us(ts)) "
        "FROM events GROUP BY user_id"
    ).fetchall()
    tmax = max(r[2] for r in rows)
    lifet = [
        (
            (last - first) // 3_600_000_000,
            1 if last <= tmax - KM_CENSOR_US else 0,
        )
        for _, first, last in rows
    ]
    durations = sorted({d for d, _ in lifet})
    got = {r[0]: r for r in duck.sql(SQL_KAPLAN_MEIER).fetchall()}
    assert set(got) == set(durations)

    at_risk = len(lifet)
    surv = 1.0
    for t in durations:
        d = sum(1 for dur, e in lifet if dur == t and e == 1)
        c = sum(1 for dur, e in lifet if dur == t and e == 0)
        surv *= 1.0 - d / at_risk
        _, n_risk, n_death, n_censor, s = got[t]
        assert (n_risk, n_death, n_censor) == (at_risk, d, c)
        # the oracle folds exp(sum ln) through a 10-dp decimal; the
        # direct product agrees to well inside the 6-dp round.
        assert abs(s - surv) < 1e-6
        assert 0.0 <= s <= 1.0
        at_risk -= d + c
    # survival is non-increasing along the curve
    ordered = [got[t][4] for t in durations]
    assert all(a >= b for a, b in zip(ordered, ordered[1:]))


# ----------------------------------------------------- Poisson bootstrap


def _poisson_weight(u: float) -> int:
    for k, c in enumerate(POISSON1_CDF):
        if u < c:
            return k
    return 9


def _fmix32(x: int) -> int:
    """Reference murmur3 fmix32 (full-width wrap; the engines' 16-bit
    split-product formulation is algebraically identical — pinned by
    test_mix32_split_equals_full_wrap below)."""
    M = 0xFFFFFFFF
    x ^= x >> 16
    x = (x * 0x85EBCA6B) & M
    x ^= x >> 13
    x = (x * 0xC2B2AE35) & M
    x ^= x >> 16
    return x


def _replicate_uniform(eid, b: int) -> float:
    from kyiv_traffic_bigdata_spark.queries import MIX_GOLDEN

    h = int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16)
    return _fmix32((h + b * MIX_GOLDEN) % 4294967296) / 4294967296.0


def test_mix32_split_equals_full_wrap():
    """The overflow-free 16-bit-split wrapping multiply both engines
    evaluate must equal the reference (x*m) mod 2^32 for boundary and
    avalanche-typical inputs."""
    for m in (0x85EBCA6B, 0xC2B2AE35):
        hi, lo = divmod(m, 65536)
        for x in (0, 1, 65535, 65536, 2**31 - 1, 2**31, 2**32 - 1,
                  123456789, 987654321, 0xDEADBEEF):
            split = (x * lo + ((x * hi) % 65536) * 65536) % 4294967296
            assert split == (x * m) % 4294967296


def test_replicate_uniforms_are_uniform_enough():
    """The fmix32 replicate stream must keep the Poisson(1) weight mean
    ~1 (the property the bootstrap needs from its hash), per replicate
    and overall."""
    n = 4000
    per_b = []
    for b in range(BOOT_REPS):
        ws = [_poisson_weight(_replicate_uniform(e, b)) for e in range(n)]
        per_b.append(sum(ws) / n)
    overall = sum(per_b) / len(per_b)
    assert abs(overall - 1.0) < 0.02
    assert all(abs(m - 1.0) < 0.12 for m in per_b)


def test_poisson_bootstrap_matches_hash_replay(duck):
    """Replicate means recomputed by replaying the hash-derived weights
    in Python (one md5 per row + fmix32 per replicate — the r12
    derivation) must reproduce the oracle's point mean and CI bounds."""
    rows = duck.sql(
        "SELECT event_type, event_id, value FROM events "
        "WHERE value IS NOT NULL"
    ).fetchall()
    by_type: dict[str, list[tuple[int, float]]] = {}
    for t, eid, v in rows:
        by_type.setdefault(t, []).append((eid, v))

    got = {r[0]: r for r in duck.sql(_sql_poisson_bootstrap()).fetchall()}
    assert set(got) == set(by_type)
    for t, evs in by_type.items():
        means = []
        for b in range(BOOT_REPS):
            sw = swv = 0.0
            for eid, v in evs:
                w = _poisson_weight(_replicate_uniform(eid, b))
                sw += w
                swv += w * v
            if sw > 0:
                means.append(swv / sw)
        means.sort()
        nb = len(means)
        lo = means[(nb + 19) // 20 - 1]
        hi = means[(19 * nb + 19) // 20 - 1]
        _, n, n_reps, mean_v, p05, p95 = got[t]
        assert n == len(evs) and n_reps == nb
        assert abs(mean_v - sum(v for _, v in evs) / len(evs)) < 1e-6
        # decimal-cast folds vs float accumulation: agree within round
        assert abs(p05 - _round6(lo)) < 1e-5
        assert abs(p95 - _round6(hi)) < 1e-5
        assert p05 <= p95


def test_poisson_cdf_constants_are_exact():
    """The ladder constants must be the true cumulative Poisson(1)
    probabilities to the last ulp (they were computed offline)."""
    cum = 0.0
    p = math.exp(-1)
    for k, c in enumerate(POISSON1_CDF):
        cum += p
        assert c == pytest.approx(cum, abs=2e-15)
        p /= k + 1
    # mean of the hash-weight distribution stays ~1 (Poisson(1))
    ws = [
        _poisson_weight((i + 0.5) / 10_000) for i in range(10_000)
    ]
    assert abs(sum(ws) / len(ws) - 1.0) < 1e-3


# ----------------------------------------------------------- Skyline


def _brute_skyline(points):
    out = []
    for p in points:
        if not any(
            q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in points
        ):
            out.append(p)
    return sorted(set(out))


def test_skyline_oracle_is_textbook_dominance(duck):
    pts = duck.sql("SELECT p_retailprice, p_size FROM part").fetchall()
    want = _brute_skyline(pts)
    got = sorted(
        {(r[2], r[3]) for r in duck.sql(SQL_PART_SKYLINE).fetchall()}
    )
    assert got == want


def test_skyline_operator_edge_cases(spark):
    """The distributed operator on shapes the parquet tables cannot
    produce on demand: duplicate frontier points (both kept), a
    dominated duplicate x (per-x min reduces), everything in one
    bucket, and frontier points straddling many buckets."""
    from kyiv_traffic_bigdata_spark.operators.skyline import (
        skyline_points_2d,
    )

    rows = [
        (1.0, 9),  # frontier (cheapest)
        (1.0, 12),  # same x, larger y: dominated by (1.0, 9)
        (5.0, 9),  # dominated: same y as a cheaper point
        (5.0, 7),  # frontier
        (250.0, 7),  # dominated across buckets by (5.0, 7)
        (250.0, 3),  # frontier in a far bucket
        (999.0, 3),  # dominated: same y, more expensive
        (999.0, 1),  # frontier
    ]
    cols = ["p_retailprice", "p_size"]
    df = spark.createDataFrame(rows, cols)
    got = {tuple(r) for r in skyline_points_2d(df).select(*cols).collect()}
    assert got == {(1.0, 9), (5.0, 7), (250.0, 3), (999.0, 1)}
    assert got == set(_brute_skyline([tuple(r) for r in rows]))

    # single point and identical-duplicate points survive
    dup = spark.createDataFrame([(2.0, 2), (2.0, 2)], cols)
    assert [tuple(r) for r in skyline_points_2d(dup).select(*cols).collect()] == [
        (2.0, 2)
    ]


# ------------------------------------------------------- Morton density


def test_morton_density_matches_python_interleave(duck):
    """Cell codes, counts and the top-100 cut recomputed with Python's
    integer bit-interleave over the same synthetic coordinates."""
    rows = duck.sql(
        "SELECT 50.2 + (value % CAST(0.5 AS DOUBLE)), "
        "30.2 + ((value * 1.6) % CAST(0.8 AS DOUBLE)) FROM events"
    ).fetchall()
    n = 1 << MORTON_BITS
    cells: dict[tuple[int, int], int] = {}
    for lat, lon in rows:
        if not (50.3 <= lat <= 50.6 and 30.2 <= lon <= 30.8):
            continue
        xi = min(int(math.floor((lon - 30.2) / (30.8 - 30.2) * n)), n - 1)
        yi = min(int(math.floor((lat - 50.3) / (50.6 - 50.3) * n)), n - 1)
        cells[(xi, yi)] = cells.get((xi, yi), 0) + 1
    tot = sum(cells.values())

    def interleave(xi: int, yi: int) -> int:
        code = 0
        for i in range(MORTON_BITS):
            code |= ((xi >> i) & 1) << (2 * i)
            code |= ((yi >> i) & 1) << (2 * i + 1)
        return code

    ranked = sorted(
        (
            (interleave(xi, yi), xi, yi, c)
            for (xi, yi), c in cells.items()
        ),
        key=lambda r: (-r[3], r[0]),
    )[:100]
    got = duck.sql(_sql_morton_density()).fetchall()
    assert len(got) == len(ranked)
    for (cell, xi, yi, c), (gc, gx, gy, gn, gshare) in zip(ranked, got):
        assert (gc, gx, gy, gn) == (cell, xi, yi, c)
        assert gshare == _round6(c / tot)


def test_morton_interleave_is_bijective():
    """Encode must be invertible on the full grid edge rows/columns and
    a diagonal sample — i.e. no two (x, y) share a code."""
    n = 1 << MORTON_BITS
    sample = (
        [(x, 0) for x in range(0, n, 7)]
        + [(0, y) for y in range(0, n, 7)]
        + [(i, i) for i in range(0, n, 5)]
        + [(n - 1, n - 1), (n - 1, 0), (0, n - 1)]
    )

    def interleave(xi: int, yi: int) -> int:
        code = 0
        for i in range(MORTON_BITS):
            code |= ((xi >> i) & 1) << (2 * i)
            code |= ((yi >> i) & 1) << (2 * i + 1)
        return code

    codes = {interleave(x, y) for x, y in sample}
    assert len(codes) == len(set(sample))
    assert max(codes) < 4**MORTON_BITS


# ------------------------------------------------- Theil-Sen / Mann-Kendall


def test_trend_robust_matches_textbook(duck):
    """Sen slope (lower median of all pairwise slopes) and the
    tie-corrected Mann-Kendall z recomputed literally."""
    from kyiv_traffic_bigdata_spark.queries import SQL_TREND_ROBUST

    rows = duck.sql(
        "SELECT event_type, epoch_us(ts) // 3600000000, COUNT(*) "
        "FROM events GROUP BY 1, 2"
    ).fetchall()
    series: dict[str, list[tuple[int, int]]] = {}
    for t, h, c in rows:
        series.setdefault(t, []).append((h, c))

    got = {r[0]: r for r in duck.sql(SQL_TREND_ROBUST).fetchall()}
    assert set(got) == set(series)
    for t, pts in series.items():
        pts.sort()
        slopes = []
        s = 0
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                (h1, c1), (h2, c2) = pts[i], pts[j]
                slopes.append(((c2 - c1) / (h2 - h1), h1, h2))
                s += (c2 > c1) - (c2 < c1)
        slopes.sort()
        sen = slopes[(len(slopes) + 1) // 2 - 1][0]
        n = len(pts)
        from collections import Counter

        tie18 = sum(
            tj * (tj - 1) * (2 * tj + 5)
            for tj in Counter(c for _, c in pts).values()
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        if var18 <= 0:
            z = 0.0
        elif s > 0:
            z = (s - 1) / math.sqrt(var18 / 18.0)
        elif s < 0:
            z = (s + 1) / math.sqrt(var18 / 18.0)
        else:
            z = 0.0
        _, n_hours, n_pairs, sen_slope, mk_s, mk_z = got[t]
        assert (n_hours, n_pairs, mk_s) == (n, len(slopes), s)
        assert sen_slope == _round6(sen)
        assert mk_z == _round6(z)


# --------------------------------------------------------------- ROC-AUC


def test_quality_auc_matches_rank_sum(duck):
    """AUC recomputed as the direct pairwise concordance probability
    (O(n1*n0) brute force, ties count half) — the definition the
    midrank identity is derived FROM. The score staging is shared with
    the oracle (the composite score itself is already brute-force-
    verified by the quality-gate tests); what this test pins is the
    rank-sum MATH."""
    from kyiv_traffic_bigdata_spark.queries import (
        _sql_quality_auc,
        _TOKS,
        _sql_quality_expr,
    )

    rows = duck.sql(
        f"WITH toks AS (SELECT lang, text, {_TOKS} AS t "
        "FROM documents) "
        f"SELECT {_sql_quality_expr()}, CASE WHEN lang = 'en' THEN 1 "
        "ELSE 0 END FROM toks"
    ).fetchall()
    scores = [(sc, pos) for sc, pos in rows]
    n1 = sum(p for _, p in scores)
    n0 = len(scores) - n1
    # direct pairwise concordance (O(n^2) brute force)
    conc = 0.0
    for s_pos, p in scores:
        if p != 1:
            continue
        for s_neg, q in scores:
            if q != 0:
                continue
            conc += 1.0 if s_pos > s_neg else (0.5 if s_pos == s_neg else 0.0)
    auc = conc / (n1 * n0)

    (n_pos, n_neg, n_scores, got_auc, got_gini) = duck.sql(
        _sql_quality_auc()
    ).fetchone()
    assert (n_pos, n_neg) == (n1, n0)
    assert n_scores == len({s for s, _ in scores})
    assert got_auc == pytest.approx(auc, abs=1e-6)
    assert got_gini == pytest.approx(2 * auc - 1, abs=1e-6)
    assert 0.0 <= got_auc <= 1.0


# ------------------------------------------------- Markov entropy rate


def test_markov_entropy_matches_textbook(duck):
    """Per-state conditional entropy and the stationary-empirical
    weights recomputed from explicitly built transition counts."""
    from kyiv_traffic_bigdata_spark.queries import SQL_MARKOV_ENTROPY

    rows = duck.sql(
        "SELECT user_id, epoch_us(ts), event_id, event_type FROM events "
        "ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall()
    trans: dict[str, dict[str, int]] = {}
    prev_user = prev_type = None
    for uid, _, _, t in rows:
        if uid == prev_user:
            trans.setdefault(prev_type, {}).setdefault(t, 0)
            trans[prev_type][t] += 1
        prev_user, prev_type = uid, t

    got = {r[0]: r for r in duck.sql(SQL_MARKOV_ENTROPY).fetchall()}
    assert set(got) == set(trans)
    total = sum(sum(d.values()) for d in trans.values())
    rate = 0.0
    for state, outs in trans.items():
        n_out = sum(outs.values())
        h = -sum(
            (c / n_out) * math.log2(c / n_out) for c in outs.values()
        )
        pi = n_out / total
        _, g_nout, g_pi, g_h, g_term = got[state]
        assert g_nout == n_out
        assert g_pi == _round6(pi)
        assert abs(g_h - h) < 1e-6  # decimal fold vs float accumulation
        assert abs(g_term - pi * h) < 1e-6
        assert 0.0 <= g_h <= math.log2(max(len(outs), 2)) + 1e-9
        rate += pi * h
    assert rate >= 0.0


# ---------------------------------------------------- Split conformal


def test_conformal_interval_matches_textbook(duck):
    """Median, q-hat (the ceil((n+1)(1-alpha)) order statistic of
    |v - med| on the calibration half) and the test-half coverage
    recomputed literally; also pins the finite-sample guarantee
    direction on the calibration half itself."""
    from kyiv_traffic_bigdata_spark.queries import (
        CONFORMAL_ALPHA_DEN,
        CONFORMAL_ALPHA_NUM,
        _sql_conformal_interval,
    )

    rows = duck.sql(
        "SELECT event_type, value, epoch_us(ts) FROM events "
        "WHERE value IS NOT NULL"
    ).fetchall()
    mid = (min(r[2] for r in rows) + max(r[2] for r in rows)) // 2
    cal: dict[str, list[float]] = {}
    test: dict[str, list[float]] = {}
    for t, v, ts in rows:
        (cal if ts <= mid else test).setdefault(t, []).append(v)

    got = {r[0]: r for r in duck.sql(_sql_conformal_interval()).fetchall()}
    assert set(got) == {t for t in test if t in cal}
    num = CONFORMAL_ALPHA_DEN - CONFORMAL_ALPHA_NUM
    den = CONFORMAL_ALPHA_DEN
    for t in got:
        cs = sorted(cal[t])
        n = len(cs)
        med = cs[(n + 1) // 2 - 1]  # lower median (discrete)
        scores = sorted(abs(v - med) for v in cal[t])
        rank = min((num * (n + 1) + den - 1) // den, n)
        qhat = scores[rank - 1]
        cov = sum(1 for v in test[t] if abs(v - med) <= qhat) / len(test[t])
        _, n_cal, n_test, g_med, g_qhat, g_cov = got[t]
        assert (n_cal, n_test) == (n, len(test[t]))
        assert g_med == med and g_qhat == qhat
        assert g_cov == _round6(cov)
        # the guarantee holds BY CONSTRUCTION on the calibration half
        cal_cov = sum(1 for v in cal[t] if abs(v - med) <= qhat) / n
        assert cal_cov >= num / den - 1e-12
