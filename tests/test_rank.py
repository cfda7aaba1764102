"""Equivalence tests for operators.rank.percent_rank_gate.

The operator claims *identical* output to the monolithic
``percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id)``
filter. Pin that on data with the awkward shapes: value ties straddling
the gate, groups entirely above/below it, and single-row groups (rank 0
by convention).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.rank import (
    GATE_MIN_RANK,
    percent_rank_all,
    percent_rank_gate,
)

#: percent_rank_gate's (group, value, tiebreak) columns and rank alias
GATE = ("lang", "quality", "doc_id", "q_rank")
#: percent_rank_all's
ALL = ("cluster_id", "sq_dist", "vec_id", "d_rank")


def _frame(spark, data, cols):
    g, v, tb, _ = cols
    return spark.createDataFrame(data, f"{g} string, {v} double, {tb} int")


def _monolithic(df, cols, min_rank):
    g, v, tb, rank = cols
    w = Window.partitionBy(g).orderBy(F.col(v).asc(), F.col(tb).asc())
    return (
        df.withColumn(rank, F.round(F.percent_rank().over(w), 6))
        .where(F.col(rank) >= min_rank)
        .select(*cols)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_matches_monolithic_window_with_ties(spark):
    # g=a: 8 rows with heavy ties around the 0.75 boundary.
    # g=b: 3 rows, all distinct. g=c: single row (rank 0, must be dropped).
    data = (
        [("a", 1.0, i) for i in range(3)]
        + [("a", 2.0, i) for i in range(3)]
        + [("a", 3.0, 0), ("a", 3.0, 1)]
        + [("b", 5.0, 0), ("b", 6.0, 1), ("b", 7.0, 2)]
        + [("c", 9.0, 0)]
    )
    df = _frame(spark, data, GATE)
    got = percent_rank_gate(df).select(*GATE)
    assert _rows(got) == _rows(_monolithic(df, GATE, GATE_MIN_RANK))


def test_single_row_groups_fail_positive_gate(spark):
    df = _frame(spark, [("x", 1.0, 0), ("y", 2.0, 0)], GATE)
    assert percent_rank_gate(df).count() == 0


def test_boundary_rounding_matches_window(spark):
    # 1_000 distinct ranks: rounded (rank-1)/999 values land exactly ON
    # the gate for some rows; both paths must make the same cut.
    df = _frame(spark, [("g", float(i % 97), i) for i in range(1000)], GATE)
    got = percent_rank_gate(df)
    exp = _monolithic(df, GATE, GATE_MIN_RANK)
    assert _rows(got.select(*GATE)) == _rows(exp)


def test_percent_rank_all_matches_monolithic_everywhere(spark):
    """The ungated variant must emit the exact monolithic rank for EVERY
    row — same tie/single-row conventions, nothing dropped."""
    data = (
        [("a", 1.0, i) for i in range(3)]
        + [("a", 2.0, i) for i in range(3)]
        + [("a", 3.0, 0), ("a", 3.0, 1)]
        + [("b", 5.0, 0), ("b", 6.0, 1), ("b", 7.0, 2)]
        + [("c", 9.0, 0)]
    )
    df = _frame(spark, data, ALL)
    got = percent_rank_all(df).select(*ALL)
    exp = _monolithic(df, ALL, min_rank=-1.0)  # gate below 0 keeps everything
    assert _rows(got) == _rows(exp)
    assert got.count() == len(data)


def test_percent_rank_all_keeps_null_values_ranked_first(spark):
    """r5 ADVICE: NULL-valued rows must not vanish through the slab join
    (keep-the-full-frame contract). Convention: NULLs rank FIRST within
    their group — identical to Spark's monolithic ASC NULLS FIRST
    window, which is the documented oracle spelling."""
    data = [
        ("a", None, 0),
        ("a", None, 1),
        ("a", 1.0, 2),
        ("a", 2.0, 3),
        ("b", None, 0),  # all-NULL group: ranks 0.0 (single slab)
        (None, 3.0, 0),  # NULL group key survives too
    ]
    df = _frame(spark, data, ALL)
    got = percent_rank_all(df).select(*ALL)
    assert got.count() == len(data)
    exp = _monolithic(df, ALL, min_rank=-1.0)

    def rows_nullsafe(frame):
        return sorted(
            (tuple(r) for r in frame.collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert rows_nullsafe(got) == rows_nullsafe(exp)
    by_key = {(r["cluster_id"], r["vec_id"]): r["d_rank"] for r in got.collect()}
    # NULLs first: the two NULL rows of group a take ranks 0 and 1/3
    assert by_key[("a", 0)] == 0.0
    assert round(by_key[("a", 1)], 6) == round(1 / 3, 6)
    assert by_key[("a", 3)] == 1.0
    assert by_key[("b", 0)] == 0.0
    assert by_key[(None, 0)] == 0.0


def test_percent_rank_all_avoids_per_group_fact_window(spark):
    """Scale guard: the fact-row window must partition by the COMPOSITE
    (group, value) key, never by group alone — a group-only window
    would put a whole cluster's rows in one task at scale."""
    df = _frame(spark, [("g", float(i % 7), i) for i in range(100)], ALL)
    plan = percent_rank_all(df)._jdf.queryExecution().executedPlan().toString()
    assert "percent_rank" not in plan


def test_bottom_k_slab_matches_monolithic_topk(spark):
    """bottom_k_slab must equal the monolithic ROW_NUMBER window for both
    directions, including value ties resolved by the tiebreak, k larger
    than a group, and a group smaller than the slab count."""
    from kyiv_traffic_bigdata_spark.operators.rank import bottom_k_slab

    rows = [
        ("a", v, i) for i, v in enumerate([5, 3, 3, 9, 1, 3, 7, 7, 2, 8] * 5)
    ] + [("b", 4, 999), ("b", 4, 998)]
    df = spark.createDataFrame(rows, "g string, v int, tb int")
    for ascending in (True, False):
        w = Window.partitionBy("g").orderBy(
            F.col("v").asc() if ascending else F.col("v").desc(),
            F.col("tb").asc(),
        )
        want = _rows(
            df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= 7)
            .select("g", "v", "tb", "_rk")
        )
        got = _rows(
            bottom_k_slab(df, ["g"], "v", 7, ["tb"], ascending=ascending)
            .select("g", "v", "tb", "_rk")
        )
        assert got == want, f"ascending={ascending}"


def test_bottom_k_slab_windows_stay_composite_then_bounded(spark):
    """Phase-1 windows must partition by (group, slab) — never group
    alone over the full fact — and only phase 2 (over the k-bounded
    survivors) may partition by group alone."""
    from kyiv_traffic_bigdata_spark.operators.rank import bottom_k_slab
    import re

    df = spark.range(1000).selectExpr("id % 3 AS g", "id AS v", "id AS tb")
    plan = bottom_k_slab(
        df, ["g"], "v", 5, ["tb"]
    )._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == 2
    assert sum("_slab" in s for s in specs) == 1


def test_quantile_disc_slab_matches_sorted_reference(spark):
    """quantile_disc_slab must equal the textbook discrete quantile
    (sorted[ceil(p*n)-1]) for every group — including ties, singleton
    groups, n where p*n lands exactly on an integer (the boundary
    the integer-arithmetic rank exists for), and a group with a NULL,
    which counts in neither n nor the ranks."""
    import math

    from kyiv_traffic_bigdata_spark.operators.rank import quantile_disc_slab

    groups = {
        "ties": [3, 1, 3, 3, 2, 3, 1, 1, 2, 3],
        "single": [42],
        "exact_boundary": list(range(1, 21)),  # p50 rank = exactly 10
        "two": [7, 5],
        "nulls": [None, 1, 2, 3],  # p50 = 2 over n = 3
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v int")
    qs = [("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10)]
    got = {
        r["g"]: (r["n"], r["p25"], r["p50"], r["p90"])
        for r in quantile_disc_slab(df, "g", "v", qs).collect()
    }
    for g, vs in groups.items():
        s = sorted(v for v in vs if v is not None)
        n = len(s)
        want = tuple(
            s[(num * n + den - 1) // den - 1] for _, num, den in qs
        )
        # cross-check the integer rank against the float definition
        assert all(
            (num * n + den - 1) // den == math.ceil(num / den * n)
            for _, num, den in qs
        )
        assert got[g] == (n, *want), (g, got[g], want)


# ---------------------------------------------------------------------------
# Dyadic count-min RANK sketch (operators.qsketch)
# ---------------------------------------------------------------------------

#: build_rank_sketch's input: priority and price in cents
SKETCH_SCHEMA = "o_orderpriority string, _cents long"


def test_rank_sketch_cells_partition_invariant_and_bounded(spark):
    """Sketch cells are plain sums of deterministic hashes — the counter
    table must be IDENTICAL under any partitioning of the input (the
    associativity that buys exact streaming parity) and bounded by
    groups x levels x depth x width regardless of row count."""
    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        QSKETCH_DEPTH,
        QSKETCH_LEVELS,
        build_rank_sketch,
    )

    rows = [("a", (i * 37) % 500) for i in range(200)] + [
        ("b", (i * 91) % 300) for i in range(150)
    ]
    df = spark.createDataFrame(rows, SKETCH_SCHEMA)
    width = 16
    base = sorted(tuple(r) for r in build_rank_sketch(df.repartition(1), width).collect())
    shuffled = sorted(
        tuple(r) for r in build_rank_sketch(df.repartition(7, "_cents"), width).collect()
    )
    assert base == shuffled
    assert len(base) <= 2 * QSKETCH_LEVELS * QSKETCH_DEPTH * width


def test_rank_sketch_interval_estimates_never_underestimate(spark):
    """CMS point queries overestimate only; descent therefore never
    overshoots the exact quantile. Checked per dyadic interval against
    brute-force counts."""
    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        build_rank_sketch,
        estimate_interval,
    )

    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        QSKETCH_BRANCH_BITS,
    )

    vals = [(i * 53) % 256 for i in range(300)]
    df = spark.createDataFrame([("g", v) for v in vals], SKETCH_SCHEMA)
    width = 16
    cells = {
        (r["g"], r["lvl"], r["j"], r["b"]): r["c"]
        for r in build_rank_sketch(df, width).collect()
    }
    for lvl in (0, 1, 2):
        shift = QSKETCH_BRANCH_BITS * lvl
        for bucket in range(0, max(1, 256 >> shift), 3):
            true = sum(1 for v in vals if (v >> shift) == bucket)
            est = estimate_interval(cells, "g", lvl, bucket, width)
            assert est >= true, (lvl, bucket, est, true)


def test_rank_sketch_quantiles_one_sided_within_cms_budget(spark, sf_dir):
    """The headline ACCURACY pin for order_price_rank_sketch (its SQL
    oracle, added r10, proves reproducibility — identical hash-addressed
    cells and descent — but says nothing about estimate quality):
    per (priority, quantile) the descent estimate never EXCEEDS the
    exact discrete quantile (earlier-sibling overestimates can only
    steer the descent left), and its rank shortfall stays inside the
    levels*e*n/width CMS budget — observed shortfall under radix-16 is
    <=3/294 at sf0.001, <=15/3000 at sf0.01, <=201/30029 at sf0.1, so
    the ceil bound (~0.037n) keeps real slack without being
    vacuous."""
    import math

    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        QSKETCH_LEVELS,
        QSKETCH_WIDTH,
    )
    from kyiv_traffic_bigdata_spark.queries import (
        QUERIES,
        q_order_price_quantiles,
    )

    est = {
        r["o_orderpriority"]: r
        for r in QUERIES["order_price_rank_sketch"](spark, sf_dir).collect()
    }
    exact = {
        r["o_orderpriority"]: r
        for r in q_order_price_quantiles(spark, sf_dir).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    vals = {}
    for r in orders.select("o_orderpriority", "o_totalprice").collect():
        vals.setdefault(r[0], []).append(r[1])
    assert set(est) == set(exact)
    for g, e in est.items():
        n = e["n_orders"]
        assert n == exact[g]["n_orders"]
        budget = math.ceil(QSKETCH_LEVELS * math.e * n / QSKETCH_WIDTH)
        for name, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
            assert e[name] <= exact[g][name], (g, name)
            target = (num * n + num) // den
            rank_of_est = sum(1 for v in vals[g] if v <= e[name])
            assert target - rank_of_est <= budget, (g, name, target, rank_of_est)


def test_rank_sketch_descent_exact_when_collision_free(spark):
    """With width far above the distinct-bucket count there are no
    collisions, so the sketch IS an exact histogram and the descent
    must return the exact discrete quantile."""
    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        build_rank_sketch,
        descend_quantile,
    )

    vals = sorted((i * 17) % 100 for i in range(101))
    df = spark.createDataFrame([("g", v) for v in vals], SKETCH_SCHEMA)
    width = 4096
    cells = {
        (r["g"], r["lvl"], r["j"], r["b"]): r["c"]
        for r in build_rank_sketch(df, width).collect()
    }
    n = len(vals)
    for num, den in ((1, 2), (9, 10), (99, 100)):
        target = (num * n + num) // den
        got = descend_quantile(cells, "g", target, width)
        assert got == vals[target - 1], (num, den, got, vals[target - 1])


def test_xxhash64_python_twin_matches_spark(spark):
    """The driver-side descent must address the EXACT cells the JVM
    build wrote: pin the pure-Python XxHash64 long-path replica against
    F.xxhash64 — single longs (negative, zero, boundary) and the
    chained (j, lvl, bucket) triple with pmod, across widths."""
    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        _py_cell_bucket,
        _xx64_long,
    )

    vals = [0, 1, -1, 42, -(1 << 63), (1 << 63) - 1, 123456789012345]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.xxhash64(F.col("v")).alias("h")
    )
    for r in df.collect():
        got = _xx64_long(r["v"], 42)
        if got >= 1 << 63:
            got -= 1 << 64
        assert got == r["h"], r["v"]

    rows = [(j, lvl, b) for j in range(3) for lvl in (0, 13, 26) for b in (0, 7, 1 << 20, -3)]
    df3 = spark.createDataFrame(rows, "j long, lvl long, b long").select(
        "j", "lvl", "b",
        F.pmod(F.xxhash64("j", "lvl", "b"), F.lit(512)).alias("cell512"),
        F.pmod(F.xxhash64("j", "lvl", "b"), F.lit(100)).alias("cell100"),
    )
    for r in df3.collect():
        assert _py_cell_bucket(r["j"], r["lvl"], r["b"], 512) == r["cell512"]
        assert _py_cell_bucket(r["j"], r["lvl"], r["b"], 100) == r["cell100"]
