"""Dyadic count-min RANK sketch — mergeable quantiles over range sums.

Completes the sketch family (distinct=KMV, frequency=CMS,
membership=Bloom, **rank=this module**) with the classic
Cormode–Muthukrishnan construction ("An Improved Data Stream Summary:
The Count-Min Sketch and its Applications", J. Algorithms 55(1), 2005,
§4.2, generalized to RADIX-16): one count-min row set per tree level
of the integer value domain. A value ``v`` increments, at every level
``ℓ``, the ``depth`` cells addressed by ``v >> 4ℓ`` — so any level-ℓ
node's count is a CMS point query and any quantile is a
``levels``-step tree descent that walks ≤ 16 children per level.
Radix 16 instead of the paper's radix 2 cuts the per-row build
fan-out from 27×depth to 7×depth structs for the same 2^28 universe
(the build explode dominates cost; the extra ≤16-vs-2 point queries
per descent level are driver-side nanoseconds), at the price of a
×~4 larger constant in the rank-error union bound — still far inside
the observed slack.

Chosen over KLL / t-digest deliberately: their compactions are
order-sensitive (KLL flips coins; t-digest merges depend on arrival
order), so the same input split differently yields a different sketch.
Dyadic-CMS cells are PLAIN SUMS — associative and commutative — so
partial sketches over any split of the input merge to the bit-identical
sketch, the same exact-merge argument as the KMV bottom-k and CMS
counters.
Cell addressing uses Spark's built-in ``xxhash64`` over the
``(j, level, bucket)`` long triple — NOT the md5 portable_hash the
oracle-paired sketches use: this sketch has no DuckDB twin (no-oracle
registry tail), so the only consumer that must recompute a cell
address is the driver-side descent below, which carries an exact
pure-Python replica of Spark's XxHash64 long path
(:func:`_xx64_long`, parity-pinned in tests/test_rank.py). The switch
matters: md5 + ``conv`` cost ~36 s for the 12 M cell hashes at sf0.1
(BigInteger radix conversion per cell); xxhash64 is a few long
multiplies in whole-stage codegen.

Scale posture: the build is a constant ``levels × depth`` fan-out of
the fact scan followed by ONE map-side-combined hash aggregate — the
shuffle out of the scan is bounded by ``groups × levels × depth ×
width`` counter cells per task, independent of row count (the point of
a sketch). The descent runs driver-side over the collected counter
table, which is bounded by the same product (the k×dim-metadata
convention used by kmeans/pca/pq): sketch state is O(log U · d · w),
never O(n).

Error: a CMS point query overestimates by at most ``e·n/w`` with
probability ``1 − e^−depth`` (it never underestimates), so a prefix
rank built from ≤ ``levels`` intervals carries rank error
≤ ``levels · e · n / width`` with high probability — the bound the
error tests pin empirically (tests/test_rank.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Radix-16 tree: universe = 16^7 = 2^28 cents ≈ $2.7M — covers
#: o_totalprice at any TPC-H SF (max ≈ $600k) with headroom; levels
#: beyond the data's top nibble cost only empty cells.
QSKETCH_BRANCH_BITS = 4
QSKETCH_BRANCH = 1 << QSKETCH_BRANCH_BITS
QSKETCH_LEVELS = 7
QSKETCH_DEPTH = 3
QSKETCH_WIDTH = 512

# Spark XxHash64 replica (the long-input path), so the driver-side
# descent addresses the exact cells the JVM build wrote. Constants and
# mixing are the standard XXH64 ones; parity with F.xxhash64 is pinned
# in tests/test_rank.py over random longs and chained triples.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx64_long(value: int, seed: int) -> int:
    """XXH64 of one 8-byte little-endian long (Spark's hashLong)."""
    h = (seed + _XXP5 + 8) & _M64
    k1 = (_rotl64((value & _M64) * _XXP2 & _M64, 31) * _XXP1) & _M64
    h = (_rotl64(h ^ k1, 27) * _XXP1 + _XXP4) & _M64
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def _py_cell_bucket(j: int, lvl: int, bucket: int, width: int) -> int:
    """Driver twin of the JVM cell address: chained
    ``xxhash64(j, lvl, bucket)`` (seed 42, each long folded into the
    running hash — Spark's multi-column semantics) → pmod width."""
    h = _xx64_long(j, 42)
    h = _xx64_long(lvl, h)
    h = _xx64_long(bucket, h)
    if h >= 1 << 63:  # Spark returns the SIGNED long
        h -= 1 << 64
    return h % width  # Python % == pmod for positive width


def dyadic_cells(value: Column, width: int) -> Column:
    """Array of ``(lvl, j, b)`` structs — the ``levels × depth`` sketch
    cells one integer value increments. Explode against the fact row;
    the downstream counter table is bounded by ``levels × depth ×
    width`` regardless of value cardinality. Cell addresses are
    ``pmod(xxhash64(j, lvl, value >> 4ℓ), width)`` — all-long inputs
    so every hash takes the specialized 8-byte path the Python twin
    replicates."""
    entries = []
    for lvl in range(QSKETCH_LEVELS):
        bucket = F.shiftright(value, QSKETCH_BRANCH_BITS * lvl)
        for j in range(QSKETCH_DEPTH):
            entries.append(
                F.struct(
                    F.lit(lvl).alias("lvl"),
                    F.lit(j).alias("j"),
                    F.pmod(
                        F.xxhash64(
                            F.lit(j).cast("long"),
                            F.lit(lvl).cast("long"),
                            bucket.cast("long"),
                        ),
                        F.lit(width),
                    ).alias("b"),
                )
            )
    return F.array(*entries)


def build_rank_sketch(df: DataFrame, width: int = QSKETCH_WIDTH) -> DataFrame:
    """Counter table ``(g, lvl, j, b, c)`` of the per-priority dyadic-CMS
    sketch over order prices: ``g`` is ``o_orderpriority``, the value the
    non-negative LONG ``_cents``. One constant-factor explode + one hash
    aggregate (map-side combined); output bounded by
    ``groups × levels × depth × width`` rows."""
    return (
        df.select(
            F.col("o_orderpriority").alias("g"),
            F.explode(dyadic_cells(F.col("_cents"), width)).alias("s"),
        )
        .select("g", "s.lvl", "s.j", "s.b")
        .groupBy("g", "lvl", "j", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def estimate_interval(cells: dict, g, lvl: int, bucket: int, width: int) -> int:
    """CMS point query for one dyadic interval: min over the d rows.
    Never underestimates the true interval count."""
    return min(
        cells.get((g, lvl, j, _py_cell_bucket(j, lvl, bucket, width)), 0)
        for j in range(QSKETCH_DEPTH)
    )


def descend_quantile(cells: dict, g, target: int, width: int = QSKETCH_WIDTH) -> int:
    """Tree descent for the ``target``-th smallest value (1-based rank):
    starting at the domain root, at each level walk the ≤ 16 children
    left-to-right subtracting their estimated counts until the
    remaining target fits; the leaf's bucket index is the value
    estimate. Earlier-sibling estimates only OVERcount (CMS), so the
    remaining target only shrinks relative to truth — the descent can
    land early (undershoot) but never overshoot the exact quantile,
    the one-sidedness the error tests pin. ≤ ``16 · levels`` CMS point
    queries per quantile, driver-side."""
    p = 0
    remaining = target
    for lvl in range(QSKETCH_LEVELS - 1, -1, -1):
        for c in range(QSKETCH_BRANCH):
            child = (p << QSKETCH_BRANCH_BITS) | c
            cnt = estimate_interval(cells, g, lvl, child, width)
            if remaining <= cnt or c == QSKETCH_BRANCH - 1:
                p = child
                break
            remaining -= cnt
    return p


#: (name, num, den) of the quantiles :func:`sketch_quantiles` reports.
QSKETCH_QUANTILES = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def sketch_quantiles(spark: SparkSession, cell_rows, totals: dict) -> DataFrame:
    """Per-priority QSKETCH_QUANTILES estimates (plus ``n_orders``) from
    collected sketch cells.

    ``cell_rows`` is the COLLECTED bounded counter table (rows with
    g/lvl/j/b/c); ``totals`` maps group → exact n. Target ranks use the
    same ceil integer arithmetic as operators.rank.quantile_disc_slab
    (``(num·n + den − 1) // den``) so the sketch answers the identical
    question as the exact operator it approximates — for ANY (num, den)
    fraction, not just the num = den−1 tail quantiles the headline
    query asks for. Values come back as ``bucket / 100`` (cents →
    currency)."""
    cells = {(r["g"], r["lvl"], r["j"], r["b"]): r["c"] for r in cell_rows}
    out = []
    for g in sorted(totals):
        n = totals[g]
        row = [g, n]
        for _name, num, den in QSKETCH_QUANTILES:
            target = (num * n + den - 1) // den
            row.append(descend_quantile(cells, g, target) / 100.0)
        out.append(tuple(row))
    schema = "o_orderpriority string, n_orders long, " + ", ".join(
        f"{name} double" for name, _, _ in QSKETCH_QUANTILES
    )
    return spark.createDataFrame(out, schema)
