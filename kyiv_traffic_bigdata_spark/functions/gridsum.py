"""Exact sums of decimal-GRID doubles without per-row decimal casts.

The engine's portable-sum convention (`operators.aggregates`) is

    sum(cast(x AS decimal(28,10)))  →  one final double cast

which is exact and order-free, but pays a heavy per-row price: Spark's
double→decimal cast goes through ``BigDecimal.valueOf`` (a
``Double.toString`` shortest-representation parse) plus a scaled
``BigDecimal`` add per row. Measured on the brand_price_ols aggregate
(9 sums over the sf0.1 lineitem scan): 4.1 s with decimal casts vs
0.42 s with plain double sums — the casts ARE the query (guide §1.2
step 2: per-task work).

For columns whose values provably sit on a fixed decimal grid — the
money/quantity columns of the star schema (2 dp by construction, so
products of two of them are 4 dp, three are 6 dp) and ``events.value``
(2 dp) — the same exact rational sum can be computed with PURE INT64
per-row work:

    n  = floor(x · 10^dp + 0.5)          -- the exact grid integer
    q  = n >> SPLIT_BITS,  r = n & (2^SPLIT_BITS − 1)
    S  = (Σq · 2^SPLIT_BITS + Σr)        -- recombined in decimal
    result = (S / 10^dp)                 -- decimal divide, then → double

Why each step is exact / value-identical to the decimal-cast sum:

* ``floor(x·10^dp + 0.5) = n`` exactly, because x is within a few ulps
  of the grid value n/10^dp (the stored double is the correctly-rounded
  binary of the grid value; derived products add a few more roundings),
  so x·10^dp lands within ~1e-4 of the integer n — never near the ±0.5
  boundary. For STORED columns the decimal(28,10) cast recovers the
  same n/10^dp via the shortest-repr parse (grid values have ≤ 15
  significant digits and round-trip), so grid-int extraction and the
  decimal cast agree per row. For multi-rounding DERIVED products
  (e.g. the 3-factor 6-dp charge, |x| up to ~1.3e5) the accumulated
  ~5 double roundings can deviate up to ~7e-11 from the grid value —
  past the 5e-11 half-grid of the decimal(28,10) cast — so PER-ROW
  equality with the decimal cast is not guaranteed there; what holds
  (and what the queries need) is equality of the FINAL AGGREGATE
  double within its ~2-ulp rounding slack, pinned empirically by the
  oracle gate at every tested SF and by
  tests/test_gridsum.py::test_grid_sum_max_magnitude_charge_products.
  This is a PRECONDITION on the data, not a theorem about arbitrary
  doubles: callers may only use grid_sum on columns that are
  decimal-grid by construction, and every converted query keeps its
  UNCHANGED decimal-formula DuckDB oracle, so any violation fails the
  hash gate instead of shipping a wrong number. Do NOT use it on
  transcendental expressions (log/sqrt/ratios) — for those the binary
  vs shortest-repr rounding disagree with probability ~ulp/grid per
  row, and the decimal cast must stay.
* The q/r split keeps both int64 sums far from 2^63 at 100 TB:
  Σr < n_rows·2^20 overflows only past 8.8e12 rows (≈ 1 PB of
  lineitem); Σq < n_rows·(max|x|·10^dp)/2^20 — for the largest
  converted expression (charge ≈ 1.3e5 at 6 dp → q ≤ 1.3e5) that is
  ≥ 7e13 rows. Arithmetic ``shiftright`` floors negative n correctly
  (acctbal columns), leaving r non-negative.
* The recombine and the 10^dp divide run in decimal on the GROUP rows
  (bounded output), never per fact row. Spark's decimal division
  yields scale ≥ 6 (adjustPrecisionScale keeps min scale 6), so for
  dp ≤ 6 the quotient is exact and the final decimal→double cast is
  the same correctly-rounded ``BigDecimal.doubleValue`` the old
  decimal(28,10) sum used — equal output at ANY scale (bit-identical
  for stored-grid columns; aggregate-level for multi-rounding derived
  products per the first bullet), not just when Σ fits 2^53.
* NULL rows null out n, q and r together, so both sums skip exactly
  the rows the decimal sum skipped; an all-null/empty group yields
  NULL through the recombine arithmetic, matching sum-over-empty.

The DuckDB twins deliberately KEEP the ``_ssum`` decimal formula: the
oracle then independently re-proves, at every scale factor the gate
runs, that the grid-sum path produces bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Low-half width of the q/r split. 20 bits balances the two overflow
#: ceilings (see module docstring); do not raise past ~22 without
#: re-auditing Σr against the 100 TB row counts.
SPLIT_BITS = 20
_LO_MASK = (1 << SPLIT_BITS) - 1
_HI_UNIT = 1 << SPLIT_BITS


def grid_scaled(col: Column, dp: int) -> Column:
    """``floor(x·10^dp + 0.5)`` as int64 — the exact grid integer."""
    if not 0 <= dp <= 6:
        raise ValueError(f"grid dp must be in [0, 6], got {dp}")
    if dp == 0:
        return F.floor(col + F.lit(0.5)).cast("long")
    return F.floor(col * F.lit(float(10**dp)) + F.lit(0.5)).cast("long")


def grid_sum_dec(col: Column, dp: int) -> Column:
    """Exact decimal sum of a dp-decimal-grid double column.

    Value-identical to ``F.sum(col.cast('decimal(28,10)'))`` (as a
    number; the declared scale differs: 6 vs 10) whenever every non-null
    value of ``col`` sits on the 10^-dp grid — see module docstring for
    the proof obligations and the overflow audit.
    """
    n = grid_scaled(col, dp)
    q = F.shiftright(n, SPLIT_BITS)
    r = n.bitwiseAND(F.lit(_LO_MASK))
    total = F.sum(q).cast("decimal(38,0)") * F.lit(_HI_UNIT).cast(
        "decimal(7,0)"
    ) + F.sum(r).cast("decimal(38,0)")
    if dp == 0:
        return total
    return total / F.lit(10**dp).cast(f"decimal({dp + 1},0)")


def grid_sum(col: Column, dp: int) -> Column:
    """Exact order-free sum of a dp-grid double column, as double —
    the drop-in fast path for ``F.sum(dec(col)).cast('double')``."""
    return grid_sum_dec(col, dp).cast("double")


def grid_sum_over(col: Column, window) -> Column:
    """Window-function form of :func:`grid_sum_dec` for an integer-valued
    column (0 decimals): the same q/r split summed ``OVER window`` and
    recombined per output row. Shares one window frame with any sibling
    aggregates over the same spec."""
    n = grid_scaled(col, 0)
    q = F.shiftright(n, SPLIT_BITS)
    r = n.bitwiseAND(F.lit(_LO_MASK))
    total = F.sum(q).over(window).cast("decimal(38,0)") * F.lit(
        _HI_UNIT
    ).cast("decimal(7,0)") + F.sum(r).over(window).cast("decimal(38,0)")
    return total
