"""HyperLogLog distinct-count sketch (Flajolet et al. 2007).

The third sketch family next to KMV (operators/rank.py's cousin in
queries.py's user_distinct_sketch) and count-min (qsketch.py): where
KMV keeps the k smallest hashes per group, HLL keeps ``m`` one-byte
registers whose merge is ELEMENTWISE MAX — the strongest mergeability
contract of the three. That is the 100 TB shape: every partition
aggregates its rows into ≤ m register rows map-side, partitions merge
by max, streams/backfills/shards union by max, and the driver never
holds anything bigger than groups·m counters.

Cross-engine determinism: the register index and rank derive from the
md5-based :func:`portable_hash` (identical bits in Spark and DuckDB),
the harmonic sum is carried as an INTEGER numerator (Σ 2^(27-ρ), exact
— every term is a dyadic rational on the common 2^-27 grid), and only
the final estimate touches floats, under the portable floor-rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round6
from ..functions.text import portable_hash

#: registers (2^6) — small on purpose: the oracle must re-derive every
#: register in SQL, and 64 registers already demonstrate the merge
#: contract while keeping ~13% standard error (1.04/sqrt(64)).
HLL_M = 64

#: portable_hash yields 32 bits; 6 index bits leave 26 for the rank
#: pattern, so rho ranges 1..27 (27 = the all-zeros pattern).
HLL_W_BITS = 26

#: alpha_64 bias constant from the HLL paper (m = 64 row of Table 1:
#: alpha_m = 0.7213 / (1 + 1.079 / m) ≈ 0.709).
HLL_ALPHA = 0.709


def hll_register_cols(h: Column) -> tuple[Column, Column]:
    """(register, rho) columns from a 32-bit portable hash column.

    The 6 low hash bits pick the register; rho = leading zeros of the
    remaining 26-bit word + 1, with bit-length read off
    ``length(ltrim(bin(w), '0'))`` — ``bin`` prints the minimal binary
    string in BOTH engines, and the ltrim makes the w = 0 edge read as
    bit-length 0 → rho 27 even if an engine ever padded."""
    w = F.floor(h / HLL_M).cast("long")
    rho = F.lit(HLL_W_BITS + 1) - F.length(F.ltrim(F.bin(w), F.lit("0")))
    return (h % HLL_M).alias("_reg"), rho.alias("_rho")


def hll_registers(df: DataFrame) -> DataFrame:
    """The sketch state of the distinct string ``_u`` values per
    ``event_type``: (event_type, _reg, _rho) with MAX-merged rho.

    One hash-aggregate with map-side combine; output is bounded by
    |groups| · m rows regardless of input size."""
    reg, rho = hll_register_cols(portable_hash(F.col("_u")))
    return (
        df.select("event_type", reg, rho)
        .groupBy("event_type", "_reg")
        .agg(F.max("_rho").alias("_rho"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Fold register rows into the HLL estimate per event_type.

    Carries the harmonic sum as the integer Σ 2^(27-ρ) (absent
    registers contribute 2^27 each); applies the paper's small-range
    linear-counting correction when E ≤ 2.5 m and empty registers
    remain. Output: event_type, zero_registers, register_sum, est."""
    two27 = 1 << (HLL_W_BITS + 1)
    agg = registers.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_filled"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(HLL_W_BITS + 1) - F.col("_rho")).cast(
                "long"
            )
        ).alias("_sum_filled"),
    )
    zero = (F.lit(HLL_M) - F.col("_filled")).alias("zero_registers")
    s_num = (F.col("_sum_filled") + (F.lit(HLL_M) - F.col("_filled")) * two27)
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M * two27) / s_num
    linear = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero)
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zero > 0), linear
    ).otherwise(raw)
    return agg.select(
        "event_type",
        zero,
        s_num.cast("long").alias("register_sum"),
        round6(est).alias("est_distinct"),
    )
