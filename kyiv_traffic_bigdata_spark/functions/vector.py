"""Vector math over ``array<float>`` embedding columns.

Pure higher-order-function expressions (``zip_with`` + ``aggregate``) —
JVM-side, codegen-friendly, no Arrow round-trip — for the similarity-search
operators. Everything is computed in double after an explicit upcast of the
float32 storage type, and user-facing similarity scores are rounded to six
decimals so results are stable across engines and summation orders.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Dimension of the driver's ``embeddings`` vectors: the width of every
#: literal hyperplane (the DuckDB twins build the same plane tables).
EMB_DIM = 64


def as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (sequential fold, double acc)."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    """Squared L2 norm."""
    ad = as_double(a)
    return F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x)


def norm(a: Column) -> Column:
    return F.sqrt(norm2(a))


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance via zip_with + sequential double fold."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector is all-zero."""
    denom = F.sqrt(norm2(a)) * F.sqrt(norm2(b))
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def plane_coefficients(n_planes: int, seed: str) -> list[list[float]]:
    """Deterministic random-hyperplane coefficients in [-1, 1).

    c_{p,k} = ((int(md5("{seed}_{p}_{k}")[:8], 16) % 1000) / 500) - 1 — the
    same md5-prefix recipe as functions.text.portable_hash, so signatures
    are reproducible across runs, engines, and cluster topologies (a hard
    requirement for re-bucketing 100 TB of embeddings incrementally).
    Computed once driver-side: the planes are row-independent, so hashing
    them per row would cost EMB_DIM x n_planes md5s per vector for constants.
    """
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{seed}_{p}_{k}".encode()).hexdigest()[:8], 16) % 1000)
            / 500.0
            - 1.0
            for k in range(EMB_DIM)
        ]
        for p in range(n_planes)
    ]


def literal_matrix(rows: list[list[float]]) -> Column:
    """array<array<double>> literal built from ONE parsed SQL expression.

    Element-wise ``F.array(F.lit(...))`` construction costs one py4j
    round trip per scalar — ~5 s of pure plan-build for a 64×64 matrix
    (measured); a single ``F.expr`` string parses in milliseconds.
    ``repr(float)`` is shortest-round-trip, so the parsed doubles are
    bit-identical to the Python values.
    """
    body = ", ".join(
        "array(" + ", ".join(f"{c!r}d" for c in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def hyperplane_sign_bits(v: Column, n_planes: int, seed: str = "rp") -> Column:
    """Random-hyperplane LSH signature as a bit-string column.

    Each plane's sign bit is ``dot(v, plane) >= 0``; vectors in the same
    bucket are ANN candidates (operators.similarity.ann_lsh). Plane
    coefficients are literal arrays (see :func:`plane_coefficients`), so
    the per-row work is n_planes fused multiply-add folds over the vector.

    The dot accumulates in DECIMAL(28,10), not double: the sign bit is
    an unrounded ``>= 0`` threshold, so a dot near zero computed with an
    order-dependent float sum could flip a bucket bit between engines
    (or between summation orders) and diverge the whole candidate set.
    Decimal addition of the per-element double products is exact and
    order-independent, so any engine that quantizes the same products
    to the same scale reproduces the signature bit-for-bit (the SQL
    twins use ``SUM(CAST(x * c AS DECIMAL(28,10)))``).
    """
    vd = as_double(v)
    planes = literal_matrix(plane_coefficients(n_planes, seed))
    # one transform over a literal array-of-arrays, NOT n_planes separate
    # fold expressions: Catalyst analyzes/codegens the projection lambda
    # once, which cuts plan-compile time ~4x at n_planes=16 (the per-row
    # arithmetic is identical — same fold per plane).
    dec = "decimal(28,10)"
    return F.array_join(
        F.transform(
            planes,
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(vd, p, lambda x, c: x * c),
                    F.lit(0).cast(dec),
                    lambda a, x: (a + x.cast(dec)).cast(dec),
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
        "",
    )


def sign_words(v: Column) -> Column:
    """Binary (sign-bit) signature as ``array<bigint>`` of 32-bit words:
    bit j of word w is set iff ``x[32w + j] > 0`` — the 1-bit-per-dim
    quantization whose Hamming distance approximates angular distance
    (the random-hyperplane bound with identity hyperplanes). A 64-dim
    float32 vector (256 B) compresses to two words (8 B of payload):
    the ANN shortlist scans 32× fewer bytes and compares with XOR +
    popcount, both whole-stage-codegen integer ops.

    Word construction folds bits HIGH→LOW (acc*2 + bit) — plain integer
    arithmetic, so any engine reproduces the exact words; trailing
    dims past the vector length contribute 0 bits (try_element_at)."""
    d = as_double(v)
    n_words = F.ceil(F.size(d) / F.lit(32)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_words - 1, F.lit(0))),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * 2
            + F.when(
                F.try_element_at(d, w * 32 + (F.lit(31) - j) + 1) > 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length ``array<bigint>``
    signatures: Σ popcount(xor(word_a, word_b)) — exact, integer-only,
    codegen-friendly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantize_scale(v: Column) -> Column:
    """Per-vector symmetric int8 quantization scale: 127 / max|x| (0.0
    for the all-zero vector, whose quantized form is all zeros)."""
    m = F.array_max(F.transform(as_double(v), F.abs))
    return F.when(m == 0, F.lit(0.0)).otherwise(F.lit(127.0) / m)


def quantize_embedding(v: Column, scale: Column) -> Column:
    """int8-range quantized vector (as array<int> for cross-engine schema
    stability): round-half-away-from-zero of x·scale — identical rounding
    in Spark (HALF_UP) and DuckDB (round half away from zero), so the
    oracle reproduces every element. 4× memory cut for ANN shortlists;
    exact re-scoring keeps the float column."""
    return F.transform(as_double(v), lambda x: F.round(x * scale, 0).cast("int"))
