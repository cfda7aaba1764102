"""Product quantization (PQ) for embedding columns — the classic ANN
memory-compression path (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

Why it matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code at m=4 subspaces × k=16 codewords is 4 × log2(16) bits = 2
bytes — a 128× cut. The shortlist scan (the hot loop of any ANN query)
reads codes only; exact re-scoring on the float column touches just the
top candidates. Everything here is pure Catalyst expression work over
literal codebook arrays — no UDF, no Arrow round trip, map-only encode.

Pieces:

* :func:`fit_pq` — per-subspace codebooks. ``n_iters=0`` uses the
  deterministic seed (the k lowest-id vectors' subvectors — the same
  oracle-expressible contract as operators.kmeans.initial_centroids);
  ``n_iters>0`` refines each subspace with Lloyd's (driver work is
  m × k × subdim floats of metadata — bounded at any corpus size).
* :func:`encode_pq` — map-only argmin per subspace → ``array<int>``.
* :func:`adc_topk` — asymmetric distance computation: each query
  precomputes its m×k distance table ONCE (against the literal
  codebooks, before the join), so per-(query, code) scoring is m
  array lookups + adds instead of a dim-length fold. The corpus side
  carries 2-byte codes, not 256-byte vectors: the broadcast-join scan
  is memory-bound on codes — that is the entire point of PQ.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double, sq_dist
from .kmeans import initial_centroids, lloyd_iterations
from .similarity import EMB_DIM
from .topk import top_k_per_group


def _literal_cube(books: list[list[list[float]]]) -> Column:
    """array<array<array<double>>> literal from ONE parsed expression
    (same single-parse rationale as functions.vector.literal_matrix)."""
    body = ", ".join(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{c!r}d" for c in row) + ")" for row in book
        )
        + ")"
        for book in books
    )
    return F.expr(f"array({body})")


def fit_pq(
    df: DataFrame, m: int = 4, k: int = 16, n_iters: int = 0
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k codewords each.

    ``n_iters=0``: deterministic seed codebooks (k lowest-id vectors'
    subvectors) — reproducible in SQL, used by the oracle-checked query.
    ``n_iters>0``: per-subspace Lloyd refinement (m × n_iters bounded
    aggregate jobs; codebooks are metadata, never a data-sized collect).
    """
    if EMB_DIM % m:
        raise ValueError(f"dim {EMB_DIM} not divisible by m {m}")
    subdim = EMB_DIM // m
    if n_iters <= 0:
        # seed books are SUBVECTORS of the k lowest-id vectors, so one
        # k-row collect of the full vectors yields every book — m
        # separate collect jobs would fetch the same rows m times.
        # allow_fewer: the oracle's LIMIT-k semantics — a corpus with
        # n < k seeds n codewords; an empty corpus yields m empty books
        # (callers emit a typed empty frame, see q_emb_pq).
        seeds = initial_centroids(df, k, allow_fewer=True)
        return [
            [v[s * subdim : (s + 1) * subdim] for v in seeds]
            for s in range(m)
        ]
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = df.select(
            "vec_id",
            F.slice(as_double(F.col("embedding")), s * subdim + 1, subdim).alias(
                "_sub"
            ),
        )
        _, cents, _ = lloyd_iterations(sub, k, n_iters, "_sub")
        books.append(cents)
    return books


def encode_pq(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Map-only PQ encode: ``(vec_id, codes array<int>,
    recon_sq_err double)`` where recon_sq_err is the summed per-subspace
    quantization error ‖v − decode(codes)‖² (ties on codeword distance
    go to the lowest code, matching the SQL twin's row_number order)."""
    m, subdim = len(books), len(books[0][0])
    cube = _literal_cube(books)
    vd = as_double(F.col("embedding"))

    def sub_dists(s: Column) -> Column:
        sub = F.slice(vd, s * subdim + 1, subdim)
        return F.transform(
            F.element_at(cube, s + 1), lambda c: sq_dist(sub, c)
        )

    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    # Stage the m x k distance table ONCE (the repo's multiply-referenced
    # higher-order-expression rule, cf. shingle_index): codes and err
    # both read it, and lambdas get no common-subexpression elimination —
    # inlining sub_dists into each consumer evaluates the full table 3x
    # per row.
    staged = df.select("vec_id", F.transform(subspaces, sub_dists).alias("_dists"))
    codes = F.transform(
        F.col("_dists"),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )
    err = F.aggregate(
        F.transform(F.col("_dists"), F.array_min),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return staged.select("vec_id", codes.alias("codes"), err.alias("recon_sq_err"))


def adc_topk(
    queries: DataFrame,
    codes_df: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ asymmetric distance.

    Each query row precomputes its m×k table of subvector→codeword
    squared distances against the literal codebooks (one expression,
    evaluated once per query BEFORE the broadcast join); scoring a
    corpus code is then m element lookups + adds. The corpus side never
    materializes vectors — codes only.
    """
    m, subdim = len(books), len(books[0][0])
    cube = _literal_cube(books)
    qd = as_double(F.col("embedding"))
    qtab = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.element_at(cube, s + 1),
            lambda c: sq_dist(F.slice(qd, s * subdim + 1, subdim), c),
        ),
    )
    q = queries.select(F.col("vec_id").alias("query_id"), qtab.alias("_qtab"))
    c = codes_df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("codes").alias("_codes")
    )
    approx = F.aggregate(
        F.zip_with(
            F.col("_qtab"),
            F.col("_codes"),
            lambda tab, code: F.element_at(tab, code + 1),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", approx.alias("_adist"))
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("_adist").asc(), F.col("neighbor_id").asc()],
        k,
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_adist"), 6).alias("approx_sq_dist"),
    )
