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

* :func:`fit_pq` — per-subspace seed codebooks: the k lowest-id
  vectors' subvectors (the same oracle-expressible contract as
  operators.kmeans.initial_centroids; one k-row collect of metadata,
  bounded at any corpus size).
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

from ..functions.vector import EMB_DIM, as_double, sq_dist
from .kmeans import initial_centroids
from .similarity import TOPK
from .topk import top_k_per_group

#: PQ geometry: m subspaces × k codewords over the 64-dim embeddings.
#: m=4/k=16 keeps the DuckDB twins tractable; at production scale you'd
#: run m=8..16, k=256.
PQ_M = 4
PQ_K = 16


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


def fit_pq(df: DataFrame) -> list[list[list[float]]]:
    """Seed codebooks: PQ_M per-subspace books of the PQ_K lowest-id
    vectors' subvectors — reproducible in SQL, so the oracle-checked
    queries rebuild them. One k-row collect of the full vectors yields
    every book (m separate collects would fetch the same rows m times).
    A corpus with n < PQ_K vectors seeds n codewords, an empty one m
    empty books (the oracle's LIMIT-k semantics; callers emit a typed
    empty frame, see q_emb_pq)."""
    subdim = EMB_DIM // PQ_M
    seeds = initial_centroids(df, PQ_K)
    return [
        [v[s * subdim : (s + 1) * subdim] for v in seeds] for s in range(PQ_M)
    ]


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
) -> DataFrame:
    """Approximate TOPK nearest neighbors by PQ asymmetric distance.

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
        TOPK,
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_adist"), 6).alias("approx_sq_dist"),
    )
