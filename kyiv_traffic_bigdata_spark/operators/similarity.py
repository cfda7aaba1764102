"""Similarity search over embedding columns — brute-force cosine top-k
baseline plus an LSH-bucketed ANN scale path (north-star operators over the
driver's ``embeddings`` table).

Scale design: brute force is a broadcast of the (small) query set against a
full scan of the corpus — linear, shuffle-free except the final per-query
top-k (TakeOrdered-style). The ANN variant buckets both sides by a
random-hyperplane signature so each query only scores its bucket —
sub-linear scoring at the cost of recall, with multi-probe (bit-flip)
expansion to claw recall back.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double, dot, hyperplane_sign_bits, norm
from .topk import top_k_per_group

#: Neighbors per query returned by cosine_topk, ann_lsh_topk and
#: ann_ivf_topk (and operators.pq.adc_topk); the SQL twins rank to it.
TOPK = 10

#: Cosine radius of :func:`cosine_range_search`.
RANGE_TAU = 0.2

#: SemDeDup cosine threshold (chosen away from the sf test data's
#: observed similarity values so the boolean gate can never flip on a
#: final-ulp engine difference).
SEMDEDUP_THRESHOLD = 0.35


def probe_max_sim(corpus: DataFrame, probes: list[list[float]]) -> DataFrame:
    """Max cosine similarity of every corpus vector to a PROBE SET —
    the semantic-decontamination gate (flag training docs too close in
    embedding space to any benchmark/eval item), the embedding-space
    complement of the n-gram containment check in
    ``queries.doc_decontaminate``.

    Scale shape is the kmeans-centroid pattern, not a join: the probe
    set (a benchmark suite — thousands of vectors, driver metadata)
    ships as closure metadata of ONE Arrow-batched numpy pass; each
    corpus row is scored against every probe and reduced to its max —
    map-only, zero shuffle. Corpus size only adds map tasks; probe-set
    size only widens the matrix. (A JVM literal-matrix form was deleted:
    it codegens an m-probe expression, which is plan-size-bound past a
    few hundred probes.)

    Dot and norm accumulation iterate the dimension axis SEQUENTIALLY —
    the same IEEE operation order as the DuckDB oracle's ``list_reduce``
    fold, so the doubles agree bit-for-bit. Returns
    ``(id, max_probe_sim)`` with the max rounded to 6 decimals (callers
    threshold the rounded value, so the gate is deterministic across
    engines too); a zero vector scores 0.0.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    if not probes:
        raise ValueError("probe_max_sim needs a non-empty probe set")
    # per-probe norms — metadata math, sequential fold to mirror the
    # engines' accumulation order
    pnorms = []
    for p in probes:
        acc = 0.0
        for x in p:
            acc += float(x) * float(x)
        pnorms.append(acc**0.5)
    pmat = np.asarray(
        [[float(x) for x in p] for p in probes], dtype=np.float64
    )  # m x d
    pn_row = np.asarray(pnorms, dtype=np.float64)[None, :]  # 1 x m

    @pandas_udf("double")
    def _maxsim(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="float64")
        v = np.stack(s.to_numpy()).astype(np.float64)  # n x d
        n, d = v.shape
        dots = np.zeros((n, pmat.shape[0]), dtype=np.float64)
        vn2 = np.zeros(n, dtype=np.float64)
        # sequential over the dimension axis = the fold's IEEE order
        for k in range(d):
            dots += v[:, k : k + 1] * pmat.T[k : k + 1, :]
            vn2 += v[:, k] * v[:, k]
        denom = pn_row * np.sqrt(vn2)[:, None]
        sims = np.divide(
            dots, denom, out=np.zeros_like(dots), where=denom != 0
        )
        return pd.Series(sims.max(axis=1))

    return corpus.select(
        "vec_id",
        F.round(_maxsim(as_double(F.col("embedding"))), 6).alias("max_probe_sim"),
    )


def cosine_sides(
    queries: DataFrame,
    corpus: DataFrame,
    q_extra=(),
    c_extra=(),
    c_id: str = "neighbor_id",
) -> tuple[DataFrame, DataFrame]:
    """The two sides of an exact-cosine join, ``(query_id, qvec, _qn,
    *q_extra)`` and ``(c_id, cvec, _cn, *c_extra)``, each row carrying
    its own L2 norm. Norms are per row, not per pair: attached before the
    join, the O(|q| x |c|) scoring loop does one dot product per pair
    instead of re-folding both vectors' norms for every pair."""

    def side(df, id_as, vec_as, norm_as, extra):
        return df.select(
            F.col("vec_id").alias(id_as),
            F.col("embedding").alias(vec_as),
            norm(F.col("embedding")).alias(norm_as),
            *extra,
        )

    return (
        side(queries, "query_id", "qvec", "_qn", q_extra),
        side(corpus, c_id, "cvec", "_cn", c_extra),
    )


def cosine_sim() -> Column:
    """The exact cosine of a joined :func:`cosine_sides` pair, 0.0 when
    either vector is all-zero. The dot and both norms are sequential
    double folds (functions.vector), and the denominator multiplies the
    two square roots, so the double equals functions.vector.cosine's."""
    denom = F.col("_qn") * F.col("_cn")
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("qvec"), F.col("cvec")) / denom
    )


def top_cosine(scored: DataFrame, k: int = TOPK) -> DataFrame:
    """Top-k ``_sim`` rows per query: ranked on the unrounded score with
    the neighbor id as tiebreak, emitted with every other column of
    ``scored`` plus ``cosine_sim``, the score rounded to 6 decimals
    (cross-engine float stability)."""
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("_sim").desc(), F.col("neighbor_id").asc()],
        k,
    )
    return ranked.select(
        *[c for c in scored.columns if c != "_sim"],
        F.round(F.col("_sim"), 6).alias("cosine_sim"),
    )


def cosine_range_search(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """All corpus neighbors within cosine RANGE_TAU of each query vector
    (range query — the similarity-search complement of
    :func:`cosine_topk`'s top-k: "everything at least this similar",
    unbounded result count per query).

    Same scale posture as cosine_topk: ``broadcast(queries) × corpus``,
    the corpus never shuffles, one codegen'd dot product per pair, and
    the threshold filter runs inside the same projected stage so
    non-neighbors never leave the task. Self-matches excluded. The
    threshold compares the PORTABLY ROUNDED score (functions.rounding
    round6 — identical IEEE ops in both engines), so an engine-divergent
    ulp sitting exactly at the threshold can never include/exclude a
    neighbor differently per engine; the emitted score is the same
    rounded value the filter saw."""
    from ..functions.rounding import round6

    q, c = cosine_sides(queries, corpus)
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", round6(cosine_sim()).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= F.lit(RANGE_TAU))
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact top-TOPK cosine neighbors for each query vector.

    ``broadcast(queries) × corpus`` — the corpus never shuffles; scoring is
    one codegen'd expression per (query, doc). Self-matches excluded.
    """
    q, c = cosine_sides(queries, corpus)
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", cosine_sim().alias("_sim")
    )
    return top_cosine(scored)


#: IVF coarse-quantizer size of :func:`ann_ivf_topk`, and the cells each
#: query probes in the registered ann_ivf query.
IVF_CELLS = 16
IVF_PROBES = 4


def ann_ivf_topk(queries: DataFrame, corpus: DataFrame, n_probe: int) -> DataFrame:
    """IVF-style approximate NN: coarse quantizer + inverted cell lists.

    The other classic ANN scale path next to hyperplane LSH (ann_lsh_topk):

    1. **coarse quantizer** — IVF_CELLS centroid vectors; here the
       lowest-id corpus vectors (the k-means seed,
       operators.kmeans.initial_centroids), collected once driver-side
       (centroids are metadata-sized at any corpus scale; production
       would train them offline with k-means and pass them in the same
       literal form);
    2. **assignment** — every corpus vector goes to its max-cosine
       centroid cell. Centroids are L2-normalized driver-side, so the
       per-row work is exactly IVF_CELLS dot products (the row's own
       norm is a common positive factor — it cannot change the argmax):
       one ``transform`` over a literal array-of-arrays +
       ``array_position(.., array_max(..))`` — pure Catalyst, no UDF;
    3. **probe** — each query scores the same centroid list and explodes
       its ``n_probe`` best cells (``array_sort`` on (neg score, idx)
       structs — deterministic ties);
    4. **score** — equi-join on cell id (inverted-list lookup as a
       hash-partitioned join; a neighbor lives in exactly one cell so no
       pair dedup is needed), exact cosine, per-query top-TOPK.

    Scoring cost drops from |Q| x |C| to ~|Q| x n_probe x |C| / IVF_CELLS.
    Recall vs. the exact baseline is asserted in tests, not assumed.
    """
    import math

    from ..functions.vector import literal_matrix
    from .kmeans import initial_centroids

    seeds = initial_centroids(corpus, IVF_CELLS)
    if not seeds:
        # empty corpus: no quantizer, no cells, no candidates — a typed
        # empty frame, matching the SQL twin's empty seed CTE (an empty
        # centroid literal would break zip_with's type resolution)
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double"
        )

    def _unit(v):  # driver-side L2 normalize; zero vector -> zero dots
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n else [0.0] * len(v)

    cents = literal_matrix([_unit(v) for v in seeds])
    # dot against every unit centroid: rank == cosine rank
    c_scores = F.transform(cents, lambda c: dot(F.col("embedding"), c))
    q_scored, c = cosine_sides(
        queries,
        corpus,
        q_extra=(c_scores.alias("_cs"),),
        c_extra=(F.array_position(c_scores, F.array_max(c_scores)).alias("cell"),),
    )
    ranked_cells = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    F.col("_cs"),
                    lambda s, i: F.struct((-s).alias("neg"), i.alias("idx")),
                )
            ),
            1,
            n_probe,
        ),
        lambda st: st["idx"] + 1,  # array_position is 1-based
    )
    q = q_scored.select(
        "query_id", "qvec", "_qn", F.explode(ranked_cells).alias("cell")
    )
    scored = (
        c.join(q, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine_sim().alias("_sim"))
    )
    return top_cosine(scored)


#: banding layout for cosine_neardup_pairs — 4 bands whose sign-bit width
#: SCALES WITH CORPUS SIZE. With w bits per band there are 2^w buckets per
#: band, so expected bucket population on spread-out data is n / 2^w;
#: neardup_rows_per_band picks the smallest w keeping that at or under
#: NEARDUP_TARGET_BUCKET. A fixed w (the round-1 design: 4 bits = 16
#: buckets) means per-band verify work of Θ(n²/16) — quadratic at 100 TB;
#: the adaptive width keeps per-bucket work bounded (~n·target/2 dot
#: products per band total) so cost grows linearly with the corpus.
#: Recall tradeoff is the standard AND/OR construction: longer bands drop
#: per-band collision probability ((1-θ/π)^w), so at large n you raise
#: NEARDUP_BANDS (OR-construction) to claw recall back; verification is
#: exact either way (precision always 1). Pairs are kept at cosine >=
#: NEARDUP_THRESHOLD.
NEARDUP_BANDS = 4
NEARDUP_MIN_ROWS = 4
NEARDUP_MAX_ROWS = 16
NEARDUP_TARGET_BUCKET = 64
NEARDUP_THRESHOLD = 0.3


def _gram_cosine(ids, vecs):
    """``(ids sorted, their pairwise cosine matrix)`` for one bucket or
    cluster: one BLAS gram over the id-ordered rows, 0.0 where either
    vector is all-zero. Sorting by id makes the matrix independent of
    how the rows arrived."""
    import numpy as np

    order = np.argsort(ids)
    mat = np.stack(vecs[order]).astype(np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    gram = mat @ mat.T
    denom = np.outer(norms, norms)
    sims = np.divide(gram, denom, out=np.zeros_like(gram), where=denom != 0)
    return ids[order], sims


def neardup_rows_per_band(n_rows: int) -> int:
    """Smallest band bit-width w with expected bucket size n/2^w ≤
    NEARDUP_TARGET_BUCKET, clamped to [NEARDUP_MIN_ROWS, NEARDUP_MAX_ROWS].

    Deterministic in n only, so the DuckDB oracle can reproduce it in SQL
    (CEIL(LOG2(n/target))) and two engines bucket identically.
    """
    import math

    if n_rows <= NEARDUP_TARGET_BUCKET:
        return NEARDUP_MIN_ROWS
    w = math.ceil(math.log2(n_rows / NEARDUP_TARGET_BUCKET))
    return max(NEARDUP_MIN_ROWS, min(NEARDUP_MAX_ROWS, w))


def cosine_neardup_pairs(corpus: DataFrame, rows_per_band: int) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north-star dedup op #5).

    Banded random-hyperplane LSH blocking + exact cosine verification —
    the signature-space analogue of operators.dedup.minhash_lsh_pairs:

    1. each vector gets NEARDUP_BANDS sign-bit keys of ``rows_per_band`` bits
       (literal hyperplane coefficients, functions.vector). Band b hashes
       with its own seed ("rp_b{b}"), so a band's plane list is a stable
       prefix as the width grows — re-bucketing a grown corpus reuses
       every previously computed bit;
    2. callers size the width from the corpus row count with
       :func:`neardup_rows_per_band`, keeping expected bucket population
       ≤ NEARDUP_TARGET_BUCKET instead of letting buckets grow with n;
    3. per band, vectors sharing the band key are candidates — a
       self-equi-join on (band, key), hash-partitioned, no cross join;
       skewed real-world buckets (clustered embeddings) are AQE
       skew-join territory, and NEARDUP_TARGET_BUCKET can be lowered to
       split them;
    4. candidates are verified with the exact cosine >= NEARDUP_THRESHOLD
       predicate — blocking affects recall only, never precision.

    Verification runs INSIDE each bucket as one numpy gram matrix
    (``applyInPandas``): with bucket population capped at ~target rows the
    per-bucket matmul is a bounded target² block (sub-ms), and emitting
    only >= NEARDUP_THRESHOLD survivors means the only shuffles are the bands ×
    corpus bucket exchange (vectors ride along: bands × row_size, bounded)
    and a final tiny pair dedup. A pair colliding in several bands is
    deduped by max(sim) — matmul blocking may differ per bucket shape, so
    the two sims can differ in final ulps; max() + round(6) makes the
    output deterministic.
    """
    import numpy as np
    import pandas as pd

    bucketed = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        _band_keys(rows_per_band).alias("_bb"),
    ).select("id", "vec", "_bb.band", "_bb.bkey")

    def verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        if len(pdf) < 2:
            return empty
        ids, sims = _gram_cosine(pdf["id"].to_numpy(), pdf["vec"].to_numpy())
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= NEARDUP_THRESHOLD
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "sim": sims[ia[keep], ib[keep]]}
        )

    pairs = bucketed.groupBy("band", "bkey").applyInPandas(
        verify_bucket, "id_a long, id_b long, sim double"
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.max("sim").alias("_sim"))
        .select("id_a", "id_b", F.round(F.col("_sim"), 6).alias("cosine_sim"))
    )


#: Hyperplanes per :func:`ann_lsh_topk` signature (see its docstring).
LSH_PLANES = 4


def ann_lsh_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Approximate top-TOPK: random-hyperplane LSH buckets + in-bucket scoring.

    Both sides compute the same deterministic signature; queries probe
    their own bucket plus every bucket one bit-flip away (LSH_PLANES
    extra buckets — cheap, large recall win).
    Join is an equi-join on the bucket key: co-partitioned, skew-safe under
    AQE. Recall vs. the exact baseline is asserted in tests, not assumed.

    LSH_PLANES=4 is tuned for the driver's UNIFORM random
    embeddings, the adversarial case for LSH: near-neighbors there sit at
    cos ~0.4 (theta ~66 deg, per-plane collision 0.63), so recall tracks
    the probed candidate fraction almost linearly and more planes only
    starve the buckets (measured on sf0.001: 4 planes -> 0.42 recall,
    8 planes -> 0.07; multi-band OR-construction bought nothing at equal
    candidate volume). Clustered real-world embeddings separate much
    better — raise LSH_PLANES as corpus size grows to keep buckets
    O(corpus / 2^LSH_PLANES) sized.
    """
    sig = hyperplane_sign_bits(F.col("embedding"), LSH_PLANES)
    q0, c = cosine_sides(
        queries, corpus, q_extra=(sig.alias("sig"),), c_extra=(sig.alias("bucket"),)
    )
    probes = [F.col("sig")]
    for i in range(LSH_PLANES):
        flipped = F.concat(
            F.substring(F.col("sig"), 1, i),
            F.when(F.substring(F.col("sig"), i + 1, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.substring(F.col("sig"), i + 2, LSH_PLANES - i - 1),
        )
        probes.append(flipped)
    q = q0.select(
        "query_id", "qvec", "_qn", F.explode(F.array(*probes)).alias("bucket")
    ).distinct()
    scored = (
        c.join(q, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine_sim().alias("_sim"))
        # multiprobe can reach the same neighbor via several buckets
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("_sim").alias("_sim"))
    )
    return top_cosine(scored)


def hamming_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k by Hamming distance over binary sign signatures —
    the 4th ANN scale path (next to LSH buckets, IVF cells, PQ codes):
    compress every vector to 1 bit/dim (functions.vector.sign_words)
    and rank by XOR+popcount. Unlike LSH/IVF this shortlist is EXACT
    for its (binary) metric, so it carries a full differential oracle.

    Scale: signatures are computed map-only on both sides; the query
    side (a literal-scale frame) broadcasts; per-pair work is n_words
    integer XOR+popcounts — a 64-dim float corpus is scanned at 8 B/row
    instead of 256 B. The top-k itself exploits Hamming's BOUNDED
    codomain (0..n_bits): a per-(query, distance) slab count finds each
    query's cutoff distance, non-contributing slabs are dropped in
    bulk, and the only per-row window partitions by the composite
    (query, distance) key — never "one query = one task sorting the
    whole corpus" (the percent_rank_all discipline, see
    operators/rank.py). Production flow reranks the shortlist with
    exact cosine (cosine_topk) — composable here the same way."""
    from pyspark.sql import Window

    from ..functions.vector import hamming_distance, sign_words

    q = queries.select(
        F.col("vec_id").alias("query_id"), sign_words(F.col("embedding")).alias("_qs")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), sign_words(F.col("embedding")).alias("_cs")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        hamming_distance(F.col("_qs"), F.col("_cs")).alias("hamming"),
    )
    # Phase 1: bounded slab counts — ≤ n_bits+1 rows per query, ever.
    slabs = scored.groupBy("query_id", "hamming").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("hamming").asc())
    slabs = slabs.withColumn(
        "_cum_before",
        F.coalesce(
            F.sum("_cnt").over(wq.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).where(F.col("_cum_before") < k)
    # Phase 2: only contributing slabs survive the (broadcast) join; the
    # per-row window ranks within (query, distance) — skew bounded by
    # the largest single-distance tie set, not corpus size.
    survivors = scored.join(F.broadcast(slabs), ["query_id", "hamming"])
    wrow = Window.partitionBy("query_id", "hamming").orderBy(
        F.col("neighbor_id").asc()
    )
    ranked = survivors.withColumn(
        "_pos", F.col("_cum_before") + F.row_number().over(wrow)
    ).where(F.col("_pos") <= k)
    return ranked.select("query_id", "neighbor_id", "hamming")


def semdedup(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023):
    cluster the embedding space, then mark as redundant any vector whose
    cosine similarity to a LOWER-ID vector in the same cluster reaches
    SEMDEDUP_THRESHOLD — the keep-one-per-semantic-neighborhood gate used to
    prune web corpora before LLM training.

    Shape: nearest-centroid assignment is map-only against a literal
    centroid matrix (operators.kmeans.assign_clusters — no shuffle);
    the only shuffle is the groupBy(cluster) exchange; each cluster is
    deduped with one numpy gram matrix (applyInPandas, BLAS). Pairwise
    work is O(m²) per cluster, so at scale ``len(centroids)`` must grow
    ∝ n/target_cluster_size (the paper runs 50k clusters for 5B docs) —
    k is the caller's scale knob exactly like the LSH band width in
    :func:`cosine_neardup_pairs`. Within-cluster order is by id, so the
    kept set is deterministic regardless of partitioning.

    Returns one row per input vector: ``(id, cluster_id, kept,
    max_prior_sim)`` where max_prior_sim is the highest similarity to a
    smaller-id cluster-mate (raw double; 0.0 when none).
    """
    import numpy as np
    import pandas as pd

    from .kmeans import assign_clusters

    assigned = assign_clusters(corpus, centroids, keep_cols=("embedding",)).drop(
        "_sqd"
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, sims = _gram_cosine(
            pdf["vec_id"].to_numpy(), pdf["embedding"].to_numpy()
        )
        cid = int(pdf["cluster_id"].iloc[0])
        # strictly-lower-triangle mask: sims[i, j] for j < i are the
        # similarities to smaller-id mates. Mask (not zero-fill) so an
        # all-negative prior row reports its raw negative max — matching
        # the oracle's COALESCE(MAX(s), 0.0), which clamps only the
        # no-prior case, never a real similarity.
        mask = np.tril(np.ones(sims.shape, dtype=bool), k=-1)
        masked = np.where(mask, sims, -np.inf)
        has_prior = mask.any(axis=1)
        prior_max = np.where(has_prior, masked.max(axis=1, initial=-np.inf), 0.0)
        kept = ~(masked >= SEMDEDUP_THRESHOLD).any(axis=1)
        return pd.DataFrame(
            {
                "id": ids,
                "cluster_id": cid,
                "kept": kept,
                # raw double; callers round (F.round matches the SQL
                # oracle's HALF_UP, numpy.round would be half-even)
                "max_prior_sim": prior_max,
            }
        )

    out = assigned.groupBy("cluster_id").applyInPandas(
        dedup_cluster,
        "id long, cluster_id long, kept boolean, max_prior_sim double",
    )
    return out.withColumnRenamed("id", "vec_id")


def _band_keys(rows_per_band: int):
    """``explode`` of (band, bkey) structs: one ``rows_per_band``-bit
    sign key per band, band b hashing with its own plane seed."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    hyperplane_sign_bits(
                        F.col("embedding"), rows_per_band, seed=f"rp_b{b}"
                    ).alias("bkey"),
                )
                for b in range(NEARDUP_BANDS)
            ]
        )
    )


def lsh_bucket_stats(corpus: DataFrame, rows_per_band: int) -> DataFrame:
    """Index-health monitoring for the banded-LSH family: per-band
    bucket occupancy (bucket count, row total, max population). The
    operational check behind the adaptive-width contract — if
    ``max_bucket`` drifts far above NEARDUP_TARGET_BUCKET the corpus is
    clustering harder than the uniform assumption and
    NEARDUP_TARGET_BUCKET (or the band width) needs retuning BEFORE the
    verify stage goes quadratic. Cost: the same bands × corpus explode
    as bucketing itself, two hash aggregates, bands rows out."""
    bucketed = corpus.select(_band_keys(rows_per_band).alias("_bb")).select(
        "_bb.band", "_bb.bkey"
    )
    occ = bucketed.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("_c"))
    return occ.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("_c").alias("n_rows"),
        F.max("_c").alias("max_bucket"),
    )
