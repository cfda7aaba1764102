"""Recall tests for the approximate-NN scale paths (operators/similarity.py).

ann_lsh_topk and ann_ivf_topk trade recall for sub-linear scoring; these
tests pin the tradeoff against the exact brute-force baseline on the
driver's sf0.001 embeddings so a regression in bucketing/probing logic
(wrong band slicing, off-by-one cell ids, broken multiprobe) shows up as
a recall collapse rather than going unnoticed behind "rows returned".
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact_pairs(emb):
    q = emb.where(F.col("vec_id") % 50 == 0)
    return {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk(q, emb).collect()
    }


@pytest.fixture(scope="module")
def exact_scores(emb):
    """``cosine_sim`` of EVERY (query, corpus vector) pair, from the one
    exact scorer with cosine_topk's rounding."""
    q, c = SIM.cosine_sides(emb.where(F.col("vec_id") % 50 == 0), emb)
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    return {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in scored.select(
            "query_id",
            "neighbor_id",
            F.round(SIM.cosine_sim(), 6).alias("cosine_sim"),
        ).collect()
    }


def _recall(approx_rows, exact):
    found = {(r.query_id, r.neighbor_id) for r in approx_rows}
    return len(found & exact) / len(exact)


def _assert_exact_scores(approx_rows, exact_scores):
    """An approximate path may miss neighbors, never misscore one: every
    pair it returns carries the exact scorer's cosine for that pair."""
    assert approx_rows
    for r in approx_rows:
        pair = (r.query_id, r.neighbor_id)
        assert r.cosine_sim == exact_scores[pair], pair


def test_ann_lsh_recall(emb, exact_pairs, exact_scores):
    q = emb.where(F.col("vec_id") % 50 == 0)
    rows = SIM.ann_lsh_topk(q, emb).collect()
    # every query answered with a full k, and ids come from the corpus
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 10 for v in by_q.values())
    # observed 0.42 on sf0.001 with 4 planes + 1-bit multiprobe (uniform
    # random embeddings are LSH's adversarial case — see operator docstring)
    assert _recall(rows, exact_pairs) >= 0.3
    _assert_exact_scores(rows, exact_scores)


def test_ann_ivf_recall(emb, exact_pairs, exact_scores):
    q = emb.where(F.col("vec_id") % 50 == 0)
    rows = SIM.ann_ivf_topk(q, emb, SIM.IVF_PROBES).collect()
    # observed ~0.57 on sf0.001 with 16 cells / 4 probes
    assert _recall(rows, exact_pairs) >= 0.4
    _assert_exact_scores(rows, exact_scores)


def test_ann_ivf_more_probes_more_recall(emb, exact_pairs, exact_scores):
    """Probing every cell must recover the exact result set."""
    q = emb.where(F.col("vec_id") % 50 == 0)
    rows = SIM.ann_ivf_topk(q, emb, SIM.IVF_CELLS).collect()
    assert _recall(rows, exact_pairs) == 1.0
    _assert_exact_scores(rows, exact_scores)


# ---------------------------------------------------------------------------
# SemDeDup (operators.similarity.semdedup)
# ---------------------------------------------------------------------------


def _semdedup_fixture(spark):
    """Two tight semantic groups + one isolate, ids interleaved so the
    keep-lowest-id rule is exercised across clusters."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (4, [0.0, 0.998, 0.02, 0.0]),   # near-dup of 2
        (5, [1.0, 0.001, 0.0, 0.0]),    # near-dup of 1 and 3
        (6, [0.0, 0.0, 0.0, 1.0]),      # isolate
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_drops_higher_id_neardups(spark):
    from kyiv_traffic_bigdata_spark.operators.similarity import semdedup

    df = _semdedup_fixture(spark)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    out = {r.vec_id: r for r in semdedup(df, cents).collect()}
    assert len(out) == 6  # one row per input, kept or not
    assert out[1].kept and out[2].kept and out[6].kept
    assert not out[3].kept and not out[4].kept and not out[5].kept
    # prior-sim audit: the isolate has no smaller-id mate above anything
    assert out[6].max_prior_sim == 0.0
    assert out[5].max_prior_sim > 0.99


def test_semdedup_keeps_below_threshold_drops_exact(spark):
    """A cluster-mate below SEMDEDUP_THRESHOLD is kept; an exact copy of
    a lower id is dropped."""
    from kyiv_traffic_bigdata_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        semdedup,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.3, 0.95, 0.0, 0.0]),  # cosine to 1 is ~0.30
            (3, [1.0, 0.0, 0.0, 0.0]),  # exact copy of 1
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semdedup(df, [[1.0, 0.0, 0.0, 0.0]]).collect()}
    assert out[2].max_prior_sim < SEMDEDUP_THRESHOLD
    assert out[1].kept and out[2].kept
    assert not out[3].kept and out[3].max_prior_sim == 1.0


def test_semdedup_partitioning_invariant(spark):
    """The kept set is a function of ids and vectors only — shuffling
    the input layout must not change any verdict."""
    from kyiv_traffic_bigdata_spark.operators.similarity import semdedup

    df = _semdedup_fixture(spark)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    a = sorted(
        (r.vec_id, r.kept) for r in semdedup(df, cents).collect()
    )
    b = sorted(
        (r.vec_id, r.kept)
        for r in semdedup(df.repartition(7), cents).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# Product quantization (operators.pq)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pq_books(emb):
    from kyiv_traffic_bigdata_spark.operators.pq import fit_pq

    return fit_pq(emb)


def test_pq_codes_shape_and_range(emb, pq_books):
    from kyiv_traffic_bigdata_spark.operators.pq import encode_pq

    rows = encode_pq(emb, pq_books).collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r.codes) == 4
        assert all(0 <= c < 16 for c in r.codes)
        assert r.recon_sq_err >= 0.0


def _pq_decode(codes, books):
    """Reference decode of a PQ code array back to its quantized
    array<double> (codebook lookup + flatten)."""
    from kyiv_traffic_bigdata_spark.operators.pq import _literal_cube

    cube = _literal_cube(books)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(books) - 1)),
            lambda s: F.element_at(
                F.element_at(cube, s + 1),
                F.element_at(codes, s + 1) + 1,
            ),
        )
    )


def test_pq_reconstruction_error_matches_decode(spark, emb, pq_books):
    """recon_sq_err must equal the squared distance to the decoded
    vector — the encode argmin and the decode lookup agree."""
    from kyiv_traffic_bigdata_spark.functions.vector import sq_dist
    from kyiv_traffic_bigdata_spark.operators.pq import encode_pq

    enc = encode_pq(emb, pq_books).join(emb, "vec_id")
    chk = enc.select(
        "vec_id",
        "recon_sq_err",
        sq_dist(F.col("embedding"), _pq_decode(F.col("codes"), pq_books)).alias(
            "direct"
        ),
    ).collect()
    for r in chk:
        assert abs(r.recon_sq_err - r.direct) < 1e-9


def test_pq_seed_vectors_encode_to_themselves(emb, pq_books):
    """The k seed vectors ARE codewords in every subspace — their
    reconstruction error must be exactly zero."""
    from kyiv_traffic_bigdata_spark.operators.pq import encode_pq

    seed_ids = [r.vec_id for r in emb.orderBy("vec_id").limit(16).collect()]
    rows = (
        encode_pq(emb.where(F.col("vec_id").isin(seed_ids)), pq_books)
        .collect()
    )
    assert len(rows) == 16
    assert all(r.recon_sq_err == 0.0 for r in rows)


def test_pq_adc_recall_vs_exact_l2(spark, emb, pq_books):
    """ADC top-10 vs the exact L2 top-10 (PQ approximates Euclidean
    distance, so the baseline is L2, not cosine)."""
    from kyiv_traffic_bigdata_spark.functions.vector import sq_dist
    from kyiv_traffic_bigdata_spark.operators.pq import adc_topk, encode_pq
    from kyiv_traffic_bigdata_spark.operators.topk import top_k_per_group

    q = emb.where(F.col("vec_id") % 50 == 0)
    qs = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cs = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    exact_scored = (
        cs.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sq_dist(F.col("qv"), F.col("cv")).alias("_d"))
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in top_k_per_group(
            exact_scored, ["query_id"], [F.col("_d").asc(), F.col("neighbor_id").asc()], 10
        ).collect()
    }
    codes = encode_pq(emb, pq_books)
    rows = adc_topk(q, codes, pq_books).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 10 for v in by_q.values())
    rec = _recall(rows, exact)
    # observed 0.19 on sf0.001 with untrained seed codebooks over
    # UNIFORM RANDOM vectors — PQ's adversarial case (no cluster
    # structure for the codebooks to exploit; measured sweep: m=8
    # trained reaches 0.29). The bound pins "ADC ranks signal, not
    # noise" — real embedding corpora cluster and score far higher.
    assert rec >= 0.15, rec


def test_pq_adc_exact_between_codeword_vectors(emb, pq_books):
    """A seed vector encodes to itself in every subspace, so the ADC
    distance between two seed vectors is their TRUE squared distance —
    the asymmetric approximation is exact when the code side has zero
    quantization error. Pins the distance-table lookup indexing."""
    from kyiv_traffic_bigdata_spark.functions.vector import sq_dist
    from kyiv_traffic_bigdata_spark.operators.pq import adc_topk, encode_pq

    seeds = emb.orderBy("vec_id").limit(16)
    codes = encode_pq(seeds, pq_books)
    got = {
        (r.query_id, r.neighbor_id): r.approx_sq_dist
        for r in adc_topk(seeds, codes, pq_books).collect()
    }
    qs = seeds.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    cs = seeds.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    truth = {
        (r.a, r.b): r.d
        for r in qs.join(cs, F.col("a") != F.col("b"))
        .select("a", "b", F.round(sq_dist(F.col("va"), F.col("vb")), 6).alias("d"))
        .collect()
    }
    assert len(got) == 16 * 10  # 16 queries x PQ_TOPK neighbors
    for pair, d in got.items():
        assert abs(d - truth[pair]) < 1e-6, pair


def test_pq_and_semdedup_tolerate_empty_input(spark, pq_books):
    from kyiv_traffic_bigdata_spark.operators.pq import encode_pq
    from kyiv_traffic_bigdata_spark.operators.similarity import semdedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert encode_pq(empty, pq_books).count() == 0
    cents = [[1.0, 0.0], [0.0, 1.0]]
    empty2 = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semdedup(empty2, cents).count() == 0


def test_probe_max_sim_matches_python_fold(spark):
    """probe_max_sim == a pure-Python reference that accumulates every
    dot product and norm over the dimensions IN ORDER (the oracle's
    sequential fold): exact equality after the 6-dp round, no
    tolerance, every corpus id present, a zero vector scoring 0.0."""
    from decimal import ROUND_HALF_UP, Decimal

    from kyiv_traffic_bigdata_spark.operators.similarity import probe_max_sim
    from kyiv_traffic_bigdata_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = [
        [float(x) for x in r.embedding]
        for r in emb.where("vec_id % 50 = 1").orderBy("vec_id").collect()
    ]
    zero = spark.createDataFrame(
        [(999999, [0.0] * len(probes[0])), (999998, [0.5] * len(probes[0]))],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select("vec_id", emb.embedding.cast("array<double>").alias("embedding")).unionByName(zero)

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    pnorms = [fold(p, p) ** 0.5 for p in probes]
    expected = {}
    for r in corpus.collect():
        v = list(r.embedding)
        vn = fold(v, v) ** 0.5
        best = max(
            0.0 if pn * vn == 0 else fold(v, p) / (pn * vn)
            for p, pn in zip(probes, pnorms)
        )
        # Spark's round(x, 6): HALF_UP on the double's decimal string
        expected[r.vec_id] = float(
            Decimal(repr(best)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )
    got = {r.vec_id: r.max_probe_sim for r in probe_max_sim(corpus, probes).collect()}
    assert got.keys() == expected.keys() and len(got) > 100
    assert all(got[k] == expected[k] for k in got), "diverged from the fold"
    assert got[999999] == 0.0  # zero vector -> defined 0.0, not NaN


def test_sign_words_bit_layout_and_hamming(spark):
    """Pin the signature contract against a Python reference: bit j of
    word w set iff x[32w+j] > 0 (zeros are NOT set), words exact
    integers, odd dims pad with 0 bits; Hamming = popcount of xor."""
    from kyiv_traffic_bigdata_spark.functions.vector import (
        hamming_distance,
        sign_words,
    )
    from pyspark.sql import functions as F

    import random

    rng = random.Random(99)
    vecs = [
        [rng.choice([-1.5, -0.1, 0.0, 0.2, 3.0]) for _ in range(d)]
        for d in (64, 64, 40, 7)
    ]

    def ref_words(v):
        words = [0] * ((len(v) + 31) // 32)
        for i, x in enumerate(v):
            if x > 0:
                words[i // 32] |= 1 << (i % 32)
        return words

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: list(r.sig)
        for r in df.select("vec_id", sign_words(F.col("embedding")).alias("sig")).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == ref_words(v), (i, v)

    # hamming vs python popcount on the 64-dim pair
    a, b = ref_words(vecs[0]), ref_words(vecs[1])
    expect = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    pair = spark.createDataFrame(
        [(vecs[0], vecs[1])], "va array<double>, vb array<double>"
    )
    ham = pair.select(
        hamming_distance(sign_words(F.col("va")), sign_words(F.col("vb"))).alias("h")
    ).collect()[0].h
    assert ham == expect


def test_hamming_topk_matches_bruteforce(spark, emb):
    """hamming_topk's shortlist must equal the per-query brute-force
    ranking by (hamming asc, id asc)."""
    from kyiv_traffic_bigdata_spark.functions.vector import sign_words
    from kyiv_traffic_bigdata_spark.operators.similarity import hamming_topk
    from pyspark.sql import functions as F

    qs = emb.where(F.col("vec_id") % 50 == 0)
    got = hamming_topk(qs, emb, k=5).collect()
    sigs = {
        r.vec_id: list(r.s)
        for r in emb.select("vec_id", sign_words(F.col("embedding")).alias("s")).collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.hamming, r.neighbor_id))
    for qid, rows in by_q.items():
        brute = sorted(
            (ham(sigs[qid], s), nid) for nid, s in sigs.items() if nid != qid
        )[:5]
        assert sorted(rows) == brute, qid


def test_cosine_range_search_matches_bruteforce(spark):
    """Range search must return EXACTLY the corpus vectors whose cosine
    to the query clears RANGE_TAU (no ranking truncation), scores
    matching cosine_topk's for the shared pairs."""
    import numpy as np

    from kyiv_traffic_bigdata_spark.operators.similarity import (
        RANGE_TAU,
        cosine_range_search,
        cosine_topk,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 2")

    tau = RANGE_TAU
    got = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_range_search(q, emb).collect()
    }
    # numpy brute force
    x = vecs.astype("float64")
    norms = np.linalg.norm(x, axis=1)
    exp = {}
    for qi in (0, 1):
        sims = (x @ x[qi]) / (norms * norms[qi])
        for ni, s in enumerate(sims):
            if ni != qi and s >= tau:
                exp[(qi, ni)] = round(float(s), 6)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) <= 1e-6
    # consistency with top-k scores on the overlap
    topk = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk(q, emb).collect()
    }
    shared = got.keys() & topk.keys()
    assert shared
    for k in shared:
        assert topk[k] == got[k]
