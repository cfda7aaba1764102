"""BPE trainer tests (operators/bpe.py): classic merge behavior,
determinism, early stop, and non-overlapping merge semantics."""

from __future__ import annotations


def test_bpe_classic_merge_sequence(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lowest"),
            (2, "low lower newest newest"),
        ],
        "doc_id long, text string",
    )
    merges, toks = bpe_merges(docs, n_merges=3)
    # pre-tokens are letter runs, so merges operate on adjacent words:
    # the top merge is the most frequent adjacent pair in the corpus
    assert merges, "expected at least one merge"
    assert all(n >= 2 for _, _, n in merges)
    # merged corpus: token arrays contain the concatenated products
    rows = {r.id: list(r.t) for r in toks.collect()}
    joined = [tok for ts in rows.values() for tok in ts]
    assert any(tok == merges[0][0] + merges[0][1] for tok in joined)


def test_bpe_merge_is_deterministic_and_nonoverlapping(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges, merge_pair
    from pyspark.sql import functions as F

    # "a a a" with merge (a, a) -> ["aa", "a"]: left-to-right rule
    df = spark.createDataFrame([(["a", "a", "a"],)], "t array<string>")
    out = df.select(merge_pair(F.col("t"), "a", "a").alias("m")).collect()
    assert list(out[0].m) == ["aa", "a"]

    docs = spark.createDataFrame(
        [(1, "x y x y x y z")], "doc_id long, text string"
    )
    m1, _ = bpe_merges(docs, n_merges=2)
    m2, _ = bpe_merges(docs.repartition(5), n_merges=2)
    assert m1 == m2
    # (x, y) appears 3x adjacent; it must be the first merge
    assert (m1[0][0], m1[0][1]) == ("x", "y") and m1[0][2] == 3


def test_bpe_early_stop_on_no_repeats(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(1, "every token here unique once")], "doc_id long, text string"
    )
    merges, toks = bpe_merges(docs, n_merges=5)
    assert merges == []
    assert list(toks.collect()[0].t) == [
        "every", "token", "here", "unique", "once",
    ]


# ---------------------------------------------------------------------------
# Incremental-delta trainer (round 4): the merge sequence must stay a
# pure function of the corpus while rounds stop recounting/rewriting the
# whole corpus.
# ---------------------------------------------------------------------------

import re
from collections import Counter


def _ref_pretok(s):
    n = re.sub(r"\s+", " ", s.strip().lower())
    return re.findall(r"[a-z]+|[0-9]+|[^a-z0-9 ]", n) if n else []


def _ref_bpe(texts, n_merges):
    """Driver-side reference BPE (left-to-right non-overlapping merges,
    ties broken on (count desc, a asc, b asc))."""
    toks = [_ref_pretok(t) for t in texts]
    merges = []
    for _ in range(n_merges):
        c = Counter()
        for t in toks:
            for x, y in zip(t, t[1:]):
                c[(x, y)] += 1
        if not c:
            break
        (a, b), n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b, n))
        new_toks = []
        for t in toks:
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            new_toks.append(out)
        toks = new_toks
    return merges, toks


def test_bpe_incremental_matches_python_reference(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges

    texts = [
        "a a a b a a",                                # overlap runs, a==b merge
        "low low low lower lowest newest newest",
        "x y x y x y z 12 12 12, a a",                # digits + punct marks
        "aaa aaa bbb aaa bbb",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, toks = bpe_merges(docs, n_merges=8, checkpoint_every=2)
    ref_merges, ref_toks = _ref_bpe(texts, 8)
    assert merges == ref_merges
    rows = {r.id: list(r.t) for r in toks.collect()}
    assert [rows[i] for i in range(len(texts))] == ref_toks


def test_bpe_rounds_recount_only_affected_docs(spark, monkeypatch):
    """Structural evidence for the incremental design: after the one-time
    corpus-wide pair count, every further count runs on a frame gated by
    the adjacency predicate (the affected docs), never the full corpus."""
    import kyiv_traffic_bigdata_spark.operators.bpe as bpe

    calls = []
    orig = bpe.adjacent_pair_counts

    def spy(df, tokens_col="t"):
        calls.append(df._jdf.queryExecution().analyzed().toString())
        return orig(df, tokens_col)

    monkeypatch.setattr(bpe, "adjacent_pair_counts", spy)
    docs = spark.createDataFrame(
        [(1, "m n m n m n o p o p")], "doc_id long, text string"
    )
    merges, _ = bpe.bpe_merges(docs, n_merges=3)
    assert len(merges) >= 2
    assert len(calls) >= 3
    assert "array_contains" not in calls[0]          # the single full count
    assert all("array_contains" in c for c in calls[1:])  # delta counts only


def test_bpe_sample_training_applies_corpus_wide(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(i, "p q p q") for i in range(12)], "doc_id long, text string"
    )
    merges, toks = bpe_merges(docs, n_merges=1, sample_rate=0.5)
    assert merges and (merges[0][0], merges[0][1]) == ("p", "q")
    # the count reflects the SAMPLE, not the corpus
    assert 2 <= merges[0][2] < 24
    rows = {r.id: list(r.t) for r in toks.collect()}
    # ...but the merge is applied to every doc in the corpus
    assert len(rows) == 12
    assert all(t == ["pq", "pq"] for t in rows.values())


def test_staging_reliable_mode(spark, tmp_path):
    from kyiv_traffic_bigdata_spark.operators import staging
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges
    from kyiv_traffic_bigdata_spark.operators.graph import connected_components

    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    staging.set_staging("reliable")
    try:
        docs = spark.createDataFrame(
            [(1, "low low low lower")], "doc_id long, text string"
        )
        merges, toks = bpe_merges(docs, n_merges=2)
        assert merges and toks.count() == 1
        edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        comp = {r.node: r.component for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    finally:
        staging.set_staging("local")
    # reliable mode wrote real checkpoint files to durable storage
    assert any(ckpt.rglob("*"))


def test_encode_tokens_reproduces_trainer_output(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges, encode_tokens

    texts = [
        "low low low lower lowest newest newest",
        "a a a b a a",
        "x y x y x y z 12 12, low low",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, trained = bpe_merges(docs, n_merges=6)
    assert merges
    enc = encode_tokens(docs, merges)
    got = {r.id: list(r.t) for r in enc.collect()}
    want = {r.id: list(r.t) for r in trained.collect()}
    assert got == want


def test_encode_tokens_is_map_only(spark):
    from kyiv_traffic_bigdata_spark.operators.bpe import encode_tokens

    docs = spark.createDataFrame([(1, "p q p q")], "doc_id long, text string")
    plan = encode_tokens(docs, [("p", "q", 2)])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # encoding never shuffles


def test_bpe_incremental_matches_reference_on_random_corpora(spark):
    """Randomized (but seeded/deterministic) corpora over a tiny
    alphabet — maximal merge interaction: overlap runs, a==b merges,
    merged products re-merging. Few examples because each runs a full
    Spark training loop; the fixed fixtures above cover the named edge
    cases, this sweeps the space."""
    import random

    rng = random.Random(20260814)
    for case in range(3):
        texts = [
            " ".join(rng.choice("ppqr") for _ in range(rng.randint(0, 18)))
            for _ in range(4)
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        merges, toks = bpe_merges_mod(docs, n_merges=5, checkpoint_every=2)
        ref_merges, ref_toks = _ref_bpe(texts, 5)
        assert merges == ref_merges, (case, texts)
        rows = {r.id: list(r.t) for r in toks.collect()}
        assert [rows[i] for i in range(len(texts))] == ref_toks, (case, texts)


from kyiv_traffic_bigdata_spark.operators.bpe import bpe_merges as bpe_merges_mod  # noqa: E402
