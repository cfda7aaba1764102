"""Unigram-LM tokenizer (operators/unigram.py).

No SQL oracle exists for the EM lattice / Viterbi DP, so this file IS
the correctness pin (referenced by q_doc_unigram_tokenize's docstring):

1. forward-backward expected counts == brute-force enumeration over ALL
   segmentations (exact expectation, rel-tol float compare);
2. Viterbi == exhaustive argmax over all segmentations;
3. the trained table is bit-identical across partition layouts (the
   10-dp decimal aggregate claim);
4. encode is concatenation-preserving and covers unseen characters;
5. degenerate inputs (empty corpus, empty text) stay typed and empty.
"""

from __future__ import annotations

import math
from itertools import combinations

import pytest

from kyiv_traffic_bigdata_spark.operators.unigram import (
    UNIGRAM_MAX_PIECE_LEN,
    UNIGRAM_SEED_PIECES,
    UNK_LOGPROB,
    _forward_backward,
    em_train,
    seed_pieces,
    viterbi_encode,
    viterbi_segment,
    word_counts,
)


def _all_segmentations(word: str, pieces: set[str], max_len: int):
    """Every way to split ``word`` into in-vocab pieces (cut-point
    enumeration — exponential, fine for short test words)."""
    n = len(word)
    for r in range(n):
        for cuts in combinations(range(1, n), r):
            bounds = [0, *cuts, n]
            seg = [word[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)]
            if all(p in pieces and len(p) <= max_len for p in seg):
                yield seg


PROBS = {
    "a": 0.08, "b": 0.05, "ab": 0.2, "ba": 0.1, "aba": 0.25, "bab": 0.02,
}


@pytest.mark.parametrize("word", ["abab", "aba", "bbbb", "ababab"])
def test_forward_backward_matches_bruteforce(word):
    exp, z = _forward_backward(word, PROBS)
    segs = list(_all_segmentations(word, set(PROBS), UNIGRAM_MAX_PIECE_LEN))
    z_ref = sum(math.prod(PROBS[p] for p in s) for s in segs)
    assert z == pytest.approx(z_ref, rel=1e-12)
    ref: dict[str, float] = {}
    for s in segs:
        w = math.prod(PROBS[p] for p in s) / z_ref
        for p in s:
            ref[p] = ref.get(p, 0.0) + w
    assert set(exp) == set(ref)
    for p in ref:
        assert exp[p] == pytest.approx(ref[p], rel=1e-12)


def test_forward_backward_unsegmentable_is_zero():
    exp, z = _forward_backward("xyz", PROBS)
    assert z == 0.0 and exp == {}


@pytest.mark.parametrize("word", ["abab", "ababa", "babab", "aab"])
def test_viterbi_matches_exhaustive_argmax(word):
    lp = {p: math.log(v) for p, v in PROBS.items()}
    got = viterbi_segment(word, lp)
    segs = list(_all_segmentations(word, set(PROBS), UNIGRAM_MAX_PIECE_LEN))
    best = max(sum(lp[p] for p in s) for s in segs)
    assert "".join(got) == word
    assert sum(lp[p] for p in got) == pytest.approx(best, rel=1e-12)


def test_viterbi_unknown_chars_fall_back_per_char():
    got = viterbi_segment("q!", {"a": -1.0})
    assert got == ["q", "!"]


def test_trained_table_is_layout_independent(spark):
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * (i % 3 + 1)) for i in range(40)],
        "doc_id long, text string",
    )
    tables = []
    for parts in (1, 7):
        words = word_counts(docs).repartition(parts)
        tables.append(em_train(words))
    assert tables[0] == tables[1]  # bit-identical, not approximately
    assert all(len(p) == 1 for p, _ in tables[0]) is False  # multis learned
    probs = [pr for _, pr in tables[0]]
    assert all(pr > 0 for pr in probs)


def test_seed_always_retains_single_chars(spark):
    import hashlib

    # 300 pseudo-random 6-letter words over a-p: far more distinct
    # multi-char substrings than the seed cap
    words = [
        "".join(chr(97 + int(c, 16)) for c in hashlib.md5(str(i).encode()).hexdigest()[:6])
        for i in range(300)
    ]
    text = " ".join(words) + " zzzz qqqq x"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    seed = seed_pieces(word_counts(docs)).collect()
    chars = {r.piece for r in seed if len(r.piece) == 1}
    assert sum(len(r.piece) > 1 for r in seed) == UNIGRAM_SEED_PIECES
    assert {"z", "q", "x"} <= chars  # cap applies to multi-char pieces only


def test_encode_reconstructs_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "Banana  bandana"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    vocab = [("ban", 0.3), ("ana", 0.3), ("a", 0.1), ("b", 0.1), ("n", 0.1), ("d", 0.1)]
    rows = {
        r.doc_id: r.pieces
        for r in viterbi_encode(docs, vocab).collect()
    }
    assert "".join(rows[1]) == "bananabandana"  # normalized, word-split
    assert rows[2] == [] and rows[3] == []


def test_empty_corpus_trains_empty_and_query_stays_typed(spark, sf_dir, tmp_path):
    from kyiv_traffic_bigdata_spark.queries import QUERIES

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert em_train(word_counts(docs)) == []
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = QUERIES["doc_unigram_tokenize"](spark, str(tmp_path))
    assert out.count() == 0 and len(out.schema) == 4


def test_unk_logprob_is_a_floor():
    # a known piece always beats the UNK fallback on the same span
    got = viterbi_segment("ab", {"ab": UNK_LOGPROB + 1.0})
    assert got == ["ab"]


def test_zero_probability_pieces_never_reach_log(spark):
    """A trained piece whose probability collapsed to exactly 0.0 (all
    10-dp expected-count contributions rounded to 0) must not crash
    viterbi_encode with log(0) (r09 ADVICE): it is dropped, and its
    characters pay the UNK single-char fallback."""
    vocab = [("ab", 0.0), ("a", 0.5), ("b", 0.0), ("c", 0.5)]
    docs = spark.createDataFrame([(1, "abca")], "doc_id long, text string")
    rows = viterbi_encode(docs, vocab).collect()
    # "ab" and "b" are unusable; "b" segments via the UNK fallback
    assert rows[0].pieces == ["a", "b", "c", "a"]
