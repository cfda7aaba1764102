"""Textbook references for the four per-doc language-model scorers —
add-1 unigram, add-1 bigram, interpolated Kneser-Ney and DSIR —
Spark-free on purpose.

The oracle gate (tests/test_oracle.py) proves Spark ≡ DuckDB, which
cannot catch a formula both engines share. These tests run each DuckDB
twin on a hand-built 4-document corpus and compare it with a
from-first-principles Python computation of the formula in the query's
docstring, closing textbook ≡ oracle ≡ Spark.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import duckdb
import pytest

from kyiv_traffic_bigdata_spark.queries import (
    KN_DISCOUNT,
    SQL_BIGRAM_LOGPROB,
    SQL_KN_LOGPROB,
    SQL_UNIGRAM_LOGPROB,
    _sql_doc_dsir_weights,
)

#: (doc_id, lang, text): repeated terms and bigrams, a one-token doc
#: (no bigram), and case/whitespace the tokenizer normalizes away
CORPUS = [
    (1, "en", "the cat sat on the mat"),
    (2, "en", "The  dog sat on the cat"),
    (3, "fr", "le chat sat on le mat le chat"),
    (4, "de", "Hund"),
]

#: a rounded 6-decimal mean against the unrounded reference
TOL = 1e-6


def _tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ")


DOCS = {d: _tokens(t) for d, _, t in CORPUS}
UNI = Counter(t for toks in DOCS.values() for t in toks)
V = len(UNI)
N = sum(UNI.values())


def _bigrams(toks: list[str]) -> list[tuple[str, str]]:
    return list(zip(toks, toks[1:]))


BI = Counter(p for toks in DOCS.values() for p in _bigrams(toks))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{lang}', '{t}')" for d, lang, t in CORPUS)
        + ") AS x(doc_id, lang, text)"
    )
    yield con
    con.close()


def _scores(duck, sql: str) -> dict[int, tuple[int, float]]:
    return {r[0]: (r[1], r[2]) for r in duck.sql(sql).fetchall()}


def _check(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for d, (n, mean) in want.items():
        assert got[d][0] == n, d
        assert got[d][1] == pytest.approx(mean, abs=TOL), d


def test_unigram_logprob_is_the_add_one_unigram_mean(duck):
    """mean over a doc's tokens of ln((c(t) + 1) / (N + |V|))."""
    want = {
        d: (
            len(toks),
            sum(math.log((UNI[t] + 1) / (N + V)) for t in toks) / len(toks),
        )
        for d, toks in DOCS.items()
    }
    _check(_scores(duck, SQL_UNIGRAM_LOGPROB), want)


def test_bigram_logprob_is_the_add_one_bigram_mean(duck):
    """mean over a doc's adjacent pairs of ln((c(a,b) + 1) / (c(a) + |V|));
    a one-token doc has no pair and no row."""
    want = {}
    for d, toks in DOCS.items():
        pairs = _bigrams(toks)
        if pairs:
            lp = [math.log((BI[a, b] + 1) / (UNI[a] + V)) for a, b in pairs]
            want[d] = (len(pairs), sum(lp) / len(pairs))
    assert 4 not in want
    _check(_scores(duck, SQL_BIGRAM_LOGPROB), want)


def test_kn_logprob_is_the_interpolated_kneser_ney_mean(duck):
    """P(b|a) = (max(c(a,b) − D, 0) + D·N1+(a·)·P_cont(b)) / c(a·) with
    P_cont(b) = N1+(·b) / |bigram types|; each history's conditionals
    over the continuation vocabulary sum to 1."""
    d_ = KN_DISCOUNT
    hist = Counter()  # c(a·)
    n1f = Counter()  # N1+(a·)
    n1r = Counter()  # N1+(·b)
    for (a, b), c in BI.items():
        hist[a] += c
        n1f[a] += 1
        n1r[b] += 1

    def p(a: str, b: str) -> float:
        cont = n1r[b] / len(BI)
        return (max(BI[a, b] - d_, 0.0) + d_ * n1f[a] * cont) / hist[a]

    for a in hist:
        assert sum(p(a, b) for b in n1r) == pytest.approx(1.0, abs=1e-12), a
    want = {}
    for d, toks in DOCS.items():
        pairs = _bigrams(toks)
        if pairs:
            want[d] = (
                len(pairs),
                sum(math.log(p(a, b)) for a, b in pairs) / len(pairs),
            )
    _check(_scores(duck, SQL_KN_LOGPROB), want)


def test_dsir_weight_is_the_mean_log_importance_ratio(duck):
    """mean over a doc's tokens of ln p_en(t) − ln p_all(t), both add-1
    unigram LMs over the whole corpus vocabulary |V|: the target LM
    counts the English docs only, the source LM every doc."""
    en = Counter(
        t for d, lang, _ in CORPUS if lang == "en" for t in DOCS[d]
    )
    n_en = sum(en.values())

    def ratio(t: str) -> float:
        return math.log((en[t] + 1) / (n_en + V)) - math.log(
            (UNI[t] + 1) / (N + V)
        )

    want = {
        d: (len(toks), sum(ratio(t) for t in toks) / len(toks))
        for d, toks in DOCS.items()
    }
    assert want[1][1] > 0 > want[3][1]
    _check(_scores(duck, _sql_doc_dsir_weights()), want)
