"""Unigram language-model tokenizer (SentencePiece family) — trainer +
Viterbi encoder, the second classic subword family next to BPE
(operators/bpe.py).

Kudo (2018): pieces carry independent probabilities; a word's
segmentation likelihood is the product of its pieces' probabilities;
training is EM over the segmentation lattice (E-step: expected piece
counts by forward-backward over every possible segmentation; M-step:
re-normalize); encoding is the Viterbi max-probability segmentation.

Spark shape — the same bounded-metadata pattern as k-means / logreg /
BPE:

* the corpus collapses ONCE to the distinct-word table (word, n) —
  training cost thereafter scales with the WORD VOCABULARY, never the
  corpus (a 100 TB corpus and its 10 GB word table train identically);
* the candidate-piece table (≤ UNIGRAM_SEED_PIECES multi-char rows) is
  driver metadata,
  broadcast into the E-step closure like centroids/codebooks;
* each EM iteration = one mapInPandas pass over the distinct words
  (forward-backward per word, plain-Python DP on ≤ ``max_word_len``
  chars) + one bounded piece-level aggregate. Per-word expected-count
  contributions are ROUNDED TO 10 DECIMALS and summed through the
  decimal path (operators.aggregates.dec), so the trained table is
  bit-identical across partition layouts and reruns — the same trick
  that makes the logreg gradients layout-free;
* every single character present in the corpus is pinned into the
  vocabulary, so Viterbi coverage is total on training data; unseen
  characters at encode time fall back to ``UNK_LOGPROB`` per char.

Reference parity: the reference repo has no tokenizer; this extends the
SURVEY §2 token-counting surface the same way operators/bpe.py does,
completing the two dominant subword-training families.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens as _tokens_col
from .aggregates import dec

#: deterministic fallback log-probability for characters never seen in
#: training (encode-time only; training text always covers itself)
UNK_LOGPROB = -100.0

#: per-word contribution rounding (decimal places) before the exact
#: decimal sum — the layout-independence contract of the EM aggregate
_CONTRIB_DP = 10

#: Training geometry of the registered doc_unigram_tokenize query:
#: longest piece, multi-char seed candidates, final vocabulary size and
#: EM rounds.
UNIGRAM_MAX_PIECE_LEN = 6
UNIGRAM_SEED_PIECES = 256
UNIGRAM_VOCAB = 96
UNIGRAM_ITERS = 2


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) distinct-word table of the ``text`` column — the one
    corpus-wide pass."""
    return (
        docs.select(F.explode(_tokens_col(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def seed_pieces(words: DataFrame) -> DataFrame:
    """Candidate pieces: every substring of every distinct word up to
    UNIGRAM_MAX_PIECE_LEN chars, weighted by word frequency; the top
    UNIGRAM_SEED_PIECES multi-char pieces by (weight, piece) survive,
    and ALL single characters are retained regardless of rank (coverage
    guarantee).

    Output: (piece, w) with integer weights — exact, so the seed set is
    trivially deterministic."""
    starts = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
    lens = F.explode(
        F.sequence(
            F.lit(1),
            F.least(F.lit(UNIGRAM_MAX_PIECE_LEN), F.length("word") - F.col("i") + 1),
        )
    ).alias("l")
    subs = (
        words.select("word", "n", starts)
        .select("word", "n", "i", lens)
        .select(F.substring("word", F.col("i"), F.col("l")).alias("piece"), "n")
    )
    counts = subs.groupBy("piece").agg(F.sum("n").alias("w"))
    chars = counts.where(F.length("piece") == 1)
    top = (
        counts.where(F.length("piece") > 1)
        .orderBy(F.col("w").desc(), "piece")
        .limit(UNIGRAM_SEED_PIECES)
    )
    return chars.unionByName(top)


def _forward_backward(word: str, probs: dict[str, float]):
    """Expected piece counts over all segmentations of one word into
    pieces of at most UNIGRAM_MAX_PIECE_LEN chars (plain float DP —
    deterministic: fixed iteration order, no parallel sums). Returns
    (dict piece -> expected count, Z)."""
    max_len = UNIGRAM_MAX_PIECE_LEN
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for j in range(1, n + 1):
        s = 0.0
        for i in range(max(0, j - max_len), j):
            p = probs.get(word[i:j])
            if p:
                s += alpha[i] * p
        alpha[j] = s
    z = alpha[n]
    if z <= 0.0:
        return {}, 0.0
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for i in range(n - 1, -1, -1):
        s = 0.0
        for j in range(i + 1, min(n, i + max_len) + 1):
            p = probs.get(word[i:j])
            if p:
                s += p * beta[j]
        beta[i] = s
    exp: dict[str, float] = {}
    for i in range(n):
        for j in range(i + 1, min(n, i + max_len) + 1):
            piece = word[i:j]
            p = probs.get(piece)
            if p:
                c = alpha[i] * p * beta[j] / z
                if c:
                    exp[piece] = exp.get(piece, 0.0) + c
    return exp, z


def em_train(words: DataFrame) -> list[tuple[str, float]]:
    """EM-train a unigram-LM piece vocabulary over the distinct-word
    table in UNIGRAM_ITERS rounds; returns the final UNIGRAM_VOCAB
    (piece, prob) pairs sorted (prob desc, piece asc), single
    characters always retained.

    The returned list is BIT-IDENTICAL across partition layouts: the
    only cross-row float reduction (expected-count sum per piece) runs
    on 10-dp-rounded contributions through the decimal path."""
    spark = words.sparkSession
    seed = seed_pieces(words).collect()
    if not seed:
        return []
    total_w = sum(r.w for r in seed)
    probs = {r.piece: r.w / total_w for r in sorted(seed, key=lambda r: r.piece)}

    for _ in range(UNIGRAM_ITERS):
        cur = dict(probs)  # closure snapshot for this round

        def estep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_p: list[str] = []
                out_c: list[float] = []
                for word, n in zip(pdf["word"], pdf["n"]):
                    exp, z = _forward_backward(word, cur)
                    if z <= 0.0:
                        continue
                    for piece, c in exp.items():
                        out_p.append(piece)
                        out_c.append(round(int(n) * c, _CONTRIB_DP))
                yield pd.DataFrame({"piece": out_p, "contrib": out_c})

        agg = (
            words.mapInPandas(estep, "piece string, contrib double")
            .groupBy("piece")
            .agg(F.sum(dec("contrib")).alias("e"))
            .collect()
        )
        esum = {r.piece: r.e for r in agg}
        total = sum(esum.values(), Decimal(0))
        if total <= 0:
            break
        probs = {
            p: float(Decimal(esum[p]) / total)
            for p in sorted(esum)
        }

    chars = [(p, pr) for p, pr in probs.items() if len(p) == 1]
    multis = sorted(
        ((p, pr) for p, pr in probs.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )
    keep = chars + multis[: max(0, UNIGRAM_VOCAB - len(chars))]
    keep.sort(key=lambda t: (-t[1], t[0]))
    return keep


def viterbi_segment(word: str, logprobs: dict[str, float]) -> list[str]:
    """Max-log-probability segmentation into pieces of at most
    UNIGRAM_MAX_PIECE_LEN chars; deterministic tie-break (on exact float
    ties the LONGER final piece wins, i.e. smaller split point). Unseen
    characters cost ``UNK_LOGPROB`` each."""
    max_len = UNIGRAM_MAX_PIECE_LEN
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            lp = logprobs.get(word[i:j])
            if lp is None:
                if j - i == 1:
                    lp = UNK_LOGPROB  # single-char fallback only
                else:
                    continue
            cand = best[i] + lp
            if cand > best[j] or (cand == best[j] and i < back[j]):
                best[j] = cand
                back[j] = i
    out: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def viterbi_encode(df: DataFrame, vocab: list[tuple[str, float]]) -> DataFrame:
    """Adds ``pieces``: the Viterbi piece segmentation of the
    normalized ``text`` (word-by-word, concatenation-preserving). The vocab
    rides the closure — bounded metadata, same as centroids.
    Zero-probability pieces are excluded (log(0) raises; excluding them
    makes their characters take the UNK single-char fallback, the same
    cost an untrained character pays)."""
    logprobs = {p: math.log(pr) for p, pr in vocab if pr > 0}

    @F.pandas_udf("array<string>")
    def seg(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            pieces: list[str] = []
            norm = " ".join((t or "").lower().split())
            for w in norm.split(" "):
                if w:
                    pieces.extend(viterbi_segment(w, logprobs))
            out.append(pieces)
        return pd.Series(out)

    return df.withColumn("pieces", seg(F.col("text")))
