"""Text-analysis column expressions for the LLM-data-pipeline operators.

Pure Catalyst expressions so they run JVM-side inside whole-stage codegen
over 100 TB document scans — with ONE deliberate exception: the rolling-
hash fold (:func:`gram_rolling_hashes`, :func:`winnowed_fps`) is an
Arrow-vectorized UDF, because higher-order lambdas run interpreted (no
codegen) and the O(n·k) fold is the dominant cost of the fingerprint/
span operators. Every function here has a DuckDB-SQL twin used by
the driver's oracle gate, so cross-engine determinism is a design
constraint:

* hashing goes through :func:`portable_hash` — the first 8 hex chars of
  md5, parsed as an integer — which both Spark (``conv(substr(md5(x),1,8),
  16,10)``) and DuckDB (``cast('0x' || substr(md5(x),1,8) as bigint)``)
  compute identically;
* tokenization is whitespace-collapse + single-space split, identical to
  ``string_split(s, ' ')`` after the same normalization in DuckDB;
* no transcendental math, so results are bit-exact across engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Stopword lists for the n-gram language-ID heuristic. Deliberately tiny
#: and deterministic; the operator shape (per-language token-hit scoring)
#: is what scales, the lists are a parameter.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "zu", "den", "nicht", "ein", "mit"),
    "fr": ("le", "la", "et", "est", "un", "une", "les", "des", "que", "pour"),
    "es": ("el", "la", "y", "es", "un", "una", "los", "las", "que", "por"),
    "zh": ("de", "shi", "le", "zai", "you", "wo", "ta", "men", "zhe", "bu"),
}

#: English stopwords used by the quality score's stopword-ratio feature.
QUALITY_STOPWORDS: tuple[str, ...] = LANG_STOPWORDS["en"]


def portable_hash(col: Column) -> Column:
    """32-bit-range integer hash of a string, identical in Spark and DuckDB.

    ``conv(substring(md5(x), 1, 8), 16, 10)`` — md5 is the only hash both
    engines share bit-for-bit; 8 hex chars keep downstream modular
    arithmetic inside int64 without overflow.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def normalize_text(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace to single spaces."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text; empty string → empty array."""
    norm = normalize_text(col)
    return F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def token_count(col: Column) -> Column:
    """Whitespace token count (the reference for per-doc length budgeting)."""
    return F.size(tokens(col))


#: BPE-ish pre-tokenization split: letter runs / digit runs / single
#: non-alphanumeric marks. Deliberately an RE2-safe subset (no lookahead,
#: no \p classes) so Java regex (Spark) and RE2 (DuckDB) extract the
#: IDENTICAL token stream — real BPE merges would then run per pre-token,
#: so this count is the upper bound a tokenizer budget planner needs.
SUBWORD_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def subword_tokens(col: Column) -> Column:
    """BPE-ish pre-tokens of normalized text (see SUBWORD_PATTERN)."""
    return F.regexp_extract_all(
        normalize_text(col), F.lit(SUBWORD_PATTERN), 0
    )


def subword_count(col: Column) -> Column:
    """Pre-token count — the '~tokens this doc costs' budgeting number
    (whitespace words split further on digit/punct boundaries)."""
    return F.size(subword_tokens(col))


def word_ngrams(tok: Column, n: int) -> Column:
    """Distinct word n-grams (shingles) of a token array.

    ``transform(sequence(...))`` keeps generation JVM-side; `array_distinct`
    because shingle *sets* feed Jaccard/minhash. Short docs → empty array.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tok) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
    )
    return F.when(F.size(tok) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def alpha_ratio(col: Column) -> Column:
    """Share of [A-Za-z] characters; 0.0 for empty text."""
    n = F.length(col)
    a = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(a / n)


def punct_ratio(col: Column) -> Column:
    """Share of .,!?;: characters; 0.0 for empty text."""
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[^.,!?;:]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p / n)


def stopword_hits(tok: Column, words: tuple[str, ...]) -> Column:
    """Number of DISTINCT stopwords present in the token array.

    `array_intersect` dedups both sides — mirrored by DuckDB
    ``list_intersect`` — so the score is set-based and order-free.
    """
    return F.size(F.array_intersect(tok, F.array(*[F.lit(w) for w in words])))


def stopword_ratio(tok: Column) -> Column:
    """Share of tokens that are QUALITY_STOPWORDS (occurrence-based, not
    distinct)."""
    hits = F.size(F.filter(tok, lambda t: t.isin(*QUALITY_STOPWORDS)))
    return F.when(F.size(tok) == 0, F.lit(0.0)).otherwise(hits / F.size(tok))


def lang_id(tok: Column) -> Column:
    """Heuristic language ID: argmax of per-language distinct-stopword hits.

    Ties broken by language-code order (deterministic). Unknown when no
    list scores > 0. The production-scale version swaps the lists for
    n-gram frequency profiles; the plan shape (pure column math, no UDF,
    no shuffle) is identical.
    """
    scores = {lang: stopword_hits(tok, words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier langs win ties via the when-cascade order
    for lang in reversed(list(LANG_STOPWORDS)):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def quality_score(col: Column, tok: Column) -> Column:
    """Composite [0,1] quality score: length, alpha share, stopword share.

    Same shape as public web-corpus quality filters (C4-style): penalize
    ultra-short docs, non-alphabetic noise, and stopword-free keyword
    stuffing. Pure arithmetic → bit-identical in the oracle.

    ``tok`` is the pre-materialized ``tokens(col)`` column — the token
    array is referenced several times below and recomputing the
    tokenizer per reference is the dominant cost (see
    operators.dedup.shingle_index note).
    """
    ntok = F.size(tok)
    len_score = F.least(ntok / F.lit(100.0), F.lit(1.0))
    raw = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * alpha_ratio(col)
        + F.lit(0.3) * stopword_ratio(tok)
    )
    # portable rounding (functions/rounding.py): plain round(x, 6)
    # diverges between Spark and DuckDB at exact .5 boundaries —
    # observed live on this very score at sf0.1 (0.504688 vs 0.504687).
    from .rounding import round6

    return round6(raw)


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.

    The exact-dedup key. (The positional rolling-hash variant is
    :func:`winnowed_fps`, used by operators.dedup.winnow_fingerprints.)
    """
    return F.md5(normalize_text(col))


#: Polynomial rolling-hash parameters. Base 131 over printable-ASCII
#: character codes mod 1e9+7: per fold step acc < 1e9, acc*131 + 126 < 2^37 —
#: every intermediate stays far inside int64 in BOTH engines, which is
#: what makes the hash bit-identical in the DuckDB oracle.
ROLL_BASE = 131
ROLL_MOD = 1_000_000_007


def ascii_normalize(col: Column) -> Column:
    """Normalized text projected to printable ASCII (the rolling-hash
    domain — Spark ``ascii`` and DuckDB ``ord`` agree only on ASCII)."""
    return F.regexp_replace(normalize_text(col), "[^ -~]", "")


def _rabin_karp(t: str | None, k: int):
    """int64 numpy array of the Rabin-Karp hash of every char k-gram of
    an ascii-normalized string, one per gram position:
    ``h(gram) = fold(acc*BASE + codepoint) mod MOD``. Every intermediate
    stays < 2^37, so int64 arithmetic is exact and the values are the
    ones the DuckDB oracle's fold computes. Empty / shorter-than-k → empty.
    """
    import numpy as np

    if not t or len(t) < k:
        return np.empty(0, dtype=np.int64)
    a = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
    m = a.size - k + 1
    h = np.zeros(m, dtype=np.int64)
    for j in range(k):
        h = (h * ROLL_BASE + a[j : j + m]) % ROLL_MOD
    return h


def gram_rolling_hashes(ascii_col: Column, k: int) -> Column:
    """Polynomial rolling hash of every char k-gram, one value per gram
    position (the classic Rabin-Karp position-local hash, see
    :func:`_rabin_karp`). An Arrow-vectorized UDF because the O(n·k)
    fold costs ~ms/doc as an interpreted higher-order lambda vs
    vectorized C here. Input must already be ascii-normalized
    (:func:`ascii_normalize`) — normalization stays JVM-side so only the
    arithmetic crosses Arrow. Shorter-than-k docs hash to an empty array.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<long>")
    def _roll(s: pd.Series) -> pd.Series:
        return pd.Series([_rabin_karp(t, k) for t in s])

    return _roll(ascii_col)


#: Winnowing window: consecutive gram hashes per minimum in
#: :func:`winnowed_fps`.
WINNOW_W = 4


def winnowed_fps(ascii_col: Column, k: int) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, MOSS)
    over :func:`gram_rolling_hashes`, in one Arrow UDF.

    Keep the minimum hash of every WINNOW_W-wide window of consecutive
    gram hashes, deduplicated preserving FIRST occurrence — guarantees
    any match of length ≥ w+k-1 chars shares a fingerprint while keeping
    ~2/(w+1) of the grams. Docs with fewer than w grams keep their
    single minimum; empty stays empty.
    """
    w = WINNOW_W
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<long>")
    def _win(s: pd.Series) -> pd.Series:
        out = []
        for t in s:
            h = _rabin_karp(t, k)
            if h.size < w:  # the single minimum, or empty for no grams
                out.append(np.sort(h)[:1])
                continue
            mins = sliding_window_view(h, w).min(axis=1)
            _, idx = np.unique(mins, return_index=True)
            out.append(mins[np.sort(idx)])
        return pd.Series(out)

    return _win(ascii_col)


# --------------------------------------------------------------------------
# PII scrubbing (training-data redaction)
# --------------------------------------------------------------------------

#: Redaction patterns (Java regex, pure Catalyst `regexp_replace` — no
#: UDF, map-only at any scale). Deliberately conservative/simple shapes:
#: the operator contract (ordered replace chain + per-kind hit counts)
#: is what matters; patterns are a parameter a curation run tunes. The
#: driver's synthetic corpus contains no PII (verified: no '@', digits,
#: or URLs in documents.text), so this surface is fixture-tested in
#: tests/test_text_pii.py rather than registered as a corpus query.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def pii_counts(col: Column) -> Column:
    """Struct of per-kind PII match counts (email/url/ipv4/phone).

    Counts run against the ORIGINAL text per kind (a URL containing an
    email still counts both), unlike :func:`redact_pii` where earlier
    replacements consume their matches.
    """
    return F.struct(
        *[
            F.regexp_count(col, F.lit(pat)).cast("long").alias(name)
            for name, pat, _ in PII_PATTERNS
        ]
    )


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its typed placeholder, applying the
    patterns in :data:`PII_PATTERNS` order. Later patterns run over
    earlier output: an email inside a URL redacts to <EMAIL> first and
    the URL pass then absorbs the remaining non-space run into <URL> —
    strictly more redaction, never less (the safe direction)."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out
