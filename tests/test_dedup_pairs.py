"""Semantic tests for the near-dup pair operators added on top of the
signature generators: identical docs must always pair, disjoint docs
never, and scores must sit in the documented ranges."""

from __future__ import annotations

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.dedup import (
    simhash_neardup_pairs,
    winnow_fingerprints,
    winnow_overlap_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


LOREM = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)
OTHER = (
    "completely different content about distributed query engines and "
    "columnar execution with vectorized operators at petabyte scale"
)


def test_identical_docs_pair_everywhere(spark):
    d = _docs(spark, [(1, LOREM), (2, LOREM), (3, OTHER)])
    sh = simhash_neardup_pairs(d).collect()
    assert {(r.id_a, r.id_b) for r in sh} >= {(1, 2)}
    assert all(r.hamming == 0 for r in sh if (r.id_a, r.id_b) == (1, 2))

    wn = winnow_overlap_pairs(d).collect()
    ours = [r for r in wn if (r.id_a, r.id_b) == (1, 2)]
    assert len(ours) == 1 and ours[0].overlap == 1.0


def test_disjoint_docs_never_pair_in_winnow(spark):
    d = _docs(spark, [(1, LOREM), (2, OTHER)])
    assert winnow_overlap_pairs(d).count() == 0


def test_winnow_fingerprints_shape(spark):
    d = _docs(spark, [(1, LOREM), (2, ""), (3, "tiny")])
    rows = {r.doc_id: r for r in winnow_fingerprints(d).collect()}
    # n_grams = len(ascii_normalized) - k + 1 for long docs
    assert rows[1].n_grams == len(LOREM) - 6
    # winnowed set is deduped, nonempty, within gram hash domain
    assert 0 < len(rows[1].fps) <= rows[1].n_grams
    assert len(set(rows[1].fps)) == len(rows[1].fps)
    assert all(0 <= h < 1_000_000_007 for h in rows[1].fps)
    # empty and shorter-than-k docs: no grams, no fingerprints
    assert rows[2].n_grams == 0 and rows[2].fps == []
    assert rows[3].n_grams == 0 and rows[3].fps == []


def test_overlap_score_monotone_in_shared_content(spark):
    half = LOREM[: len(LOREM) // 2] + " " + OTHER
    d = _docs(spark, [(1, LOREM), (2, LOREM), (3, half)])
    wn = {(r.id_a, r.id_b): r.overlap for r in winnow_overlap_pairs(d).collect()}
    assert wn[(1, 2)] == 1.0
    if (1, 3) in wn:
        assert wn[(1, 3)] < wn[(1, 2)]


def test_jaccard_stop_shingle_cap_skew(spark):
    """A boilerplate sentence shared by EVERY doc must not blow up
    candidate generation, and must not change surfaced pair scores:
    the df cap prunes the hot shingles from candidate generation only,
    while verification still scores the full shingle sets. Every pair
    operator on the shared shingle-id index reports the brute-force
    full-set score, and a pair at exactly J = PREFIX_JACCARD is kept."""
    from kyiv_traffic_bigdata_spark.operators.dedup import (
        NGRAM_MAX_DOC_FREQ,
        NEARDUP_JACCARD,
        PREFIX_JACCARD,
        containment_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        prefix_filter_pairs,
        shingle_index,
        sorted_neighborhood_pairs,
    )

    cap = NGRAM_MAX_DOC_FREQ
    boiler = "this document is provided as is without warranty of any kind"
    rows = [
        (i, f"{boiler} unique payload item number {i} alpha beta")
        for i in range(cap + 10)
    ]
    # docs 1000/1001: true near-dups of each other (identical long tail)
    tail = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    rows += [(1000, f"{boiler} {tail}"), (1001, f"{boiler} {tail} extra")]
    # docs 2000/2001: 6 shingles each, 4 shared, 8 in the union
    rows += [
        (2000, "kappa lambda mu nu xi omicron pi rho"),
        (2001, "kappa lambda mu nu xi omicron sigma tau"),
    ]
    d = _docs(spark, rows)

    # every boilerplate shingle (df = cap + 12) is above the cap...
    idx = shingle_index(d, 3)
    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    assert dfreq.where(F.col("df") > cap).count() > 0  # hot shingles exist
    got = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(d).collect()}
    # ...the true pair (sharing rare tail shingles) still surfaces,
    assert (1000, 1001) in got
    # with the EXACT full-set jaccard (unchanged by candidate pruning):
    sets = {}
    for r in idx.collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)

    def jaccard(a, b):
        inter = len(sets[a] & sets[b])
        return inter / (len(sets[a]) + len(sets[b]) - inter)

    assert jaccard(2000, 2001) == PREFIX_JACCARD
    for (a, b), v in got.items():
        assert abs(v - jaccard(a, b)) < 1e-6
    # and boilerplate-only pairs — above the threshold by their full
    # sets — never surface: they share no rare shingle
    assert jaccard(0, 1) >= NEARDUP_JACCARD
    assert set(got) == {(1000, 1001), (2000, 2001)}

    scored = {
        "minhash": minhash_lsh_pairs(d).collect(),
        "prefix": prefix_filter_pairs(d).collect(),
        "sorted_neighborhood": sorted_neighborhood_pairs(d).collect(),
    }
    # the exact-boundary pair is kept by the >= cutoff
    assert {(r.id_a, r.id_b) for r in scored["prefix"]} >= {(1000, 1001), (2000, 2001)}
    for name, pairs in scored.items():
        assert pairs, name
        for r in pairs:
            assert abs(r.jaccard - jaccard(r.id_a, r.id_b)) < 1e-6, (name, r)
    contained = containment_pairs(d).collect()
    assert {(r.id_a, r.id_b) for r in contained} >= {(1000, 1001), (2000, 2001)}
    for r in contained:
        assert r.n_inter == len(sets[r.id_a] & sets[r.id_b])


def test_exact_dedup_covers_boilerplate_only_identical_docs(spark):
    """The documented recall cost of the df cap: a pair overlapping
    EXCLUSIVELY in above-cap boilerplate shingles never surfaces from
    ngram_jaccard_pairs — even two byte-identical all-boilerplate docs.
    exact_duplicates (fingerprint groupBy, no pruning) must catch that
    identical-doc case, so the dedup *pipeline* (exact pass + near-dup
    pass) loses nothing at the identity end."""
    from kyiv_traffic_bigdata_spark.operators.dedup import (
        NGRAM_MAX_DOC_FREQ,
        exact_duplicates,
        ngram_jaccard_pairs,
    )

    boiler = "this document is provided as is without warranty of any kind"
    # docs that are nothing but the boilerplate — all identical, every
    # shingle's df above the NGRAM_MAX_DOC_FREQ cap
    n = NGRAM_MAX_DOC_FREQ + 10
    d = _docs(spark, [(i, boiler) for i in range(n)])
    pruned = ngram_jaccard_pairs(d)
    assert pruned.count() == 0  # the known miss: hot-only overlap
    groups = exact_duplicates(d).collect()
    assert len(groups) == 1 and groups[0].copies == n  # ...covered here


def test_jaccard_cap_bounds_candidate_volume(spark):
    """Candidate volume must track rare-shingle density, not the hot
    shingle's df² — the 100 TB skew guarantee."""
    from kyiv_traffic_bigdata_spark.operators.dedup import shingle_index

    boiler = "all rights reserved no part may be reproduced in any form"
    rows = [(i, f"{boiler} unique text fragment {i} gamma delta") for i in range(40)]
    d = _docs(spark, rows)
    idx = shingle_index(d, 3)
    rare = (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 10)
        .select("shingle")
    )
    pruned = idx.join(rare, "shingle")
    a, b = pruned.alias("a"), pruned.alias("b")
    n_cand = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # uncapped would be ~40*39/2 = 780 pairs (all docs share boilerplate);
    # rare shingles are per-doc unique boundary grams, so only the few
    # accidental boundary overlaps survive.
    assert n_cand < 100


def test_repeated_spans_exact_boundaries(spark):
    """Two docs share one 60-char run; the merged span must cover
    exactly that run in both docs (1-based inclusive, ascii-normalized
    offsets), and the unique doc must produce no rows."""
    from kyiv_traffic_bigdata_spark.operators.dedup import repeated_spans

    shared = "the quick brown fox jumps over the lazy dog again and again!"
    L = len(shared)
    assert L > 40
    # distinct boundary chars on every side so the maximal repeated
    # substring is exactly `shared` (a shared space at a boundary would
    # correctly extend the span by one — pinned by the first failing
    # draft of this test)
    pre1, pre2 = "unique prefix one twenty charsA", "different head here paddB"
    docs = spark.createDataFrame(
        [
            (1, pre1 + shared + "Cunique suffix a"),
            (2, pre2 + shared + "Dother tail text zz"),
            (3, "entirely unrelated content with no repeats at all in it"),
        ],
        "doc_id long, text string",
    )
    rows = repeated_spans(docs, gram_len=40).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert set(by_doc) == {1, 2}
    s1, s2 = len(pre1) + 1, len(pre2) + 1  # 1-based span starts
    assert (by_doc[1].span_start, by_doc[1].span_end) == (s1, s1 + L - 1)
    assert (by_doc[2].span_start, by_doc[2].span_end) == (s2, s2 + L - 1)
    # an L-char run with k=40 grams -> L-39 gram positions
    assert by_doc[1].n_grams == L - 39 and by_doc[2].n_grams == L - 39


def test_repeated_spans_within_single_doc(spark):
    """Same-doc repetition counts toward the frequency gate (the Lee et
    al. semantic: ANY repeat in the corpus, including self-repeats)."""
    from kyiv_traffic_bigdata_spark.operators.dedup import repeated_spans

    chunk = "a" * 45
    docs = spark.createDataFrame(
        [(7, chunk + " x " + chunk)], "doc_id long, text string"
    )
    rows = sorted(repeated_spans(docs, gram_len=40).collect(),
                  key=lambda r: r.span_start)
    # all-a grams repeat across (and within) the two runs; grams
    # touching the ' x ' gap are unique. Matching positions are 1..6
    # and 49..54 — a 43-position gap > gram_len, so two islands, each
    # covering exactly its 45-char run.
    assert [(r.span_start, r.span_end) for r in rows] == [(1, 45), (49, 93)]


def test_repeated_spans_empty_and_short_docs(spark):
    from kyiv_traffic_bigdata_spark.operators.dedup import repeated_spans

    docs = spark.createDataFrame(
        [(1, ""), (2, "short"), (3, "short")], "doc_id long, text string"
    )
    assert repeated_spans(docs, gram_len=40).count() == 0


def test_clip_spans_surgery_exact(spark):
    """clip_spans removes exactly the given ranges from the normalized
    text: interior span, span at position 1, span to the end, multiple
    spans per doc, and a doc with no spans."""
    from kyiv_traffic_bigdata_spark.operators.dedup import clip_spans

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),   # clip [3,5] -> 'abfghij'
            (2, "abcdefghij"),   # clip [1,2] and [9,10] -> 'cdefgh'
            (3, "abcdefghij"),   # clip [1,10] -> ''
            (4, "untouched"),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 3, 5), (2, 1, 2), (2, 9, 10), (3, 1, 10)],
        "doc_id long, span_start long, span_end long",
    )
    rows = {r.doc_id: r for r in clip_spans(docs, spans).collect()}
    assert rows[1].clipped_text == "abfghij" and rows[1].n_clipped_chars == 3
    assert rows[2].clipped_text == "cdefgh" and rows[2].n_clipped_chars == 4
    assert rows[3].clipped_text == "" and rows[3].n_clipped_chars == 10
    assert rows[4].clipped_text == "untouched" and rows[4].n_clipped_chars == 0


def test_cross_lang_dups_detector_is_corpus_pure(spark):
    """r5 VERDICT ask #5: the detector must operate on whatever corpus
    it is given — no fixture planting inside. A genuine cross-language
    copy is flagged; a same-language duplicate pair and singletons are
    not; normalization (case/whitespace) still groups variants."""
    from kyiv_traffic_bigdata_spark.queries import cross_lang_dups

    corpus = spark.createDataFrame(
        [
            (1, "en", "Shared   Text"),
            (2, "uk", "shared text"),      # same content, other lang
            (3, "en", "same lang dup"),
            (4, "en", "same lang dup"),    # dup but one lang -> dropped
            (5, "de", "unique content"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = cross_lang_dups(corpus).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.n_langs == 2 and r.n_docs == 2
    assert r.langs == "en,uk" and r.doc_ids == "1,2"


def test_containment_pairs_detects_subdocument_copy(spark):
    """Containment must flag a short doc fully embedded in a long one
    (where Jaccard ≈ |A|/|B| stays below any sane threshold), report
    both directions, and skip unrelated docs."""
    from kyiv_traffic_bigdata_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, short),                      # fully contained in 2
            (2, short + " " + filler),       # superset
            (3, "totally different words here none shared at all ok"),
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.c_a_in_b == 1.0          # all of doc 1's shingles in doc 2
    assert r.c_b_in_a < 0.2           # but doc 2 barely contained in 1
    # jaccard for the same pair would be ~n_inter/n_b — below 0.2 — so
    # a symmetric threshold at the same cutoff would never surface it


def test_containment_pairs_respects_doc_freq_cap(spark):
    """Candidate generation must ignore shingles above the df cap: docs
    sharing ONLY boilerplate shingles (df > cap) produce no pair, though
    the footer is most of each doc (containment 8/11, above the
    threshold)."""
    from kyiv_traffic_bigdata_spark.operators.dedup import (
        NGRAM_MAX_DOC_FREQ,
        containment_pairs,
    )

    boiler = "same old footer text that every page carries at the bottom"
    docs = spark.createDataFrame(
        [
            (i, f"unique{i} filler{i} words{i} " + boiler)
            for i in range(NGRAM_MAX_DOC_FREQ + 10)
        ],
        "doc_id long, text string",
    )
    assert containment_pairs(docs).count() == 0
