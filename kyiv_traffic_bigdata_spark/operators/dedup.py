"""Document deduplication suite — exact, n-gram Jaccard, MinHash+LSH,
SimHash — the LLM-training-corpus operators mandated by the north star
(BASELINE.json), built over the driver's ``documents`` table.

Scale design. The naive near-dup formulation is an O(n²) pairwise compare —
a non-starter at 100 TB. Every operator here goes through the standard
candidate-generation shape instead:

    per-doc features (map-only) → inverted index (explode) →
    equi-join on feature bucket (shuffle on bucket key) →
    exact verification on the candidate pairs only.

All hashing is :func:`functions.text.portable_hash` (md5-prefix), so
signatures are reproducible across engines/runs — required both for the
DuckDB oracle and for incrementally deduplicating a growing corpus without
recomputing old signatures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..functions.rounding import round6

from ..functions.text import WINNOW_W, fingerprint, portable_hash, tokens, word_ngrams
from .staging import stage

#: MinHash parameters. 16 permutations in 4 bands × 4 rows ⇒ LSH s-curve
#: threshold (1/b)^(1/r) ≈ 0.71 Jaccard. Permutation i is the universal
#: hash (a_i·h + b_i) mod PRIME over the portable 32-bit shingle hash.
NUM_PERM = 16
LSH_BANDS = 4
LSH_ROWS = NUM_PERM // LSH_BANDS
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne); products stay < 2^63

#: Word n-gram size of the near-dup shingles (the DuckDB twin is
#: ``queries._SHINGLES``).
SHINGLE_NGRAM = 3


def perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic permutation coefficients (odd a, spread b)."""
    return 2 * i + 1, 7919 * i + 17


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup via normalized-text fingerprint (md5) hash-groupBy.

    Output: one row per distinct content — representative id (min),
    copy count. A single hash aggregate on a 32-hex key; at 100 TB this is
    the cheapest possible dedup (no pairwise anything).
    """
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("copies"))
    )


def shingle_index(docs: DataFrame, ngram: int) -> DataFrame:
    """Inverted index: (doc_id, shingle) with DISTINCT word n-gram shingles.

    The whole chain is pure Catalyst — no Python boundary at all. An
    Arrow-UDF n-gram builder lost every A/B of the full index build at
    sf0.1 (r12: 0.42 vs 0.58 s; again on 4 cores, 6 alternating pairs:
    0.34 vs 0.56 s at n=3, 0.38 vs 0.56 s at n=13) and was deleted: it
    ships the token arrays across the JVM↔Python boundary twice.

    Staged projections on purpose: ``tokens`` (regex normalize + split) is
    materialized once per row before the n-gram stage references it.
    Higher-order functions get no common-subexpression elimination, so the
    inlined composition re-runs the tokenizer per reference — measured 12×
    slower at sf0.1. CollapseProject keeps the stages separate because the
    alias is non-cheap and multiply-referenced.
    """
    # Partitioning contract: the interpreted higher-order chain below is
    # the dominant per-row cost, so the INPUT must already be spread
    # across cores — the query layer does this once (_docs_with_tokens
    # round-robins the single-split local corpus; measured 5.7s of an
    # 11s query on one core otherwise). No repartition here: operators
    # stacking their own shuffles on top of the caller's doubles the
    # exchange of raw text for nothing.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_tok"))
    grams = toked.select("doc_id", word_ngrams(F.col("_tok"), ngram).alias("_g"))
    # explode_outer + post-filter, NOT plain explode: InferFiltersFromGenerate
    # would add size(_g) > 0 under a plain explode, and predicate pushdown
    # then substitutes the whole n-gram expression into a scan-level Filter,
    # re-evaluating the expensive pipeline per row (measured 2x the whole
    # query). A filter on the *generated* column cannot sink below the
    # Generate, and dropping the null rows is semantically identical.
    return (
        grams.select("doc_id", F.explode_outer("_g").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


#: Stop-shingle document-frequency cap for ngram_jaccard_pairs candidate
#: generation. A shingle shared by more than this many documents is a
#: "stop shingle" (boilerplate): its posting list contributes O(df²)
#: candidate pairs — one hot shingle shared by millions of docs is a
#: quadratic join blow-up at 100 TB — while carrying ~no near-dup signal,
#: because genuinely similar docs share many RARE shingles. Pruning
#: applies to candidate generation ONLY; verification still computes
#: Jaccard over the FULL shingle sets, so surfaced pairs keep their exact
#: score (recall-only, zero-false-positive pruning — same contract as LSH).
NGRAM_MAX_DOC_FREQ = 100

#: Pair cutoffs: shingle-set Jaccard for the near-dup pairs of
#: ngram_jaccard_pairs and minhash_lsh_pairs, of prefix_filter_pairs and
#: of sorted_neighborhood_pairs (which pairs each doc with its next
#: SN_WINDOW neighbors in sort order), and the directed containment
#: cutoff of containment_pairs. The SQL twins use the same values.
NEARDUP_JACCARD = 0.2
PREFIX_JACCARD = 0.5
SN_JACCARD = 0.3
SN_WINDOW = 3
CONTAINMENT_THRESHOLD = 0.5

#: Join hint for the per-doc sides of the pair joins: ``shuffle_merge``
#: sorts and SPILLS, while a shuffle-hash build is a non-spillable
#: in-memory hash relation that OOMs on fat array partitions. Never
#: ``broadcast``: a per-doc table scales with the corpus and the size
#: estimate of a staged table undershoots (tests/test_plans.py pins
#: no-broadcast).
ARRAY_SIDE_JOIN_HINT = "shuffle_merge"


def shingle_ids(docs: DataFrame) -> DataFrame:
    """The shared index of the near-dup pair operators: staged
    ``(doc_id, _sid, _df, _h)`` rows, one per distinct shingle of each doc.

    Every pair decision needs shingle IDENTITY, never the text, so each
    distinct shingle gets an injective int64 ``_sid``
    (monotonically_increasing_id on the per-shingle table — partition id
    ⊕ offset, collision-free by construction, unlike a hash) next to its
    document frequency ``_df`` and its portable hash ``_h`` (the MinHash
    input), each computed once per distinct shingle. Joins, windows and
    set arrays downstream then run on 8-byte longs instead of ~30-byte
    n-gram strings.

    Three stages. The index, because the interpreted tokenize→n-gram
    chain feeds both the df aggregate and the id join. The df table,
    BEFORE anything reads its ids: mono-ids are assigned per partition
    at evaluation time, so a df table recomputed under a task retry
    (shuffle fetch order is nondeterministic) could hand two readers
    different ids for the same shingle; the checkpoint freezes one
    assignment (lost blocks fail the job — no silent recompute). The
    joined rows, because every operator reads them at least twice.
    Answers do not depend on which ids come out: ``_sid`` is injective,
    and (_df, _sid) is a global total order.
    """
    idx = shingle_index(docs, SHINGLE_NGRAM).transform(stage)
    dfreq = (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .select(
            "shingle",
            "_df",
            F.monotonically_increasing_id().alias("_sid"),
            portable_hash(F.col("shingle")).alias("_h"),
        )
        .transform(stage)
    )
    return idx.join(dfreq, "shingle").drop("shingle").transform(stage)


def _pair_sides(pairs: DataFrame, per_doc: DataFrame) -> DataFrame:
    """``pairs`` joined to the ``per_doc`` row of ``id_a`` and of ``id_b``;
    per-doc column ``c`` arrives as ``c_a`` and ``c_b``."""

    def side(s: str) -> DataFrame:
        return per_doc.select(
            F.col("doc_id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in per_doc.columns if c != "doc_id"],
        ).hint(ARRAY_SIDE_JOIN_HINT)

    return pairs.join(side("a"), "id_a").join(side("b"), "id_b")


def _jaccard(n_inter: Column, n_a: Column, n_b: Column) -> Column:
    return round6(n_inter / (n_a + n_b - n_inter).cast("double"))


def jaccard_verify(candidates: DataFrame, ids: DataFrame, t: float) -> DataFrame:
    """Exact full-set Jaccard of ``(id_a, id_b, …)`` candidate pairs over
    :func:`shingle_ids` rows: the candidate columns plus ``jaccard``, for
    the pairs with jaccard ≥ ``t``.

    The index collapses to ONE row per doc — its ``_sid`` set — before
    any pair work, so the intersection is in-row ``array_intersect``
    math and the only joins are candidates ⋈ set-table equi-joins by
    doc id. Work is bounded by |candidates| × shingles/doc; output has
    no false positives, and every operator reports the same score for
    the same pair.
    """
    sets = ids.groupBy("doc_id").agg(F.collect_list("_sid").alias("s"))
    n_inter = F.size(F.array_intersect("s_a", "s_b"))
    return (
        _pair_sides(candidates, sets)
        .withColumn("jaccard", _jaccard(n_inter, F.size("s_a"), F.size("s_b")))
        .where(F.col("jaccard") >= t)
        .select(*candidates.columns, "jaccard")
    )


def _rare_pair_counts(
    ids: DataFrame, keep: Callable[[Column, Column, Column], Column]
) -> DataFrame:
    """Exact intersection sizes ``(id_a, id_b, n_inter, n_a, n_b)`` of the
    id_a < id_b pairs that share at least one RARE shingle (document
    frequency ≤ NGRAM_MAX_DOC_FREQ) and pass ``keep(n_inter, n_a, n_b)``,
    the caller's cutoff, which must be nondecreasing in ``n_inter`` — the
    candidate build of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`.

    Skew-safe single pass: the self-join runs only over rare shingles,
    so join volume is Σ_rare df² — bounded by cap·|index| — instead of
    the df² of the hottest boilerplate phrase, and it counts each pair's
    rare intersection directly (groupBy pair — no distinct, no second
    join against the index). Each rare row carries its doc's set size
    ``n`` and above-cap count ``nh``, so ``keep`` on the upper bound
    ``n_rare + min(nh_a, nh_b)`` drops the pairs that cannot pass before
    any per-doc join. **Hot-shingle completion** then restores exactness
    for the survivors: ``n_inter = n_rare + |hot_a ∩ hot_b|`` over each
    doc's above-cap ``_sid`` array (a few boilerplate phrases by
    construction). The only recall loss is pairs sharing exclusively
    boilerplate.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id")
    is_hot = F.col("_df") > NGRAM_MAX_DOC_FREQ
    rows = ids.select(
        "doc_id",
        "_sid",
        is_hot.alias("_hot"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.count(F.when(is_hot, 1)).over(w).alias("nh"),
    )
    rare = rows.where(~F.col("_hot"))
    a, b = rare.alias("a"), rare.alias("b")
    pairs = (
        a.join(b, "_sid")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.col("a.nh").alias("nh_a"),
            F.col("b.nh").alias("nh_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    ub = F.col("n_rare") + F.least("nh_a", "nh_b")
    hot = rows.groupBy("doc_id").agg(
        F.collect_list(F.when(F.col("_hot"), F.col("_sid"))).alias("hot")
    )
    n_inter = F.col("n_rare") + F.size(F.array_intersect("hot_a", "hot_b"))
    return (
        _pair_sides(pairs.where(keep(ub, n_a, n_b)), hot)
        .select("id_a", "id_b", n_inter.alias("n_inter"), "n_a", "n_b")
        .where(keep(F.col("n_inter"), n_a, n_b))
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup (id_a < id_b) pairs by exact word-n-gram Jaccard ≥
    NEARDUP_JACCARD over the rare-shingle candidates of
    :func:`_rare_pair_counts`, rounded to 6 for engine portability."""

    def keep(n_inter: Column, n_a: Column, n_b: Column) -> Column:
        return _jaccard(n_inter, n_a, n_b) >= NEARDUP_JACCARD

    pairs = _rare_pair_counts(shingle_ids(docs), keep)
    jaccard = _jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b"))
    return pairs.select("id_a", "id_b", jaccard.alias("jaccard"))


def prefix_filter_pairs(docs: DataFrame) -> DataFrame:
    """ALL pairs with exact shingle-set Jaccard ≥ PREFIX_JACCARD via
    **lossless prefix filtering** (the AllPairs / PPJoin candidate rule).

    Unlike :func:`ngram_jaccard_pairs` (whose df-cap trades recall on
    pairs overlapping only in boilerplate) this operator is exact with
    NO recall caveat: order the shingle universe globally by
    (document-frequency asc, _sid asc) and keep only each doc's first
    ``n - ceil(t·n) + 1`` shingles in that order (its *prefix*). Two
    sets with Jaccard ≥ t must overlap in ≥ ceil(t·n) elements, so by
    pigeonhole their prefixes share at least one shingle — joining on
    prefix shingles alone loses nothing, under ANY global total order.

    Scale shape: the self-join runs ONLY over prefix shingles, and the
    rarest-first ordering means hot boilerplate shingles are the first
    ones *excluded* from prefixes — candidate volume is Σ df_p² over
    near-rarest shingles, the same skew-safety the df-cap buys, but
    earned without giving up exactness. The ranking window partitions
    by doc_id (bounded by doc length); ``_df`` comes from the shared
    index's groupBy+join, never a window over partitionBy(shingle),
    which would put a hot shingle's whole posting list in one task.
    """
    from pyspark.sql.window import Window

    t = PREFIX_JACCARD
    ids = shingle_ids(docs)
    w = Window.partitionBy("doc_id")
    rarest_first = w.orderBy(F.col("_df").asc(), F.col("_sid").asc())
    ranked = ids.select(
        "doc_id",
        "_sid",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.row_number().over(rarest_first).alias("_pos"),
    )
    prefix = ranked.where(
        F.col("_pos")
        <= F.col("_n") - F.ceil(F.lit(t) * F.col("_n")).cast("long") + F.lit(1)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin POSITIONAL filter (Xiao/Wang/Lin/Yu, WWW 2008 — lossless):
    # at a prefix hit on shingle s at global-order positions (p_a, p_b),
    # every common element other than s that could still be counted
    # ranks after s in BOTH docs, so the overlap is bounded by
    # ubound = 1 + min(n_a − p_a, n_b − p_b). J ≥ t needs overlap ≥
    # t·(n_a+n_b)/(1+t); pairs whose ubound can't reach that die HERE,
    # before the distinct and the verify joins (the filter also subsumes
    # the AllPairs length filter — for n_a = min the bound reduces to
    # n_a ≥ t·n_b). OR-semantics across multiple prefix hits of the same
    # pair are automatic (distinct runs after the filter), which is what
    # makes the per-hit bound lossless: the FIRST shared element in
    # global order has no common elements before it, and it sits in
    # both prefixes whenever J ≥ t, so at least that hit always survives
    # for a true pair. The 1e-9 slack keeps float rounding from ever
    # rejecting an exact-boundary pair (an extra candidate is free; a
    # lost pair is corruption). The naive all-pairs DuckDB twin (no ids,
    # no candidates) re-proves losslessness at every SF.
    ubound = F.lit(1) + F.least(
        F.col("a._n") - F.col("a._pos"), F.col("b._n") - F.col("b._pos")
    )
    cand = (
        a.join(b, "_sid")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(1.0 + t) * ubound
                >= F.lit(t) * (F.col("a._n") + F.col("b._n"))
                - F.lit(1e-9)
            )
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(cand, ids, t)


def sorted_neighborhood_pairs(docs: DataFrame) -> DataFrame:
    """Blocked **sorted-neighborhood** candidate pairs (the classic
    entity-resolution blocking method): sort records within a blocking
    key, slide a fixed window down the sort order, and score only
    records that fall into the same window — O(n·w) comparisons instead
    of O(n²).

    Block = first token of the normalized text; sort key = the full
    normalized text (doc_id tie-break, so the order — and therefore the
    output — is deterministic). Only docs with shingles take a place in
    the order. Each doc is paired with its next SN_WINDOW neighbors in
    sort order and scored with the exact shingle-set Jaccard; pairs
    below SN_JACCARD are dropped. This is the *multi-pass blocking*
    variant: windows never span blocks, which is exactly what makes it
    scale — the ranking window partitions by block, never one global
    sort on a single task. Recall is bounded by the blocking choice
    (documented, standard for the method); exact near-dup recall is
    ngram_jaccard_pairs / prefix_filter_pairs' job.
    """
    from pyspark.sql.window import Window
    from ..functions.text import normalize_text

    ids = shingle_ids(docs)
    keyed = (
        docs.select("doc_id", normalize_text(F.col("text")).alias("_k"))
        .withColumn("_blk", F.substring_index(F.col("_k"), " ", 1))
        .join(
            ids.select("doc_id").distinct().hint(ARRAY_SIDE_JOIN_HINT),
            "doc_id",
            "left_semi",
        )
    )
    w = Window.partitionBy("_blk").orderBy(F.col("_k").asc(), F.col("doc_id").asc())
    led = keyed.select(
        F.col("doc_id").alias("id_a"),
        *[F.lead("doc_id", i).over(w).alias(f"_id{i}") for i in range(1, SN_WINDOW + 1)],
    )
    neighbors = F.array(
        *[
            F.struct(F.col(f"_id{i}").alias("id_b"), F.lit(i).cast("long").alias("gap"))
            for i in range(1, SN_WINDOW + 1)
        ]
    )
    cand = (
        led.select("id_a", F.explode(neighbors).alias("nb"))
        .select("id_a", "nb.*")
        .where(F.col("id_b").isNotNull())
    )
    return jaccard_verify(cand, ids, SN_JACCARD)


def containment_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by n-gram CONTAINMENT — the asymmetric measure
    ``C(A→B) = |A∩B| / |A|`` that catches sub-document duplication
    (a short doc copied inside a long one) which symmetric Jaccard
    dilutes to ~|A|/|B| and misses entirely.

    Candidates and exact intersections come from the skew-safe
    rare-shingle pass of :func:`_rare_pair_counts`. Emits one row per
    unordered pair (id_a < id_b) whose max directed containment ≥
    CONTAINMENT_THRESHOLD, with both directions. Recall loss: only
    pairs sharing exclusively hot shingles (which carry no dup signal
    by construction).
    """

    def contained(n_inter: Column, n: Column) -> Column:
        return round6(n_inter / n.cast("double"))

    def keep(n_inter: Column, n_a: Column, n_b: Column) -> Column:
        best = F.greatest(contained(n_inter, n_a), contained(n_inter, n_b))
        return best >= CONTAINMENT_THRESHOLD

    pairs = _rare_pair_counts(shingle_ids(docs), keep)
    n_inter = F.col("n_inter")
    return pairs.select(
        "id_a",
        "id_b",
        "n_inter",
        contained(n_inter, F.col("n_a")).alias("c_a_in_b"),
        contained(n_inter, F.col("n_b")).alias("c_b_in_a"),
    )


def minhash_signatures(ids: DataFrame) -> DataFrame:
    """Wide MinHash signature over :func:`shingle_ids` rows: one column
    ``mh_i`` per permutation.

    NUM_PERM universal-hash minima over the portable shingle hash via
    conditional aggregation (single hash aggregate, no pivot shuffle).
    Docs with no shingles get no row (nothing to hash) — callers union
    them back if they must survive.
    """
    mins = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MINHASH_PRIME).alias(f"mh_{i}")
        for i, (a, b) in ((j, perm_coeffs(j)) for j in range(NUM_PERM))
    ]
    return ids.groupBy("doc_id").agg(*mins)


def lsh_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) bucket memberships from a wide MinHash
    signature frame — the banded-LSH index rows. Band hashes are md5
    over the band's row slice, so the SAME doc always lands in the same
    buckets on any engine/run (portable-hash property: a stored bucket
    index stays valid across runs)."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh_{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
                )
            ).alias("bh"),
        )
        for b in range(LSH_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bh"
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash → banded LSH candidates → exact-Jaccard verification.

    The full scale path: signatures are fixed-width (NUM_PERM ints/doc
    regardless of doc length); candidates come from equi-joins on
    (band, band_signature) so cost tracks true near-dup density, not n².
    Verification recomputes exact Jaccard on candidates only, so the output
    has NO false positives — misses only pairs the s-curve filters out.
    """
    ids = shingle_ids(docs)
    buckets = lsh_buckets(minhash_signatures(ids))
    # the bucket table is corpus × bands rows: never a broadcast build
    # side (see ARRAY_SIDE_JOIN_HINT), so the self-join is pinned
    # shuffle_hash — its rows are narrow and need no sort
    a = buckets.alias("a").hint("shuffle_hash")
    b = buckets.alias("b")
    candidates = (
        a.join(b, ["band", "bh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(candidates, ids, NEARDUP_JACCARD)


#: SimHash banding parameters: 32-bit keys split into 4 bands of 8 bits.
#: Pigeonhole guarantee: any pair within hamming distance 3 differs in at
#: most 3 bands, so at least one band matches — banding loses NO pairs
#: (it is an exact algorithm, not an approximation).
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def simhash(docs: DataFrame) -> DataFrame:
    """Per-doc SimHash over word-token features (portable 32-bit hashes).

    bit_j(doc) = 1 iff Σ_tokens (bit_j(h(token)) ? +1 : −1) > 0.
    Computed as ONE conditional aggregate (SIMHASH_BITS sums over the token
    stream in a single groupBy, the minhash_signatures shape) — the
    earlier (token × bit-position) explode multiplied the
    pre-aggregation row stream ×32; map-side partials contained
    it, but this form shuffles ~32× less. All integer math, so
    the oracle reproduces it exactly. Hamming-distance bucketing over
    the resulting key is the near-dup query path.
    """
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tokn")
    ).select("doc_id", portable_hash(F.col("tokn")).alias("h"))
    bit_sums = [
        F.sum(F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    # one parsed expr, not a bits-deep Column tree (plan-build cost)
    combine = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        tok.groupBy("doc_id")
        .agg(*bit_sums)
        .select("doc_id", F.expr(combine).alias("simhash"))
    )


def simhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate doc pairs by SimHash hamming distance ≤
    SIMHASH_MAX_HAMMING.

    The scale path for hamming search: instead of the O(n²) all-pairs
    XOR, split each key into SIMHASH_BANDS bit-bands and self-equi-join on
    (band index, band value) — only docs agreeing on some band ever meet,
    and with max_hamming < bands the pigeonhole principle makes that
    blocking lossless. Each band join is a plain shuffle-hash/sort-merge
    equi-join on a compact int key, so it partitions cleanly at 100 TB;
    a candidate pair surfacing in several bands is collapsed by distinct
    before the exact bit_count(xor) verify.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    sh = simhash(docs)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        "bval", F.expr(f"(simhash >> (band * {width})) & {(1 << width) - 1}")
    )
    a = banded.select("band", "bval", F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = banded.select("band", "bval", F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
    )


#: Winnowing parameters. k=7 char grams, window w=4 (WINNOW_W, defined
#: with functions.text.winnowed_fps) ⇒ any shared substring
#: of ≥ 10 chars is guaranteed a shared fingerprint; expected fingerprint
#: density 2/(w+1) = 40% of grams. MAX_DOC_FREQ drops "stop fingerprints"
#: (grams shared by half the corpus carry no dedup signal and are exactly
#: the skewed keys that would blow up the pair join at scale).
WINNOW_K = 7
WINNOW_MAX_DOC_FREQ = 20
WINNOW_MIN_SHARED = 3


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Per-doc winnowed rolling-hash fingerprints (north-star text op:
    document fingerprinting via rolling hash).

    Output: (doc_id, n_grams, fps:array<long>) — gram count plus the
    winnowed fingerprint set. Map-only (no shuffle): normalization stays
    JVM-side and the hash+winnow arithmetic runs in one Arrow-vectorized
    UDF (functions.text.winnowed_fps). The pure-Catalyst higher-order
    lambda form of the same chain measured ~2.4× slower at sf0.1 and was
    deleted; the DuckDB oracle's fold stays the cross-engine reference.
    """
    from ..functions.text import ascii_normalize, winnowed_fps

    # Partitioning contract: same as shingle_index — the caller spreads
    # the corpus across cores once (_docs_with_tokens); the ~ms/doc
    # hash work here then parallelizes without a second exchange.
    norm = docs.select("doc_id", ascii_normalize(F.col("text")).alias("_a"))
    gram_count = F.greatest(
        F.lit(0).cast("long"), (F.length("_a") - F.lit(WINNOW_K - 1)).cast("long")
    )
    return norm.select(
        "doc_id",
        gram_count.alias("n_grams"),
        winnowed_fps(F.col("_a"), WINNOW_K).alias("fps"),
    )


def winnow_overlap_pairs(docs: DataFrame) -> DataFrame:
    """Doc pairs sharing ≥ WINNOW_MIN_SHARED winnowed fingerprints (MOSS-style
    overlap detection) with a containment-style score.

    The standard inverted-index candidate shape: explode fingerprints,
    drop fingerprints appearing in > WINNOW_MAX_DOC_FREQ docs (stop-gram
    filter — kills both noise and join skew), self-equi-join on the
    fingerprint, count per pair, then join per-doc set sizes for
    ``overlap = shared / (n_a + n_b - shared)`` (Jaccard over fp sets).

    Plan-shape constraint: the explode projection emits ONLY (doc_id, fp).
    Set sizes are recounted from the exploded rows (fps is distinct, so
    count == size) and joined back at the end, exactly like
    ngram_jaccard_pairs.
    """
    fpi = winnow_fingerprints(docs)
    # Materialize the exploded inverted index ONCE: it feeds four
    # consumers (set sizes, stop-gram doc-freq filter, both join sides),
    # and recomputing the rolling-hash fold per consumer is the dominant
    # cost. localCheckpoint (not .persist()): a persist'd
    # plan lives in the shared CacheManager until someone explicitly
    # unpersists it — and this function returns a lazy DataFrame, so
    # there is no correct place to do that; the entry leaked per call.
    # A local checkpoint materializes eagerly to executor-local
    # MEMORY_AND_DISK, truncates lineage, and is reclaimed by the
    # ContextCleaner when the RDD is GC'd. The index is orders of
    # magnitude smaller than the corpus (exactly what an inverted-index
    # build materializes at 100 TB too); cluster runs set
    # SPARK_GRAFT_STAGING=reliable (operators.staging) to swap this for
    # a fault-tolerant checkpoint, since local checkpoints don't survive
    # executor loss.
    #
    # explode_OUTER, not explode: for plain explode, Catalyst's
    # InferFiltersFromGenerate synthesizes `size(fps) > 0` and pushes it
    # below the projection, so the fingerprint UDF runs TWICE per doc —
    # one ArrowEvalPython for the Filter, one for the output. The rule
    # skips outer generates; the isNotNull filter on the generator
    # OUTPUT cannot be pushed below the Generate.
    e = (
        fpi.select("doc_id", F.explode_outer("fps").alias("fp"))
        .where(F.col("fp").isNotNull())
        .transform(stage)
    )
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    ok = (
        e.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= WINNOW_MAX_DOC_FREQ)
        .select("fp")
    )
    f = e.join(ok, "fp")
    a = f.select(F.col("fp"), F.col("doc_id").alias("id_a"))
    b = f.select(F.col("fp"), F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("n_fps", "n_a")
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "n_fps", "n_b"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("long").alias("shared"),
            round6(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("overlap"),
        )
    )


def repeated_spans(docs: DataFrame, gram_len: int) -> DataFrame:
    """EXACT repeated-substring spans — the ExactSubstr dedup semantic of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every maximal character span covered by some ``gram_len``-
    gram occurring at least twice in the corpus (same-doc repeats
    included). Those spans are what a curation run clips out of the
    training text. The suffix-array construction of the paper is
    replaced by the Spark-shaped equivalent: position-local rolling
    hashes + a frequency gate + exact confirmation.

    Three bounded phases (the winnow_overlap machinery's exact, dense
    cousin — winnowing samples ~2/(w+1) of grams, this keeps them all):

    1. **int-only shuffle**: every gram position hashes via the portable
       Rabin-Karp fold (functions.text.gram_rolling_hashes); frequency
       gate on the int hash — the full-corpus shuffle moves (hash, 1)
       pairs, never text;
    2. **exact confirm**: only gate survivors extract their substring
       and re-count grouped by the text itself, eliminating rolling-hash
       collisions — shuffle volume bounded by the candidate count;
    3. **island merge**: per-doc window (bounded by doc length — never a
       corpus-sized partition) merges overlapping/adjacent gram
       positions (equal-length intervals: merge iff the position gap
       ≤ gram_len) into maximal spans.

    Returns one row per maximal span: ``(doc_id, span_start, span_end,
    n_grams)`` with 1-based inclusive char offsets into the
    ascii-normalized text (the rolling-hash domain, see
    functions.text.ascii_normalize).
    """
    from pyspark.sql import Window

    from ..functions.text import ascii_normalize, gram_rolling_hashes

    k = gram_len
    base = docs.select("doc_id", ascii_normalize(F.col("text")).alias("_t"))
    # Arrow-vectorized hash fold: at k=40 an interpreted higher-order
    # fold would be the dominant query cost.
    hs = gram_rolling_hashes(F.col("_t"), k)
    # Materialize the position index ONCE (dedup-module rule, cf.
    # winnow_overlap_pairs): it feeds the frequency gate AND the hit
    # extraction, and the rolling-hash fold is the dominant per-row
    # cost — recomputing it per consumer measured ~4x the query.
    # INTS ONLY in the checkpoint: carrying the doc text per position
    # would materialize ~gram_len x the corpus; survivors re-join the
    # (corpus-sized but keyed) text side instead.
    pos = (
        base.select("doc_id", F.posexplode(hs).alias("_p0", "_h"))
        .select("doc_id", (F.col("_p0") + 1).alias("pos"), "_h")
        .transform(stage)
    )
    cand = (
        pos.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= 2)
        .select("_h")
    )
    # hits is bounded by the true repeat mass (tiny vs the corpus) and
    # feeds the confirm aggregate AND the final projection. NOT staged
    # (r12): recomputing the survivor/base join twice off the staged
    # ``pos`` costs the same as the checkpoint's own materialization at
    # sf0.1 (A/B 2.25 s vs 2.25 s end-to-end) and at 100 TB it removes
    # a repeat-mass-sized write+read in 'reliable' staging. A window-
    # count rewrite of BOTH the gate and this confirm (no checkpoints,
    # one shuffle each) measured 1.6 s vs 2.25 s at sf0.1 but was
    # REJECTED: count-over-window has no partial aggregation and no
    # AQE skew split, so one boilerplate 40-gram shared by ~every doc
    # of a crawl sorts its entire position mass in a single task —
    # precisely the data ExactSubstr dedup exists for. The agg+semi
    # shape keeps map-side combine on the int gate and an AQE-
    # splittable join on both phases (guide §2.4/§3).
    hits = (
        pos.join(cand, "_h", "semi")
        .join(base, "doc_id")
        .select("doc_id", "pos", F.expr(f"substring(_t, pos, {k})").alias("_s"))
    )
    confirmed_grams = (
        hits.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_c2"))
        .where(F.col("_c2") >= 2)
        .select("_s")
    )
    conf = hits.join(confirmed_grams, "_s", "semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    marked = conf.select("doc_id", "pos", brk.alias("_brk"))
    grouped = marked.select(
        "doc_id",
        "pos",
        F.sum("_brk")
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("_isle"),
    )
    return grouped.groupBy("doc_id", "_isle").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("_isle")


def clip_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """APPLY step of ExactSubstr dedup: remove character ranges from each
    doc's ascii-normalized text (the ranges :func:`repeated_spans` found).
    ``spans`` rows are (doc_id, span_start, span_end), 1-based inclusive,
    NON-OVERLAPPING per doc — exactly the island-merged output shape.

    Surgery is relational, not procedural: each span contributes the
    segment between the previous span's end and its own start (a lag
    window over the doc's spans — bounded by spans-per-doc, never corpus-
    sized), one tail segment closes the doc, and the segments concatenate
    in position order. Docs with no spans pass through unchanged via the
    left join. Output: (doc_id, clipped_text, n_clipped_chars).
    """
    from pyspark.sql import Window

    from ..functions.text import ascii_normalize

    base = docs.select("doc_id", ascii_normalize(F.col("text")).alias("_t"))
    sp = spans.select(
        "doc_id",
        F.col("span_start").alias("_s"),
        F.col("span_end").alias("_e"),
    ).join(base, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("_s")
    seg_start = F.coalesce(F.lag("_e").over(w), F.lit(0)) + 1
    # seg_start must exist before the substring referencing it: compute in
    # two hops (expressions can't reference a sibling alias in one select)
    segs = (
        sp.withColumn("seg_start", seg_start)
        .select(
            "doc_id",
            "_s",
            "_e",
            F.expr("substring(_t, seg_start, _s - seg_start)").alias("_seg"),
        )
    )
    heads = segs.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_s", "_seg"))),
                lambda x: x["_seg"],
            ),
            "",
        ).alias("_head"),
        F.max("_e").alias("_me"),
    )
    joined = base.join(heads, "doc_id", "left")
    clipped = F.when(
        F.col("_me").isNull(), F.col("_t")
    ).otherwise(
        F.concat(
            F.col("_head"),
            F.expr("substring(_t, _me + 1, length(_t) - _me)"),
        )
    )
    return joined.select(
        "doc_id",
        clipped.alias("clipped_text"),
        (F.length("_t") - F.length(clipped)).cast("long").alias(
            "n_clipped_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC)
# ---------------------------------------------------------------------------

#: CDC rolling-hash gram width (chars).
CDC_K = 16

#: CDC boundary divisor: a gram ending at position p cuts the text when
#: its Rabin hash % CDC_DIV == 0 — expected chunk length ~ CDC_DIV.
CDC_DIV = 64


def cdc_chunk_rows(docs: DataFrame) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS/rsync family, no
    min/max clamp): cut the ascii-normalized text after every position
    whose CDC_K-gram Rabin hash is ≡ 0 (mod CDC_DIV), so chunk boundaries
    are CONTENT-anchored — an insertion re-chunks only its own
    neighborhood, which is what makes chunk-hash storage dedup work
    across document revisions (the fixed-size splitter
    queries.q_doc_chunks cannot give this: one inserted byte shifts
    every later chunk).

    Returns one row per chunk: (doc_id, ascii_len, chunk_hash,
    chunk_len) — the chunk TEXT never leaves the map task (md5 + length
    are computed in the same projection), so downstream dedup joins
    shuffle 16-byte hashes, not documents. Empty docs emit no rows
    (callers LEFT JOIN, see queries.q_doc_cdc_chunks). Boundary
    positions derive from the SAME Rabin fold as the winnowing
    fingerprints (functions.text.gram_rolling_hashes, pinned to a
    pure-Python reference by property test), so any engine reproduces
    the exact cuts.
    """
    from ..functions.text import ascii_normalize, gram_rolling_hashes

    a = docs.select(
        "doc_id", ascii_normalize(F.col("text")).alias("_a")
    ).withColumn("_h", gram_rolling_hashes(F.col("_a"), CDC_K))
    # gram start positions (1-based) whose hash hits the boundary; the
    # cut falls after the gram's LAST char (i + k - 1). Spark's
    # sequence(1, 0) steps DOWNWARD, so the no-gram case is guarded.
    pos = F.when(
        F.size("_h") >= 1,
        F.filter(
            F.sequence(F.lit(1), F.size("_h")),
            lambda i: F.element_at(F.col("_h"), i) % CDC_DIV == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.transform(pos, lambda i: (i + F.lit(CDC_K - 1)).cast("long"))
    allp = F.array_distinct(
        F.concat(
            F.array(F.lit(0).cast("long")),
            cuts,
            F.array(F.length("_a").cast("long")),
        )
    )
    staged = a.select("doc_id", "_a", allp.alias("_p"))
    nseg = F.size("_p") - 1
    chunks = F.when(
        nseg >= 1,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda j: F.substring(
                F.col("_a"),
                (F.get("_p", j) + 1).cast("int"),
                (F.get("_p", j + 1) - F.get("_p", j)).cast("int"),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rows = staged.select(
        "doc_id",
        F.length("_a").cast("long").alias("ascii_len"),
        F.explode(chunks).alias("_c"),
    )
    return rows.select(
        "doc_id",
        "ascii_len",
        F.md5(F.encode(F.col("_c"), "UTF-8")).alias("chunk_hash"),
        F.length("_c").cast("long").alias("chunk_len"),
    )
