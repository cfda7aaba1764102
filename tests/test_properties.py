"""Property-based tests (hypothesis) — SURVEY §5.4.

Encode the reference's implicit contracts as invariants over arbitrary
input: parsers drop, never raise; filters select subsets; dedup is
idempotent; decoded values stay in representable ranges. Spark job startup
dominates per-example cost, so each property runs ONE Spark job over a
batch of generated examples instead of one job per example.
"""

from __future__ import annotations

import base64
import re
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.config import KYIV_BBOX_POLLER
from kyiv_traffic_bigdata_spark.operators.dedup import exact_duplicates
from kyiv_traffic_bigdata_spark.operators.latest import dedup_exact
from kyiv_traffic_bigdata_spark.sources.eway import decode_messages
from kyiv_traffic_bigdata_spark.sources.kpt import parse_messages

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

printable = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=200,
)


def _ascii_normalize(t):
    """Python reference of functions.text.ascii_normalize (on ASCII)."""
    t = re.sub(r"\s+", " ", t.strip().lower())
    return re.sub(r"[^ -~]", "", t)


@given(st.lists(printable, min_size=1, max_size=30))
@SETTINGS
def test_kpt_parser_never_raises_and_always_in_bbox(spark, lines):
    """The 'bad input is dropped, never fatal' contract (parsers.py:33-53)
    + F1: every surviving row is inside the bbox with non-null ids."""
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_messages(raw, default_ts=F.lit(0)).collect()
    for r in out:
        assert KYIV_BBOX_POLLER.contains(r.lat, r.lon)
        assert r.vehicle_id is not None and r.route_id is not None


@given(
    st.lists(
        st.tuples(
            st.integers(1, 5),  # vehicle_id
            st.floats(45.0, 55.0, allow_nan=False),
            st.floats(25.0, 35.0, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    )
)
@SETTINGS
def test_bbox_filter_is_a_subset(spark, rows):
    df = spark.createDataFrame(rows, "vehicle_id long, lat double, lon double")
    kept = df.where(
        F.col("lat").between(KYIV_BBOX_POLLER.lat_min, KYIV_BBOX_POLLER.lat_max)
        & F.col("lon").between(KYIV_BBOX_POLLER.lon_min, KYIV_BBOX_POLLER.lon_max)
    )
    assert kept.count() <= df.count()
    assert kept.exceptAll(df).count() == 0


@given(
    st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 5), st.integers(0, 1000)),
        min_size=1,
        max_size=60,
    )
)
@SETTINGS
def test_dedup_exact_idempotent_and_key_unique(spark, rows):
    """ST3-as-batch: dedup(dedup(x)) == dedup(x); one row per key; output
    rows all come from the input."""
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long")
    once = dedup_exact(df)
    twice = dedup_exact(once)
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice
    keys = [(r.user_id, r.ts_us) for r in once.collect()]
    assert len(keys) == len(set(keys)) == len({(k, t) for k, t, _ in rows})
    assert once.exceptAll(df).count() == 0


@given(st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=20))
@SETTINGS
def test_eway_decoder_total_and_in_range(spark, blobs):
    """P7 totality: arbitrary bytes (base64'd) decode without error; every
    row is within the uint32/1e8 representable range with aligned offsets."""
    msgs = [base64.b64encode(b).decode() for b in blobs]
    raw = spark.createDataFrame([(m,) for m in msgs], "value string")
    rows = decode_messages(raw, min_len=0).collect()
    expected = sum(len(b) // 8 for b in blobs)
    assert len(rows) == expected
    for r in rows:
        assert 0 <= r.latitude < 43 and 0 <= r.longitude < 43
        assert r.offset % 8 == 0


@given(st.lists(st.sampled_from(["aaa bbb", "xyz", "aaa  bbb", "  "]), min_size=1, max_size=30))
@SETTINGS
def test_exact_dup_copies_sum_to_input(spark, texts):
    """Exact dedup partitions the corpus: copy counts sum to row count and
    whitespace-normalized equal texts share a fingerprint group."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    groups = exact_duplicates(df).collect()
    assert sum(g.copies for g in groups) == len(texts)
    norm = {" ".join(t.lower().split()) for t in texts}
    assert len(groups) == len(norm)


ascii_word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)


@given(
    st.lists(
        st.tuples(
            st.lists(ascii_word, min_size=0, max_size=20),  # prefix words
            st.lists(ascii_word, min_size=3, max_size=6),   # shared words
            st.lists(ascii_word, min_size=0, max_size=20),  # suffix words
        ),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark, cases):
    """The winnowing guarantee (Schleimer/Wilkerson/Aiken): two docs
    sharing a substring of length >= w + k - 1 (10 chars at k=7, w=4)
    must share at least one fingerprint. Shared word runs are joined with
    single spaces so normalize_text preserves them verbatim in both docs."""
    from kyiv_traffic_bigdata_spark.operators.dedup import winnow_fingerprints

    rows = []
    expected_pairs = []
    for i, (pre, shared, suf) in enumerate(cases):
        mid = " ".join(shared)
        a_id, b_id = 2 * i, 2 * i + 1
        rows.append((a_id, " ".join([*pre, mid])))
        rows.append((b_id, " ".join([mid, *suf])))
        if len(mid) >= 10:
            expected_pairs.append((a_id, b_id))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set(r.fps) for r in winnow_fingerprints(docs).collect()}
    for a_id, b_id in expected_pairs:
        assert fps[a_id] & fps[b_id], (a_id, b_id)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label propagation must agree with a sequential
    union-find on arbitrary graphs (self-loops and duplicates included)."""
    from kyiv_traffic_bigdata_spark.operators.graph import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {n for e in edges for n in e}
    expect = {}
    roots: dict[int, int] = {}
    for n in sorted(nodes):
        r = find(n)
        roots.setdefault(r, n)  # smallest member labels the component
        expect[n] = roots[r]

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == expect


#: Random small graphs (self-loops and duplicates included) plus long
#: paths, whose diameter keeps the graph loops running for many rounds.
small_graphs = st.one_of(
    st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=30),
    st.integers(2, 14).map(lambda n: [(i, i + 1) for i in range(n - 1)]),
)


def _adjacency(edges):
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


@SETTINGS
@given(small_graphs, st.integers(2, 9), st.integers(1, 5))
def test_bfs_depths_match_python_bfs(spark, edges, seed_mod, max_depth):
    """Multi-source BFS must equal a depth-capped Python BFS: an empty
    frontier ends the loop early, and the cap cuts a long path off."""
    from kyiv_traffic_bigdata_spark.operators.graph import bfs_depths

    adj = _adjacency(edges)
    expect = {v: 0 for v in adj if v % seed_mod == 0}
    frontier = set(expect)
    for d in range(1, max_depth + 1):
        frontier = {w for v in frontier for w in adj[v]} - expect.keys()
        expect.update((w, d) for w in frontier)

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.depth
        for r in bfs_depths(df, seed_mod=seed_mod, max_depth=max_depth).collect()
    }
    assert got == expect


@SETTINGS
@given(small_graphs, st.integers(1, 3), st.integers(1, 5))
@example(edges=[(i, i + 1) for i in range(11)], k=2, rounds=4)
def test_k_core_matches_python_peel(spark, edges, k, rounds):
    """k_core must equal exactly ``rounds`` Python peel rounds, including
    a peel the round cap cuts short: the 12-node path needs 6 rounds."""
    from kyiv_traffic_bigdata_spark.operators.graph import k_core

    kept = list(edges)
    for _ in range(rounds):
        deg = Counter(v for e in kept for v in e)
        kept = [(a, b) for a, b in kept if deg[a] >= k and deg[b] >= k]
    expect = dict(Counter(v for e in kept for v in e))

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.deg for r in k_core(df, k, rounds).collect()}
    assert got == expect


@SETTINGS
@given(small_graphs, st.integers(1, 5))
def test_label_propagation_matches_python_lpa(spark, edges, rounds):
    """Synchronous LPA must equal a Python reference: each round every
    node takes its neighbors' most frequent label, ties to the smallest."""
    from kyiv_traffic_bigdata_spark.operators.graph import label_propagation

    adj = _adjacency(edges)
    expect = {v: v for v in adj}
    for _ in range(rounds):
        expect = {
            v: min(c, key=lambda lb: (-c[lb], lb))
            for v, c in ((v, Counter(expect[w] for w in adj[v])) for v in adj)
        }

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.label for r in label_propagation(df, rounds).collect()}
    assert got == expect


@SETTINGS
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(-50, 500)), max_size=25),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 500), st.integers(0, 200)),
        max_size=15,
    ),
    st.integers(1, 300),
)
def test_interval_join_bin_blocking_is_lossless(spark, pts, ivs, bin_width):
    """For ANY bin width, bin blocking must produce exactly the
    inequality-join pairs, each once (negative timestamps included —
    floor division must keep working left of zero)."""
    from kyiv_traffic_bigdata_spark.operators.interval import interval_join

    points = spark.createDataFrame(
        [(k, i, t) for i, (k, t) in enumerate(pts)] or [(0, 0, 0)],
        "user_id long, pid long, ts_us long",
    )
    intervals = spark.createDataFrame(
        [(k, i, lo, lo + w) for i, (k, lo, w) in enumerate(ivs)] or [(9, 0, 1, 2)],
        "user_id long, iid long, err_start long, err_end long",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(points, intervals, bin_width).collect()
    )
    brute = sorted(
        (r.pid, r.iid)
        for r in points.join(intervals, "user_id")
        .where((F.col("ts_us") >= F.col("err_start")) & (F.col("ts_us") <= F.col("err_end")))
        .collect()
    )
    assert got == brute


@SETTINGS
@given(st.lists(printable, max_size=10))
def test_polling_codec_roundtrip(packets):
    """Engine.IO length-prefixed framing round-trips arbitrary packet
    text (lengths are counted in characters, not bytes)."""
    from kyiv_traffic_bigdata_spark.streaming.transport import (
        decode_polling_payload,
        encode_polling_payload,
    )

    assert decode_polling_payload(encode_polling_payload(packets)) == packets


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=3, max_value=6),
)
@SETTINGS
def test_repeated_spans_match_bruteforce(spark, texts, k):
    """repeated_spans == a naive python reference on tiny adversarial
    corpora (2-letter alphabet forces dense repeats; k small enough that
    islands, self-repeats, and cross-doc repeats all occur)."""
    from collections import Counter

    from kyiv_traffic_bigdata_spark.operators.dedup import repeated_spans

    norm = [_ascii_normalize(t) for t in texts]
    counts = Counter(
        t[i : i + k] for t in norm for i in range(len(t) - k + 1)
    )
    expected = set()
    for doc_id, t in enumerate(norm):
        hits = [
            i + 1
            for i in range(len(t) - k + 1)
            if counts[t[i : i + k]] >= 2
        ]
        # merge islands: equal-length intervals, merge iff gap <= k
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= k:
                spans[-1] = (spans[-1][0], p)
            else:
                spans.append((p, p))
        for s, e in spans:
            n_grams = len([p for p in hits if s <= p <= e])
            expected.add((doc_id, s, e + k - 1, n_grams))

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in repeated_spans(docs, gram_len=k).collect()
    }
    assert got == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=9),
)
@SETTINGS
def test_rolling_hashes_and_winnow_match_python_reference(spark, texts, k):
    """gram_rolling_hashes / winnowed_fps == a pure-Python reference: a
    Rabin-Karp fold with ROLL_BASE/ROLL_MOD over every k-gram of the
    ascii-normalized text, then the minimum of every w-wide window,
    distinct in first-occurrence order; fewer than w grams keep the
    single minimum, no grams stay empty."""
    from kyiv_traffic_bigdata_spark.functions.text import (
        ROLL_BASE,
        ROLL_MOD,
        WINNOW_W,
        ascii_normalize,
        gram_rolling_hashes,
        winnowed_fps,
    )

    w = WINNOW_W

    def gram_hashes(t):
        out = []
        for i in range(len(t) - k + 1):
            acc = 0
            for c in t[i : i + k]:
                acc = (acc * ROLL_BASE + ord(c)) % ROLL_MOD
            out.append(acc)
        return out

    def winnow(h):
        if len(h) < w:
            return [min(h)] if h else []
        mins = [min(h[i : i + w]) for i in range(len(h) - w + 1)]
        return list(dict.fromkeys(mins))

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", ascii_normalize(F.col("text")).alias("_a"))
    got = docs.select(
        "doc_id",
        gram_rolling_hashes(F.col("_a"), k).alias("h"),
        winnowed_fps(F.col("_a"), k).alias("fps"),
    ).collect()
    assert len(got) == len(texts)
    for r in got:
        h = gram_hashes(_ascii_normalize(texts[r.doc_id]))
        assert list(r.h) == h, r.doc_id
        assert list(r.fps) == winnow(h), r.doc_id


@given(
    st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=120
    )
)
@SETTINGS
def test_cms_never_undercounts_and_is_exact_without_collisions(spark, keys):
    """Count-min invariants over arbitrary key multisets: the
    min-over-depth estimate is >= the true count for EVERY key (with a
    width so small collisions are certain), and equals it exactly when
    the width makes collisions impossible for the key universe."""
    from collections import Counter

    from kyiv_traffic_bigdata_spark.functions.sketch import cms_buckets

    truth = Counter(keys)
    df = spark.createDataFrame([(str(k),) for k in keys], "k string")

    def estimates(depth, width):
        cells = (
            df.select("k", F.explode(cms_buckets(F.col("k"), depth, width)).alias("s"))
            .select("k", "s.j", "s.b")
        )
        counters = (
            df.select(F.explode(cms_buckets(F.col("k"), depth, width)).alias("s"))
            .groupBy("s.j", "s.b")
            .count()
        )
        est = (
            cells.dropDuplicates(["k", "j", "b"])
            .join(counters, ["j", "b"])
            .groupBy("k")
            .agg(F.min("count").alias("est"))
        )
        return {r["k"]: r["est"] for r in est.collect()}

    tight = estimates(depth=2, width=4)
    assert all(tight[str(k)] >= c for k, c in truth.items()), (tight, truth)
    roomy = estimates(depth=2, width=1 << 20)
    assert all(roomy[str(k)] == c for k, c in truth.items()), (roomy, truth)
