"""Custom stateful operator tests: applyInPandasWithState trajectory
speeds must carry per-vehicle state ACROSS micro-batches (the property a
lag window cannot give you incrementally)."""

from __future__ import annotations

import pytest

import json
import time

from kyiv_traffic_bigdata_spark.streaming.stateful import streaming_trajectory_speeds

SCHEMA = "vehicle_id long, lat double, lon double, ts long"


class _FakeGroupState:
    """Sans-IO stand-in for ``GroupState`` (same seam discipline as the
    transport tests' fake sockets)."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms

    def remove(self):
        self._v = None


def _write_batch(dirpath, name, rows):
    (dirpath / name).write_text(
        "\n".join(
            json.dumps(dict(zip(("vehicle_id", "lat", "lon", "ts"), r))) for r in rows
        )
        + "\n"
    )


def _run_until_read(frame, name, ckpt, n_rows, timeout_s=120):
    """Run ``frame`` into memory table ``name`` with an availableNow
    trigger until its progress shows ``n_rows`` input rows read, then
    stop it. The operator's processing-time timeout keeps the query
    running no-data batches after the input is drained, so neither
    awaitTermination nor processAllAvailable would return."""
    q = (
        frame.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    read = 0
    try:
        deadline = time.time() + timeout_s
        while q.isActive and time.time() < deadline:
            read = sum(p["numInputRows"] for p in q.recentProgress)
            if read >= n_rows:
                break
            time.sleep(0.2)
        assert read == n_rows, (read, q.exception())
    finally:
        q.stop()


@pytest.mark.slow
def test_state_carries_across_micro_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: two fixes for vehicle 1 (one in-batch pair), one fix for 2
    _write_batch(src, "b1.json", [(1, 50.40, 30.50, 1000), (1, 50.41, 30.50, 1060), (2, 50.45, 30.52, 1000)])

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    speeds = streaming_trajectory_speeds(stream)
    q = (
        speeds.writeStream.format("memory")
        .queryName("traj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM traj_out").count() >= 1:
                break
            time.sleep(0.5)
        # batch 2: next fix for each vehicle -> both pair with REMEMBERED state
        _write_batch(src, "b2.json", [(1, 50.42, 30.50, 1120), (2, 50.46, 30.52, 1060)])
        while time.time() < deadline:
            if spark.sql("SELECT * FROM traj_out").count() >= 3:
                break
            time.sleep(0.5)
        rows = {(r.vehicle_id, r.ts): r for r in spark.sql("SELECT * FROM traj_out").collect()}
    finally:
        q.stop()

    # in-batch pair (batch 1)
    assert (1, 1060) in rows
    # cross-batch pairs: vehicle 1's third fix against batch-1 state,
    # vehicle 2's second fix against its single batch-1 fix
    assert (1, 1120) in rows and (2, 1060) in rows
    v2 = rows[(2, 1060)]
    assert v2.dt_s == 60 and 0 < v2.speed_kmh < 120
    # ~1.11 km in 60 s -> ~67 km/h for vehicle 1's steps
    assert abs(rows[(1, 1060)].speed_kmh - rows[(1, 1120)].speed_kmh) < 5


def test_implausible_pairs_are_gated(spark, tmp_path):
    src = tmp_path / "src2"
    src.mkdir()
    # dt=0 (dup ts), dt > 300 s gap, and a teleport (>120 km/h) all drop
    _write_batch(
        src,
        "b1.json",
        [
            (7, 50.40, 30.50, 1000),
            (7, 50.41, 30.50, 1000),   # dt=0
            (7, 51.40, 30.50, 1030),   # ~111 km in 30 s -> gated
            (7, 51.41, 30.50, 2000),   # dt=970 > 300 -> gated
        ],
    )
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    _run_until_read(
        streaming_trajectory_speeds(stream), "traj_gated", str(tmp_path / "ckpt2"), 4
    )
    assert spark.sql("SELECT * FROM traj_gated").count() == 0


def test_speed_fn_logic_sans_io():
    """make_speed_fn's per-key logic driven directly against a fake
    GroupState: in-batch pairing, cross-batch state carry, guard
    gating, state advance, TTL re-arming and timeout eviction."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_speed_fn

    fn = make_speed_fn(state_ttl_s=60)
    state = _FakeGroupState()

    b1 = pd.DataFrame(
        {"lat": [50.40, 50.41], "lon": [30.50, 30.50], "ts": [1000, 1060]}
    )
    out1 = pd.concat(list(fn((1,), iter([b1]), state)))
    assert list(out1["ts"]) == [1060] and list(out1["dt_s"]) == [60]
    # state advanced to the newest fix, TTL armed
    assert state.get[2] == 1060
    assert state.timeout_ms == 60_000

    # batch 2: one fix -> pairs against REMEMBERED state
    b2 = pd.DataFrame({"lat": [50.42], "lon": [30.50], "ts": [1120]})
    out2 = pd.concat(list(fn((1,), iter([b2]), state)))
    assert list(out2["ts"]) == [1120] and list(out2["dt_s"]) == [60]

    # implausible gap is gated but still advances state
    b3 = pd.DataFrame({"lat": [50.43], "lon": [30.50], "ts": [99_999_999]})
    assert list(fn((1,), iter([b3]), state)) == []
    assert state.get[2] == 99_999_999

    # the TTL firing evicts the vehicle without emitting
    state.hasTimedOut = True
    assert list(fn((1,), iter([]), state)) == []
    assert not state.exists


def test_streaming_sessionize_closes_on_gap_across_batches(spark, tmp_path):
    """Sessions must extend across micro-batches and close exactly once
    when the gap exceeds the threshold — matching the batch twin
    (operators/windows.sessionize) on the closed prefix."""
    import json as _json

    from kyiv_traffic_bigdata_spark.operators.windows import sessionize
    from kyiv_traffic_bigdata_spark.streaming.stateful import streaming_sessionize

    US = 1_000_000
    src = tmp_path / "sess_src"
    src.mkdir()

    def write(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps({"user_id": u, "ts_us": t * US}) for u, t in rows)
            + "\n"
        )

    # batch 1: user 1 [1000, 1060]; user 2 [1000] — all one open session each
    write("b1.json", [(1, 1000), (1, 1060), (2, 1000)])
    stream = spark.readStream.schema("user_id long, ts_us long").json(str(src))
    q = (
        streaming_sessionize(stream, gap_s=300)
        .writeStream.format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        # batch 2: 1100 extends user 1's session (gap 40 ≤ 300); 3000
        # exceeds the gap → closes [1000..1100] with 3 events
        while time.time() < deadline and not (src / "b1.json").exists():
            time.sleep(0.2)
        time.sleep(2)
        write("b2.json", [(1, 1100), (1, 3000)])
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM sess_out").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert len(rows) == 1
    got = rows[0]
    assert (got.user_id, got.n_events) == (1, 3)
    assert got.session_start_us == 1000 * US and got.session_end_us == 1100 * US
    # parity: the batch sessionizer on the full history produces the same
    # closed session as its first user-1 session
    batch = spark.createDataFrame(
        [(1, 1000 * US), (1, 1060 * US), (1, 1100 * US), (1, 3000 * US),
         (2, 1000 * US)],
        "user_id long, ts_us long",
    )
    b = {
        (r.user_id, r.session_seq): r
        for r in sessionize(batch, "user_id", "ts_us", 300).collect()
    }
    first = b[(1, 1)]
    assert first.session_start_s == 1000 and first.session_end_s == 1100
    assert first.n_events == 3


def test_stateful_ops_run_on_both_state_store_providers(spark, tmp_path):
    """SURVEY §4 posture: the stateful operators must run green on the
    RocksDB provider (disk-bounded state at 100 TB) AND on the default
    in-memory provider (the fallback when the native lib is absent)."""
    import pytest

    from kyiv_traffic_bigdata_spark.streaming.state import (
        HDFS_PROVIDER,
        ROCKSDB_PROVIDER,
        configure_state_store,
        rocksdb_available,
    )

    if not rocksdb_available(spark):
        pytest.skip("rocksdbjni absent in this JVM; fallback path covered")

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf_key, None)
    try:
        for prefer, provider in ((True, ROCKSDB_PROVIDER), (False, HDFS_PROVIDER)):
            assert configure_state_store(spark, prefer_rocksdb=prefer) == provider
            assert spark.conf.get(conf_key) == provider
            tag = "rocks" if prefer else "hdfs"
            src = tmp_path / f"src_{tag}"
            src.mkdir()
            _write_batch(
                src, "b1.json", [(1, 50.40, 30.50, 1000), (1, 50.41, 30.50, 1060)]
            )
            stream = spark.readStream.schema(SCHEMA).json(str(src))
            _run_until_read(
                streaming_trajectory_speeds(stream),
                f"prov_{tag}",
                str(tmp_path / f"ckpt_{tag}"),
                2,
            )
            assert spark.sql(f"SELECT * FROM prov_{tag}").count() == 1, provider
    finally:
        if old is not None:
            spark.conf.set(conf_key, old)
        else:
            spark.conf.unset(conf_key)


def test_session_fn_late_event_does_not_regress_session_end():
    """A reordered (late) event may extend the count and widen the start
    downward (matching the batch twin's full-history sort) but must never
    pull the session end below an already-observed timestamp."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_session_fn

    US = 1_000_000
    fn = make_session_fn(gap_s=300)
    state = _FakeGroupState((800 * US, 1000 * US, 2))  # open session, end=1000s
    # batch delivers a LATE event (700s) then a fresh one (1100s)
    out = list(
        fn((1,), iter([pd.DataFrame({"ts_us": [700 * US, 1100 * US]})]), state)
    )
    assert out == []  # nothing closed: 1100-1000=100s is within the gap
    start, last, n = state.get
    # start widens to the late 700s event — the batch twin sorting the
    # full history (700, 800, 1000, 1100) reports the same session
    assert (start, last, n) == (700 * US, 1100 * US, 4)


def test_session_fn_logic_sans_io():
    """make_session_fn's per-key logic against a fake GroupState:
    cross-batch extension, gap-close emission, late-data widening, TTL
    re-arming and the timeout flush of the open session."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_session_fn

    US = 1_000_000
    fn = make_session_fn(gap_s=300, state_ttl_s=60)
    state = _FakeGroupState()

    # batch 1 opens a session; nothing closes; TTL armed
    b1 = pd.DataFrame({"ts_us": [1000 * US, 1060 * US]})
    assert list(fn((1,), iter([b1]), state)) == []
    assert state.get == (1000 * US, 1060 * US, 2)
    assert state.timeout_ms == 60_000

    # batch 2: 1100 extends (gap 40 <= 300); 3000 closes [1000..1100]x3
    b2 = pd.DataFrame({"ts_us": [1100 * US, 3000 * US]})
    out2 = pd.concat(list(fn((1,), iter([b2]), state)))
    assert out2.to_dict("records") == [
        {
            "user_id": 1,
            "session_start_us": 1000 * US,
            "session_end_us": 1100 * US,
            "n_events": 3,
        }
    ]
    assert state.get == (3000 * US, 3000 * US, 1)

    # late event widens the open session's start (batch-twin parity)
    b3 = pd.DataFrame({"ts_us": [2950 * US]})
    assert list(fn((1,), iter([b3]), state)) == []
    assert state.get == (2950 * US, 3000 * US, 2)

    # the TTL firing flushes the open session exactly once
    state.hasTimedOut = True
    flushed = pd.concat(list(fn((1,), iter([]), state)))
    assert flushed.to_dict("records") == [
        {
            "user_id": 1,
            "session_start_us": 2950 * US,
            "session_end_us": 3000 * US,
            "n_events": 2,
        }
    ]
    assert not state.exists
    assert list(fn((1,), iter([]), state)) == []


def test_burst_fn_flags_cross_batch_bursts():
    """k=3 within 600s: the third event arriving in a LATER batch must
    still burst against the two remembered timestamps, and state keeps
    exactly the last k-1."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_burst_fn

    US = 1_000_000
    fn = make_burst_fn(k=3, window_s=600, state_ttl_s=600)
    state = _FakeGroupState()
    out1 = list(
        fn((7,), iter([pd.DataFrame({"ts_us": [1000 * US, 1100 * US]})]), state)
    )
    assert out1 == []  # only two events so far
    assert list(state.get[0]) == [1000 * US, 1100 * US]

    out2 = list(
        fn((7,), iter([pd.DataFrame({"ts_us": [1200 * US, 9000 * US]})]), state)
    )
    (df,) = out2
    assert list(df["ts_us"]) == [1200 * US]  # 1200-1000=200s <= 600s
    assert list(df["span_us"]) == [200 * US]
    # 9000s is 7800s after its 2-back predecessor: no burst; state slides
    assert list(state.get[0]) == [1200 * US, 9000 * US]

    # timeout clears history
    state.hasTimedOut = True
    assert list(fn((7,), iter([]), state)) == []
    assert not state.exists


def test_burst_fn_matches_batch_window_semantics():
    """One-batch feed must reproduce the batch twin's lag(k-1) flags
    exactly (same k/window as q_event_bursts)."""
    import random

    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_burst_fn

    rng = random.Random(3)
    US = 1_000_000
    ts = sorted(rng.randrange(0, 100_000) * US for _ in range(60))
    k, win = 3, 14400
    fn = make_burst_fn(k=k, window_s=win, state_ttl_s=86400)
    out = list(fn((1,), iter([pd.DataFrame({"ts_us": ts})]), _FakeGroupState()))
    got = sorted(t for df in out for t in df["ts_us"])
    exp = [
        ts[j]
        for j in range(len(ts))
        if j >= k - 1 and ts[j] - ts[j - (k - 1)] <= win * US
    ]
    assert got == exp


def test_burst_fn_guards():
    import pytest

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_burst_fn

    with pytest.raises(ValueError):
        make_burst_fn(k=1)
    with pytest.raises(ValueError):
        make_burst_fn(k=3, window_s=600, state_ttl_s=300)


def test_streaming_event_bursts_end_to_end(spark, tmp_path):
    """Real streaming run: two micro-batches; the cross-batch third
    event must emit a burst row through the full
    applyInPandasWithState machinery."""
    import json
    import time

    from kyiv_traffic_bigdata_spark.streaming.stateful import (
        streaming_event_bursts,
    )

    US = 1_000_000
    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"user_id": u, "ts_us": t}) for u, t in rows)
        )

    write("b1.json", [(1, 1000 * US), (1, 1100 * US), (2, 5000 * US)])
    stream = spark.readStream.schema("user_id long, ts_us long").json(str(src))
    q = (
        streaming_event_bursts(stream, k=3, window_s=600, state_ttl_s=3600)
        .writeStream.format("memory")
        .queryName("bursts")
        .option("checkpointLocation", str(tmp_path / "ckpt_bursts"))
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        write("b2.json", [(1, 1200 * US), (2, 5100 * US)])
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM bursts").collect()
            if rows:
                break
            time.sleep(0.5)
        assert [(r.user_id, r.ts_us, r.span_us) for r in rows] == [
            (1, 1200 * US, 200 * US)
        ]
    finally:
        q.stop()


def _md5_hash(s):
    import hashlib

    return int(hashlib.md5(str(s).encode()).hexdigest()[:8], 16)


def _kmv_expected(user_ids, k):
    import math

    hs = sorted({_md5_hash(u) for u in user_ids})[:k]
    n, kth = len(hs), hs[-1]
    est = (
        float(n)
        if n < k
        else math.floor((k - 1) * 4294967296.0 / kth * 1e6 + 0.5) / 1e6
    )
    return n, kth, est


def test_kmv_fn_order_independent_and_matches_batch_formula():
    """Merging batches in any order must yield the identical sketch and
    estimate as one batch over the union (bottom-k-of-union is
    associative/commutative) — the exact-parity claim of the twin."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_kmv_fn

    users = list(range(30))
    hashes = [_md5_hash(u) for u in users]
    k = 4
    final = []
    for order in (hashes, hashes[::-1], hashes[15:] + hashes[:15]):
        fn = make_kmv_fn(k)
        state = _FakeGroupState()
        out = None
        for chunk in (order[:10], order[10:11], order[11:]):
            for df in fn(("click",), iter([pd.DataFrame({"h": chunk})]), state):
                out = df
        final.append(tuple(out.iloc[0][["n_kept", "kth_hash", "est_users"]]))
    assert len(set(final)) == 1
    n, kth, est = _kmv_expected(users, k)
    assert final[0] == (n, kth, est)


def test_kmv_fn_dedups_within_and_across_batches():
    """Repeated users must not inflate the sketch: distinctness is a
    set-union property of the state, not of any single batch."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_kmv_fn

    fn = make_kmv_fn(8)
    state = _FakeGroupState()
    h = [_md5_hash(u) for u in (1, 2, 3)]
    list(fn(("t",), iter([pd.DataFrame({"h": h + h})]), state))
    (df,) = fn(("t",), iter([pd.DataFrame({"h": h})]), state)
    assert df.iloc[0]["n_kept"] == 3
    assert df.iloc[0]["est_users"] == 3.0


def test_streaming_user_distinct_sketch_end_to_end(spark, tmp_path):
    """Real streaming run: the second micro-batch's users must merge
    into the first's sketch through the full applyInPandasWithState
    machinery, reaching the exact batch-KMV estimate of the union."""
    import json
    import time

    from kyiv_traffic_bigdata_spark.streaming.stateful import (
        streaming_user_distinct_sketch,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps({"event_type": t, "h": _md5_hash(u)}) for t, u in rows
            )
        )

    users1 = [("click", u) for u in range(4)]
    users2 = [("click", u) for u in range(2, 8)]  # overlaps 2,3
    write("b1.json", users1)
    stream = spark.readStream.schema("event_type string, h long").json(str(src))
    q = (
        streaming_user_distinct_sketch(stream, k=4)
        .writeStream.format("memory")
        .queryName("kmv")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .outputMode("update")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        n_exp, kth_exp, est_exp = _kmv_expected(range(8), 4)
        deadline = time.time() + 90
        write("b2.json", users2)
        got = None
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM kmv ORDER BY n_kept DESC, kth_hash ASC"
            ).collect()
            if rows and rows[0].kth_hash == kth_exp:
                got = rows[0]
                break
            time.sleep(0.5)
        assert got is not None, "merged sketch row never appeared"
        assert (got.n_kept, got.kth_hash, got.est_users) == (
            n_exp,
            kth_exp,
            est_exp,
        )
    finally:
        q.stop()


def test_cms_fn_cross_batch_counts_are_exact_sums():
    """Counter cells are plain sums: any batching of the input must
    produce the identical final count as one batch over the union —
    the exact-parity claim of the CMS twin."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_cms_fn

    for chunks in ([5, 3, 2], [10], [1] * 10):
        fn = make_cms_fn()
        state = _FakeGroupState()
        out = None
        for n in chunks:
            for df in fn((1, 7), iter([pd.DataFrame({"x": range(n)})]), state):
                out = df
        assert tuple(out.iloc[0]) == (1, 7, 10)


def test_cms_fn_ignores_empty_batches():
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_cms_fn

    fn = make_cms_fn()
    state = _FakeGroupState()
    assert list(fn((0, 0), iter([pd.DataFrame({"x": []})]), state)) == []
    assert not state.exists


def test_streaming_cms_matches_batch_sketch_end_to_end(spark, tmp_path):
    """Real streaming run: two micro-batches of user events must
    accumulate, through the full applyInPandasWithState machinery, into
    the IDENTICAL d x w counter cells the batch sketch builds over the
    union (cell addressing shared via functions.sketch.cms_buckets)."""
    import json
    import time

    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.functions.sketch import cms_buckets
    from kyiv_traffic_bigdata_spark.streaming.stateful import (
        streaming_cms_counters,
    )

    depth, width = 2, 8
    src = tmp_path / "src"
    src.mkdir()
    users1, users2 = [1, 2, 3, 2], [3, 3, 4]

    def write(name, users):
        (src / name).write_text(
            "\n".join(json.dumps({"user_id": u}) for u in users)
        )

    write("b1.json", users1)
    stream = (
        spark.readStream.schema("user_id long")
        .json(str(src))
        .select(
            F.explode(
                cms_buckets(F.col("user_id").cast("string"), depth, width)
            ).alias("s")
        )
        .select("s.j", "s.b")
    )
    q = (
        streaming_cms_counters(stream)
        .writeStream.format("memory")
        .queryName("cms")
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .outputMode("update")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        expected = (
            spark.createDataFrame(
                [(u,) for u in users1 + users2], "user_id long"
            )
            .select(
                F.explode(
                    cms_buckets(F.col("user_id").cast("string"), depth, width)
                ).alias("s")
            )
            .groupBy("s.j", "s.b")
            .count()
        )
        exp = {(r.j, r.b): r["count"] for r in expected.collect()}
        write("b2.json", users2)
        deadline = time.time() + 90
        got = None
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT j, b, max(c) AS c FROM cms GROUP BY j, b"
            ).collect()
            cur = {(r.j, r.b): r.c for r in rows}
            if cur == exp:
                got = cur
                break
            time.sleep(0.5)
        assert got == exp, f"streamed cells {got} never reached batch {exp}"
    finally:
        q.stop()


def test_rank_cell_fn_cross_batch_counts_are_exact_sums():
    """Dyadic rank-sketch cells are plain sums keyed by
    (group, level, row, bucket): any batching must reach the identical
    final count — the exact-parity claim inherited from the CMS twin."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_rank_cell_fn

    for chunks in ([4, 3, 3], [10], [1] * 10):
        fn = make_rank_cell_fn()
        state = _FakeGroupState()
        out = None
        for n in chunks:
            for df in fn(
                ("1-URGENT", 5, 1, 13),
                iter([pd.DataFrame({"x": range(n)})]),
                state,
            ):
                out = df
        assert tuple(out.iloc[0]) == ("1-URGENT", 5, 1, 13, 10)


def test_streaming_rank_sketch_matches_batch_cells_and_quantiles(
    spark, tmp_path
):
    """Real streaming run: two micro-batches of order values accumulate
    into the IDENTICAL counter table operators.qsketch builds over the
    union (cell addressing shared via dyadic_cells), so quantile
    descents over the streamed cells equal the batch answers exactly."""
    import json
    import time

    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.operators.qsketch import (
        build_rank_sketch,
        descend_quantile,
        dyadic_cells,
    )
    from kyiv_traffic_bigdata_spark.streaming.stateful import (
        streaming_rank_sketch_cells,
    )

    levels, depth, width = 8, 2, 16
    src = tmp_path / "src"
    src.mkdir()
    vals1 = [(i * 53) % 256 for i in range(40)]
    vals2 = [(i * 29 + 7) % 256 for i in range(35)]

    def write(name, vals):
        (src / name).write_text(
            "\n".join(json.dumps({"g": "a", "v": v}) for v in vals)
        )

    write("b1.json", vals1)
    stream = (
        spark.readStream.schema("g string, v long")
        .json(str(src))
        .select(
            "g",
            F.explode(
                dyadic_cells(F.col("v"), levels, depth, width)
            ).alias("s"),
        )
        .select("g", "s.lvl", "s.j", "s.b")
    )
    q = (
        streaming_rank_sketch_cells(stream)
        .writeStream.format("memory")
        .queryName("qrank")
        .option("checkpointLocation", str(tmp_path / "ckpt_qrank"))
        .outputMode("update")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        union = spark.createDataFrame(
            [("a", v) for v in vals1 + vals2], "g string, v long"
        )
        exp = {
            (r["g"], r["lvl"], r["j"], r["b"]): r["c"]
            for r in build_rank_sketch(
                union, "g", "v", levels, depth, width
            ).collect()
        }
        n_exp = len(vals1) + len(vals2)
        write("b2.json", vals2)
        deadline = time.time() + 90
        got = None
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT g, lvl, j, b, max(c) AS c FROM qrank "
                "GROUP BY g, lvl, j, b"
            ).collect()
            cur = {(r.g, r.lvl, r.j, r.b): r.c for r in rows}
            if sum(v for (_, lvl, j, _), v in cur.items() if lvl == 0 and j == 0) == n_exp:
                got = cur
                break
            time.sleep(0.5)
        assert got == exp, "streamed cells differ from the batch sketch"
        n = n_exp
        for num, den in ((1, 2), (9, 10), (99, 100)):
            target = (num * n + num) // den
            assert descend_quantile(
                got, "a", target, levels, depth, width
            ) == descend_quantile(exp, "a", target, levels, depth, width)
    finally:
        q.stop()


def test_streaming_hll_registers_match_batch_state(spark, tmp_path):
    """The HLL streaming twin is a NATIVE streaming max-aggregate (no
    custom state operator) — two micro-batches must converge to the
    exact register state the batch operator computes over the union,
    and the folded estimate must match batch bit-for-bit."""
    import json
    import time

    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.operators.hll import (
        hll_estimate,
        hll_registers,
    )
    from kyiv_traffic_bigdata_spark.streaming.stateful import (
        streaming_hll_registers,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps({"event_type": t, "h": _md5_hash(u)}) for t, u in rows
            )
        )

    batch1 = [("click", u) for u in range(40)]
    batch2 = [("click", u) for u in range(30, 90)]  # overlap 30..39
    write("b1.json", batch1)

    stream = spark.readStream.schema("event_type string, h long").json(str(src))
    q = (
        streaming_hll_registers(stream)
        .writeStream.format("memory")
        .queryName("hll_regs")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .outputMode("update")
        .trigger(processingTime="1 seconds")
        .start()
    )
    union = spark.createDataFrame(
        [("click", str(u)) for u in range(90)], "event_type string, _u string"
    )
    expected = {
        (r.event_type, r._reg): r._rho
        for r in hll_registers(union, ["event_type"], F.col("_u")).collect()
    }
    try:
        write("b2.json", batch2)
        deadline = time.time() + 90
        got = None
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM hll_regs").collect()
            # update mode re-emits rows; keep the max per register
            state = {}
            for r in rows:
                key = (r.event_type, r._reg)
                state[key] = max(state.get(key, 0), r._rho)
            if state == expected:
                got = state
                break
            time.sleep(0.5)
        assert got == expected, "streaming registers never converged to batch state"
    finally:
        q.stop()

    # folded estimates agree bit-for-bit
    reg_df = spark.createDataFrame(
        [(t, r, rho) for (t, r), rho in got.items()],
        "event_type string, _reg long, _rho long",
    )
    est_stream = hll_estimate(reg_df, ["event_type"]).collect()[0]
    est_batch = hll_estimate(
        hll_registers(union, ["event_type"], F.col("_u")), ["event_type"]
    ).collect()[0]
    assert est_stream.est_distinct == est_batch.est_distinct
    assert est_stream.register_sum == est_batch.register_sum


# ---------------------------------------------------------------------------
# Streaming Misra-Gries summary twin
# ---------------------------------------------------------------------------


def _mg_true_heavy(freqs, k):
    n = sum(freqs.values())
    return {v for v, c in freqs.items() if c * (k + 1) > n}


def test_mg_fn_superset_and_lower_bounds_across_batchings():
    """Whatever the batching, the summary must (a) contain every value
    with total frequency > n/(k+1) and (b) report residuals that lower-
    bound the true counts with error <= n/(k+1) — the mergeable-MG
    guarantee the batch operator (operators/heavy.py) relies on."""
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_mg_fn

    freqs = {"x": 500, "y": 300, **{f"z{i}": 3 for i in range(50)}}
    stream = [v for v, c in sorted(freqs.items()) for _ in range(c)]
    k = 4
    n = len(stream)
    for cuts in ((len(stream),), (100, 500, len(stream) - 600), (7,) * (n // 7) + (n % 7,)):
        fn = make_mg_fn(k)
        state = _FakeGroupState()
        out = None
        i = 0
        for c in cuts:
            chunk = stream[i : i + c]
            i += c
            if not chunk:
                continue
            for df in fn(("web",), iter([pd.DataFrame({"token": chunk})]), state):
                out = df
        got = dict(zip(out["token"], out["residual"]))
        assert int(out["n_total"].iloc[0]) == n
        assert _mg_true_heavy(freqs, k) <= set(got)
        for v, r in got.items():
            assert r <= freqs[v]
            assert freqs[v] - r <= n / (k + 1)


def test_mg_fn_state_is_bounded_and_empty_batches_ignored():
    import pandas as pd

    from kyiv_traffic_bigdata_spark.streaming.stateful import make_mg_fn

    fn = make_mg_fn(3)
    state = _FakeGroupState()
    assert list(fn(("s",), iter([pd.DataFrame({"token": []})]), state)) == []
    assert not state.exists
    for batch in (["a"] * 5 + [f"u{i}" for i in range(20)], ["b"] * 9):
        list(fn(("s",), iter([pd.DataFrame({"token": batch})]), state))
    toks, counts, n_total = state.get
    assert len(toks) <= 3 and len(counts) == len(toks)
    assert n_total == 34


def test_streaming_mg_summary_end_to_end(spark, tmp_path):
    """Real streaming run: the second micro-batch must merge into the
    first's summary through applyInPandasWithState, and the merged
    summary must contain the stream's one true heavy hitter with a
    residual within the MG error bound."""
    import json
    import time

    from kyiv_traffic_bigdata_spark.streaming.stateful import streaming_mg_summary

    src = tmp_path / "src"
    src.mkdir()

    def write(name, toks):
        (src / name).write_text(
            "\n".join(json.dumps({"source": "web", "token": t}) for t in toks)
        )

    b1 = ["hot"] * 30 + [f"r{i}" for i in range(10)]
    b2 = ["hot"] * 30 + [f"s{i}" for i in range(10)]
    write("b1.json", b1)
    stream = spark.readStream.schema("source string, token string").json(str(src))
    q = (
        streaming_mg_summary(stream, k=4)
        .writeStream.format("memory")
        .queryName("mgsum")
        .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
        .outputMode("update")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        n = len(b1) + len(b2)
        deadline = time.time() + 90
        write("b2.json", b2)
        got = None
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM mgsum WHERE n_total = %d AND token = 'hot'" % n
            ).collect()
            if rows:
                got = rows[0]
                break
            time.sleep(0.5)
        assert got is not None, "merged summary row never appeared"
        assert 60 - got.residual <= n / 5  # k=4 -> error <= n/(k+1)
    finally:
        q.stop()
