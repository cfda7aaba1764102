"""Benchmark harness: runs the registered query inventory at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[N] (N:
session.CPUS, $SPARK_GRAFT_CPUS or the process's CPUs) and prints ONE
compact JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "n_queries": N, "sf": 0.1, ...}

The full per-query timing map is written to bench_queries.json next to
this file (the 95-entry inline map exceeded the driver's tail-capture
buffer in round 3, leaving the round without a parsed total).

Each query is forced end-to-end with a noop-format write (full physical
plan executes; nothing is collected to the driver beyond what the query
itself collects). A shared SparkSession amortizes JVM startup — the same
posture as a long-running cluster, which is what the 100 TB target is.
"""

from __future__ import annotations

import json
import os
import sys
import time

from kyiv_traffic_bigdata_spark.queries import QUERIES
from kyiv_traffic_bigdata_spark.session import get_spark
from kyiv_traffic_bigdata_spark.tables import TABLE_NAMES, load_table
from perfbench.stats import loadavg

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def infer_sf(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def map_refresh_verdict(
    map_path: str,
    loadavg: list[float] | None,
    max_load: float,
    saturated_rate: float | None = None,
    min_rate_frac: float = 0.5,
) -> tuple[bool, str | None]:
    """Loadavg gate for the committed per-query map (r08 VERDICT #3):
    an idle-host map must never be overwritten by a refresh taken on a
    contended host — the ±30% load noise would be committed as if it
    were a code regression. Returns (write?, reason-if-skipped).

    "Idle" means BOTH the 1-min and 5-min load averages are at or
    under ``max_load`` (r11 VERDICT "what's wrong" #1: the r11 final
    map passed a 1-min-only gate at loadavg 1.78 while the 5-min
    average was 8.98 — heavy load minutes earlier still depresses the
    first queries of a run via page-cache/cpufreq/JVM-compile
    contention, so a 1-min check alone lets warm-host maps through).

    Rules: always write when the host is idle by that definition, when
    loadavg is unreadable, when the gate is disabled (max_load <= 0),
    or when there is no usable prior map / the prior map was itself
    captured under load (a loaded refresh of a loaded map loses
    nothing). Refuse only when a loaded run would clobber a
    strictly-better (idle-host) map.

    Throughput canary (r12): loadavg cannot see a host that is merely
    SLOW (cpu-quota throttling, noisy neighbors stealing cycles without
    runnable-queue pressure). The bench already measures a pure-engine
    throughput number before the query loop — the saturated ingest
    replay rate — so a refresh whose ``saturated_rate`` falls below
    ``min_rate_frac`` of the prior idle map's is refused even at
    loadavg 0: observed live this round, a loadavg-0.14 host ran the
    saturated replay at 0.9 M pos/s vs the committed map's 5.6 M/s
    (6.3x slower) and every untouched query 2-3x slower with it — an
    environment artifact that would have been committed as a universal
    regression.

    Escape hatches (r12 ADVICE): ``max_load <= 0`` disables BOTH gates
    (it predates the canary and documented "gate disabled" — a refresh
    must then always write), and ``min_rate_frac <= 0`` disables just
    the throughput canary (the ``SPARK_GRAFT_BENCH_MIN_RATE_FRAC`` env
    knob), so a legitimately slower replacement host can refresh the
    map without hand-editing the committed rate field."""

    if max_load <= 0:
        return True, None

    def _busy(la: list[float] | None) -> bool:
        # gate on the worse of (1-min, 5-min); 15-min is history, not
        # contention, and would lock the gate for most of an hour
        return la is not None and max(la[0], la[1]) > max_load

    try:
        with open(map_path) as fh:
            prior = json.load(fh)
        prior_load = prior.get("host_loadavg_prerun_1_5_15")
    except (OSError, ValueError):
        return True, None
    prior_idle = prior_load is not None and len(prior_load) >= 2 and not _busy(
        prior_load
    )
    prior_rate = prior.get("ingest_saturated_positions_per_sec")
    if (
        min_rate_frac > 0
        and prior_idle
        and saturated_rate is not None
        and isinstance(prior_rate, (int, float))
        and prior_rate > 0
        and saturated_rate < min_rate_frac * prior_rate
    ):
        return False, (
            f"saturated ingest rate {saturated_rate:.0f}/s is under "
            f"{min_rate_frac:.0%} of the prior idle-host map's "
            f"{prior_rate:.0f}/s — host throughput degraded (loadavg "
            f"cannot see cpu-quota/neighbor slowness); kept the prior map"
        )
    if loadavg is None or not _busy(loadavg):
        return True, None
    if not prior_idle:
        return True, None
    return False, (
        f"prerun loadavg 1/5-min {loadavg[0]}/{loadavg[1]} > {max_load}: "
        f"kept the prior idle-host map (its prerun loadavg was "
        f"{prior_load[0]}/{prior_load[1]})"
    )


def main() -> None:
    # Host-contention evidence, captured BEFORE Spark spins up one task
    # thread per session CPU (by the end of the run loadavg mostly
    # measures the bench itself): the replay rate has swung 122k-241k
    # pos/s on identical code purely with sandbox load (r04 vs r06), so
    # every bench line carries the pre-run 1/5/15-min load averages.
    try:
        loadavg_start = loadavg()
    except OSError:
        loadavg_start = None
    spark = get_spark("bench")
    errors: dict[str, str] = {}
    # warm the JVM, codegen compiler, and every table's file listing +
    # footer metadata once so per-query numbers measure the queries, not
    # session bootstrap — the long-running-cluster posture the 100 TB
    # target implies. count() touches parquet footers/row-group stats
    # only, no data pages. load_table knows the events nanos quirk.
    # Fault-isolated: one broken table must never zero the whole bench.
    for t in TABLE_NAMES:
        try:
            load_table(spark, SF_DIR, t).count()
        except Exception as exc:  # noqa: BLE001 — report, keep benching
            errors[f"warmup:{t}"] = str(exc).splitlines()[0][:300]
            print(f"# warmup {t} FAILED: {errors[f'warmup:{t}']}", file=sys.stderr)

    # Warm the Python/Arrow worker pool once across all cores: the
    # pandas_udf-backed queries would otherwise pay worker spawn in
    # their first timed sample (same long-running-cluster posture as
    # the JVM warmup above).
    try:
        from pyspark.sql import functions as F

        from kyiv_traffic_bigdata_spark.functions.text import gram_rolling_hashes

        # Aggregate OVER the UDF output so Catalyst can't column-prune
        # the projection away (a bare .count() does exactly that and no
        # Python worker ever spawns).
        (
            spark.range(spark.sparkContext.defaultParallelism * 4)
            .repartition(spark.sparkContext.defaultParallelism)
            .select(
                F.size(gram_rolling_hashes(F.lit("warmup text"), 3)).alias("s")
            )
            .agg(F.sum("s"))
            .collect()
        )
    except Exception as exc:  # noqa: BLE001
        errors["warmup:arrow"] = str(exc).splitlines()[0][:300]

    # BASELINE.md comparison: the reference's only published numbers are
    # WS ingest rates (16.7 sustained / 24.4 burst positions/s). Replay
    # its own shipped capture through the full S1 parse (envelope JSONL →
    # schema'd explode → fix rows) and report engine positions/s on the
    # identical data. Measured BEFORE the query loop: after ~250 query
    # executions the JVM's accumulated GC/broadcast-cleanup state was
    # depressing this one-shot timing by up to 2× as the registry grew —
    # the steady-state parse rate is a property of the parse path, not
    # of how many unrelated queries ran first. Best-of-N like the
    # queries, for the same run-to-run noise reason.
    ingest_stats: dict[str, float] = {}
    ref_pos = "/root/reference/data/kpt_positions_20260207.jsonl"
    if os.path.exists(ref_pos):
        try:
            from kyiv_traffic_bigdata_spark.sources.kpt import read_positions_ordered

            # warm until C2 JIT reaches steady state: one run only gets
            # ~60% of the plateau rate (measured: 68k->120k over ~6
            # iterations on an idle host) — an under-warmed sample reads
            # as a phantom regression between rounds
            for _ in range(5):
                read_positions_ordered(spark, ref_pos).count()
            rates = []
            for _ in range(5):
                t0 = time.perf_counter()
                n = read_positions_ordered(spark, ref_pos).count()
                rates.append(n / (time.perf_counter() - t0))
            ingest_stats["ingest_positions_per_sec"] = round(max(rates), 1)
            # The shipped capture is ONE 3 MB file = one input split =
            # 0.2 s of single-core work, so the rate above mostly
            # measures job overhead + JVM state (observed 105k-241k on
            # identical code across rounds — the r06 "regression" was
            # this, not host load: an idle-host r07 run still read
            # 110k). The engine's actual sustained parse throughput
            # needs a saturated job: replay the same capture 64x in one
            # read (64 splits: one task each, enough to keep up to 64
            # session cores busy).
            sat = read_positions_ordered(spark, [ref_pos] * 64)
            # Guard the 64x-replay premise: if a Spark version ever
            # dedupes duplicate paths in its file index, the rate below
            # would silently be 64x wrong. n was just measured on the
            # single-file read above.
            sat_n = sat.count()
            if sat_n != 64 * n:
                errors["ingest_saturated"] = (
                    f"64x replay returned {sat_n} rows, expected {64 * n}"
                    " — duplicate input paths deduped? stat skipped"
                )
            else:
                sat.count()  # second warm pass
                sat_rates = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    sn = sat.count()
                    sat_rates.append(sn / (time.perf_counter() - t0))
                ingest_stats["ingest_saturated_positions_per_sec"] = round(
                    max(sat_rates), 1
                )
        except Exception as exc:  # noqa: BLE001
            errors["ingest_throughput"] = str(exc).splitlines()[0][:300]

    # Best-of-N per query: repeated runs differ by ±10-20% (measured on
    # local[32]), so a single sample makes round-over-round comparisons
    # noise artifacts.
    # The first run also pays that query's codegen/broadcast warmup; min
    # over consecutive runs is the steady-state number a cluster would see.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    # Sorted by name: a query's wall time depends on its position in the
    # session (JVM heap/GC/codegen-cache state), so a fixed order keeps
    # map diffs comparable query by query.
    for name, fn in sorted(QUERIES.items()):
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            try:
                df = fn(spark, SF_DIR)
                df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 — partial results beat none
                errors[name] = str(exc).splitlines()[0][:300]
                print(f"# {name} FAILED: {errors[name]}", file=sys.stderr)
                break
            samples.append(time.perf_counter() - t0)
        if samples:
            timings[name] = round(min(samples), 3)
            print(f"# {name}: {timings[name]:.3f}s (best of {len(samples)})",
                  file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": infer_sf(SF_DIR),
        "runs_per_query": runs,
        "agg": "min",
    }
    if loadavg_start is not None:
        out["host_loadavg_prerun_1_5_15"] = loadavg_start
    if ingest_stats:
        out.update(ingest_stats)
        # NB: the reference's published 16.7/s is its LIVE, network-
        # bound WebSocket receive rate; ours is an offline replay parse
        # of the same capture — engine throughput, not a like-for-like
        # "N× faster" claim.
        out["reference_live_ingest_rate_per_sec"] = 16.7
        out["ingest_note"] = (
            "reference rate is network-bound live WS receive; "
            "engine rate is offline replay parse of the same capture"
        )

    if errors:
        out["n_errors"] = len(errors)
    # Full per-query map goes to a repo file for round-over-round
    # diffing; the single stdout JSON line stays compact so the
    # driver's tail capture always parses it (round 3's 95-entry
    # inline map overflowed that buffer → BENCH parsed: null).
    detail = dict(out)
    detail["queries"] = timings
    if errors:
        detail["errors"] = errors
    map_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_queries.json"
    )
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
    min_rate_frac = float(
        os.environ.get("SPARK_GRAFT_BENCH_MIN_RATE_FRAC", "0.5")
    )
    write_map, skip_reason = map_refresh_verdict(
        map_path,
        loadavg_start,
        max_load,
        saturated_rate=ingest_stats.get("ingest_saturated_positions_per_sec"),
        min_rate_frac=min_rate_frac,
    )
    # Measured-noise-band mover check (r10 VERDICT #2): the prior map
    # may carry a `noise_band` derived by tools/noise_band.py from two
    # back-to-back idle runs on identical code. Flag only queries whose
    # delta vs the prior map exceeds that measured host jitter — the
    # r10 idle diff mixed a real spill-rung cost with 2x environment
    # movers, and without a band they are indistinguishable.
    try:
        with open(map_path) as fh:
            prior = json.load(fh)
        nb = prior.get("noise_band")
        if nb:
            floor = nb.get("abs_floor_sec", 0.1)
            movers = {
                n: {"prior_s": prior["queries"][n], "now_s": t}
                for n, t in timings.items()
                if n in prior["queries"]
                and abs(t - prior["queries"][n]) > floor
                and abs(t - prior["queries"][n])
                / max(min(t, prior["queries"][n]), 1e-9)
                > nb["p95_rel"]
            }
            out["movers_beyond_noise_band"] = len(movers)
            if movers:
                detail["movers_beyond_noise_band"] = movers
                for n, d in sorted(movers.items()):
                    print(
                        f"# MOVER beyond p95 noise band: {n} "
                        f"{d['prior_s']:.3f}s -> {d['now_s']:.3f}s",
                        file=sys.stderr,
                    )
            # the band survives refreshes until noise_band.py recomputes
            detail["noise_band"] = nb
    except (OSError, ValueError, KeyError):
        pass
    if write_map:
        with open(map_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    else:
        out["map_refresh_skipped"] = skip_reason
        print(f"# bench_queries.json NOT refreshed: {skip_reason}",
              file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
