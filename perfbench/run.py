"""The engine's benchmark: one workload per run, end to end or traced.

Usage, from the repository root::

    python3 perfbench/run.py --workload doc_curation --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics, read from Spark's event log and the streaming query's
progress, and writes them per operation to a JSON artifact. See README.md.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is a
report with host context, sample counts and the workload-specific numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 3
WORKLOADS = ("olap_star", "doc_curation", "kpt_replay")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure whole passes until at least this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_workload(name: str):
    import datagen
    import workloads as W

    if name == "kpt_replay":
        return W.KptWorkload()
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    tables_dir = datagen.ensure_tables(os.path.join(BUILD, "tables"), expected["fingerprint"])
    names = W.OLAP_STAR if name == "olap_star" else W.DOC_CURATION
    return W.QueryWorkload(name, names, tables_dir, expected["queries"])


def new_session(spark, workload, seed: int, work_dir: str, event_log: str | None = None):
    """Stop any session, start one and prepare the workload's inputs.

    Returns the session, the session start time and the whole set-up time.
    The first session's settings become the JVM's defaults, so the event
    log is switched off explicitly when not wanted.
    """
    from kyiv_traffic_bigdata_spark.session import get_spark

    import tracing
    import workloads as W

    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark = get_spark("perfbench", extra_conf=tracing.eventlog_conf(event_log))
    W.tag(spark, "bench", "setup")
    t1 = time.perf_counter()
    workload.setup(spark, seed, work_dir)
    return spark, t1 - t0, time.perf_counter() - t0


def run_passes(spark, workload, seconds: float) -> list:
    """Whole passes, until at least ``seconds`` have been measured."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(workload.run_pass(spark))
    return passes


def rss_mb(spark) -> float:
    from stats import peak_rss_mb

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return peak_rss_mb("self") + peak_rss_mb(int(jvm_pid))


def stop_jvm() -> None:
    """Shut the JVM down and wait for it to exit, so no process outlives the
    run (the gateway server exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


def untraced(args, workload, work_dir: str) -> tuple[list, list, dict, dict]:
    """SETUPS set-ups, then measured passes: the end-to-end metrics."""
    from stats import highest_reportable, quantile, tree_cpu_s

    spark = None
    setup_s = []
    try:
        for _ in range(SETUPS):
            spark, _, total = new_session(spark, workload, args.seed, work_dir)
            setup_s.append(total)
        cpu0 = tree_cpu_s()
        passes = run_passes(spark, workload, args.seconds)
        cpu_s = (tree_cpu_s() - cpu0) / len(passes)
        failures = [f for p in passes for f in workload.check_pass(spark, p)]
        peak = rss_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
    lat = [s.latency_s for p in passes for s in p.samples]
    metrics = {
        "cpu_s": {"value": cpu_s, "unit": "s"},
        "setup_s": {"value": quantile(setup_s, 0.5), "unit": "s"},
    }
    # Wall-clock figures are reported, not gated: see README.md.
    report = {
        "wall_s": quantile([p.wall_s for p in passes], 0.5),
        "query_p50_s": quantile(lat, 0.5),
        "query_p75_s": quantile(lat, 0.75),
        "setup_runs_s": setup_s,
        "peak_rss_mb": peak,
        "passes": len(passes),
        "pass_walls_s": [p.wall_s for p in passes],
        "samples": len(lat),
        "highest_reportable_quantile": highest_reportable(len(lat)),
        "ops": {},
    }
    for p in passes:
        for s in p.samples:
            report["ops"].setdefault(s.op, []).append(round(s.latency_s, 4))
    if workload.name == "kpt_replay":
        ingest = [s.latency_s for p in passes for s in p.samples if s.op == "kpt.ingest"]
        analytics = [sum(s.latency_s for s in p.samples[1:]) for p in passes]
        report["ingest_positions_per_s"] = workload.truth["distinct_keys"] / quantile(ingest, 0.5)
        report["analytics_s"] = quantile(analytics, 0.5)
        report["input"] = workload.truth
    return passes, failures, metrics, report


def traced(args, workload, work_dir: str, host: dict) -> tuple[list, list, dict, dict]:
    """Three sessions, each set up as in an untraced run: two traced passes
    (A, T) and an untraced one (U). A warms the JVM for the other two. T
    gives the per-layer metrics; A is compared with T to mark which counters
    repeat exactly; T - U is the tracing overhead.
    """
    import eventlog
    import tracing

    logs = {k: os.path.join(work_dir, f"eventlog_{k}") for k in ("a", "t")}
    spark = None
    passes, failures, start_s = {}, [], []
    try:
        for key in ("a", "t", "u"):
            log = logs.get(key)
            if log:
                os.makedirs(log)
            spark, started, _ = new_session(spark, workload, args.seed, work_dir, log)
            start_s.append(started)
            passes[key] = workload.run_pass(spark)
            failures += workload.check_pass(spark, passes[key])
    finally:
        if spark is not None:
            spark.stop()  # flushes the last event log
    tables_dir = getattr(workload, "tables_dir", None)
    streams = getattr(workload, "streams", {})
    per_op = {
        k: eventlog.fold(eventlog.event_files(log), tables_dir, streams)
        for k, log in logs.items()
    }
    metrics = tracing.per_layer(
        workload, passes["t"], passes["u"], per_op["t"], start_s, host["nproc"]
    )
    path = tracing.write_artifact(
        BUILD, workload.name, args.seed, passes["t"], passes["u"], per_op, metrics, host
    )
    return list(passes.values()), failures, metrics, {"trace_artifact": os.path.relpath(path, ROOT)}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Python workers are started by the JVM and must import the engine (and
    # workloads.py, whose function starts them) too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import kyiv_traffic_bigdata_spark.queries  # noqa: F401 - fail fast without the engine

    import stats

    host = stats.host_context()
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    host["master"] = f"local[{host['nproc']}]"
    workload = make_workload(args.workload)
    work_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        if args.trace:
            passes, failures, metrics, report = traced(args, workload, work_dir, host)
        else:
            passes, failures, metrics, report = untraced(args, workload, work_dir)
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
    attempted = sum(len(p.samples) for p in passes)
    failed = len(failures)  # at most one per sample
    report.update({
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "error_rate": failed / attempted,
        "failures": [f"{op}: {why.strip().splitlines()[-1]}" for op, why in failures][:20],
    })
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
