"""Per-layer metrics of the traced run.

Two passes run in sessions of their own with Spark's event log on
(uncompressed, into the run's work directory), a third with it off. After
the sessions stop, :mod:`eventlog` folds each log per operation; the spans
come from the benchmark's own timers around each call, and the streaming
counters from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import json
import os

import eventlog
from stats import quantile

#: Per-layer metrics, in report order. Units follow from the name.
PER_LAYER = (
    "session.start_s",
    "queries.build_s",
    "queries.build_jobs",
    "queries.run_s",
    "tables.scan_time_s",
    "tables.input_bytes",
    "tables.input_rows",
    "tables.files_read",
    "staging.jobs",
    "staging.time_s",
    "driver.collect_jobs",
    "driver.result_bytes",
    "spark.exchange.shuffle_write_bytes",
    "spark.exchange.shuffle_write_records",
    "spark.exchange.shuffle_read_bytes",
    "spark.exchange.fetch_wait_s",
    "spark.exchange.shuffle_write_time_s",
    "spark.exchange.stages",
    "spark.task.tasks",
    "spark.task.executor_run_s",
    "spark.task.executor_cpu_s",
    "spark.task.gc_s",
    "spark.task.spill_bytes",
    "spark.task.peak_exec_memory_bytes",
    "spark.task.scheduler_delay_s",
    "spark.task.failed_tasks",
    "spark.task.parallel_efficiency",
    "spark.python.bytes_sent",
    "spark.python.bytes_returned",
    "spark.python.nodes",
    "sources.frames_in",
    "sources.positions_out",
    "sources.positions_per_frame",
    "streaming.batches",
    "streaming.batch_p50_ms",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.state_commit_ms",
    "streaming.rows_dropped_by_watermark",
    "sink.files_written",
    "sink.bytes_written",
    "sink.bytes_per_position",
    "kpt_pipeline.speed_samples_s",
    "kpt_pipeline.route_speed_stats_s",
    "kpt_pipeline.map_rows_s",
    "kpt_pipeline.speed_samples_shuffle_records",
    "kpt_pipeline.route_speed_stats_shuffle_records",
    "kpt_pipeline.map_rows_shuffle_records",
    "trace.overhead_s",
)
RATIOS = ("spark.task.parallel_efficiency", "sources.positions_per_frame")


def unit(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "count"


def eventlog_conf(log_dir: str | None) -> dict[str, str]:
    if log_dir is None:
        return {"spark.eventLog.enabled": "false"}
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def streaming_counters(progress: list[dict]) -> dict[str, float]:
    """Fold ``recentProgress`` entries (one per micro-batch)."""
    def dur(p: dict, key: str) -> float:
        return float((p.get("durationMs") or {}).get(key, 0))

    ops = [p.get("stateOperators") or [] for p in progress]
    last = ops[-1] if ops else []
    return {
        "streaming.batches": len(progress),
        "streaming.batch_p50_ms": quantile([dur(p, "triggerExecution") for p in progress], 0.5)
        if progress else 0,
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "streaming.query_planning_ms": sum(dur(p, "queryPlanning") for p in progress),
        "streaming.wal_commit_ms": sum(dur(p, "walCommit") for p in progress),
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "streaming.state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
        "streaming.state_commit_ms": sum(s.get("commitTimeMs", 0) for o in ops for s in o),
        "streaming.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for o in ops for s in o
        ),
        "sources.frames_in": sum(p.get("numInputRows", 0) for p in progress),
    }


def per_layer(workload, traced, untraced, per_op: dict, start_s: list[float], cores: int) -> dict:
    """The per-layer metrics of one traced pass (zeros where a layer is unused)."""
    v = dict.fromkeys(PER_LAYER, 0)
    totals = eventlog.total(per_op)
    for k in PER_LAYER:
        if k in totals:
            v[k] = totals[k]
    v["session.start_s"] = quantile(start_s, 0.5)
    v["queries.build_s"] = sum(s.build_s for s in traced.samples)
    v["queries.run_s"] = sum(s.run_s for s in traced.samples)
    v["spark.task.parallel_efficiency"] = totals["spark.task.executor_cpu_s"] / (
        traced.wall_s * cores
    )
    if workload.name == "kpt_replay":
        v.update(streaming_counters(traced.progress))
        positions = workload.truth["distinct_keys"]
        v["sources.positions_out"] = positions
        v["sources.positions_per_frame"] = positions / max(1, v["sources.frames_in"])
        files, size = workload.sink_files(traced.sink)
        v["sink.files_written"] = files
        v["sink.bytes_written"] = size
        v["sink.bytes_per_position"] = size / positions
        for s in traced.samples[1:]:
            stage = s.op.split(".", 1)[1]
            v[f"kpt_pipeline.{stage}_s"] = s.latency_s
            v[f"kpt_pipeline.{stage}_shuffle_records"] = per_op.get(s.op, {}).get(
                "spark.exchange.shuffle_write_records", 0
            )
    v["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    return {k: {"value": v[k], "unit": unit(k)} for k in PER_LAYER}


def repeats(first: dict, second: dict) -> dict:
    """Which counters read exactly the same in two traced passes, in total
    and per operation; counters that are times never qualify."""
    counts = [k for k in eventlog.COUNTERS if unit(k) in ("count", "B")]
    a, b = eventlog.total(first), eventlog.total(second)
    return {
        "exact": [k for k in counts if a[k] == b[k]],
        "differ": [k for k in counts if a[k] != b[k]],
        "per_op_differ": {
            op: diff for op in second
            if (diff := [k for k in counts if first.get(op, {}).get(k) != second[op][k]])
        },
    }


def write_artifact(build_dir: str, workload_name: str, seed: int, traced, untraced,
                   per_op: dict, metrics: dict, host: dict) -> str:
    """One JSON file: spans, per-operation counters of both traced passes,
    the per-layer metrics and which counters repeated exactly."""
    first, second = per_op["a"], per_op["t"]
    doc = {
        "workload": workload_name,
        "seed": seed,
        "host": host,
        "traced_wall_s": traced.wall_s,
        "untraced_wall_s": untraced.wall_s,
        "spans": [
            {"op": s.op, "build_s": s.build_s, "run_s": s.run_s, "error": s.error}
            for s in traced.samples
        ],
        "per_op": second,
        "metrics": metrics,
        "repeats": repeats(first, second),
    }
    os.makedirs(build_dir, exist_ok=True)
    path = os.path.join(build_dir, f"trace-{workload_name}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    return path
