"""Fold a Spark event log into per-operation layer counters.

The benchmark tags every call into the engine with
``sparkContext.setJobGroup("<op>|<phase>", "<op>|<phase>")``; Spark copies
the tag onto each job (``spark.jobGroup.id``) and each SQL execution
(``description``). This module reads the uncompressed JSON-lines event log
Spark writes with ``spark.eventLog.enabled=true`` and sums, per operation:

* task metrics from ``TaskEnd`` (run/CPU/GC time, spill, shuffle, result
  size), through stage -> job -> tag;
* SQL plan-node metrics (scan, Python-worker nodes), by resolving the
  accumulator ids that ``SQLExecutionStart``/``SQLAdaptiveExecutionUpdate``
  declare and adding the task and driver updates posted for them;
* job kinds from the stage names recorded in ``JobStart``: a staging
  checkpoint (``localCheckpoint``/``checkpoint``) or a driver collect made
  while the query was being built.

Only the ``build`` and ``run`` phases are counted; set-up and check jobs
carry other phases and are ignored.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

COUNTED_PHASES = ("build", "run")
STAGING_ACTIONS = ("localCheckpoint", "checkpoint")
COLLECT_ACTIONS = (
    "collect", "collectAsList", "toPandas", "take", "head", "first",
    "toLocalIterator", "count", "showString", "collectToPython",
)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

#: Every counter the fold produces, in report order.
COUNTERS = (
    "jobs",
    "queries.build_jobs",
    "staging.jobs",
    "staging.time_s",
    "driver.collect_jobs",
    "driver.result_bytes",
    "tables.scan_time_s",
    "tables.input_bytes",
    "tables.input_rows",
    "tables.files_read",
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
    "spark.python.bytes_sent",
    "spark.python.bytes_returned",
    "spark.python.nodes",
)
#: Counters that are maxima, not sums, when operations are combined.
MAX_COUNTERS = ("spark.task.peak_exec_memory_bytes",)


def event_files(log_dir: str) -> list[str]:
    """The event files of every application under ``log_dir``, in order
    (rolling logs split one application into ``events_<n>_<app>`` parts)."""
    def part(path: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    plain = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    return sorted(files, key=part) + sorted(plain)


def _tag(props: dict, stream_ops: dict[str, str]) -> tuple[str, str] | None:
    group = props.get("spark.jobGroup.id") or ""
    if group in stream_ops:
        group = stream_ops[group]
    if "|" not in group:
        return None
    op, phase = group.rsplit("|", 1)
    return op, phase


def _action(stage_name: str) -> str:
    return stage_name.split(" at ", 1)[0]


class _Plan:
    """Accumulator ids declared by one SQL execution's plan versions."""

    def __init__(self) -> None:
        self.acc: dict[int, tuple[str, bool]] = {}
        self.python_nodes = 0

    def add(self, info: dict, tables_dir: str | None) -> None:
        py_nodes = 0
        stack = [info]
        while stack:
            node = stack.pop()
            stack.extend(node.get("children", ()))
            location = (node.get("metadata") or {}).get("Location", "")
            star = bool(
                tables_dir
                and node.get("nodeName", "").startswith("Scan")
                and tables_dir in location
            )
            names = set()
            for m in node.get("metrics", ()):
                self.acc[int(m["accumulatorId"])] = (m["name"], star)
                names.add(m["name"])
            py_nodes += PY_SENT in names
        # the latest plan version is the one that ran
        self.python_nodes = py_nodes


def fold(
    files: list[str],
    tables_dir: str | None = None,
    stream_ops: dict[str, str] | None = None,
) -> dict[str, dict[str, float]]:
    """Per-operation counters (see ``COUNTERS``) from the given event files.

    ``tables_dir`` marks scans of the star tables; ``stream_ops`` maps a
    streaming query's run id (its jobs' group) to an ``op|phase`` tag.
    """
    stream_ops = stream_ops or {}
    ops: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_op: dict[int, str] = {}
    collect_stages: set[int] = set()
    job_info: dict[int, tuple[str, float, bool]] = {}
    plans: dict[int, _Plan] = {}
    exec_op: dict[int, str] = {}

    def sql_update(execution: int | None, op: str | None, acc_id: int, value) -> None:
        plan = plans.get(execution) if execution is not None else None
        if plan is None or acc_id not in plan.acc or op is None:
            return
        name, star = plan.acc[acc_id]
        c = ops[op]
        v = int(value)
        if star:
            if name == "scan time":
                c["tables.scan_time_s"] += v / 1000.0
            elif name == "number of output rows":
                c["tables.input_rows"] += v
            elif name == "number of files read":
                c["tables.files_read"] += v
            elif name == "size of files read":
                c["tables.input_bytes"] += v
        if name == PY_SENT:
            c["spark.python.bytes_sent"] += v
        elif name == PY_RETURNED:
            c["spark.python.bytes_returned"] += v

    stage_exec: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    tag = _tag(e.get("Properties") or {}, stream_ops)
                    if tag is None or tag[1] not in COUNTED_PHASES:
                        continue
                    op, phase = tag
                    names = [s["Stage Name"] for s in e.get("Stage Infos", ())]
                    execution = (e.get("Properties") or {}).get("spark.sql.execution.id")
                    for sid in e.get("Stage IDs", ()):
                        stage_op[sid] = op
                        if execution is not None:
                            stage_exec[sid] = int(execution)
                    staging = any(_action(n) in STAGING_ACTIONS for n in names)
                    final = max(e.get("Stage Infos", ()), key=lambda s: s["Stage ID"], default=None)
                    collect = (
                        phase == "build"
                        and not staging
                        and final is not None
                        and _action(final["Stage Name"]) in COLLECT_ACTIONS
                    )
                    if collect:
                        collect_stages.update(e.get("Stage IDs", ()))
                    c = ops[op]
                    c["jobs"] += 1
                    c["queries.build_jobs"] += phase == "build"
                    c["staging.jobs"] += staging
                    c["driver.collect_jobs"] += collect
                    job_info[e["Job ID"]] = (op, e["Submission Time"], staging, collect)
                elif kind == "SparkListenerJobEnd":
                    info = job_info.get(e["Job ID"])
                    if info and info[2]:
                        ops[info[0]]["staging.time_s"] += (e["Completion Time"] - info[1]) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(e["Stage Info"]["Stage ID"])
                    if op is not None:
                        ops[op]["spark.exchange.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(e["Stage ID"])
                    if op is None:
                        continue
                    _task(ops[op], e, e["Stage ID"] in collect_stages)
                    execution = stage_exec.get(e["Stage ID"])
                    for a in e["Task Info"].get("Accumulables", ()):
                        if a.get("Metadata") == "sql" and "Update" in a:
                            sql_update(execution, op, int(a["ID"]), a["Update"])
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    ex = int(e["executionId"])
                    if kind.endswith("SQLExecutionStart"):
                        desc = e.get("description") or ""
                        tag = _tag({"spark.jobGroup.id": desc}, stream_ops)
                        if tag and tag[1] in COUNTED_PHASES:
                            exec_op[ex] = tag[0]
                    plans.setdefault(ex, _Plan()).add(e["sparkPlanInfo"], tables_dir)
                elif kind.endswith("SQLExecutionEnd"):
                    ex = int(e["executionId"])
                    if ex in exec_op and ex in plans:
                        ops[exec_op[ex]]["spark.python.nodes"] += plans[ex].python_nodes
                elif kind.endswith("DriverAccumUpdates"):
                    ex = int(e["executionId"])
                    for acc_id, value in e.get("accumUpdates", ()):
                        sql_update(ex, exec_op.get(ex), int(acc_id), value)
    return {op: dict(c) for op, c in ops.items()}


def _task(c: dict, e: dict, collect: bool) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    c["spark.task.tasks"] += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        c["spark.task.failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    c["spark.task.executor_run_s"] += run_ms / 1000.0
    c["spark.task.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["spark.task.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    c["spark.task.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c["spark.task.peak_exec_memory_bytes"] = max(
        c["spark.task.peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0)
    )
    getting = info.get("Getting Result Time", 0)
    getting_ms = info["Finish Time"] - getting if getting else 0
    delay = (
        info["Finish Time"] - info["Launch Time"] - run_ms
        - m.get("Executor Deserialize Time", 0) - m.get("Result Serialization Time", 0)
        - getting_ms
    )
    c["spark.task.scheduler_delay_s"] += max(0, delay) / 1000.0
    w = m.get("Shuffle Write Metrics") or {}
    r = m.get("Shuffle Read Metrics") or {}
    c["spark.exchange.shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    c["spark.exchange.shuffle_write_records"] += w.get("Shuffle Records Written", 0)
    c["spark.exchange.shuffle_write_time_s"] += w.get("Shuffle Write Time", 0) / 1e9
    c["spark.exchange.shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    c["spark.exchange.fetch_wait_s"] += r.get("Fetch Wait Time", 0) / 1000.0
    if collect and e.get("Task Type") == "ResultTask":
        c["driver.result_bytes"] += m.get("Result Size", 0)


def total(per_op: dict[str, dict[str, float]]) -> dict[str, float]:
    """Combine operations: sums, except maxima for ``MAX_COUNTERS``."""
    out = dict.fromkeys(COUNTERS, 0)
    for c in per_op.values():
        for k in COUNTERS:
            out[k] = max(out[k], c[k]) if k in MAX_COUNTERS else out[k] + c[k]
    return out
