"""The traced run's event-log fold, on a small recorded event log.

``data/small_eventlog.jsonl`` was recorded by running this file as a script
(``python3 perfbench/tests/test_eventlog.py``): a ``local[2]`` session with
the event log on runs five tagged operations. Only the events and fields the
fold reads are kept, and the scanned table's directory is written as
``TABLES``.
"""

import json
import os
import sys

import pytest

if __name__ == "__main__":  # recording: put the benchmark's modules on the path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")
SCAN_ROWS = 3000


@pytest.fixture(scope="module")
def per_op():
    return eventlog.fold([DATA], tables_dir="TABLES")


def test_only_tagged_build_and_run_jobs_are_counted(per_op):
    assert set(per_op) == {"agg", "staged", "collect_in_build", "python", "scan"}


def test_task_and_exchange_counters(per_op):
    agg = per_op["agg"]
    assert agg["jobs"] >= 1 and agg["queries.build_jobs"] == 0
    assert agg["spark.exchange.stages"] >= 2
    assert agg["spark.task.tasks"] >= 3
    assert agg["spark.exchange.shuffle_write_records"] > 0
    assert agg["spark.exchange.shuffle_read_bytes"] == agg["spark.exchange.shuffle_write_bytes"] > 0
    assert agg["spark.task.executor_run_s"] >= agg["spark.task.gc_s"] >= 0
    assert agg["spark.task.failed_tasks"] == 0
    assert agg["staging.jobs"] == agg["driver.collect_jobs"] == agg["spark.python.nodes"] == 0


def test_staging_jobs_come_from_the_checkpoint_call_site(per_op):
    staged = per_op["staged"]
    assert staged["staging.jobs"] == 1
    assert staged["staging.time_s"] > 0
    assert staged["driver.collect_jobs"] == 0


def test_driver_collects_are_build_phase_actions(per_op):
    c = per_op["collect_in_build"]
    assert c["driver.collect_jobs"] == 1
    assert c["queries.build_jobs"] == 1
    assert c["driver.result_bytes"] > 0
    # a run-phase collect is the timed action, not an eager driver collect
    assert per_op["agg"]["driver.result_bytes"] == 0


def test_python_worker_nodes_and_bytes(per_op):
    py = per_op["python"]
    assert py["spark.python.nodes"] == 1
    assert py["spark.python.bytes_sent"] > 0
    assert py["spark.python.bytes_returned"] > 0
    assert all(per_op[op]["spark.python.bytes_sent"] == 0 for op in per_op if op != "python")


def test_scans_of_the_tables_directory(per_op):
    scan = per_op["scan"]
    assert scan["tables.input_rows"] == SCAN_ROWS
    assert scan["tables.files_read"] == 1
    assert scan["tables.input_bytes"] > 0
    assert all(per_op[op]["tables.input_rows"] == 0 for op in per_op if op != "scan")


def test_total_sums_and_takes_the_peak(per_op):
    total = eventlog.total(per_op)
    assert total["spark.task.tasks"] == sum(c["spark.task.tasks"] for c in per_op.values())
    assert total["spark.task.peak_exec_memory_bytes"] == max(
        c["spark.task.peak_exec_memory_bytes"] for c in per_op.values()
    )


def test_stream_run_ids_map_to_their_operation():
    lines = [json.loads(line) for line in open(DATA)]
    group = next(
        e["Properties"]["spark.jobGroup.id"] for e in lines
        if e["Event"] == "SparkListenerJobStart" and e["Properties"].get("spark.jobGroup.id") == "agg|run"
    )
    renamed = eventlog.fold([DATA], "TABLES", stream_ops={group: "stream|run"})
    assert "stream" in renamed and "agg" not in renamed


# ---------------------------------------------------------------------------
# recording the fixture
# ---------------------------------------------------------------------------

KEEP_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time", "Memory Bytes Spilled",
    "Disk Bytes Spilled", "Peak Execution Memory", "Executor Deserialize Time",
    "Result Serialization Time", "Result Size", "Shuffle Write Metrics", "Shuffle Read Metrics",
)


def _plan(node: dict, tables: str) -> dict:
    location = (node.get("metadata") or {}).get("Location", "")
    return {
        "nodeName": node["nodeName"],
        "metadata": {"Location": location.replace(tables, "TABLES")} if location else {},
        "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]} for m in node["metrics"]],
        "children": [_plan(c, tables) for c in node.get("children", ())],
    }


def _slim(e: dict, tables: str) -> dict | None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        return {
            "Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
            "Stage IDs": e["Stage IDs"],
            "Stage Infos": [
                {"Stage ID": s["Stage ID"], "Stage Name": s["Stage Name"].split(" at ")[0] + " at recorder"}
                for s in e["Stage Infos"]
            ],
            "Properties": {
                k: props[k] for k in ("spark.jobGroup.id", "spark.sql.execution.id") if k in props
            },
        }
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        return {
            "Event": kind, "Stage ID": e["Stage ID"], "Task Type": e["Task Type"],
            "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]},
            "Task Info": {
                "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
                "Getting Result Time": info.get("Getting Result Time", 0),
                "Accumulables": [
                    {"ID": a["ID"], "Update": a["Update"], "Metadata": "sql"}
                    for a in info.get("Accumulables", ()) if a.get("Metadata") == "sql" and "Update" in a
                ],
            },
            "Task Metrics": {k: v for k, v in (e.get("Task Metrics") or {}).items() if k in KEEP_METRICS},
        }
    if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
        out = {"Event": kind, "executionId": e["executionId"],
               "sparkPlanInfo": _plan(e["sparkPlanInfo"], tables)}
        if kind.endswith("SQLExecutionStart"):
            out["description"] = e.get("description") or ""
        return out
    if kind.endswith("SQLExecutionEnd"):
        return {"Event": kind, "executionId": e["executionId"]}
    if kind.endswith("DriverAccumUpdates"):
        return {"Event": kind, "executionId": e["executionId"], "accumUpdates": e["accumUpdates"]}
    return None


def record(out_path: str) -> None:
    import tempfile

    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        tables, logs = os.path.join(tmp, "tables"), os.path.join(tmp, "logs")
        os.makedirs(logs)
        spark = (
            SparkSession.builder.master("local[2]").appName("eventlog-fixture")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + logs)
            .getOrCreate()
        )
        sc = spark.sparkContext

        def tag(op, phase):
            sc.setJobGroup(f"{op}|{phase}", f"{op}|{phase}")

        tag("bench", "setup")
        spark.range(SCAN_ROWS).selectExpr("id", "id % 10 AS k").coalesce(1).write.parquet(
            os.path.join(tables, "t.parquet")
        )
        tag("agg", "build")
        df = spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count()
        tag("agg", "run")
        df.collect()
        tag("staged", "build")
        df = spark.range(500).selectExpr("id * 2 AS x").localCheckpoint(eager=True)
        tag("staged", "run")
        df.count()
        tag("collect_in_build", "build")
        n = len(spark.range(100).collect())
        df = spark.range(n)
        tag("collect_in_build", "run")
        df.count()

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        tag("python", "run")
        spark.range(64).select(plus_one("id")).collect()
        tag("scan", "run")
        spark.read.parquet(os.path.join(tables, "t.parquet")).agg(F.sum("k")).collect()
        tag("bench", "setup")
        spark.stop()
        with open(out_path, "w") as out:
            for path in eventlog.event_files(logs):
                with open(path) as fh:
                    for line in fh:
                        slim = _slim(json.loads(line), "file:" + tables)
                        if slim is not None:
                            out.write(json.dumps(slim) + "\n")


if __name__ == "__main__":
    record(DATA)
