"""The session factory's core count (kyiv_traffic_bigdata_spark/session.py),
read in a fresh interpreter so no SparkSession starts."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _cpus(env_value: str | None) -> int:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_value is not None:
        env["SPARK_GRAFT_CPUS"] = env_value
    out = subprocess.run(
        [sys.executable, "-c", "from kyiv_traffic_bigdata_spark.session import CPUS; print(CPUS)"],
        env=env,
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    return int(out.stdout)


def test_cpus_default_to_the_process_affinity():
    assert _cpus(None) == len(os.sched_getaffinity(0))


def test_spark_graft_cpus_overrides_the_default():
    assert _cpus("3") == 3
