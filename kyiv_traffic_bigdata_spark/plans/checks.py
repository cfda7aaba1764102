"""Physical-plan capture: ``.explain()`` output as a string, for
tools/dump_plans.py and the plan-shape tests (tests/plan_checks.py
turns it into assertable counts)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted explain() text for a DataFrame (captured, not
    printed)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
