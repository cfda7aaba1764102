"""Physical-plan assertions for the plan-shape tests: each helper turns
``explain()`` text (kyiv_traffic_bigdata_spark.plans.physical_plan) into
an assertable fact.

A correct query that shuffles the fact table where a broadcast would do,
or re-evaluates an expensive projection inside a scan-level Filter,
fails at scale; these counts let tests pin the good plan shapes and
catch optimizer-interaction regressions (see
operators.dedup.shingle_index for a real one: an inferred explode filter
pushed a whole n-gram pipeline into the scan).
"""

from __future__ import annotations

import re

from kyiv_traffic_bigdata_spark.plans import physical_plan


def final_plan(df) -> str:
    """Execute ``df`` and return its FORMATTED plan as AQE left it.

    After execution the formatted text still holds the pre-execution
    tree (an ``== Initial Plan ==`` section) and the detail blocks of
    its nodes, so a substring test on the whole text also sees the
    joins AQE replaced. The text is cut at that section, and only the
    detail blocks of nodes in the final tree are kept: what remains is
    what actually ran."""
    df.collect()
    plan = physical_plan(df)
    tree, initial, rest = plan.partition("+- == Initial Plan ==")
    if not initial:  # no adaptive wrapper: the static plan is what ran
        return plan
    ids = set(re.findall(r"\((\d+)\)", tree))
    blocks = [
        b
        for b in rest.split("\n\n")[1:]
        if (m := re.match(r"\s*\((\d+)\) ", b)) and m.group(1) in ids
    ]
    final = tree + "\n\n".join(blocks)
    assert "isFinalPlan=true" in final, "AQE did not finalize the plan"
    return final


def exchange_count(plan: str) -> int:
    """Number of shuffle exchanges (excludes broadcast + reused ones).

    The scale metric: every Exchange is a full materialize-and-repartition
    of its input. Reused exchanges are shared scans, not extra shuffles.
    Handles both explain modes: simple (``Exchange hashpartitioning(...)``)
    and formatted (``(5) Exchange`` + an ``Arguments: hashpartitioning``
    detail block).
    """
    simple = len(re.findall(r"\bExchange (?:hash|range)partitioning", plan))
    formatted = len(
        re.findall(
            r"\(\d+\) Exchange\n(?:[^\n]*\n){0,3}?Arguments: (?:hash|range)partitioning",
            plan,
        )
    )
    return max(simple, formatted)


def broadcast_join_count(plan: str) -> int:
    return len(re.findall(r"\bBroadcastHashJoin\b|\bBroadcastNestedLoopJoin\b", plan))


def broadcast_join_keys(plan: str) -> set[str]:
    """Column names (expression ids stripped) that the BroadcastHashJoins
    of a FORMATTED plan are keyed on, both sides."""
    keys: set[str] = set()
    for m in re.finditer(
        r"\(\d+\) BroadcastHashJoin[^\n]*\n(?:[^\n]*\n)??"
        r"Left keys \[\d+\]: \[([^\]]*)\]\nRight keys \[\d+\]: \[([^\]]*)\]",
        plan,
    ):
        for side in m.groups():
            keys.update(re.sub(r"#\d+L?$", "", k.strip()) for k in side.split(","))
    return keys


def sort_merge_join_count(plan: str) -> int:
    return len(re.findall(r"\bSortMergeJoin\b", plan))


def scan_filter_exprs(plan: str) -> list[str]:
    """DataFilters/PushedFilters attached to file scans.

    Useful both positively (a selective predicate SHOULD reach the scan)
    and negatively (an expensive derived expression should NOT — that
    means the optimizer cloned a costly projection into the scan filter).
    """
    out: list[str] = []
    for m in re.finditer(r"(?:DataFilters|PushedFilters): \[(.*?)\]", plan):
        if m.group(1).strip():
            out.append(m.group(1))
    return out


def parquet_scan_count(plan: str, table: str) -> int:
    """Number of parquet scans of a given table in a FORMATTED plan.

    Path-based reads leave the ``Scan parquet`` tree node nameless — the
    table is only identifiable from the ``Location:`` detail line — so a
    naive ``Scan parquet.*<table>`` regex silently matches nothing and
    turns absence assertions vacuous. Count Location lines instead.
    """
    return len(re.findall(rf"Location: [^\n]*[/_]{re.escape(table)}\.parquet", plan))
