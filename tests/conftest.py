"""Shared fixtures: one SparkSession per test session (local[*])."""

from __future__ import annotations

import pytest

from kyiv_traffic_bigdata_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _no_leftover_streams(request):
    """Fail a test that leaves a streaming query running in the shared
    session (it would keep scheduling batches under every later test),
    after stopping the leftovers."""
    yield
    if "spark" not in request.fixturenames:
        return
    leftover = request.getfixturevalue("spark").streams.active
    for q in leftover:
        q.stop()
    if leftover:
        pytest.fail(
            "streaming queries left running: "
            + ", ".join(q.name or q.id for q in leftover)
        )


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
