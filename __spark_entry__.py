"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``kyiv_traffic_bigdata_spark.queries``; this file
stays a thin adapter. tests/test_oracle.py replicates the driver's
comparison locally at sf0.001 so mismatches never reach the driver.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from kyiv_traffic_bigdata_spark.queries import QUERIES, build_oracles

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference's W1 trajectory-speed
    pipeline (bbox filter → per-key lag window → haversine speed →
    plausibility guards), SURVEY §3.2, mapped onto the events table."""
    return QUERIES["geo_trajectory"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, least
    recently verified first.

    The correctness check reads only the first 50 entries. The order is
    queries with an oracle before those without, then the last round in
    which the name appears in a CORRECTNESS_r{N}.json next to this file
    (0 if never), then the name. Each new ledger file moves the window
    onto the next-stalest queries."""
    last: dict[str, int] = {}
    for path in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = max(rnd, last.get(name, 0))
    oracles = build_oracles()
    order = sorted(
        QUERIES, key=lambda n: (n not in oracles, last.get(n, 0), n)
    )
    return {name: QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query but two: emb_pca
    (DuckDB has no eigen solver; tests/test_pca.py pins it against
    numpy) and doc_unigram_tokenize (its EM lattice and Viterbi DP are
    not SQL-expressible; tests/test_unigram.py pins it against
    brute-force references)."""
    return build_oracles()
