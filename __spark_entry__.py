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

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kyiv_traffic_bigdata_spark.queries import QUERIES, build_oracles

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference's W1 trajectory-speed
    pipeline (bbox filter → per-key lag window → haversine speed →
    plausibility guards), SURVEY §3.2, mapped onto the events table."""
    return QUERIES["geo_trajectory"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query
    (emb_pca omitted: DuckDB has no
    eigen solver, accuracy pinned by tests/test_pca.py numpy parity;
    doc_unigram_tokenize omitted: the EM lattice / Viterbi DP are not
    SQL-expressible, pinned by tests/test_unigram.py brute-force
    references. The whole ANN family is fully oracled — ann_lsh in
    r08, ann_ivf and ann_pq in r09 — and so is the dyadic rank sketch
    since r10: _sql_rank_sketch replicates Spark's XxHash64 in
    staged-CTE HUGEINT SQL, so its registered shape is deterministic
    end-to-end like the PQ codebooks. approx_event_stats joined the
    oracled set in r11 by re-basing on the portable md5-register HLL,
    its accuracy pinned by tests/test_approx.py)."""
    return build_oracles()
