"""Recompute ``expected.json``: the oracle hashes the benchmark checks.

Builds the benchmark's tables, runs each checked query's DuckDB oracle SQL
(``queries.build_oracles()``) over them and stores the row count and the
oracle gate's canonical hash. ``doc_unigram_tokenize`` has no oracle; only
its row count (one per document) is stored. Run from the repository root
when the table generator or the query lists change::

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402
from kyiv_traffic_bigdata_spark.queries import build_oracles  # noqa: E402
from kyiv_traffic_bigdata_spark.tables import TABLE_NAMES  # noqa: E402


def main() -> None:
    tables = datagen.build_tables()
    tables_dir = datagen.ensure_tables(
        os.path.join(ROOT, ".bench_build", "perfbench", "tables"), None
    )
    oracles = build_oracles()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    for name in workloads.OLAP_STAR + workloads.DOC_CURATION:
        if name == "doc_unigram_tokenize":  # no oracle: one row per document
            out[name] = {"rows": tables["documents"].num_rows, "hash": None}
            continue
        pdf = con.sql(oracles[name]).df()
        out[name] = {"rows": len(pdf), "hash": workloads.value_hash(workloads.canon(pdf))}
        print(name, out[name], file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"fingerprint": datagen.fingerprint(tables), "queries": out}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
