"""Local replica of the driver's DuckDB-oracle correctness gate.

Canonicalization is DRIVER-FAITHFUL (the round-4 lesson): both result
sets are round-tripped through pandas (Spark via ``toPandas()``, DuckDB
via ``rel.df()``), columns sorted by name, rows via pandas
``sort_values`` over all columns, cells stringified, and the stringified
frames hash-compared.  That reproduces the two failure classes the old
tuple-based canon missed for two rounds:

* array/struct cells → pandas ``sort_values`` raises
  ``TypeError: unhashable type: 'list'`` (r4 ``emb_quantized``/``emb_pq``
  ERR);
* DuckDB HUGEINT (``SUM`` over integer columns) → pandas float64 →
  ``"3000000000.0"`` vs Spark bigint ``"3000000000"`` (r4
  ``doc_pack_windows`` hash mismatch with value-identical rows).

Every query's result is also checked for two registry properties on the
frame the test already materializes: no array/struct/map-typed output
column (so the first class can never be registered again) and at least
one row.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pytest

from __spark_entry__ import oracle_sql, queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(pdf):
    """Driver-shape canonical frame: name-sorted columns, pandas
    ``sort_values`` over ALL columns (raises on unhashable cells — that
    is the point), every cell stringified via ``astype(str)``."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True).astype(str)


def _value_hash(canon_pdf) -> str:
    h = hashlib.sha256()
    for row in canon_pdf.itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\x1e").encode("utf-8", "replace"))
    return h.hexdigest()


ORACLES = oracle_sql()
QUERY_NAMES = [n for n in queries() if n in ORACLES]
NO_ORACLE_NAMES = [n for n in queries() if n not in ORACLES]


def _assert_flat_columns(name, schema):
    """Registry-level ban: the driver's pandas canonicalizer cannot hash
    list/dict cells, so no query may emit array/struct/map columns —
    serialize (array_join) or explode instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = [
        (f.name, f.dataType.simpleString())
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not offenders, (
        f"{name}: array/struct/map output columns break the driver "
        f"canonicalizer: {offenders}"
    )


def _assert_has_rows(name, n_rows):
    """Queries should exercise real data; empty results are suspicious.
    No known-empty allowance — tune thresholds instead of whitelisting
    emptiness."""
    assert n_rows > 0, f"{name} returned 0 rows at {SF_DIR}"


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    qfn = queries()[name]
    sdf = qfn(spark, SF_DIR)
    _assert_flat_columns(name, sdf.schema)
    spark_pdf = sdf.toPandas()
    _assert_has_rows(name, len(spark_pdf))

    rel = duck.sql(ORACLES[name])
    duck_pdf = rel.df()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={list(spark_pdf.columns)} "
        f"duck={list(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )

    # sort_values may raise TypeError on unhashable cells — let it
    # propagate: the driver's canonicalizer dies the same way.
    s_canon = _canon(spark_pdf)
    d_canon = _canon(duck_pdf)
    if _value_hash(s_canon) == _value_hash(d_canon):
        return

    # Hash mismatch: surface the first few differing stringified cells
    # so the fix is obvious (value drift vs representation drift).
    mismatches = []
    cols = list(s_canon.columns)
    for i in range(len(s_canon)):
        for c in cols:
            sv, dv = s_canon.at[i, c], d_canon.at[i, c]
            if sv != dv:
                mismatches.append((i, c, sv, dv))
                if len(mismatches) >= 5:
                    break
        if len(mismatches) >= 5:
            break
    raise AssertionError(
        f"{name}: canonical hash mismatch; first stringified diffs "
        f"(row, col, spark, duck): {mismatches}"
    )


@pytest.mark.parametrize("name", NO_ORACLE_NAMES)
def test_no_oracle_query_has_rows_and_flat_columns(spark, name):
    """The registry properties test_query_matches_oracle checks, for the
    queries with no oracle twin (emb_pca, doc_unigram_tokenize)."""
    sdf = queries()[name](spark, SF_DIR)
    _assert_flat_columns(name, sdf.schema)
    _assert_has_rows(name, sdf.count())


def test_driver_window_fully_oracle_checkable():
    """Registry invariant: the driver verifies the FIRST 50 registered
    queries only — every one of those slots must carry an oracle twin
    (a no-oracle query in the window burns a verification slot on a
    permanent `no_oracle` row). No-oracle approximates belong at the
    tail. No two registry rows may share a name: the dict would keep
    only one of them."""
    from kyiv_traffic_bigdata_spark.queries import QUERIES, REGISTRY

    assert len(QUERIES) == len(REGISTRY)
    names = list(queries())
    window = names[:50]
    missing = [n for n in window if n not in ORACLES]
    assert not missing, f"window slots without an oracle: {missing}"
    # and the documented no-oracle set sits at the very tail
    no_oracle = [n for n in names if n not in ORACLES]
    assert names[-len(no_oracle):] == no_oracle, (
        f"no-oracle queries must be the registry tail, got {no_oracle} "
        f"vs tail {names[-len(no_oracle):]}"
    )


def test_rotation_ledger_window_is_least_recent():
    """The 50 window slots cover the least recently verified queries.

    Ledger: name → latest round with a driver CORRECTNESS row, computed
    from the CORRECTNESS_r*.json files at the repo root (never-checked
    queries ledger at 0). No window slot may re-verify a query FRESHER
    than the stalest non-window oracle-checkable query; ties across the
    boundary are allowed (a stale cohort larger than the window must
    split)."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    ledger: dict[str, int] = {}
    for f in root.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r0*(\d+)", f.stem).group(1))
        for q in json.loads(f.read_text()):
            ledger[q] = max(rnd, ledger.get(q, 0))

    names = list(queries())
    window = names[:50]
    non_window = [n for n in names[50:] if n in ORACLES]
    freshest_in = max(window, key=lambda n: ledger.get(n, 0))
    stalest_out = min(non_window, key=lambda n: ledger.get(n, 0))
    assert ledger.get(freshest_in, 0) <= ledger.get(stalest_out, 0), (
        f"window slot {freshest_in!r} (verified in "
        f"r{ledger.get(freshest_in, 0)}) is fresher than non-window "
        f"{stalest_out!r} (r{ledger.get(stalest_out, 0)})"
    )


def test_canonicalizer_properties():
    """Meta-test of the gate itself: the hash must be insensitive to row
    and column order, sensitive to any value change, and — by driver
    design — sensitive to numeric REPRESENTATION (int64 '3' vs float64
    '3.0'), which is exactly the HUGEINT trap the oracles CAST around."""
    import pandas as pd

    a = pd.DataFrame({"y": [2, 1, 2], "x": ["p", "q", "p"]})
    b = pd.DataFrame({"x": ["q", "p", "p"], "y": [1, 2, 2]})  # permuted
    assert _value_hash(_canon(a)) == _value_hash(_canon(b))

    c = pd.DataFrame({"y": [2, 1, 3], "x": ["p", "q", "p"]})  # one value
    assert _value_hash(_canon(a)) != _value_hash(_canon(c))

    ints = pd.DataFrame({"v": pd.array([3, 4], dtype="int64")})
    floats = pd.DataFrame({"v": pd.array([3.0, 4.0], dtype="float64")})
    assert _value_hash(_canon(ints)) != _value_hash(_canon(floats))

    # list cells crash the MULTI-column sort (pandas lexsort factorizes
    # object columns — the r4 ERR class the registry bans). NB a
    # single-column list frame sorts fine via "<", which is why the
    # array ban is schema-level, not crash-detection-level.
    import pytest as _pytest

    bad = pd.DataFrame({"v": [[1, 2], [3]], "w": [1, 2]})
    with _pytest.raises(TypeError):
        _canon(bad)
