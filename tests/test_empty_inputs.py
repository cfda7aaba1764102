"""Empty-corpus differential: every oracle-checkable query on zero-row
tables must either MATCH its oracle (rows + columns + value hash under
the driver canon) or fail with a DOCUMENTED clean error.

Why this exists: the driver only ever tests populated tables, so
NULL-vs-0 divergences in global aggregates are invisible until a real
deployment hits an empty partition/snapshot — the r07 review found one
(fk_integrity_audit) by hand; this sweep checks all of them, every run.

Degenerate-input semantics pinned here:
- conditional-count aggregates report 0s, never NULLs (coalesce on the
  Spark side, COALESCE/COUNT on the oracle side);
- Spark's rollup()/cube() emit NO rows over empty input (the SQL
  standard emits a count-0 grand-total row); the oracles carry a
  HAVING guard to match — see the note at SQL_ROLLUP;
- k-seeded collect-pattern operators (kmeans/PQ/classifier families)
  REFUSE empty input with a clear message rather than degrading — the
  allowlist below is the contract that the refusal stays loud and
  worded, not an accident.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from kyiv_traffic_bigdata_spark.queries import QUERIES, build_oracles
from kyiv_traffic_bigdata_spark.tables import load_table

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: queries whose EMPTY-input contract is a loud refusal — matched
#: against the start of the error message. r09 shrank this from 6 to 1
#: (VERDICT #6): the seed/probe collect operators (kmeans / semdedup /
#: cluster_prune / pq / decontaminate) now return typed empty frames
#: matching their oracles' LIMIT-k / CROSS JOIN zero-row output, and
#: initial_centroids also seeds min(n, k) clusters on
#: a 0 < n < k corpus — the same semantics as the oracles' LIMIT k.
#: The survivor: doc_quality_classifier TRAINS a model (iterative GD);
#: an "empty-trained" scorer that silently scores everything 0.5 is a
#: worse failure mode than a loud refusal, so the refusal IS the
#: contract (a serving pipeline must gate on training-set size anyway).
EXPECTED_REFUSALS = {
    "doc_quality_classifier": "cannot train on an empty frame",
}


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        load_table(spark, "/root/testdata/sf0.001", t).limit(0).coalesce(
            1
        ).write.mode("overwrite").parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def empty_duck(empty_sf):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_sf}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


def _canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True).astype(str)


def _vhash(c) -> str:
    h = hashlib.sha256()
    for row in c.itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\x1e").encode("utf-8", "replace"))
    return h.hexdigest()


def test_emb_outliers_zero_variance_label_is_guarded(
    spark, tmp_path_factory
):
    """Singleton / zero-variance labels (r08 ADVICE): a label whose
    distance variance is 0 — one vector, or several identical vectors —
    must yield z_score 0.0 / is_outlier false in BOTH engines, not an
    ANSI DIVIDE_BY_ZERO abort in Spark vs NaN in DuckDB."""
    root = tmp_path_factory.mktemp("sf_singleton")
    rows = [
        # label 0: three distinct vectors (normal variance)
        (1, [1.0, 0.0, 0.25], 0),
        (2, [0.0, 1.0, -0.5], 0),
        (3, [0.5, 0.5, 2.0], 0),
        # label 1: singleton (n = 1 -> zero variance)
        (10, [0.1, 0.2, 0.3], 1),
        # label 2: two identical vectors (n = 2, still zero variance)
        (20, [0.4, -0.4, 0.9], 2),
        (21, [0.4, -0.4, 0.9], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(root / "embeddings.parquet"))

    spdf = QUERIES["emb_outliers"](spark, str(root)).toPandas()
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{root}/embeddings.parquet/*.parquet')"
        )
        dpdf = con.sql(build_oracles()["emb_outliers"]).df()
    finally:
        con.close()

    assert len(spdf) == len(dpdf) == len(rows)
    assert _vhash(_canon(spdf)) == _vhash(_canon(dpdf))
    zero_var = spdf[spdf["label"].isin([1, 2])]
    assert (zero_var["z_score"] == 0.0).all()
    assert (~zero_var["is_outlier"]).all()


def test_every_oracle_query_handles_empty_tables(spark, empty_sf, empty_duck):
    oracles = build_oracles()
    failures = []
    for name, fn in QUERIES.items():
        if name not in oracles:
            continue
        try:
            spdf = fn(spark, empty_sf).toPandas()
        except Exception as exc:  # noqa: BLE001 — classified below
            msg = str(exc).splitlines()[0]
            want = EXPECTED_REFUSALS.get(name)
            if want is None or want not in msg:
                failures.append(f"{name}: unexpected spark error: {msg[:160]}")
            continue
        if name in EXPECTED_REFUSALS:
            failures.append(f"{name}: expected a refusal, got a result")
            continue
        try:
            dpdf = empty_duck.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(
                f"{name}: oracle error: {str(exc).splitlines()[0][:160]}"
            )
            continue
        if len(spdf) != len(dpdf):
            failures.append(
                f"{name}: rows spark={len(spdf)} duck={len(dpdf)}"
            )
        elif sorted(spdf.columns) != sorted(dpdf.columns):
            failures.append(f"{name}: column mismatch")
        elif _vhash(_canon(spdf)) != _vhash(_canon(dpdf)):
            failures.append(f"{name}: value-hash mismatch on empty input")
    assert not failures, "\n".join(failures)
