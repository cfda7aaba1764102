"""Unit tests for dedup resolution (connected components) and
deterministic sampling (operators/graph.py, operators/sample.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.graph import connected_components
from kyiv_traffic_bigdata_spark.operators.sample import (
    STRATIFIED_K,
    hash_sample,
    sample_hash,
    stratified_sample,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_components_two_groups_and_chain(spark):
    # component {1,2,3} via chain, {10,11} direct, crossing edge order
    e = _edges(spark, [(2, 1), (2, 3), (10, 11)])
    got = {r.node: r.component for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_components_path_graph_converges(spark):
    # a worst-case diameter for min-propagation: a path 0-1-2-...-9
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    got = {r.node: r.component for r in connected_components(e).collect()}
    assert got == {i: 0 for i in range(10)}


def test_components_raises_without_convergence(spark):
    e = _edges(spark, [(i, i + 1) for i in range(6)])
    with pytest.raises(RuntimeError):
        connected_components(e, max_iter=2)


def test_stratified_sample_exact_counts_and_determinism(spark):
    rows = [(i, "en" if i % 3 else "uk") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = stratified_sample(df)
    s2 = stratified_sample(df.repartition(7))
    got1 = sorted((r.lang, r.doc_id) for r in s1.collect())
    got2 = sorted((r.lang, r.doc_id) for r in s2.collect())
    assert got1 == got2  # partitioning-independent
    by_lang = {}
    for lang, _ in got1:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert by_lang == {"en": STRATIFIED_K, "uk": STRATIFIED_K}
    # small stratum: takes everything it has
    tiny = spark.createDataFrame([(1, "de"), (2, "de")], "doc_id long, lang string")
    assert stratified_sample(tiny).count() == 2


def test_hash_sample_fraction_and_stability(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    out = hash_sample(df)
    n = out.count()
    assert 800 <= n <= 1200  # ~10% of 10k, md5-uniform
    # deterministic: same rows again, on any partitioning
    assert out.count() == n
    assert hash_sample(df.repartition(7)).join(out, "doc_id", "left_anti").count() == 0


def test_sample_hash_matches_portable_recipe(spark):
    # pin the recipe: first 8 md5 hex chars of the stringified key
    import hashlib

    df = spark.createDataFrame([(42,)], "k long")
    got = df.select(sample_hash(F.col("k")).alias("h")).collect()[0].h
    assert got == int(hashlib.md5(b"42").hexdigest()[:8], 16)


def test_weighted_hash_sample_rates_and_nesting(spark):
    """Per-stratum keep-rates land near target, unknown strata use the
    default, and a larger rate yields a superset (threshold nesting):
    every CORPUS_MIX rate is at least HASH_SAMPLE_FRACTION, so the hash
    sample sits inside the mix."""
    from kyiv_traffic_bigdata_spark.operators.sample import weighted_hash_sample

    rows = [(i, ["en", "zh", "xx"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = weighted_hash_sample(df)
    by = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by["zh"] == 1000  # fraction 1.0 keeps everything
    assert 220 <= by["en"] <= 380  # ~300 of 1000 at 0.3, md5-uniform
    assert 420 <= by["xx"] <= 580  # unknown language: the 0.5 default
    assert hash_sample(df).join(out, ["doc_id"], "left_anti").count() == 0  # nested


def test_operators_tolerate_empty_inputs(spark):
    """Empty partitions/tables are the steady state of incremental runs
    (a new hour with no data) — pair operators, components, sampling,
    and the interval join must return empty, not crash."""
    from kyiv_traffic_bigdata_spark.operators.graph import connected_components
    from kyiv_traffic_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_neardup_pairs,
    )
    from kyiv_traffic_bigdata_spark.operators.interval import interval_join
    from kyiv_traffic_bigdata_spark.operators.sample import (
        stratified_sample,
        weighted_hash_sample,
    )

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(no_docs).count() == 0
    assert minhash_lsh_pairs(no_docs).count() == 0
    assert simhash_neardup_pairs(no_docs).count() == 0
    no_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(no_edges).count() == 0
    no_rows = spark.createDataFrame([], "doc_id long, lang string")
    assert stratified_sample(no_rows).count() == 0
    assert weighted_hash_sample(no_rows).count() == 0
    pts = spark.createDataFrame([], "user_id long, ts_us long")
    ivs = spark.createDataFrame([(1, 0, 10)], "user_id long, err_start long, err_end long")
    assert interval_join(pts, ivs, 5).count() == 0
    no_ivs = spark.createDataFrame([], "user_id long, err_start long, err_end long")
    some_pts = spark.createDataFrame([(1, 3)], "user_id long, ts_us long")
    assert interval_join(some_pts, no_ivs, 5).count() == 0


def test_content_hash_splits_keep_duplicates_together(spark):
    """The split key is the CONTENT fingerprint, so byte-identical docs
    (even with different ids) always land in the same split — the
    eval-contamination guard a doc_id-keyed split cannot give."""
    from kyiv_traffic_bigdata_spark.functions.text import fingerprint, portable_hash
    from kyiv_traffic_bigdata_spark.queries import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX
    from pyspark.sql import functions as F

    texts = [f"document body number {i} with content" for i in range(30)]
    rows = [(i, texts[i % 30]) for i in range(90)]  # every text x3 ids
    d = spark.createDataFrame(rows, "doc_id long, text string")
    u = portable_hash(fingerprint(F.col("text")))
    split = (
        F.when(u < SPLIT_TRAIN_MAX, F.lit("train"))
        .when(u < SPLIT_VAL_MAX, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assigned = d.select("text", split.alias("split")).distinct()
    # one split per distinct content -> 30 rows, not more
    assert assigned.count() == 30


def test_upsample_mix_non_dyadic_fraction_parity(spark, sf_dir, monkeypatch):
    """The fractional-epoch threshold must be floor'd before the BIGINT
    cast on the SQL side: DuckDB's double→BIGINT cast rounds to nearest
    while Spark's truncates, so a NON-DYADIC fraction (.1 · 2³² = …9.6)
    diverges by one hash value without the floor. Pin parity with
    adversarial epoch factors the registered config doesn't use."""
    import duckdb

    from kyiv_traffic_bigdata_spark import queries as Q

    monkeypatch.setattr(
        Q, "UPSAMPLE_EPOCHS", {"src0": 1.1, "src1": 2.7, "src2": 0.3}
    )
    got = sorted(
        (r.doc_id, r.source, r.n_copies, r.copy_idx)
        for r in Q.q_doc_upsample_mix(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(Q._sql_upsample_mix()).fetchall()))
    assert got == want


def test_staging_reliable_mode(spark, tmp_path, monkeypatch):
    from kyiv_traffic_bigdata_spark.operators import staging

    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    monkeypatch.setattr(staging, "_MODE", "reliable")
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # reliable mode wrote real checkpoint files to durable storage
    assert any(ckpt.rglob("*"))
