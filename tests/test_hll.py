"""HLL sketch accuracy and merge-contract tests (operators/hll.py).

The oracle gate proves both engines compute the SAME estimate; these
pin that the estimate is a GOOD one (within the m=64 error budget) and
that the register state actually merges by elementwise max — the
property that makes the sketch shard/stream-safe at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.hll import (
    HLL_M,
    hll_estimate,
    hll_registers,
)
from kyiv_traffic_bigdata_spark.queries import QUERIES


def test_hll_estimate_within_error_budget(spark, sf_dir):
    """Relative error per group within 4x the theoretical standard
    error (1.04/sqrt(64) ~ 13%) — loose enough to never flake, tight
    enough to catch a broken register/rho computation (which lands
    orders of magnitude off)."""
    rows = QUERIES["user_hll_sketch"](spark, sf_dir).collect()
    assert rows, "no event types"
    budget = 4 * 1.04 / (HLL_M**0.5)
    for r in rows:
        rel = abs(r.est_users - r.n_exact) / max(r.n_exact, 1)
        assert rel <= budget, (
            f"{r.event_type}: est {r.est_users} vs exact {r.n_exact} "
            f"(rel {rel:.3f} > {budget:.3f})"
        )


def test_hll_registers_merge_by_max(spark, sf_dir):
    """Sketching two halves separately and max-merging the registers
    must give bit-identical state to sketching the union — the
    mergeability contract (shards, streams, backfills)."""
    from kyiv_traffic_bigdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("_u")
    )
    whole = hll_registers(ev)
    h1 = hll_registers(ev.where(F.col("_u").cast("long") % 2 == 0))
    h2 = hll_registers(ev.where(F.col("_u").cast("long") % 2 == 1))
    merged = (
        h1.unionAll(h2)
        .groupBy("event_type", "_reg")
        .agg(F.max("_rho").alias("_rho"))
    )
    diff = whole.exceptAll(merged).count() + merged.exceptAll(whole).count()
    assert diff == 0

    # and the folded estimates agree exactly
    a = {r.event_type: r.est_distinct
         for r in hll_estimate(whole).collect()}
    b = {r.event_type: r.est_distinct
         for r in hll_estimate(merged).collect()}
    assert a == b


def test_hll_register_count_bounded(spark, sf_dir):
    """Sketch state is ≤ |groups| x m rows no matter the input size."""
    from kyiv_traffic_bigdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("_u")
    )
    n_groups = ev.select("event_type").distinct().count()
    regs = hll_registers(ev)
    assert regs.count() <= n_groups * HLL_M


def test_mrl_recall_sane(spark, sf_dir):
    """Truncated-dim recall is in [0, 1] and not uniformly zero — the
    first 32 dims carry real signal in the synthetic embeddings (a
    recall of 0 everywhere would mean the slice or the join is wrong,
    not that MRL is useless)."""
    rows = QUERIES["emb_mrl_recall"](spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r.recall_at_10 <= 1.0 for r in rows)
    assert any(r.n_overlap > 0 for r in rows)


def test_contamination_flags_cross_split_neardups(spark, sf_dir):
    """The synthetic corpus contains near-duplicate docs; whenever a
    near-dup pair straddles the benchmark split the train half MUST
    show contamination. Also pins frac = n_contaminated / n_ngrams."""
    rows = QUERIES["doc_ngram_contamination"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_ngrams
        assert abs(r.contam_frac - r.n_contaminated / r.n_ngrams) < 1e-9
    # ground truth from the probe run recorded in the query docstring:
    # at every shipped sf, >= 1 train doc overlaps the benchmark split
    assert any(r.n_contaminated > 0 for r in rows)


def test_hard_negatives_labels_differ_and_k_bounded(spark, sf_dir):
    """Every mined pair must cross labels (that's what makes it a
    negative) and each anchor yields at most k rows with sims in
    [-1, 1]."""
    from kyiv_traffic_bigdata_spark.queries import HARDNEG_K

    rows = QUERIES["emb_hard_negatives"](spark, sf_dir).collect()
    assert rows
    per_anchor = {}
    for r in rows:
        assert r.query_label != r.neighbor_label
        assert -1.000001 <= r.cosine_sim <= 1.000001
        per_anchor[r.query_id] = per_anchor.get(r.query_id, 0) + 1
    assert all(n <= HARDNEG_K for n in per_anchor.values())


def test_emb_outliers_zscores_are_standardized(spark, sf_dir):
    """Per label: the z-scores must average ~0 with variance ~1 (they
    are standardized within the label), and flags must agree with the
    threshold."""
    from collections import defaultdict

    from kyiv_traffic_bigdata_spark.queries import EMB_OUTLIER_Z

    rows = QUERIES["emb_outliers"](spark, sf_dir).collect()
    assert rows
    by_label = defaultdict(list)
    for r in rows:
        assert r.is_outlier == (r.z_score > EMB_OUTLIER_Z) or abs(
            r.z_score - EMB_OUTLIER_Z
        ) < 1e-6
        by_label[r.label].append(r.z_score)
    for zs in by_label.values():
        mu = sum(zs) / len(zs)
        var = sum(z * z for z in zs) / len(zs) - mu * mu
        assert abs(mu) < 1e-3
        assert abs(var - 1.0) < 1e-2
