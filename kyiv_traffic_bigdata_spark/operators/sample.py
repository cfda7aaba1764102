"""Deterministic sampling for training-data curation.

`df.sample()` is seed-dependent across partitionings and engines, so a
sampled corpus is unreproducible the moment the cluster layout changes —
unacceptable for dataset lineage. These operators instead rank rows by a
content-derived md5 (functions.text.portable recipe): the same rows are
chosen on any engine, any partitioning, any day, and the DuckDB oracle
can replay the exact selection.

Scale: ranking within strata is one shuffle on the strata key; the
per-stratum k cut uses the same TakeOrdered-per-group shape as
operators.topk. For global samples, the hash threshold variant
(``hash_sample``) is map-only — no shuffle at all — because md5 is
uniform: P[md5_prefix(key) < t·2^32] ≈ t.

Every operator samples documents: the key is ``doc_id`` and the stratum
is ``lang``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash
from .topk import top_k_per_group

#: Docs kept per language by :func:`stratified_sample`.
STRATIFIED_K = 20

#: Keep-fraction of :func:`hash_sample`.
HASH_SAMPLE_FRACTION = 0.1

#: Corpus-mixing rates of :func:`weighted_hash_sample`: down-sample the
#: dominant language, keep the rare ones whole — the standard
#: LLM-pretraining rebalance shape; other languages keep CORPUS_MIX_DEFAULT.
CORPUS_MIX = {"en": 0.3, "zh": 1.0, "de": 0.8}
CORPUS_MIX_DEFAULT = 0.5


def sample_hash(key: Column) -> Column:
    """Uniform deterministic [0, 2^32) hash of a key column — the
    engine's single portable-hash recipe (functions.text.portable_hash),
    so the SQL twin is the one shared _PORTABLE_HASH template."""
    return portable_hash(key.cast("string"))


def stratified_sample(df: DataFrame) -> DataFrame:
    """Exactly min(STRATIFIED_K, |lang|) docs per language, chosen by
    ascending sample hash (ties broken by ``doc_id`` itself — total
    order, so the selection is unique and engine-independent)."""
    hashed = df.withColumn("_sh", sample_hash(F.col("doc_id")))
    out = top_k_per_group(
        hashed,
        ["lang"],
        [F.col("_sh").asc(), F.col("doc_id").asc()],
        STRATIFIED_K,
    )
    return out.drop("_sh")


def hash_sample(df: DataFrame) -> DataFrame:
    """Map-only deterministic ~HASH_SAMPLE_FRACTION sample: keep docs
    whose sample hash falls under fraction·2^32. No shuffle, no seed,
    same rows on any engine or partitioning — the 100 TB way to cut a
    reproducible slice."""
    threshold = int(HASH_SAMPLE_FRACTION * (1 << 32))
    return df.where(sample_hash(F.col("doc_id")) < threshold)


def weighted_hash_sample(df: DataFrame) -> DataFrame:
    """Corpus mixing: keep the CORPUS_MIX fraction of each language.
    Map-only like :func:`hash_sample` — the per-language threshold is a
    small CASE cascade, no shuffle, no seed; a larger fraction yields a
    superset (hash thresholds nest), so mixtures can be re-weighted
    incrementally without re-selecting from scratch."""
    thr = F.lit(int(CORPUS_MIX_DEFAULT * (1 << 32)))
    for stratum, frac in sorted(CORPUS_MIX.items()):
        thr = F.when(
            F.col("lang") == stratum, F.lit(int(frac * (1 << 32)))
        ).otherwise(thr)
    return df.where(sample_hash(F.col("doc_id")) < thr)
