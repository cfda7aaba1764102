"""Multimodal (binary) column plumbing.

Pattern: media (image/audio/video) travels as an opaque ``binary`` column
plus a typed metadata struct; per-payload work runs as Arrow-batched
``mapInPandas`` so bytes never cross the JVM↔Python boundary
row-at-a-time. :func:`extract_media_features` computes byte-level
features only (length, md5, header bytes); no decoder ships here.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the feature extractor (add fields only at the end).
MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("header_hex", T.StringType()),
    ]
)


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Wrap documents as the canonical multimodal layout:
    (media_id, payload binary, meta struct<media_type, n_bytes>).

    The driver testdata has no real media, so documents' text bytes stand
    in as payload (``doc_id`` as media_id); with real data this is the
    parquet/source column as-is.
    """
    payload = F.col("text").cast("binary")
    return df.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.octet_length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    ``mapInPandas`` processes whole Arrow batches; per-batch Python cost is
    amortized, and the operator parallelizes per input partition — at
    100 TB, partition sizing (spark.sql.files.maxPartitionBytes) is the
    throughput knob, not this function.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "content_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "header_hex": payloads.map(lambda b: bytes(b)[:8].hex()),
                }
            )

    return media.mapInPandas(batches, MEDIA_FEATURES_SCHEMA)
