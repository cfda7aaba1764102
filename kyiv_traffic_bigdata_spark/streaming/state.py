"""State-store provider selection — SURVEY §4's 100 TB streaming posture.

The default HDFSBackedStateStoreProvider keeps every key in executor-heap
maps: fine for the local suite, but a large stateful job (TTL dedup over
billions of keys) wants the RocksDB provider — state lives off-heap/on-disk
with incremental checkpointing, so state size is bounded by local disk,
not heap.

Spark bundles RocksDB (rocksdbjni) since 3.2, but the native library may
be absent on exotic platforms — so selection probes the JVM and falls
back to the default provider rather than failing query start. Tests run
the ingest graph's TTL dedup under BOTH providers (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def rocksdb_available(spark: SparkSession) -> bool:
    """True when the RocksDB provider class loads in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(ROCKSDB_PROVIDER)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001 — any JVM failure means "absent"
        return False


def configure_state_store(spark: SparkSession) -> str:
    """Set the provider for streaming queries started after this call;
    returns the provider class chosen. The conf is read at query start,
    so calling this before ``writeStream.start()`` is sufficient —
    existing checkpoints keep their original provider format."""
    provider = ROCKSDB_PROVIDER if rocksdb_available(spark) else HDFS_PROVIDER
    spark.conf.set(_PROVIDER_CONF, provider)
    return provider
