"""Lineage-truncation staging for iterative / multi-pass operators.

Several operators (the graph fixpoint loops, the repeated-spans
position index) re-derive a frame round after round; without
truncation the logical plan grows per round and Catalyst re-analysis
(plus traps like InferFiltersFromConstraints) goes super-linear. The
repo stages those frames through a checkpoint. Two modes:

``local`` (default)
    ``DataFrame.localCheckpoint`` — materializes to *executor*
    storage (memory, spilling to local disk). Fast, no cluster
    filesystem needed, the right default on ``local[n]`` and for
    frames cheap to recompute. NOT fault-tolerant: the blocks live
    only on the executors that computed them, so on a multi-node
    cluster a lost executor fails the query instead of recomputing
    (Spark cannot rebuild a localCheckpoint's lineage — it was
    truncated). The failure mode is a clean job error → rerun, never
    a wrong answer.

``reliable``
    ``DataFrame.checkpoint`` — writes the frame to the SparkContext
    checkpoint directory (HDFS / object store on a real cluster) and
    reads it back. Survives executor loss, at the cost of a full
    write + read of the staged frame. This is the mode a 100 TB run
    should use for corpus-sized indexes (the repeated-spans position
    index is ~1 row per character) where restarting a multi-hour job
    on a single lost executor is unacceptable. If no checkpoint dir
    has been set, a local temp dir is used so the knob works out of
    the box — cluster deployments should point it at durable storage
    via ``SparkContext.setCheckpointDir`` first.

Mode selection: the ``SPARK_GRAFT_STAGING`` env var at import. A knob
(not a per-call parameter) because the choice is a deployment property,
not a per-operator one.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

_VALID = ("local", "reliable")
_MODE = os.environ.get("SPARK_GRAFT_STAGING", "local")
if _MODE not in _VALID:  # pragma: no cover - env misconfiguration
    raise ValueError(f"SPARK_GRAFT_STAGING must be one of {_VALID}, got {_MODE!r}")


def stage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage per the active mode."""
    if _MODE == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            fallback = os.path.join(tempfile.gettempdir(), "spark_graft_ckpt")
            if not sc.master.startswith("local"):
                # Reliable checkpoints into node-local temp dir do NOT
                # survive executor loss on a real cluster — the mode's
                # guarantee would silently not hold. Fail loudly.
                raise RuntimeError(
                    "staging mode 'reliable' on a non-local master requires "
                    "a shared checkpoint dir: call "
                    "SparkContext.setCheckpointDir('<hdfs/s3 path>') first "
                    f"(refusing node-local fallback {fallback!r})"
                )
            import warnings

            warnings.warn(
                "staging 'reliable': no checkpoint dir set; falling back to "
                f"node-local {fallback!r} — valid ONLY for single-node "
                "local[*] runs",
                stacklevel=2,
            )
            sc.setCheckpointDir(fallback)
        return df.checkpoint()
    return df.localCheckpoint()
