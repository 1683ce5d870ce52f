"""Exactly-once streaming sinks via foreachBatch.

Structured Streaming's exactly-once story is checkpointed offsets + an
IDEMPOTENT sink: after a crash the engine may re-run the last
uncommitted micro-batch, so the sink must make "write batch N twice"
indistinguishable from once.  The standard pattern is partition-by-
batch-id with dynamic overwrite: a retry of batch N rewrites directory
``_batch_id=N`` in place instead of appending duplicates.

(A plain ``.write.mode("append")`` inside foreachBatch is the classic
bug: correct until the first retry, silent duplication after.)

This is the sink-side half of the reference's exactly-once machinery —
its master requeues tasks and relies on reducers overwriting their
``out_<r>`` blob by name (workerimpl.cc:319-333), which is the same
idempotence-by-addressing idea.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def idempotent_parquet_writer(path: str):
    """foreachBatch function: write each micro-batch to a hive
    partition keyed by batch id, dynamic-overwrite so retries replace
    rather than append.  Read the sink back with
    ``spark.read.parquet(path)`` (optionally dropping ``_batch_id``)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return write_batch
