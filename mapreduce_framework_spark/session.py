"""SparkSession factory with scale-conscious defaults.

The same config block is intended to be valid on a 1000-executor cluster;
only master/parallelism knobs come from the environment.  Rationale per
setting is inline — these are the knobs that decide whether the engine
survives a 100 TB run, so they live in one audited place.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "mapreduce_framework_spark") -> SparkSession:
    """Build (or return the active) SparkSession.

    In tests / bench this is ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster the master is supplied externally and everything below still
    applies.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # --- Shuffle parallelism.  Local testing uses one partition per
        # core; a cluster deployment raises this (rule of thumb: 2-3× the
        # total core count) and lets AQE coalesce down.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # --- Scan split sizing: 128 MiB splits amortize task overhead on
        # big files while keeping per-task memory bounded.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Keep the UI off in harness runs; one less port/thread.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Runtime-settable confs the engine's semantics depend on.  get_spark
# builds with them; the driver contract hands our queries an
# externally-built SparkSession, so they are also (re-)applied per entry
# call by apply_runtime_confs:
#   - session.timeZone: timestamp columns collect in session-local time;
#     a non-UTC harness session would shift every timestamp result
#     against the (naive-UTC) parquet data and the DuckDB oracle.
#   - arrow.*: pandas/mapInPandas/UDTF paths must take the Arrow lane —
#     correctness is unaffected but a pickled-row fallback is 10-100×
#     slower, which at bench scale reads as a regression.
#   - adaptive.*: re-plan at runtime from observed sizes — coalesces
#     small shuffle partitions, converts to broadcast joins late, and
#     splits skewed partitions; the skew/coalesce safety nets every plan
#     assumes.
#   - parquet.filterPushdown: push predicates into the scan.
#   - autoBroadcastJoinThreshold: dims ≤ 64 MiB ship to every executor
#     instead of shuffling the fact table.
#   - parquet.nanosAsLong: the testdata's events.ts may be parquet
#     TIMESTAMP(NANOS), which the vectorized reader rejects; io.table
#     reads it as raw nanos.  The reader consults this conf when the scan
#     EXECUTES, so it must hold for the session's lifetime, not around
#     the read call.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Semantics pins (the values every oracle was validated under — a
    # harness session configured differently would silently change
    # division-by-zero/cast behavior, identifier resolution, or decimal
    # widening):
    "spark.sql.ansi.enabled": "true",
    "spark.sql.caseSensitive": "false",
    "spark.sql.decimalOperations.allowPrecisionLoss": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin semantics-critical runtime confs on an externally-built
    session (idempotent, cheap — plain SQLConf writes)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - locked custom conf
            pass
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the ``with`` block — the one place engine code
    writes session confs.  Every exit path restores the prior values and
    unsets keys that were unset.  Confs are session-global: a query on
    another thread plans under the scope's values while it is open, and
    a conf read at execution must still be set when the action runs."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
