"""Source/sink format support beyond parquet.

The reference ingests exactly one format — UTF-8 text block blobs in a
container (w7/src/master/dbconn.h:107-113; w7/client.sh:163 pins
``--content-encoding UTF-8``) — and its client uploads a local folder
as that container (client.sh:147-181).  The Spark-native generalization
is "directory of files in any supported format"; these helpers pin the
engine's conventions for the non-parquet formats:

- **Explicit schemas only.**  Schema inference triggers an extra full
  pass over the data at scan time — at 100 TB that is a second read of
  the dataset before the query starts.  Every reader here takes a
  ``StructType``.
- **Line-oriented formats split safely.**  text/CSV/JSON sources get
  record-boundary-safe splits from Spark natively — the behavior the
  reference hand-rolls with its +16-byte boundary fix
  (w7/src/worker/worker.h:21,196-232).
- **Partitioned layout is the catalog.**  ``write_partitioned`` +
  hive-style directories give partition PRUNING (directories never
  listed) on the read side, the scale analogue of the reference's
  per-job full-container listing (dbconn.h:45).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV scan with a declared schema (no inference pass).  Pushdown:
    Spark's CSV source supports filter pushdown at the parser level —
    skipped rows are never materialized."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_json_lines(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSON-lines scan with declared schema.  With a schema the parser
    projects only referenced fields (Jackson-level pruning)."""
    return spark.read.schema(schema).json(path)


def write_json_lines(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """ORC scan with declared schema.  Spark's vectorized ORC reader
    gives the same columnar pruning + predicate pushdown as parquet
    (PushedFilters reach the stripe/row-group indexes)."""
    return spark.read.schema(schema).orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-layout parquet: one directory per partition-column value.
    Reads filtered on partition columns list only matching directories
    (PartitionFilters in the scan — zero I/O for pruned partitions)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leave every other partition untouched — the incremental
    pattern for daily/hourly re-runs over a 100 TB table (static
    overwrite mode would truncate the whole dataset first).  The
    per-write option takes precedence over the session conf, which stays
    untouched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


# Target parquet file size of ``write_compacted``.
_TARGET_FILE_BYTES = 256 * 1024 * 1024


def write_compacted(df: DataFrame, path: str) -> None:
    """Write parquet with a bounded file count sized to a 256 MiB
    target file size — the small-files defense.  A shuffle-heavy plan otherwise
    writes one file per task (thousands of KB-sized files at 100 TB,
    which poisons every later scan's listing and footer-read cost).
    File count is estimated from the plan's size statistics; AQE
    coalescing handles the intra-write partitioning."""
    plan = df._jdf.queryExecution().optimizedPlan()
    est_bytes = int(str(plan.stats().sizeInBytes()))
    n_files = max(1, min(10_000, est_bytes // _TARGET_FILE_BYTES))
    df.repartition(int(n_files)).write.mode("overwrite").parquet(path)
