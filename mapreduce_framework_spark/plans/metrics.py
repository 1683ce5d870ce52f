"""In-plan observability: row/byte metrics without a second pass.

The reference polls job progress out-of-band (worker status RPC,
mr.proto:13; the client counts output blobs, client.sh:226-233 —
SURVEY.md §2a O19/O22).  The Spark-native equivalent is `observe()`:
metric expressions evaluated as rows flow through the already-running
plan — zero extra scans, exact, and available the moment the action
finishes.  At 100 TB an audit count as a separate `.count()` action
would re-read the table; an observation is free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach metric expressions to the plan; read ``obs.get`` after an
    action.  Default metric set: row count."""
    obs = Observation()
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("n_rows"),)
    return df.observe(obs, *metrics), obs
