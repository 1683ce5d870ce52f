"""Deterministic id-hash splits (train/eval, new batch/corpus)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def id_hexdigit(id_col: str) -> Column:
    """First hex digit of md5(id as string): compare it against a digit
    (``id_hexdigit("doc_id") < "4"`` keeps ~4/16 of the ids).  The split
    depends on each row's id alone, so it needs no shuffle or sampling
    state and is stable when other rows come and go.  DuckDB computes
    the same digit as ``substring(md5(CAST(id AS VARCHAR)), 1, 1)``."""
    return F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 1)
