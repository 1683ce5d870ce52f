"""Deterministic cross-engine numeric aggregation helpers.

Double summation is order-dependent, and shuffle-fetch order varies run
to run (and certainly differs from DuckDB's scan order).  Convention:
**sums are computed over DECIMAL-cast inputs** (exact, associative,
commutative) and cast back to double at the end — the result is
bit-identical regardless of aggregation order or engine.  Per-row
arithmetic (products, differences) stays in double: identical operands →
identical IEEE results in both engines.

At 100 TB this costs nothing: decimal partial aggregation is still
map-side combined and whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-insensitive SUM of a money-like double column."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB rendering of :func:`dsum` (same cast chain)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def davg(col: Column) -> Column:
    """Deterministic AVG: exact decimal sum, one double division."""
    return dsum(col) / F.count(F.lit(1))


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT(*)"
