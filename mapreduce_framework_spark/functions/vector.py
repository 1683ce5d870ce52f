"""Vector math over array<double> columns, pure JVM expressions.

Sequential left-fold accumulation (`F.aggregate`) gives a deterministic
summation order, which is what makes cosine scores hash-comparable with
DuckDB's `list_cosine_similarity` (same fold order, double precision).

At scale prefer these built-ins over a Pandas UDF: no Arrow transfer,
whole-stage codegen, and the scan stays columnar.  Every ANN tier in
operators/annsearch.py scores with them; none leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
