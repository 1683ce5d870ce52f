"""Distributed Lloyd's k-means over integer-quantized embeddings.

Spark has no built-in iterative clustering in the SQL engine (MLlib's
KMeans is RDD-era and nondeterministic across runs); this operator
expresses one Lloyd iteration as two declarative steps that both stay
in whole-stage codegen:

  assign: vectors × broadcast(centroids) → per-pair squared-L2
          distance via ``zip_with``/``aggregate`` (JVM fold, no
          Python), argmin per vector via ``min(struct(dist, cid))``;
  update: ``posexplode`` members → groupBy (cluster, dim) integer
          sums → truncating division → re-assembled centroid arrays.

Everything is exact int64 arithmetic on embeddings quantized to 1e-4
(``round(x * 10000)``): distances, sums, and the truncating division
(Spark ``div`` == DuckDB ``//``) are bit-identical across engines and
across partition orders — which is what makes an ITERATIVE algorithm
hash-checkable against a SQL oracle, the same trick as the integer-unit
PageRank in queries/graphs.py.

Scale posture (100 TB): centroids are k rows — always broadcast; the
assign step is a map-side cross product (k distance evaluations per
row, no shuffle); the update step shuffles n×dims skinny rows hashed
by (cluster, dim) — uniform by construction, no skew.  Iterations are
unrolled in the plan (lazy, like the PageRank rounds): each round
reuses the quantized scan via ReuseExchange rather than a driver-side
loop with actions.  MLlib-style convergence-until-epsilon would add a
driver action per round; fixed unrolled rounds keep the whole thing
one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Lattice resolution of ``quantize``: 1e-4 per unit.
LATTICE_SCALE = 10_000


def quantize(vec: F.Column) -> F.Column:
    """float embedding → exact int64 lattice point (round half-up;
    identical in DuckDB, where round() on DOUBLE is also half-away)."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.round(x * LATTICE_SCALE).cast("bigint"),
    )


def _sq_l2(a: F.Column, b: F.Column) -> F.Column:
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0).cast("bigint"), lambda acc, d: acc + d)


def assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v) × (cid, c) → (vec_id, v, cid, dist) for the nearest
    centroid, deterministic ties by lowest cid."""
    paired = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "v", "cid", _sq_l2(F.col("v"), F.col("c")).alias("dist")
    )
    best = paired.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid", "v")).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.v").alias("v"),
        F.col("b.cid").alias("cid"),
        F.col("b.dist").alias("dist"),
    )


def update(assigned: DataFrame) -> DataFrame:
    """Member mean per cluster, element-wise, in exact integer space:
    sum/count per (cluster, dim), truncating division (`div`, matching
    the oracle's `//`), arrays re-assembled in dim order.  Clusters
    that lost every member disappear (standard Lloyd's behavior)."""
    exploded = assigned.select("cid", F.posexplode("v").alias("pos", "val"))
    dims = exploded.groupBy("cid", "pos").agg(
        F.expr("sum(val) div count(*)").alias("mval")
    )
    return dims.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mval"))),
            lambda s: s.getField("mval"),
        ).alias("c")
    )


def kmeans_rounds(vectors: DataFrame, centroids: DataFrame, rounds: int) -> DataFrame:
    """Unrolled Lloyd iterations; returns the final assignment
    (vec_id, v, cid, dist)."""
    assigned = assign(vectors, centroids)
    for _ in range(rounds - 1):
        assigned = assign(vectors, update(assigned))
    return assigned
