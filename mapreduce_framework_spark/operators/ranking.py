"""Distributed exact global ranking and ntile — no single-partition window.

A ``Window.orderBy(...)`` with no ``partitionBy`` funnels the ENTIRE
input through one task: invisible at test scale, fatal at 100 TB.
These helpers compute the identical numbers with the classic
distributed-ranking construction instead:

1. ``repartitionByRange`` on the order expressions — partitions hold
   DISJOINT key ranges, so a row's global rank is (rows in earlier
   partitions) + (its rank within its own partition);
2. per-partition local ``row_number`` (a ``partitionBy(partition-id)``
   window — parallel, one balanced task per partition);
3. per-partition row counts rolled into broadcast offsets (a window
   over the ≤ shuffle-partitions-row counts frame — skinny by
   construction, same bounded-input argument as ``agg_histogram``'s
   CDF window).

Exactness: with a TOTAL order (callers must tie-break to uniqueness,
e.g. trailing id column) the rank is unique and
``exact_ntile`` reproduces SQL ``ntile(k)`` bit-for-bit via the
ceil-arithmetic tile formula (first ``n mod k`` tiles get ``n div k + 1``
rows) — pinned against ``F.ntile`` by tests/test_operators.py.

Cost: two balanced shuffles of the frame per ranking (the range
exchange + the partition-id window's hash exchange) versus one
single-task sort — the right trade exactly when the frame is too big
for one task, which is when it matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.operators.materialize import checkpoint


def _ranked_and_counts(
    df: DataFrame, order_cols: list[Column], rank_col: str
) -> tuple[DataFrame, DataFrame]:
    """(df + exact global rank, per-partition counts frame) — the
    counts frame is reused by exact_ntile for the total, so the input
    lineage is scanned once for both."""
    ranged = df.repartitionByRange(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # Materialize the range-partitioned frame ONCE: ``ranged`` is lazy
    # and has 2-3 consumers (the per-partition counts feeding the
    # broadcast offsets, the ranked join, and — in exact_ntile — the
    # total), each of which re-executed the FULL input lineage plus the
    # range partitioner's sampling pass per consumption; chained callers
    # (events_rfm_segmentation stacks three ntiles) compounded that
    # multiplicatively (measured 47 Spark jobs for the RFM key at
    # sf0.001 — ~3^3 subtree re-executions).  One eager checkpoint makes
    # each ranking consume the input exactly once, and freezes ``_pid``
    # against any cross-execution nondeterminism in the sampled range
    # bounds.  The checkpointed frame is the caller's frame itself
    # (user-level aggregates in every current use).
    ranged = checkpoint(ranged)
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"),
    )
    local_w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(local_w) + F.col("_off")).cast("bigint"),
        )
        .drop("_pid", "_off")
    )
    return ranked, counts


def global_ranks(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    """``df`` plus a 1-based exact global ``rank`` column under
    ``order_cols`` (which MUST define a total order — append a unique
    id as the last key), computed without any single-partition pass
    over the data."""
    ranked, _ = _ranked_and_counts(df, order_cols, "rank")
    return ranked


def exact_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list[Column],
    out_col: str = "tile",
) -> DataFrame:
    """``df`` plus ``out_col`` = SQL ``ntile(n_tiles) OVER (ORDER BY
    order_cols)``, bit-identical to the window form on totally-ordered
    keys but computed distributed (see module docstring).

    Tile arithmetic from (rank, n): with q = n div k and r = n mod k,
    the first r tiles hold q+1 rows — so
    ``tile = ceil(rank / (q+1))`` while ``rank <= r·(q+1)``, else
    ``r + ceil((rank − r·(q+1)) / q)`` (q ≥ 1 there: rank > r·(q+1)
    rows exist, so n > r·(q+1) forces q > 0)."""
    ranked, counts = _ranked_and_counts(df, order_cols, rank_col="_rank")
    counts_total = counts.agg(F.sum("_n").cast("bigint").alias("_total"))
    # Integer `div` throughout — ceil(a/b) = (a + b - 1) div b; never
    # float division, so the tile id is exact at any n.
    tile = F.expr(
        f"""CAST(CASE
          WHEN _rank <= (_total % {n_tiles}) * ((_total div {n_tiles}) + 1)
          THEN (_rank + (_total div {n_tiles})) div ((_total div {n_tiles}) + 1)
          ELSE (_total % {n_tiles})
               + ((_rank - (_total % {n_tiles}) * ((_total div {n_tiles}) + 1)
                   + greatest(_total div {n_tiles}, 1) - 1)
                  div greatest(_total div {n_tiles}, 1))
        END AS INT)"""
    )
    return (
        ranked.crossJoin(F.broadcast(counts_total))
        .withColumn(out_col, tile)
        .drop("_rank", "_total")
    )
