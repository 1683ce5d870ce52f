"""As-of join: match each left row to the most recent right row.

Spark has no ASOF JOIN operator (DuckDB/Pandas/kdb do); the naive
formulations are disasters at scale — a theta join `r.ts <= l.ts`
becomes a BroadcastNestedLoopJoin, and `max(r.ts) per left row` is a
correlated subquery.  The scalable shape is the classic UNION + WINDOW
plan:

1. tag both sides and union them on the join key;
2. sort within key by (ts, side) — right rows BEFORE left rows at
   equal ts, which implements inclusive (`r.ts <= l.ts`) semantics;
3. `last(right_payload, ignorenulls=True)` over
   `rowsBetween(unboundedPreceding, currentRow)` carries the latest
   right payload forward;
4. keep only left rows.

Cost: ONE hash shuffle on the key + one sort within partitions —
exactly a sort-merge join's cost, with no pair blowup.  Skewed keys
are split by AQE like any other exchange.  This is the standard
pattern for time-series enrichment (trades/quotes, events/dim-updates)
at 100 TB.

Determinism: ties among right rows at identical (key, ts) are resolved
by a caller-supplied pre-aggregation (see query) — window `last` over
an unordered tie is otherwise nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str, ts: str) -> DataFrame:
    """For each left row, attach the payload of the latest right row
    with ``right.ts <= left.ts`` within the same ``on`` key (NULL
    payload when no prior right row exists).

    The payload is every right column except the key and timestamp;
    attached columns are renamed ``<name>_asof``.
    """
    payload_cols = [c for c in right.columns if c not in (on, ts)]

    lcols = left.columns
    l_tagged = left.select(
        *lcols, F.lit(1).alias("_side"), *[F.lit(None).alias(f"_p_{c}") for c in payload_cols]
    )
    r_tagged = right.select(
        F.col(on),
        F.col(ts),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    # Align schemas: right side lacks the left-only columns.
    for c in lcols:
        if c not in (on, ts):
            r_tagged = r_tagged.withColumn(c, F.lit(None))
    unioned = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "_side",
        *[
            F.last(F.col(f"_p_{c}"), ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in payload_cols
        ],
    )
    return carried.where(F.col("_side") == 1).drop("_side")
