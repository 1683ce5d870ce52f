"""Salted two-stage aggregation for skewed group keys.

At 100 TB a handful of hot keys (empty string, null-ish sentinels, a
bot user) can put most of a shuffle into one partition.  AQE's skew
handling splits oversized partitions for JOINS, but a skewed
`groupBy().agg()` still funnels each hot key through a single reducer
for the FINAL aggregate.  The classic fix is salting:

    stage 1: groupBy(key, salt) — hot keys spread over S partitions;
             partial aggregation happens map-side as usual, so stage 1
             shuffles at most S rows per (key, partition);
    stage 2: groupBy(key) over S pre-aggregated rows per key — the
             reducer for the hot key now combines S rows, not N.

Only works for algebraically decomposable aggregates (sum/count/min/
max, and avg via sum+count).  The salt is derived from a hash of a
high-cardinality column (not ``rand()``), so the plan stays
deterministic and re-executable — a task retry re-salts identically,
which Spark's recompute-on-failure model requires for correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Aggregates that decompose as combine(partial_1 … partial_S).
_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # counts combine by summing
    "min": F.min,
    "max": F.max,
}

_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    salt_source: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column name → (agg_name, input column) with
    agg_name in {sum, count, min, max}.  ``salt_source`` is any
    high-cardinality deterministic column (e.g. an id) used to derive
    the salt.
    """
    unknown = {a for a, _ in aggs.values()} - set(_PARTIAL)
    if unknown:
        raise ValueError(f"non-decomposable aggregates: {sorted(unknown)}")

    salt = F.pmod(F.xxhash64(salt_source), F.lit(n_salts)).alias("_salt")
    stage1 = df.groupBy(*keys, salt).agg(
        *[_PARTIAL[a](c).alias(out) for out, (a, c) in aggs.items()]
    )
    stage2 = stage1.groupBy(*keys).agg(
        *[_MERGE[a](F.col(out)).alias(out) for out, (a, _) in aggs.items()]
    )
    return stage2


# Cap on one hot key's salt count in ``adaptive_salted_join``.
_MAX_SALTS = 256


def adaptive_salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_source: Column,
    rows_per_salt: int = 1_000_000,
    how: str = "inner",
) -> DataFrame:
    """Two-pass skew-AWARE equi-join: the salt factor is derived per key
    from the big side's measured key histogram (the
    profile_heavy_hitters shape), not fixed globally.

    Pass 1 (skinny, stays in the SAME plan — no driver action): per-key
    counts on the big side; keys above ``rows_per_salt`` become the hot
    set, each with its own salt count ``ceil(count / rows_per_salt)``
    capped at ``_MAX_SALTS``.  The hot set is a handful of (key, n_salts)
    rows — broadcast.

    Pass 2: big rows on cold keys keep salt 0; hot-key rows spread over
    their key's n_salts.  The small side is replicated per key by
    exactly that key's n_salts (cold keys: once) — so total replication
    is Σ n_salts over HOT keys only, vs S×|small| for the fixed-S
    :func:`salted_join`.  Join on (key, salt), drop the plumbing.

    vs the fixed version: no tuning guess — a key with 10× more rows
    gets 10× more salts, cold keys pay nothing, and the same call works
    unchanged at sf0.01 and at 100 TB (salts grow with measured mass).
    The histogram pass costs one skinny (key, count) aggregation of the
    big side — exactly the scan profile_heavy_hitters already runs; at
    100 TB you'd feed that profile's persisted output in as ``hot``
    instead of recomputing (identical plan from there on).

    Deterministic end to end: counts are data-derived, the salt is
    hash-derived from ``salt_source`` (never rand()) — task retries
    re-salt identically, which Spark's recompute-on-failure model
    requires."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi"}
    if how.lower() not in allowed:
        # A right/full/anti join would surface the REPLICATED small-side
        # rows (one per salt) as distinct output rows — wrong multiset.
        raise ValueError(f"adaptive_salted_join supports {sorted(allowed)}, not {how!r}")
    n_salts_col = F.least(
        F.ceil(F.col("_k_rows") / F.lit(rows_per_salt)).cast("int"),
        F.lit(_MAX_SALTS),
    )
    hot = (
        big.groupBy(on)
        .agg(F.count(F.lit(1)).alias("_k_rows"))
        .where(F.col("_k_rows") > rows_per_salt)
        .select(on, n_salts_col.alias("_n_salts"))
    )

    big_salted = (
        big.join(F.broadcast(hot), on, "left")
        .withColumn(
            "_salt",
            F.when(F.col("_n_salts").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(salt_source), F.col("_n_salts")).cast("int")
            ),
        )
        .drop("_n_salts")
    )
    small_replicated = (
        small.join(F.broadcast(hot), on, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.sequence(
                    F.lit(0).cast("int"),
                    F.coalesce(F.col("_n_salts"), F.lit(1)).cast("int") - 1,
                )
            ),
        )
        .drop("_n_salts")
    )
    return big_salted.join(small_replicated, [on, "_salt"], how).drop("_salt")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_source: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: salt the BIG side's hot keys across S
    partitions and replicate the small side S× so every salted row
    still finds its match.

    AQE's skew-join split handles most cases at runtime; this is the
    explicit fallback for joins AQE cannot split (e.g. a skewed stream
    side, or when one hot key exceeds a single executor even after
    splitting).  Cost: the small side shuffles S× its size — use only
    when small really is small and the hot key really is hot.

    The salt is hash-derived from ``salt_source`` (a deterministic
    high-cardinality column of ``big``), never rand(): task retries
    must re-salt identically.
    """
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_source), F.lit(n_salts))
    )
    small_replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_salted.join(small_replicated, [on, "_salt"]).drop("_salt")
