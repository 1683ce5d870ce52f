"""Aggregations (SURVEY.md §2a O5 partial + O11 final — the heart of the
reference).  Every groupBy here compiles to partial HashAggregate →
exchange → final HashAggregate, i.e. exactly the reference's combiner →
hash shuffle → reducer pipeline (map.py:16-22 → workerimpl.cc:254 →
reduce.py:12-15), minus the blob-storage round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.registry import register


@register(
    "agg_groupby_sum",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
  {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
  {davg_sql('l_quantity')} AS avg_qty,
  {davg_sql('l_extendedprice')} AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-01'
GROUP BY l_returnflag, l_linestatus
""".strip(),
    tags=("agg",),
    bench=True,
)
def agg_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final aggregation."""
    l = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
SELECT l_orderkey, count(DISTINCT l_suppkey) AS supp_cnt,
       count(DISTINCT l_partkey) AS part_cnt
FROM lineitem
GROUP BY l_orderkey
""".strip(),
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst expands to a two-phase aggregate; the
    first phase dedups (key, value) pairs so the shuffle carries distinct
    pairs only, which is what keeps this viable on skewed keys at scale."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("supp_cnt"),
            F.countDistinct("l_partkey").alias("part_cnt"),
        )
    )


@register(
    "agg_approx_distinct",
    # Tolerance oracle: HLL sketch internals differ between engines, so
    # the check constrains the ESTIMATE, not the sketch — the query
    # emits the exact distinct count plus an error-bound verdict on the
    # HLL estimate (within max(±8%, ±3): 4σ at rsd=0.02, so a correct
    # implementation produces a spurious FALSE on ~30 groups with
    # probability ~2e-3, vs a non-negligible chance at the old 2.5σ
    # bound; the absolute floor absorbs tiny-group wobble); the oracle
    # asserts the verdict is TRUE everywhere.  At 100 TB you ship only
    # the estimate; the exact column here is the certificate that makes
    # an approximate operator hash-checkable.
    oracle="""
SELECT c_nationkey,
       count(DISTINCT o_custkey) AS exact_customers,
       TRUE AS within_tol
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""".strip(),
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB path for
    distinct-cardinality — fixed-size sketch, no distinct-pair shuffle.
    Emits (exact, estimate-within-max(±8%, ±3) verdict) per group so the driver
    hash check verifies the estimate's error bound."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
            F.countDistinct("o_custkey").alias("exact_customers"),
        )
        .select(
            "c_nationkey",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= F.greatest(F.lit(3.0), 0.08 * F.col("exact_customers"))
            ).alias("within_tol"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {dsum_sql('o_totalprice')} AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, CAST(year(o_orderdate) AS INTEGER))
""".strip(),
    tags=("agg", "rollup"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (nation, year): grouping-set expansion + broadcast of the
    25-row nation dim (never shuffle a fact table to join a fixed-size
    dimension)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .rollup("n_name", "o_year")
        .agg(
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_having",
    oracle=f"""
SELECT o_custkey, count(*) AS n_orders, {dsum_sql('o_totalprice')} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 5 AND {dsum_sql('o_totalprice')} > 150000
""".strip(),
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group filter on aggregate values (HAVING ≙ post-agg .where)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_spent"),
        )
        .where((F.col("n_orders") >= 5) & (F.col("total_spent") > 150000))
    )


@register(
    "agg_filter_clause",
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE year(o_orderdate) = 1995) AS DOUBLE) AS total_1995,
       count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
         AS big_spenders
FROM orders
GROUP BY o_orderpriority
""".strip(),
    tags=("agg",),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate FILTER clauses: several differently-filtered
    aggregates in ONE pass over the table.  The naive alternative — one
    scan per condition joined back together — reads the fact table N
    times and shuffles N times; conditional aggregation is the single
    most common rewrite that collapses a 100 TB star-schema report to
    one scan.  Compiles to the same partial+final HashAggregate with
    the predicates evaluated per-row before accumulation."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        dsum(
            F.when(F.year("o_orderdate") == 1995, F.col("o_totalprice"))
        ).alias("total_1995"),
        F.countDistinct(
            F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))
        ).alias("big_spenders"),
    )


@register(
    "agg_salted_skew",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       min(user_id) AS min_user,
       max(user_id) AS max_user
FROM events
GROUP BY event_type
""".strip(),
    tags=("agg", "skew"),
    bench=True,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation on a low-cardinality key (5 event
    types — the degenerate skew case: every key is hot).  Same answer
    as a direct groupBy, but the hot key's final combine sees S
    pre-aggregated rows instead of the raw stream — see
    operators/salting.py.  Decimal sum keeps the result order-exact so
    the plain-SQL oracle hash-matches."""
    from mapreduce_framework_spark.operators.salting import salted_agg

    ev = table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("count", F.lit(1)),
            "total_value": ("sum", F.col("value").cast("decimal(18,4)")),
            "min_user": ("min", F.col("user_id")),
            "max_user": ("max", F.col("user_id")),
        },
        salt_source=F.col("event_id"),
        n_salts=16,
    ).withColumn("total_value", F.col("total_value").cast("double"))


@register(
    "agg_percentile",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
FROM lineitem
GROUP BY l_returnflag
""".strip(),
    tags=("agg", "percentile"),
    bench=True,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines use the
    same linear-interpolation definition; round(6) guards last-ulp).
    Exact percentile is a full-sort-per-group operation — at 100 TB the
    scale path is approx_percentile (t-digest, mergeable partials, see
    agg_approx_distinct for the analogous trade)."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("p95_price"),
    )


def approx_quantiles_frame(
    df: DataFrame, group: str, col: str, probs: list[float]
) -> DataFrame:
    """Pure approx-percentile aggregate — the 100-TB serving path on
    its own, with no exact twin in the plan: ``approx_percentile`` is a
    mergeable sketch (ObjectHashAggregate with partial_merge partials,
    plan-pinned in tests/test_plans.py), so per-group quantiles cost
    one pass and NO per-group sort, and daily partials would merge the
    way agg_hll_partial_merge's sketches do.  Rank-error contract:
    every returned value's rank is within ±1/1000 of its target."""
    probs_sql = ", ".join(str(p) for p in probs)
    return df.groupBy(group).agg(
        F.expr(
            f"approx_percentile({col}, array({probs_sql}), 1000)"
        ).alias("aq")
    )


@register(
    "agg_percentile_approx",
    # Tolerance oracle (the HLL pattern, agg_hll_partial_merge): the
    # sketch internals have no DuckDB twin, so the hash-checked columns
    # are the EXACT percentiles plus an all-TRUE verdict that the
    # approx values sit inside the exact rank-error band.
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       TRUE AS within_tol
FROM lineitem
GROUP BY l_returnflag
""".strip(),
    tags=("agg", "percentile", "sketch"),
    bench=True,
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile serving twin of agg_percentile: exact
    percentile is a full-sort-per-group
    operation, so the 100-TB path is ``approx_percentile`` — a
    GK/KLL-style mergeable sketch whose partials combine map-side and
    whose answer carries a RANK-error guarantee of ±1/accuracy.

    Verification shape: each group emits the exact p50/p90 (the
    hash-checked values) plus a verdict that the sketch's answer lies
    inside the exact quantile band at the guaranteed rank error —
    approx_percentile(accuracy=1000) promises rank within ±0.001·n, so
    the returned VALUE must lie in [exact_q(p−ε), exact_q(p+ε)]; the
    band uses ε=0.005 (5× the guarantee) so a correct sketch
    essentially never fails on fresh data while a broken one (or a
    mis-set accuracy) trips the driver's hash check.  The pure serving
    plan — sketch aggregate only, no exact twin, no per-group sort —
    is :func:`approx_quantiles_frame`, plan-pinned separately.

    Mergeability scope (explicit non-goal):
    the sketch's partials merge WITHIN a job — that is exactly the
    ObjectHashAggregate partial_merge the plan pin asserts, and it is
    what makes the single-pass 100-TB aggregate work.  CROSS-JOB
    re-merge (persist daily sketches, combine into monthly answers
    without rescanning rows) is NOT built on approx_percentile,
    deliberately: vanilla Spark exposes no serializable
    percentile-sketch agg/union function pair at the SQL surface
    (contrast HLL, whose hll_sketch_agg/hll_union_agg power
    agg_hll_partial_merge), so any cross-job lane would have to smuggle
    sketch bytes through a UDAF.  The engine's daily→monthly quantile
    lane is instead agg_quantile_partial_merge: fixed-grid integer
    histograms whose merge is a plain GROUP BY + sum, whose error bound
    is provable in-plan (one bin width), and whose estimate/exact/error
    columns are all hash-checked — strictly stronger verification than
    a sketch-byte roundtrip would allow."""
    l = table(spark, sf_dir, "lineitem")
    eps = 0.005
    agg = l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90_qty"),
        F.percentile("l_quantity", F.lit(0.5 - eps)).alias("_p50_lo"),
        F.percentile("l_quantity", F.lit(0.5 + eps)).alias("_p50_hi"),
        F.percentile("l_quantity", F.lit(0.9 - eps)).alias("_p90_lo"),
        F.percentile("l_quantity", F.lit(0.9 + eps)).alias("_p90_hi"),
        F.expr(
            "approx_percentile(l_quantity, array(0.5, 0.9), 1000)"
        ).alias("_aq"),
    )
    return agg.select(
        "l_returnflag",
        "median_qty",
        "p90_qty",
        (
            F.col("_aq")[0].between(F.col("_p50_lo"), F.col("_p50_hi"))
            & F.col("_aq")[1].between(F.col("_p90_lo"), F.col("_p90_hi"))
        ).alias("within_tol"),
    )


@register(
    "agg_pivot",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders
GROUP BY o_orderpriority
""".strip(),
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an EXPLICIT value list — without one,
    Spark runs a distinct-values job first (an extra full pass at
    scale) and the output schema becomes data-dependent, which breaks
    column-stable contracts."""
    o = table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@register(
    "agg_time_rollup",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
       date_trunc('hour', ts)   AS hour_bucket,
       time_bucket(INTERVAL '5 minutes', ts) AS m5_bucket,
       GROUPING(date_trunc('day', ts), date_trunc('hour', ts),
                time_bucket(INTERVAL '5 minutes', ts)) AS lvl,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts),
                time_bucket(INTERVAL '5 minutes', ts))
""".strip(),
    tags=("agg", "rollup", "timeseries"),
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: one ROLLUP pass
    produces day / hour / 5-minute materializations plus the grand
    total (grouping_id distinguishes levels).  At 100 TB this is ONE
    shuffle instead of three separate aggregations, and the partial
    aggregates for the finest bucket feed the coarser ones."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day_bucket")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_bucket")
    m5 = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 300).cast("long") * 300
    ).alias("m5_bucket")
    return (
        ev.select(day, hour, m5, "value")
        .rollup("day_bucket", "hour_bucket", "m5_bucket")
        .agg(
            F.grouping_id().alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"),
        )
    )


@register(
    "reshape_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""".strip(),
    tags=("reshape",),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt), the inverse of agg_pivot: four measure
    columns become (metric, value) rows.  DataFrame.unpivot is a
    zero-shuffle narrow op — each input row expands locally."""
    l = table(spark, sf_dir, "lineitem")
    return l.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "agg_array_collect",
    oracle="""
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
       array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags
FROM lineitem
GROUP BY l_orderkey
""".strip(),
    tags=("agg", "array"),
)
def agg_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_list/collect_set) with DETERMINISTIC
    ordering — collect_list's arrival order depends on task scheduling,
    so every collected array is sorted before it leaves the query.  At
    scale this is an ObjectHashAggregate whose state grows with group
    size: only safe on bounded groups (≤7 lines per order here); for
    unbounded groups prefer windowed top-k.

    The arrays are serialized to comma-joined strings on BOTH the Spark
    and oracle side: the correctness harness canonicalizes results via a
    pandas sort + hash, and raw array cells (numpy.ndarray) are
    unhashable there — the sortedness property being demonstrated
    survives serialization."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("l_linenumber"))).alias(
            "line_numbers"
        ),
        F.concat_ws(",", F.sort_array(F.collect_set("l_returnflag"))).alias("flags"),
    )


@register(
    "agg_moments",
    oracle="""
WITH s AS (
  SELECT l_suppkey,
         count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sq,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sq2,
         CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) AS sd,
         CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS sd2,
         CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS sqd
  FROM lineitem
  GROUP BY l_suppkey
)
SELECT l_suppkey, n,
       round(sq / n, 6) AS mean_qty,
       round(sqrt((n * sq2 - sq * sq) / (n * (n - 1.0))), 6) AS stddev_qty,
       round((n * sqd - sq * sd)
             / (sqrt(n * sq2 - sq * sq) * sqrt(n * sd2 - sd * sd)), 6)
         AS corr_qty_disc
FROM s
WHERE n >= 2
""".strip(),
    tags=("agg", "stats"),
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier mean/stddev/correlation computed from DECIMAL power
    sums with the closed-form combine done in double at the end.  The
    built-in stddev/corr aggregates are fold-order-dependent doubles —
    their last bits differ run-to-run and engine-to-engine — while
    power sums are exact and associative, so this is both reproducible
    AND one ordinary partial+final hash aggregate (no second pass for
    the mean, no order sensitivity).  The same trick is how map-side
    combine stays available for variance at 100 TB."""
    l = table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(28,4)")
    q, d = F.col("l_quantity"), F.col("l_discount")
    s = l.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(q)).cast("double").alias("sq"),
        F.sum(dec(q * q)).cast("double").alias("sq2"),
        F.sum(dec(d)).cast("double").alias("sd"),
        F.sum(dec(d * d)).cast("double").alias("sd2"),
        F.sum(dec(q * d)).cast("double").alias("sqd"),
    )
    n, sq, sq2 = F.col("n"), F.col("sq"), F.col("sq2")
    sd, sd2, sqd = F.col("sd"), F.col("sd2"), F.col("sqd")
    return (
        s.where(n >= 2)
        .select(
            "l_suppkey",
            "n",
            F.round(sq / n, 6).alias("mean_qty"),
            F.round(F.sqrt((n * sq2 - sq * sq) / (n * (n - F.lit(1.0)))), 6).alias(
                "stddev_qty"
            ),
            F.round(
                (n * sqd - sq * sd)
                / (F.sqrt(n * sq2 - sq * sq) * F.sqrt(n * sd2 - sd * sd)),
                6,
            ).alias("corr_qty_disc"),
        )
    )


@register(
    "agg_partial_merge",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         count(*) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
         min(o_totalprice) AS mn,
         max(o_totalprice) AS mx
  FROM orders
  GROUP BY 1
)
SELECT date_trunc('month', d) AS month,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       CAST(SUM(s) AS DOUBLE) AS total_price,
       CAST(SUM(s) AS DOUBLE) / SUM(n) AS avg_price,
       min(mn) AS min_price,
       max(mx) AS max_price
FROM daily
GROUP BY 1
""".strip(),
    tags=("agg", "incremental"),
)
def agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic partial-aggregate merge: daily partials (count / exact
    decimal sum / min / max) re-aggregated to monthly, with avg derived
    from merged sum÷count.  This is the incremental-maintenance shape
    for a 100 TB pipeline — the daily rollup is maintained as data
    lands, and coarser rollups merge partials without rescanning raw
    rows (same algebra that lets the reference's mapper pre-aggregate
    per shard before the shuffle, map.py:16-22).  The partial sums stay
    DECIMAL until the final cast so the merge is order-insensitive."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    )
    # DuckDB's date_trunc('month') yields DATE (Spark: TIMESTAMP) — pin DATE.
    return daily.groupBy(
        F.date_trunc("month", F.col("d")).cast("date").alias("month")
    ).agg(
        F.sum("n").alias("n_orders"),
        F.sum("s").cast("double").alias("total_price"),
        (F.sum("s").cast("double") / F.sum("n")).alias("avg_price"),
        F.min("mn").alias("min_price"),
        F.max("mx").alias("max_price"),
    )


@register(
    "agg_mode",
    oracle="""
WITH cnt AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS prio, count(*) AS cnt
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY 1, 2
),
r AS (
  SELECT seg, prio, cnt,
         row_number() OVER (PARTITION BY seg
                            ORDER BY cnt DESC, prio ASC) AS rn
  FROM cnt
)
SELECT seg, prio AS modal_priority, cnt AS modal_cnt FROM r WHERE rn = 1
""".strip(),
    tags=("agg", "mode"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent order priority
    per market segment, ties broken lexicographically.  Built-in
    ``mode()`` is tie-nondeterministic in both engines, so the idiom is
    count-then-argmax — here as a single struct-MIN over
    (-cnt, priority), which Catalyst executes as one more hash
    aggregate over the (few) group×value count rows: no window, no
    second shuffle of base data, and lexicographic struct comparison
    encodes exactly the ORDER BY cnt DESC, prio ASC tie-break."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cnt = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("prio")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = cnt.groupBy("seg").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("prio").alias("p"))
        ).alias("m")
    )
    return m.select(
        "seg",
        F.col("m.p").alias("modal_priority"),
        (-F.col("m.neg_cnt")).alias("modal_cnt"),
    )


@register(
    "agg_histogram",
    oracle="""
WITH h AS (
  SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bucket,
         count(*) AS n,
         min(o_totalprice) AS lo,
         max(o_totalprice) AS hi
  FROM orders
  GROUP BY 1
)
SELECT bucket, n, lo, hi,
       CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_n
FROM h
""".strip(),
    tags=("agg", "histogram"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20k buckets) with a
    cumulative count — the distribution-profiling pass behind skew
    detection and salting decisions (operators/salting.py).  The
    binning aggregate is fully parallel (bucket id is a scan-side
    expression, partial+final hash agg); only the BOUNDED bucket table
    (~30 rows, price-range/20k — independent of row count) crosses the
    single-partition CDF window, so the global window is safe at any
    data scale."""
    o = table(spark, sf_dir, "orders")
    h = o.groupBy(
        F.floor(F.col("o_totalprice") / 20000).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return h.select(
        "bucket", "n", "lo", "hi", F.sum("n").over(w).cast("bigint").alias("cum_n")
    )


@register(
    "events_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
         + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
""".strip(),
    tags=("agg", "funnel", "events"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → later click → later purchase) per
    user: each stage's earliest qualifying timestamp must strictly
    follow the previous stage's.  The idiom is cascaded
    filter-aggregate-join rounds — every join and aggregation keys on
    ``user_id``, so one hash partitioning serves the whole funnel
    (Catalyst reuses the exchange), and each stage's frame is one row
    per surviving user, shrinking monotonically.  Timestamps compare at
    full microsecond precision, identical in both engines."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.join(v, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.join(c, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNull(), 0).otherwise(1)
                + F.when(F.col("t_purchase").isNull(), 0).otherwise(1)
            ).alias("stage"),
        )
    )


@register(
    "calendar_spine_gapfill",
    oracle="""
WITH b AS (
  SELECT CAST(date_trunc('day', min(o_orderdate)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('day', max(o_orderdate)) AS TIMESTAMP) AS hi
  FROM orders
),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM b),
daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT CAST(date_trunc('month', s.d) AS DATE) AS month,
       count(*) AS n_days,
       count(*) FILTER (WHERE daily.n IS NULL) AS n_zero_days,
       CAST(coalesce(SUM(daily.n), 0) AS BIGINT) AS total_orders
FROM spine s LEFT JOIN daily ON s.d = daily.d
GROUP BY 1
""".strip(),
    tags=("agg", "gapfill"),
)
def calendar_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: generate the full day spine between the
    first and last order date, left-join daily counts, and report
    zero-order days per month — the gap-filling step every time-series
    rollup needs (an aggregation alone can't see days with NO rows).
    The spine is `sequence()` over a 2-row-bound aggregate — its size
    is the date RANGE, not the row count, so at 100 TB it is still a
    few thousand rows and broadcasts into the join; the daily counts
    side is a normal partial+final aggregate of the fact table."""
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = b.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = spine.join(daily, "d", "left")
    return joined.groupBy(
        F.date_trunc("month", F.col("d")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count(F.when(F.col("n").isNull(), 1)).alias("n_zero_days"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("total_orders"),
    )


@register(
    "events_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INTEGER)
         AS week_offset,
       count(*) AS n_active_users
FROM first_seen f
JOIN activity a ON f.user_id = a.user_id
GROUP BY 1, 2
""".strip(),
    tags=("agg", "retention", "events"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event, counted in every later week they return — the
    retention triangle behind every activation dashboard.  One row per
    (user, active-week) survives the dedup, so the cohort join moves
    user-cardinality data, not event-cardinality; both the first-seen
    aggregate and the join key on user_id (shared partitioning).  The
    offset divides an exact multiple of 7, so integer division is safe
    in both engines; week truncation starts Monday in both."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "agg_hll_partial_merge",
    # Tolerance oracle (Datasketches internals have no DuckDB twin, so
    # the check constrains the estimates): exact distincts per grain +
    # an all-TRUE within-max(8%, 3) verdict column (~5σ at lgK=12's
    # ~1.6% rse — wide enough that a correct sketch essentially never
    # fails the gate on fresh data); tests additionally pin
    # merge==direct equality and partitioning invariance.
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS grain,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS within_tol
FROM events
GROUP BY 1
UNION ALL
SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
""".strip(),
    tags=("agg", "sketch", "incremental"),
)
def agg_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-day HLL sketches of
    active users, re-aggregated to a corpus-wide estimate by sketch
    UNION — without touching raw events again.  This is the 100 TB
    replacement for exact `count(DISTINCT)` rollups: exact distincts
    don't merge (yesterday's count + today's count ≠ union), so every
    re-aggregation rescans raw data; HLL sketches merge associatively,
    so daily partials persist in a tiny rollup table and ANY time-range
    distinct is a sketch-union over that table — the same incremental-
    maintenance shape as agg_partial_merge, extended to the one
    aggregate that isn't algebraic.

    lgK=12 (4 KiB per sketch) holds relative error ~1.6% regardless of
    cardinality; estimates are deterministic for a fixed dataset and
    partitioning-invariant (tested).  Each grain emits the exact
    distinct count plus a within-max(8%, 3) verdict on the sketch estimate —
    the driver hash check then verifies the error bound (tolerance
    oracle; Datasketches internals still have no DuckDB twin)."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("grain"),
        "exact_users",
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    total = (
        daily.agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est_users"))
        .crossJoin(
            ev.agg(F.countDistinct("user_id").alias("exact_users"))
        )
        .select(F.lit("ALL").alias("grain"), "exact_users", "est_users")
    )
    return per_day.unionByName(total).select(
        "grain",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.greatest(F.lit(3.0), 0.08 * F.col("exact_users"))
        ).alias("within_tol"),
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
t AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
         AS prob
FROM t
""".strip(),
    tags=("agg", "sequence"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: per-user event
    sequences (ordered by (ts, event_id) — unique tie-break) yield
    (from → to) counts and row-normalized transition probabilities —
    the Markov-chain fit behind next-action prediction and
    anomalous-session scoring.

    Scale: the lead() window shuffles events once on user_id; the
    transition count aggregate and the per-from normalization window
    both run on the tiny |types|² frame.  Counts are exact integers;
    the single probability division is round(6)-pinned."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    t = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wn).cast("double"), 6).alias("prob"),
    )


@register(
    "events_rfm_segmentation",
    oracle="""
WITH rfm AS (
  SELECT user_id,
         max(epoch_us(ts)) AS last_us,
         count(*) AS frequency,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
scored AS (
  SELECT user_id, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY last_us DESC, user_id ASC) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS m_score
  FROM rfm
)
SELECT user_id, frequency, monetary_cents, r_score, f_score, m_score,
       CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
            WHEN r_score >= 3 AND f_score <= 2 THEN 'at_risk'
            WHEN r_score = 1 THEN 'recent'
            ELSE 'regular' END AS segment
FROM scored
""".strip(),
    tags=("agg", "segmentation"),
    # Bench member: the distributed exact_ntile price (one-shot 0.5 ->
    # 2.5 s, adjudicated in BASELINE.md) belongs in the gated suite.
    bench=True,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the purchase stream: one
    aggregate computes recency (last purchase instant, exact micros),
    frequency, and monetary value (integer cents — float sums would be
    order-dependent), then three quartile scores per dimension (unique
    user_id tie-breaks keep ntile deterministic) and a CASE maps scores
    to named segments.

    Scale: the per-user aggregate shuffles
    purchases once; the three quartile scores then run through
    ``operators/ranking.exact_ntile`` — range repartition +
    partition-local ranks + broadcast offsets — instead of the
    unpartitioned ``ntile(4)`` windows this key shipped with, which
    funneled the whole USER frame through one task (the watermark
    fixture's scale-killer class, just one aggregation level up; at
    billions of users it is the same single-task sort).  exact_ntile is
    pinned bit-identical to window ntile on totally-ordered keys
    (tests/test_operators.py), so the oracle — which keeps the
    declarative ntile form — is unchanged, and the no-wide-
    single-partition plan shape is pinned in tests/test_plans.py."""
    from mapreduce_framework_spark.operators.ranking import exact_ntile

    rfm = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    scored = exact_ntile(
        rfm, 4, [F.desc("last_us"), F.asc("user_id")], out_col="r_score"
    )
    scored = exact_ntile(
        scored, 4, [F.desc("frequency"), F.asc("user_id")], out_col="f_score"
    )
    scored = exact_ntile(
        scored, 4, [F.desc("monetary_cents"), F.asc("user_id")], out_col="m_score"
    )
    seg = (
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1), "champion")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "at_risk")
        .when(F.col("r_score") == 1, "recent")
        .otherwise("regular")
    )
    return scored.select(
        "user_id",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


@register(
    "agg_weighted_percentile",
    # Weighted median: first price whose cumulative quantity weight
    # reaches half the group's total — pure integer cumsums and an
    # argmin, no float aggregation anywhere.
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  GROUP BY l_returnflag, l_extendedprice
),
c AS (
  SELECT l_returnflag, price, qty,
         SUM(qty) OVER (PARTITION BY l_returnflag ORDER BY price
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(qty) OVER (PARTITION BY l_returnflag) AS total
  FROM w
)
SELECT l_returnflag,
       min(price) AS weighted_median_price,
       CAST(min(total) AS BIGINT) AS total_weight
FROM c
WHERE 2 * cum >= total
GROUP BY l_returnflag
""".strip(),
    tags=("agg", "percentile"),
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median (50th percentile by l_quantity weight, not row
    count) per return flag — the importance-weighted statistic for
    corpora where rows carry unequal mass (token counts, sampling
    weights).  The plan pre-aggregates to one row per (group, price)
    with integer weights, takes a cumulative-weight window over the
    price ordering, and picks the first price whose doubled cumulative
    weight reaches the total: every comparison is integer-exact, prices
    are selected (never summed), so the result is engine-identical.

    Scale: the only corpus-sized shuffle is the (group, price) partial
    aggregate; the window runs over distinct prices per group.  Spark's
    percentile_approx offers the approximate path; this key pins the
    EXACT weighted semantics that approx sketches can't express."""
    from pyspark.sql import Window

    w = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.col("l_extendedprice").alias("price"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "price",
        F.sum("qty").over(wc).alias("cum"),
        F.sum("qty").over(wt).alias("total"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.min("total").cast("bigint").alias("total_weight"),
        )
    )


@register(
    "agg_quantile_partial_merge",
    # Fully integer-deterministic: cents = round(price*100) as int64,
    # fixed-width bins (W = 100000 cents = $1000), rank thresholds via
    # integer ceil((q*total)) arithmetic, and the exact quantile as the
    # min value whose cumulative distinct-value count reaches the rank.
    # Both engines compute the identical histogram and the identical
    # exact rank value, so estimate, truth, AND the error column are
    # hash-checkable — the quantile sibling of agg_hll_partial_merge's
    # tolerance verdict, but exact.
    oracle="""
WITH li AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         CAST(l_shipdate AS DATE) AS d,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
daily AS (
  SELECT month, d, cents // 100000 AS bin, count(*) AS cnt
  FROM li GROUP BY 1, 2, 3
),
monthly AS (
  SELECT month, bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM daily GROUP BY 1, 2
),
tot AS (SELECT month, CAST(SUM(cnt) AS BIGINT) AS total FROM monthly GROUP BY 1),
cum AS (
  SELECT month, bin,
         CAST(SUM(cnt) OVER (PARTITION BY month ORDER BY bin) AS BIGINT) AS cum
  FROM monthly
),
est AS (
  SELECT c.month, t.total,
         min(CASE WHEN c.cum >= (t.total + 1) // 2 THEN c.bin END) AS b50,
         min(CASE WHEN c.cum >= (9 * t.total + 9) // 10 THEN c.bin END) AS b90,
         min(CASE WHEN c.cum >= (99 * t.total + 99) // 100 THEN c.bin END) AS b99
  FROM cum c JOIN tot t USING (month)
  GROUP BY 1, 2
),
pc AS (SELECT month, cents, count(*) AS c FROM li GROUP BY 1, 2),
pcum AS (
  SELECT month, cents,
         CAST(SUM(c) OVER (PARTITION BY month ORDER BY cents) AS BIGINT) AS cumr
  FROM pc
),
exact AS (
  SELECT p.month,
         min(CASE WHEN p.cumr >= (t.total + 1) // 2 THEN p.cents END)
           AS p50_exact_cents,
         min(CASE WHEN p.cumr >= (9 * t.total + 9) // 10 THEN p.cents END)
           AS p90_exact_cents,
         min(CASE WHEN p.cumr >= (99 * t.total + 99) // 100 THEN p.cents END)
           AS p99_exact_cents
  FROM pcum p JOIN tot t USING (month)
  GROUP BY 1
)
SELECT e.month, e.total,
       (e.b50 + 1) * 100000 AS p50_est_cents, x.p50_exact_cents,
       (e.b50 + 1) * 100000 - x.p50_exact_cents AS p50_err_cents,
       (e.b90 + 1) * 100000 AS p90_est_cents, x.p90_exact_cents,
       (e.b90 + 1) * 100000 - x.p90_exact_cents AS p90_err_cents,
       (e.b99 + 1) * 100000 AS p99_est_cents, x.p99_exact_cents,
       (e.b99 + 1) * 100000 - x.p99_exact_cents AS p99_err_cents,
       ((e.b50 + 1) * 100000 - x.p50_exact_cents BETWEEN 1 AND 100000
        AND (e.b90 + 1) * 100000 - x.p90_exact_cents BETWEEN 1 AND 100000
        AND (e.b99 + 1) * 100000 - x.p99_exact_cents BETWEEN 1 AND 100000)
         AS bound_ok
FROM est e JOIN exact x USING (month)
""".strip(),
    tags=("agg", "incremental", "sketch"),
    bench=True,
)
def agg_quantile_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches: per-day fixed-grid histogram
    partials (128-ish $1000 bins over integer cents) re-aggregated to
    monthly p50/p90/p99 estimates WITHOUT rescanning raw rows — the
    quantile counterpart of agg_partial_merge (algebraic moments) and
    agg_hll_partial_merge (distincts).  Exact percentiles don't merge
    (yesterday's p99 + today's p99 say nothing about the union), but
    fixed-grid histograms merge by plain `+`, with the estimate's error
    bounded by ONE bin width by construction — the same
    bounded-bucket idea as KLL/t-digest sketches, reduced to the
    grid case where the merge is expressible as a GROUP BY and the
    bound is provable in-plan.  Each month's row carries the estimate,
    the exact rank value, the signed error, and a bound_ok verdict the
    oracle recomputes bit-for-bit.

    Scale: the daily partial is the ONLY pass over raw rows (at 100 TB
    it is maintained incrementally as data lands); the merge and the
    quantile extraction run on (month, bin) rows — bounded by
    months x ~130 bins regardless of corpus size.  The exact-rank
    audit column is the expensive part (a per-month cumulative count
    over distinct cent values) and exists to prove the bound; a
    production rollup ships only the histogram path.  Thresholds use
    integer ceil arithmetic ((q*total + den-1) div den) so no float
    rank ever appears."""
    from pyspark.sql import Window

    W = 100_000  # bin width in cents ($1000)
    li = table(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("month"),
        F.col("l_shipdate").cast("date").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    daily = li.groupBy(
        "month", "d", F.expr(f"cents div {W}").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    monthly = daily.groupBy("month", "bin").agg(F.sum("cnt").alias("cnt"))
    tot = monthly.groupBy("month").agg(F.sum("cnt").alias("total"))

    wb = Window.partitionBy("month").orderBy("bin")
    cum = monthly.withColumn("cum", F.sum("cnt").over(wb))

    def _rank(num: int, den: int) -> F.Column:
        return F.expr(f"({num} * total + {den - 1}) div {den}")

    est = (
        cum.join(tot, "month")
        .groupBy("month", "total")
        .agg(
            F.min(F.when(F.col("cum") >= _rank(1, 2), F.col("bin"))).alias("b50"),
            F.min(F.when(F.col("cum") >= _rank(9, 10), F.col("bin"))).alias("b90"),
            F.min(F.when(F.col("cum") >= _rank(99, 100), F.col("bin"))).alias("b99"),
        )
    )
    pc = li.groupBy("month", "cents").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("month").orderBy("cents")
    pcum = pc.withColumn("cumr", F.sum("c").over(wc)).join(tot, "month")
    exact = pcum.groupBy("month").agg(
        F.min(F.when(F.col("cumr") >= _rank(1, 2), F.col("cents"))).alias(
            "p50_exact_cents"
        ),
        F.min(F.when(F.col("cumr") >= _rank(9, 10), F.col("cents"))).alias(
            "p90_exact_cents"
        ),
        F.min(F.when(F.col("cumr") >= _rank(99, 100), F.col("cents"))).alias(
            "p99_exact_cents"
        ),
    )
    out = est.join(exact, "month")
    cols = [F.col("month"), F.col("total")]
    bounds = []
    for q in ("50", "90", "99"):
        est_c = ((F.col(f"b{q}") + 1) * W).alias(f"p{q}_est_cents")
        err = ((F.col(f"b{q}") + 1) * W - F.col(f"p{q}_exact_cents")).alias(
            f"p{q}_err_cents"
        )
        cols += [est_c, F.col(f"p{q}_exact_cents"), err]
        bounds.append(
            ((F.col(f"b{q}") + 1) * W - F.col(f"p{q}_exact_cents")).between(1, W)
        )
    cols.append((bounds[0] & bounds[1] & bounds[2]).alias("bound_ok"))
    return out.select(*cols)
