"""Joins (SURVEY.md §2b) — the reduce-side-join pattern the reference
course targeted (reference README.md:80 MovieLens "reduce joins"); the
shuffle machinery it would have used is O7-O9 (hash partition → publish →
group by partition).  Here every join is declarative and Catalyst/AQE
pick the physical strategy; our job is to make the *right* strategy
available:

- bounded dims (nation/region) → explicit broadcast hint;
- fact-fact joins → shuffled hash/sort-merge on the join key, where AQE
  handles skewed keys (skewJoin splits oversized partitions);
- semi/anti instead of join+distinct/filter — they short-circuit and
  never widen rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.functions.numeric import dsum, dsum_sql
from mapreduce_framework_spark.io import table, user_scratch_dir
from mapreduce_framework_spark.registry import register
from mapreduce_framework_spark.session import scoped_confs


@register(
    "join_inner_equi",
    oracle=f"""
SELECT c_custkey, c_name, count(*) AS n_orders, {dsum_sql('o_totalprice')} AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_custkey, c_name
""".strip(),
    tags=("join",),
    bench=True,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join orders ⋈ customer + aggregate.  Shuffles both sides on
    custkey once; the aggregate reuses that partitioning (no second
    exchange — asserted in plan tests)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "join_broadcast",
    oracle=f"""
SELECT p_brand, {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = 'PROMO'
GROUP BY p_brand
""".strip(),
    tags=("join", "broadcast"),
    bench=True,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ small dim with an explicit broadcast hint: the lineitem
    side is never shuffled for the join (BroadcastHashJoin), which at
    100 TB avoids moving the fact table entirely."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(dsum(revenue, 4).alias("revenue"))
    )


@register(
    "join_multiway",
    oracle=f"""
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
""".strip(),
    tags=("join",),
    bench=True,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer–orders–lineitem–nation chain (TPC-H Q5 shape).  Catalyst
    reorders; nation broadcast; the date filter is pushed below the joins
    so lineitem only joins surviving orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("n_name", "o_year")
        .agg(dsum(revenue, 4).alias("revenue"))
    )


@register(
    "join_left_outer",
    oracle=f"""
SELECT c_custkey,
       count(o_orderkey) AS n_big_orders,
       coalesce({dsum_sql('o_totalprice')}, 0.0) AS big_total
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
  ON c_custkey = o_custkey
GROUP BY c_custkey
""".strip(),
    tags=("join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customers with their count of very large orders, including
    zeros — null-extension semantics of LEFT OUTER."""
    c = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("big_total"),
        )
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""".strip(),
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS ≙ left_semi: probes stop at first match, output never
    widens — cheaper than join+distinct at any scale."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
""".strip(),
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS ≙ left_anti."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    oracle="""
SELECT coalesce(c.d, p.d) AS day,
       coalesce(c.n_clicks, 0) AS n_clicks,
       coalesce(p.n_purchases, 0) AS n_purchases
FROM (SELECT CAST(ts AS DATE) AS d, count(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY 1) c
FULL JOIN
     (SELECT CAST(ts AS DATE) AS d, count(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY 1) p
  ON c.d = p.d
""".strip(),
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily clicks vs purchases with FULL OUTER null-extension on both
    sides — days with only one activity type survive with a zero.  Full
    outer forces a shuffle join (no broadcast strategy exists for it),
    so both sides pre-aggregate to one row per day BEFORE the join:
    at 100 TB the join inputs are days, not events."""
    ev = table(spark, sf_dir, "events")
    daily = lambda etype, out: (
        ev.where(F.col("event_type") == etype)
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias(out))
    )
    c, p = daily("click", "n_clicks"), daily("purchase", "n_purchases")
    return c.join(p, "d", "full").select(
        F.col("d").alias("day"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
    )


@register(
    "join_theta_range",
    oracle=f"""
WITH buckets AS (
  SELECT * FROM (VALUES
    (TIMESTAMP '1995-01-01', TIMESTAMP '1997-01-01', 'early'),
    (TIMESTAMP '1997-01-01', TIMESTAMP '1999-01-01', 'mid'),
    (TIMESTAMP '1999-01-01', TIMESTAMP '2002-01-01', 'late')
  ) AS t(lo, hi, era)
)
SELECT era, count(*) AS n_items, {dsum_sql('l_extendedprice')} AS total_price
FROM lineitem JOIN buckets
  ON l_shipdate >= lo AND l_shipdate < hi
GROUP BY era
""".strip(),
    tags=("join", "theta"),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join against a tiny bucket table.  The small side
    is broadcast → BroadcastNestedLoopJoin, which is the right physical
    plan when one side is O(buckets): cost = scan × small constant.  (A
    big-big range join would instead be bucketized into an equi-join on
    overlapping bucket ids — see operators/rangejoin.py.)"""
    l = table(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        [
            ("1995-01-01", "1997-01-01", "early"),
            ("1997-01-01", "1999-01-01", "mid"),
            ("1999-01-01", "2002-01-01", "late"),
        ],
        "lo_s string, hi_s string, era string",
    ).select(
        F.col("lo_s").cast("timestamp").alias("lo"),
        F.col("hi_s").cast("timestamp").alias("hi"),
        "era",
    )
    cond = (F.col("l_shipdate") >= F.col("lo")) & (F.col("l_shipdate") < F.col("hi"))
    return (
        l.join(F.broadcast(buckets), cond)
        .groupBy("era")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("total_price"),
        )
    )


@register(
    "join_asof",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, max(value) AS pval
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, p.pval AS last_purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""".strip(),
    tags=("join", "asof"),
    bench=True,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (time-series enrichment): each click gets the value of
    the user's most recent purchase at or before the click.  Spark has
    no ASOF operator; this is the union+window plan from
    operators/asofjoin.py — one shuffle on user_id, no pair blowup.
    The right side is pre-aggregated per (user, ts) so window ties are
    deterministic; the oracle is DuckDB's native ASOF LEFT JOIN."""
    from mapreduce_framework_spark.operators.asofjoin import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    return asof_join(clicks, purchases, on="user_id", ts="ts").select(
        "event_id",
        "user_id",
        "ts",
        F.col("pval_asof").alias("last_purchase_value"),
    )


@register(
    "join_bucketed",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""".strip(),
    tags=("join", "bucketed"),
    bench=True,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing — THE mechanism for
    repeated large-large joins at 100 TB: both tables are written
    bucketed (and sorted) by the join key into the same bucket count,
    so the sort-merge join reads matching buckets directly and the
    exchange disappears (tests/test_plans.py pins exactly one exchange
    in the whole plan — the final groupBy).  The merge hint keeps the
    sf-sized fixture from broadcasting, which would hide the property
    being demonstrated."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    base = user_scratch_dir("join_bucketed")
    li_t, ord_t = f"li_bucketed_{tag.replace('.', '_')}", f"ord_bucketed_{tag.replace('.', '_')}"
    for name, src, key in (
        (li_t, table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"), "l_orderkey"),
        (ord_t, table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"), "o_orderkey"),
    ):
        (
            # repartition on the bucket key BEFORE the bucketed write
            # (round-13; guide §6 small files): without it every scan
            # task writes one file per bucket it holds — T tasks × 8
            # buckets small files at scale (invisible at sf0.1, where
            # the table is one task).  Hash-repartitioning on the key
            # co-locates each bucket's rows in one task, so the layout
            # is exactly 8 files (one per bucket, corpus/8 each)
            # at ANY scale, and the write-side sortBy sorts once per
            # bucket instead of once per (task, bucket) sliver.
            src.repartition(8, F.col(key))
            .write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    joined = spark.table(li_t).hint("merge").join(
        spark.table(ord_t), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("revenue"),
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT n_name,
       count(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""".strip(),
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join on a 25-value key (every key hot at scale):
    the fact side is salted S ways and the dim side replicated S×, so
    one hot nation's rows spread over S reducers instead of one — see
    operators/salting.py.  Same answer as the plain join (the oracle IS
    the plain join); the merge hint keeps the sf-sized dim from
    broadcasting, which would hide the exchange being de-skewed.
    AQE's skew-join split is the first line of defense; explicit
    salting is for the cases it can't split (stream sides, or one key
    larger than an executor)."""
    from mapreduce_framework_spark.operators.salting import salted_join

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    joined = salted_join(
        c,
        n.hint("merge"),
        on="c_nationkey",
        salt_source=F.col("c_custkey"),
        n_salts=8,
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_acctbal"),
    )


@register(
    "join_adaptive_skew",
    # The oracle is the PLAIN join on the same skewed key — adaptive
    # salting must be answer-invariant; only the exchange layout
    # changes.
    oracle="""
WITH b AS (
  SELECT CASE WHEN o_custkey % 4 = 0 THEN 1 ELSE o_custkey END AS c_custkey,
         o_totalprice
  FROM orders
)
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM b JOIN customer USING (c_custkey)
GROUP BY c_mktsegment
""".strip(),
    tags=("join", "skew", "adaptive"),
    bench=True,
)
def join_adaptive_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive (histogram-driven) skew join: a deterministic hot key —
    every 4th order remapped to custkey 1, so ~25% of the fact side
    lands on one key — joined against the customer dim through
    operators/salting.py:adaptive_salted_join.  The per-key salt factor
    comes from the measured key histogram (profile_heavy_hitters'
    scan), so the hot key gets ceil(count/rows_per_salt) salts and
    every cold key pays nothing: at sf0.01 the hot key gets ~4 salts,
    at sf0.1 ~38 — same call, scale-proportional spreading, which is
    the point of wiring the profile INTO the join instead of guessing
    a global S.  The merge hint keeps the dim from broadcasting (a
    broadcast join has no exchange to de-skew — at real scale the dim
    side exceeds the threshold)."""
    from mapreduce_framework_spark.operators.salting import adaptive_salted_join

    big = table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 4 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        "o_totalprice",
        F.col("o_orderkey").alias("_rowkey"),
    )
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = adaptive_salted_join(
        big,
        dim.hint("merge"),
        on="c_custkey",
        salt_source=F.col("_rowkey"),
        rows_per_salt=1000,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH w AS (
  SELECT event_id AS err_id, ts AS lo, ts + INTERVAL 15 MINUTE AS hi
  FROM events WHERE event_type = 'error'
),
p AS (
  SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click'
)
SELECT err_id,
       count(*) AS n_clicks,
       CAST(sum(cents) AS BIGINT) AS click_cents
FROM w JOIN p ON p.ts >= w.lo AND p.ts < w.hi
GROUP BY err_id
""".strip(),
    tags=("join", "range"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big interval join without a nested loop: every click landing
    inside the 15-minute blast window after any error event, aggregated
    per error (impact attribution).  Both sides are the full events
    stream — neither is broadcastable at scale — so a naive theta join
    would plan BroadcastNestedLoopJoin, O(n·m).  Instead
    operators/rangejoin.py quantizes time into hour buckets, explodes
    each window into the 1-2 buckets it overlaps, hash-joins on the
    bucket id (the ONLY shuffle), and re-applies the exact
    lo <= ts < hi predicate after the equi-join.

    Scale: shuffle volume is n_points + n_windows × avg buckets/window
    skinny rows; bucket width should track the median window length
    (here 15 min → hour buckets ⇒ ≤2 buckets/window).  Hot buckets
    (event storms) are ordinary AQE-splittable key skew.  Value cents
    are exact integers so the aggregate is engine-portable."""
    from mapreduce_framework_spark.operators.rangejoin import point_interval_join

    ev = table(spark, sf_dir, "events")
    windows = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("hi"),
    )
    points = ev.where(F.col("event_type") == "click").select(
        "ts", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    joined = point_interval_join(points, windows, "ts", "lo", "hi", bucket="hour")
    return joined.groupBy("err_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("cents").alias("click_cents"),
    )


@register(
    "join_null_safe",
    # DuckDB's IS NOT DISTINCT FROM ≡ Spark's <=> (eqNullSafe): NULL
    # matches NULL, which a plain equi-join silently drops — the classic
    # outer-join-accounting bug this query pins.
    oracle="""
WITH a AS (
  SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri
  FROM orders
),
b AS (
  SELECT DISTINCT nullif(o_orderpriority, '1-URGENT') AS pri,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 'missing-priority'
              ELSE 'priority: ' || o_orderpriority END AS label
  FROM orders
)
SELECT b.label, count(*) AS n_orders
FROM a JOIN b ON a.pri IS NOT DISTINCT FROM b.pri
GROUP BY b.label
""".strip(),
    tags=("join",),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>`): NULL keys match NULL keys instead of
    vanishing.  Spark plans eqNullSafe as a HASH join (the null bucket
    is just another key value), so the shape and scale posture are
    identical to a plain equi-join — unlike the naive
    `(a = b OR (a IS NULL AND b IS NULL))` rewrite, which degrades to a
    nested loop.  The NULL side of a real dataset is often its biggest
    skew key; AQE's skew split (or salting) applies to it like any hot
    key."""
    o = table(spark, sf_dir, "orders")
    a = o.select(
        "o_orderkey", F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("pri")
    )
    b = (
        o.select(
            F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("pri"),
            F.when(
                F.col("o_orderpriority") == "1-URGENT", F.lit("missing-priority")
            )
            .otherwise(F.concat(F.lit("priority: "), F.col("o_orderpriority")))
            .alias("label"),
        )
        .distinct()
    )
    return (
        a.join(b, a["pri"].eqNullSafe(b["pri"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


BLOOM_JOIN_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join_bloom_filtered plan, shared with the plan-pin test so
    the test asserts might_contain on the EXACT frame the query runs."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_mktsegment")
    )
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@register(
    "join_bloom_filtered",
    # Runtime filters must be answer-invariant: the oracle is the plain
    # selective join, no bloom anywhere.
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > 9000
GROUP BY c_mktsegment
""".strip(),
    tags=("join", "bloom", "runtime-filter"),
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter-pruned shuffle join: a selective dim filter
    (c_acctbal > 9000, ~9% of customers) joined to the fact side with
    Spark's runtime row-level filtering — the optimizer builds a
    `bloom_filter_agg` over the filtered dim's join keys and injects
    `might_contain(...)` into the fact scan, so ~90% of fact rows are
    dropped BEFORE the join's shuffle instead of after it.  This is the
    100 TB shape where the dim is too selective to skip but too big to
    broadcast: the bloom costs one small aggregate, the fact shuffle
    shrinks by the filter's selectivity.  Plan pinned by
    tests/test_plans.py::test_bloom_filtered_query_injects_might_contain.

    Materialized eagerly under pinned runtime confs (thresholds sized
    so the local-mode demo triggers the same plan the defaults produce
    at cluster scale; broadcast disabled because a broadcast join has
    no shuffle for a bloom to protect), then read back — runtime confs
    are read at action time, so returning a lazy frame and restoring
    the confs would silently re-plan without the bloom."""
    out = user_scratch_dir("join_bloom_filtered")
    with scoped_confs(spark, BLOOM_JOIN_CONFS):
        bloom_join_frame(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "join_grid_proximity",
    # DuckDB evaluates the range predicates with its IEJoin; the Spark
    # side uses grid blocking — same result set, different physical
    # strategy, which is exactly what the oracle should prove.
    oracle="""
WITH e AS (
  SELECT event_id, event_type, value,
         epoch_us(ts) // 1000000 AS sec
  FROM events
)
SELECT a.event_type,
       a.event_id AS id_a,
       b.event_id AS id_b,
       round(abs(a.value - b.value), 6) AS dv,
       abs(a.sec - b.sec) AS dt_s
FROM e a JOIN e b
  ON a.event_type = b.event_type
 AND a.event_id < b.event_id
 AND abs(a.value - b.value) <= 2.0
 AND abs(a.sec - b.sec) <= 3600
""".strip(),
    tags=("join", "grid"),
    bench=True,
)
def join_grid_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D proximity self-join via GRID BLOCKING — the spatial-join
    pattern: pairs of same-type events within ε_v = 2.0 in value AND
    ε_t = 1 h in time.  Each event lands in one (value-cell, hour-cell)
    bucket sized exactly ε, the probe side explodes its 3×3 neighbor
    cells, and the equi-join on (type, cell_x, cell_t) finds every
    qualifying pair EXACTLY once (|Δ| ≤ ε ⇒ cells differ by ≤ 1, and a
    pair matches only at the single offset equal to its cell delta);
    the exact ε predicate then filters false grid neighbors.

    Scale: turns an inequality join (nested-loop territory) into ONE
    hash shuffle per side keyed by (type, cell) with bounded ×9 probe
    amplification — the same blocked-equi-join rewrite as
    join_interval_overlap, lifted to two dimensions.  Hot cells are the
    skew case: refine the grid (smaller ε per cell, more offsets) or
    salt the heavy cells exactly as join_salted_skew does.  The oracle
    computes the identical pair set with DuckDB's IEJoin — two engines,
    two physical strategies, one result."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.col("ts").cast("long").alias("sec"),
    )
    return grid_proximity_frame(e)


def grid_proximity_frame(e: DataFrame) -> DataFrame:
    """Grid-blocked 2-D proximity core over an (event_id, event_type,
    value, sec) frame — reusable heart of join_grid_proximity, shared
    with tools/scale_probe.py."""
    with_cells = e.select(
        "*",
        F.floor(F.col("value") / F.lit(2.0)).cast("long").alias("cx"),
        F.floor(F.col("sec") / F.lit(3600)).cast("long").alias("ct"),
    )
    offsets = [(dx, dt) for dx in (-1, 0, 1) for dt in (-1, 0, 1)]
    probe = with_cells.select(
        F.col("event_id").alias("id_a"),
        "event_type",
        F.col("value").alias("v_a"),
        F.col("sec").alias("s_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + F.lit(dx)).alias("cx"),
                        (F.col("ct") + F.lit(dt)).alias("ct"),
                    )
                    for dx, dt in offsets
                ]
            )
        ).alias("cell"),
    ).select("id_a", "event_type", "v_a", "s_a", "cell.cx", "cell.ct")
    build = with_cells.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("value").alias("v_b"),
        F.col("sec").alias("s_b"),
        "cx",
        "ct",
    )
    return (
        probe.join(
            build,
            (probe.event_type == build.type_b)
            & (probe.cx == build.cx)
            & (probe.ct == build.ct),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.abs(F.col("v_a") - F.col("v_b")) <= 2.0)
        .where(F.abs(F.col("s_a") - F.col("s_b")) <= 3600)
        .select(
            "event_type",
            "id_a",
            "id_b",
            F.round(F.abs(F.col("v_a") - F.col("v_b")), 6).alias("dv"),
            F.abs(F.col("s_a") - F.col("s_b")).alias("dt_s"),
        )
    )


@register(
    "join_asof_nearest",
    # Nearest-direction as-of: DuckDB has no NEAREST variant, so the
    # oracle derives it as an argmin over the user-blocked join (fine
    # at oracle SF); the Spark side is two window passes.  Distances in
    # exact integer microseconds; |Δ| ties break to the EARLIER
    # purchase (== the backward match, since bts ≤ cts ≤ fts).
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, max(value) AS pval
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
),
j AS (
  SELECT c.event_id, c.user_id, c.ts, p.pval,
         epoch_us(p.ts) - epoch_us(c.ts) AS dt_us,
         row_number() OVER (
           PARTITION BY c.event_id
           ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)), epoch_us(p.ts)
         ) AS rn
  FROM clicks c LEFT JOIN purchases p USING (user_id)
)
SELECT event_id, user_id, ts,
       pval AS nearest_purchase_value,
       dt_us
FROM j WHERE rn = 1
""".strip(),
    tags=("join", "asof"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join: each click gets the purchase
    closest in time in EITHER direction (backward as-of answers "state
    at the time"; nearest answers "which reading belongs to this
    event" — sensor alignment semantics).  Plan: one union of the two
    streams, ONE hash exchange on user_id, two window passes over it —
    a backward pass (last purchase at or before, purchases sorted
    before clicks on time ties) and a forward pass (first purchase at
    or after, clicks sorted first on ties) — then a codegen CASE picks
    the smaller |Δ|, ties to the earlier (backward) purchase.

    Scale: identical cost shape to join_asof (no pair blowup, no range
    join); the second window adds one extra in-partition sort, not an
    exchange — both windows share the user_id partitioning.  Distances
    are exact integer microseconds, so the choice is engine-exact."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    u = clicks.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.lit(1).alias("is_click"),
        "event_id",
        "ts",
        F.lit(None).cast("double").alias("p_pval"),
        F.lit(None).cast("bigint").alias("p_t"),
    ).unionByName(
        purchases.select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.lit(0).alias("is_click"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.col("pval").alias("p_pval"),
            F.unix_micros("ts").alias("p_t"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.asc("is_click"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.desc("is_click"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    scored = u.select(
        "*",
        F.last("p_pval", ignorenulls=True).over(wb).alias("b_pval"),
        F.last("p_t", ignorenulls=True).over(wb).alias("b_t"),
        F.first("p_pval", ignorenulls=True).over(wf).alias("f_pval"),
        F.first("p_t", ignorenulls=True).over(wf).alias("f_t"),
    ).where(F.col("is_click") == 1)
    bd = F.col("t") - F.col("b_t")
    fd = F.col("f_t") - F.col("t")
    use_b = F.col("b_t").isNotNull() & (F.col("f_t").isNull() | (bd <= fd))
    return scored.select(
        "event_id",
        "user_id",
        "ts",
        F.when(use_b, F.col("b_pval"))
        .otherwise(F.col("f_pval"))
        .alias("nearest_purchase_value"),
        F.when(use_b, -bd).otherwise(fd).alias("dt_us"),
    )
