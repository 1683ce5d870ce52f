"""Dataset profiling and layout-maintenance operations.

A 100 TB corpus is curated by looking at it first: per-column null
rates, cardinalities, and value ranges (the "data profile" every
ingestion pipeline computes before schema decisions), and by keeping
its file layout healthy afterwards (compacting the small files that
incremental jobs accrete — the reference's one-blob-per-reducer sink,
workerimpl.cc:319-333, is exactly how such small files are born:
R reducers → R output blobs per job, forever).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table, user_scratch_dir
from mapreduce_framework_spark.operators.materialize import checkpoint
from mapreduce_framework_spark.registry import register

# (column, null-count expr source, representation for min/max)
# Representations are pinned to strings that render identically in
# Spark and DuckDB: bigint/varchar cast directly, doubles go through
# DECIMAL(18,2) (no scientific notation, fixed scale), timestamps
# through an explicit UTC format string.
_PROFILE_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority", "o_orderdate")


def _render(col: F.Column, c: str) -> F.Column:
    """Render an aggregated (native-typed) min/max as a portable string.
    Rendering happens AFTER aggregation: min/max must use the column's
    native ordering (numeric/temporal), not the lexicographic order of
    its string form."""
    if c == "o_totalprice":
        return col.cast("decimal(18,2)").cast("string")
    if c == "o_orderdate":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def _duck_repr(c: str, agg: str) -> str:
    if c == "o_totalprice":
        return f"CAST(CAST({agg}({c}) AS DECIMAL(18,2)) AS VARCHAR)"
    if c == "o_orderdate":
        return f"strftime({agg}({c}), '%Y-%m-%d %H:%M:%S')"
    return f"CAST({agg}({c}) AS VARCHAR)"


_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       {_duck_repr(c, 'min')} AS min_repr,
       {_duck_repr(c, 'max')} AS max_repr
FROM orders"""
    for c in _PROFILE_COLS
)


@register(
    "profile_table",
    oracle=_PROFILE_ORACLE,
    tags=("profiling", "pipeline"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of ``orders``: row count, null count,
    exact distinct count, and min/max (as engine-portable strings) for
    five columns at once — the ingestion-time data profile.

    Plan shape: a single global aggregate over one FileScan.  The
    multi-column ``count(DISTINCT ...)`` makes Catalyst plan an Expand
    (one duplicated stream per distinct column) feeding a two-phase
    aggregate — the standard single-pass profiling plan.  Scale: Expand
    multiplies the scan 5×; at 100 TB swap ``countDistinct`` for
    ``approx_count_distinct`` (HLL, one stream, mergeable sketches) —
    same query shape, declared here exact so the oracle can check it.
    """
    o = table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            a
            for c in _PROFILE_COLS
            for a in (
                F.count(F.col(c)).alias(f"_nn_{c}"),
                F.countDistinct(F.col(c)).alias(f"_nd_{c}"),
                F.min(F.col(c)).alias(f"_min_{c}"),
                F.max(F.col(c)).alias(f"_max_{c}"),
            )
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                _render(F.col(f"_min_{c}"), c).alias("min_repr"),
                _render(F.col(f"_max_{c}"), c).alias("max_repr"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return agg.select(F.inline(rows))


@register(
    "sink_compaction",
    # The metrics row is fully deterministic: both layouts hold exactly
    # the documents rows, and the file counts are the repartition
    # targets — so the file-layout behavior IS oracle-checkable.
    # Deeper invariants (per-file row balance) stay in
    # tests/test_analytics_invariants.py.
    oracle="""
SELECT count(*) AS n_rows_before,
       count(*) AS n_rows_after,
       64 AS n_files_before,
       4 AS n_files_after
FROM documents
""".strip(),
    tags=("sink", "maintenance"),
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a 64-file parquet directory (the debris of
    64 incremental writer tasks) is rewritten as 4 right-sized files,
    verified lossless by re-reading both layouts.

    Scale: the small-files problem is THE operational failure mode of
    long-lived 100 TB tables — listing cost, per-file open cost, and
    tiny row groups all degrade scans.  The compactor is a plain
    ``repartition(target)`` rewrite: one round-robin shuffle, no
    skew (round-robin is balanced by construction), and the target
    count is data-size / desired-file-size in production.  Returns one
    metrics row so the operation itself stays a DataFrame.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    base = user_scratch_dir("sink_compaction")
    small, compacted = os.path.join(base, "small"), os.path.join(base, "compacted")
    docs.repartition(64).write.mode("overwrite").parquet(small)
    spark.read.parquet(small).repartition(4).write.mode("overwrite").parquet(compacted)

    def _nfiles(d: str) -> int:
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    n_in = spark.read.parquet(small).count()
    n_out = spark.read.parquet(compacted).count()
    return spark.createDataFrame(
        [(n_in, n_out, _nfiles(small), _nfiles(compacted))],
        "n_rows_before bigint, n_rows_after bigint, n_files_before int, n_files_after int",
    )


@register(
    "profile_heavy_hitters",
    oracle="""
WITH counts AS (
  SELECT o_custkey AS key, count(*) AS n_rows
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT count(*) AS total FROM orders)
SELECT key, n_rows, n_rows * 1000000 // total AS share_ppm
FROM counts, tot
ORDER BY n_rows DESC, key ASC
LIMIT 10
""".strip(),
    tags=("profiling", "skew"),
)
def profile_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest join keys with their parts-per-million share of
    the table — the skew-detection scan that decides whether a join
    needs `operators/salting.py` (or AQE's skew split) BEFORE the
    expensive join runs.  Share is exact integer ppm (``div``/``//``,
    engine-portable); ordering is deterministic (count desc, key asc).

    Plan shape: partial-aggregated groupBy + a 1-row broadcast total +
    TakeOrderedAndProject — one shuffle of (key, count) pairs, never the
    full rows.  Scale: exact per-key counts at 100 TB are one skinny
    shuffle; if even that is too hot, swap the exact count for a
    count-min sketch / sampled count in the same shape — the consumers
    (salting decisions) only need order-of-magnitude shares."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    counts = o.groupBy("key").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = o.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            F.expr("n_rows * 1000000 div total").alias("share_ppm"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(10)
    )


_FK_SPECS = (
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)

_FK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS fk,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(sum(CASE WHEN {ck} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
  ON c.{ck} = p.{pk}"""
    for name, child, ck, parent, pk in _FK_SPECS
)


@register(
    "profile_fk_integrity",
    oracle=_FK_ORACLE,
    tags=("profiling", "quality"),
)
def profile_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every star-schema edge in one
    result: per foreign key, row count, null keys, and orphans (non-null
    keys with no parent).  The data-quality gate that runs before any
    pipeline trusts a join — at 100 TB an orphaned 1% silently deletes
    1% of revenue from every inner join downstream.

    Plan shape per edge: the parent side collapses to DISTINCT keys and
    broadcasts (dims ≪ facts here); the audit is then a map-side left
    join + conditional count — no fact shuffle at all.  When a parent
    is itself fact-sized (orders, for the lineitem edge), Spark picks a
    shuffled join; at 100 TB that edge wants both tables bucketed by the
    key, which makes this audit (and every downstream join it protects)
    exchange-free."""
    out = None
    for name, child, ck, parent, pk in _FK_SPECS:
        c = table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = table(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        audited = c.join(p, c["k"] == p["pk"], "left").agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.sum(
                F.when(F.col("k").isNotNull() & F.col("pk").isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        )
        out = audited if out is None else out.unionByName(audited)
    return out


_ANOMALY_ORACLE = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
s AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(n_events) AS BIGINT) AS s,
         CAST(sum(n_events * n_events) AS BIGINT) AS ss
  FROM d GROUP BY event_type
)
SELECT d.event_type, d.day, d.n_events,
       4 * (d.n_events * s.n - s.s) * (d.n_events * s.n - s.s)
         > 9 * (s.n * s.ss - s.s * s.s) AS is_anomaly
FROM d JOIN s ON d.event_type = s.event_type
""".strip()


@register(
    "events_anomaly_exact",
    oracle=_ANOMALY_ORACLE,
    tags=("profiling", "quality", "timeseries"),
)
def events_anomaly_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags per event type: a day is anomalous
    when its count sits more than 1.5 population standard deviations
    from that type's mean.  The monitoring query every ingestion
    pipeline runs on arrival volumes — a collector outage or a bot
    flood shows up here a day before it shows up in model metrics.

    |z| > 1.5  ⇔  (x·n − s)² · 4 > (n·ss − s²) · 9, which is pure
    int64 arithmetic on counts — no sqrt, no float division — so the
    flag hashes identically on any engine (the float formulation would
    drift at the boundary).

    Plan shape: scan-side partial counts → one exchange on
    (event_type, day) → window stats over event_type on the daily grid
    (|types|×|days| rows).  The raw events table is aggregated before
    anything global happens; at 100 TB the window input is kilobytes."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type")
    x, n = F.col("n_events"), F.count(F.lit(1)).over(w)
    s = F.sum("n_events").over(w)
    ss = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    dev = x * n - s
    return daily.select(
        "event_type",
        "day",
        "n_events",
        (4 * dev * dev > 9 * (n * ss - s * s)).alias("is_anomaly"),
    )


@register(
    "profile_column_entropy",
    # Entropy terms are p·ln p over exact integer ratios; both engines
    # sum ≤ O(distinct) double terms and the result is rounded to 6 —
    # well inside cross-engine float agreement.
    oracle="""
WITH cols AS (
  SELECT 'events.event_type' AS col_name, event_type AS val FROM events
  UNION ALL SELECT 'documents.lang', lang FROM documents
  UNION ALL SELECT 'documents.source', source FROM documents
),
freq AS (
  SELECT col_name, val, count(*) AS cnt FROM cols GROUP BY col_name, val
),
tot AS (
  SELECT col_name, sum(cnt) AS n, count(*) AS n_distinct FROM freq GROUP BY col_name
)
SELECT f.col_name,
       CAST(t.n_distinct AS BIGINT) AS n_distinct,
       round(-sum((cnt / CAST(n AS DOUBLE)) * ln(cnt / CAST(n AS DOUBLE))), 6)
         AS entropy_nats,
       round(-sum((cnt / CAST(n AS DOUBLE)) * ln(cnt / CAST(n AS DOUBLE)))
             / ln(CAST(t.n_distinct AS DOUBLE)), 6) AS normalized
FROM freq f JOIN tot t USING (col_name)
GROUP BY f.col_name, t.n_distinct
""".strip(),
    tags=("profiling",),
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of categorical columns — the data-quality signal
    for mix skew (a near-zero-entropy `source` column means one origin
    dominates the corpus; normalized entropy ≈ 1 means a balanced mix).

    Scale shape: one skinny (column, value) frequency aggregation per
    profiled column — the entropy itself is computed over the per-column
    FREQUENCY table (≤ distinct-count rows), never the raw data, so
    profiling cost is the same count shuffle a groupBy costs and the
    entropy stage is O(distinct) arithmetic."""
    ev = table(spark, sf_dir, "events").select(
        F.lit("events.event_type").alias("col_name"),
        F.col("event_type").alias("val"),
    )
    dl = table(spark, sf_dir, "documents").select(
        F.lit("documents.lang").alias("col_name"), F.col("lang").alias("val")
    )
    ds = table(spark, sf_dir, "documents").select(
        F.lit("documents.source").alias("col_name"), F.col("source").alias("val")
    )
    freq = (
        ev.unionByName(dl)
        .unionByName(ds)
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("col_name")
    p = (F.col("cnt") / F.sum("cnt").over(w).cast("double")).alias("p")
    terms = freq.select(
        "col_name",
        F.count(F.lit(1)).over(w).alias("n_distinct"),
        (p * F.log(p)).alias("term"),
    )
    return terms.groupBy("col_name", "n_distinct").agg(
        F.round(-F.sum("term"), 6).alias("entropy_nats"),
        F.round(
            -F.sum("term") / F.log(F.col("n_distinct").cast("double")), 6
        ).alias("normalized"),
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 1024

_CMS_ORACLE = f"""
WITH ev AS (SELECT user_id FROM events),
pairs AS (
  SELECT user_id, d AS depth,
         CAST(concat('0x', substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                                      || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_CMS_WIDTH} AS bucket
  FROM ev, (SELECT unnest(range({_CMS_DEPTH})) AS d)
),
sketch AS (SELECT depth, bucket, count(*) AS cnt FROM pairs GROUP BY depth, bucket),
probe AS (SELECT DISTINCT user_id, depth, bucket FROM pairs),
est AS (
  SELECT user_id, min(cnt) AS est_count
  FROM probe JOIN sketch USING (depth, bucket)
  GROUP BY user_id
),
exact AS (SELECT user_id, count(*) AS exact_count FROM ev GROUP BY user_id)
SELECT est.user_id, est.est_count, exact.exact_count
FROM est JOIN exact ON est.user_id = exact.user_id
ORDER BY est.est_count DESC, est.user_id ASC
LIMIT 10
""".strip()


@register(
    "profile_countmin_topk",
    oracle=_CMS_ORACLE,
    tags=("profiling", "sketch", "skew"),
)
def profile_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters — the fixed-memory companion
    profile_heavy_hitters' docstring promises: per-key frequency
    estimated from a 4x1024 sketch instead of an exact per-key count,
    with the exact count joined alongside so the CMS guarantee
    (est >= exact, overcount bounded by collisions) is visible in the
    result.

    The sketch is built IN-PLAN: each row emits 4 (depth, bucket)
    cells (bucket = portable 60-bit md5 hash of "cms<d>:<key>" mod
    1024, the same cross-engine hash family as operators/simhash.py:
    md5_prefix60, so DuckDB reproduces the sketch bit-for-bit and the
    estimates themselves are hash-checked — no tolerance column), and
    `groupBy(depth, bucket)` partial-aggregates map-side, so the
    shuffle carries at most 4*1024 = 4096 cells per partition
    REGARDLESS of input size — that fixed-size summary is the whole
    point at 100 TB, where the exact per-key groupBy's shuffle grows
    with key cardinality.  Cells are mergeable across partitions, days,
    or clusters by plain cell-wise SUM (same algebra as
    agg_partial_merge).  The probe side joins the (broadcast,
    <= 4096-row) sketch and takes min over depths — no driver
    round-trip anywhere."""
    ev = table(spark, sf_dir, "events").select("user_id")
    key_s = F.col("user_id").cast("string")
    cells = [
        F.struct(
            F.lit(i).alias("depth"),
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), key_s)), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(_CMS_WIDTH),
            ).alias("bucket"),
        )
        for i in range(_CMS_DEPTH)
    ]
    pairs = ev.select("user_id", F.explode(F.array(*cells)).alias("c")).select(
        "user_id", F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket")
    )
    sketch = pairs.groupBy("depth", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probe = pairs.distinct()
    est = (
        probe.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_count"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(10)
    )


@register(
    "profile_drift_ks",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 2 END AS grp
  FROM events
),
tot AS (
  SELECT event_type,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS n2
  FROM e GROUP BY event_type
),
pv AS (
  SELECT event_type, value,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS c2
  FROM e GROUP BY event_type, value
),
cdf AS (
  SELECT event_type, value,
         SUM(c1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS a1,
         SUM(c2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS a2
  FROM pv
)
SELECT c.event_type,
       CAST(t.n1 AS BIGINT) AS n_first, CAST(t.n2 AS BIGINT) AS n_second,
       round(max(abs(CAST(c.a1 AS DOUBLE) / t.n1
                     - CAST(c.a2 AS DOUBLE) / t.n2)), 6) AS ks_stat
FROM cdf c JOIN tot t ON c.event_type = t.event_type
GROUP BY c.event_type, t.n1, t.n2
""".strip(),
    tags=("profile", "drift"),
    bench=True,
)
def profile_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the EXACT two-sample Kolmogorov–
    Smirnov statistic per event type between the first and second half
    of the month — sup over the merged support of |F̂₁(x) − F̂₂(x)|.
    The production data-quality check that catches a metric's
    distribution shifting even when its mean doesn't.

    Shape: per-(type, value) counts pivot both samples into one row
    (one aggregate), cumulative sums over the value ordering turn them
    into both empirical CDFs in a single window pass, and the sup is a
    final skinny max — no sorting of raw rows, no cross join of the two
    samples.  Scale: the only corpus-sized shuffle is the (type, value)
    aggregate; the window runs over DISTINCT values per type.  The CDF
    divisions are single double ops on exact integer counts, round(6)-
    pinned; the window's ROWS frame over the distinct-value ordering is
    deterministic because value is the ordering key itself (ties
    collapsed by the aggregate)."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        )
        .otherwise(2)
        .alias("grp"),
    )
    return ks_drift_frame(e)


def ks_drift_frame(e):
    """Two-sample KS core over an (event_type, value, grp in {1,2})
    frame — reusable heart of profile_drift_ks, shared with
    tools/scale_probe.py."""
    tot = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("n2"),
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("c2"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = pv.select(
        "event_type",
        F.sum("c1").over(w).alias("a1"),
        F.sum("c2").over(w).alias("a2"),
    )
    return (
        cdf.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("a1").cast("double") / F.col("n1")
                        - F.col("a2").cast("double") / F.col("n2")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
        .select(
            "event_type",
            F.col("n1").alias("n_first"),
            F.col("n2").alias("n_second"),
            "ks_stat",
        )
    )


@register(
    "window_outlier_mad",
    # Exact interpolated medians in both engines (Spark percentile ≡
    # DuckDB median/quantile_cont: same sort, same (a+b)/2 midpoint),
    # deviations compared, never summed.
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       count(*) AS n,
       round(min(m.med), 6) AS median_value,
       round(min(d.mad), 6) AS mad_value,
       CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
GROUP BY e.event_type
""".strip(),
    tags=("profiling", "quality"),
)
def window_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute
    deviation (MAD) flags |x − median| > 3·MAD — the robust sibling of
    events_anomaly_exact's z-score (mean/std are themselves dragged by
    the outliers they're meant to find; median/MAD have a 50%
    breakdown point).

    Plan: two exact-median aggregates (value, then absolute deviation
    — the second NEEDS the first, an inherently two-pass statistic)
    with the 5-row median frames broadcast back between passes, then
    one counting aggregate.  Exact medians sort per group — the
    documented cost; the approx path swaps in percentile_approx
    per-pass unchanged.  Every comparison operates on IEEE-identical
    doubles (same sort, same midpoint average), so the outlier COUNTS
    are engine-exact."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad")
    )
    scored = with_med.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("med"), 6).alias("median_value"),
        F.round(F.min("mad"), 6).alias("mad_value"),
        F.sum(
            F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


@register(
    "profile_drift_categorical",
    oracle="""
WITH halves AS (
  SELECT event_type,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END) AS n2
  FROM events GROUP BY event_type
),
tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM halves)
SELECT h.event_type,
       CAST(h.n1 AS BIGINT) AS n_first,
       CAST(h.n2 AS BIGINT) AS n_second,
       round(h.n1 / CAST(t.t1 AS DOUBLE), 6) AS share_first,
       round(h.n2 / CAST(t.t2 AS DOUBLE), 6) AS share_second,
       round(pow(h.n1 / CAST(t.t1 AS DOUBLE) - h.n2 / CAST(t.t2 AS DOUBLE), 2)
             / (h.n1 / CAST(t.t1 AS DOUBLE) + h.n2 / CAST(t.t2 AS DOUBLE)), 6)
         AS drift_contrib
FROM halves h, tot t
""".strip(),
    tags=("profiling", "drift"),
)
def profile_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical frequency drift between the two half-months — the
    discrete sibling of profile_drift_ks: per event type, both period
    shares and its χ²-style contribution (Δshare)²/(share₁+share₂).
    A category mix shifting (new bot traffic, a collector dropping one
    event type) moves this even when every continuous metric is stable.

    Plan: ONE conditional aggregate pivots both halves wide per type
    (corpus shuffles once), the totals row broadcasts back, and every
    output is a round(6)-pinned single division on exact integer
    counts."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("in_first"),
    )
    # |event_type| rows, consumed by the totals AND the report — eager
    # checkpoint makes this ONE events pass.
    halves = checkpoint(
        e.groupBy("event_type").agg(
            F.sum("in_first").alias("n1"),
            F.sum(1 - F.col("in_first")).alias("n2"),
        )
    )
    tot = halves.agg(
        F.sum("n1").cast("double").alias("t1"),
        F.sum("n2").cast("double").alias("t2"),
    )
    j = halves.crossJoin(F.broadcast(tot))
    s1 = F.col("n1") / F.col("t1")
    s2 = F.col("n2") / F.col("t2")
    return j.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_first"),
        F.col("n2").cast("bigint").alias("n_second"),
        F.round(s1, 6).alias("share_first"),
        F.round(s2, 6).alias("share_second"),
        F.round(F.pow(s1 - s2, 2) / (s1 + s2), 6).alias("drift_contrib"),
    )


@register(
    "privacy_k_anonymity",
    # Quasi-identifier = (mktsegment, nationkey, acctbal thousand-band):
    # the classic k-anonymity audit shape — every record must share its
    # QI tuple with >= k-1 others or it is re-identifiable by joining
    # public attributes.  Banding uses floor(x/1000.0): both engines
    # apply identical IEEE double ops to the same parquet doubles, so
    # band edges agree bit-for-bit.
    oracle="""
WITH classes AS (
  SELECT c_mktsegment,
         c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         count(*) AS class_size
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT c_mktsegment,
       count(*) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_records,
       count(*) FILTER (WHERE class_size < 5) AS risky_classes,
       CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < 5), 0)
            AS BIGINT) AS risky_records,
       CAST(MIN(class_size) AS BIGINT) AS min_class_size
FROM classes
GROUP BY c_mktsegment
""".strip(),
    tags=("profiling", "privacy"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the customer table: treat
    (mktsegment, nationkey, acctbal-thousand-band) as the quasi-
    identifier, size every equivalence class, and report per segment
    how many classes — and how many RECORDS — fall below k.  This is
    the privacy gate a training-data pipeline runs before releasing a
    structured extract: any record whose QI class has < k members is
    linkable to an individual by joining public attributes, so
    risky_records is the count that must be suppressed or generalized
    before release.

    Plan shape: two hash aggregates, both map-side partial — the first
    groups raw records by QI (the only pass over the data), the second
    runs over class rows, whose cardinality is bounded by
    |segments|x|nations|x|bands| (~5x25x11 here) regardless of corpus
    size.  No window, no shuffle beyond the two agg exchanges, no
    driver-side state: the same plan at 100 TB moves only class rows
    after the first partial aggregate."""
    c = table(spark, sf_dir, "customer")
    classes = (
        c.select(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("bigint")
            .alias("bal_band"),
        )
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    risky = F.col("class_size") < 5
    return classes.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_records"),
        F.count_if(risky).alias("risky_classes"),
        F.coalesce(F.sum(F.when(risky, F.col("class_size"))), F.lit(0))
        .cast("bigint")
        .alias("risky_records"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
    )


@register(
    "privacy_l_diversity",
    # The sibling gate to privacy_k_anonymity: a class can satisfy k
    # and still leak — if all 7 of a class's members share one market
    # segment, linking someone to the class reveals their segment.
    # QI = (nationkey, acctbal thousand-band); sensitive attribute =
    # mktsegment; l = 2 (every class must span >= 2 distinct segments).
    oracle="""
WITH classes AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         count(*) AS class_size,
         count(DISTINCT c_mktsegment) AS n_sensitive
  FROM customer
  GROUP BY 1, 2
)
SELECT c_nationkey,
       count(*) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_records,
       count(*) FILTER (WHERE n_sensitive < 2) AS homogeneous_classes,
       CAST(COALESCE(SUM(class_size) FILTER (WHERE n_sensitive < 2), 0)
            AS BIGINT) AS exposed_records,
       CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity
FROM classes
GROUP BY c_nationkey
""".strip(),
    tags=("profiling", "privacy"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=2) — k-anonymity's necessary complement
    (Machanavajjhala et al., ICDE 2006): a quasi-identifier class of
    any size still leaks its sensitive attribute if every member shares
    one value (the homogeneity attack).  QI = (nation, acctbal band),
    sensitive = market segment; per nation, how many classes are
    sensitive-homogeneous and how many records that exposes — together
    with privacy_k_anonymity this is the release gate pair for
    structured training extracts.

    Plan shape: one grouped aggregate over the raw scan computing both
    class size and the per-class distinct-sensitive count (Spark plans
    count(DISTINCT x) per group as the standard two-phase expand —
    partial by (QI, segment), final by QI — both map-side combined;
    |segments| = 5 bounds the expansion), then a second aggregate over
    the bounded class rows.  Same two-exchange shape as the k-anonymity
    key at any corpus size."""
    c = table(spark, sf_dir, "customer")
    classes = (
        c.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("bigint")
            .alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
        )
    )
    homogeneous = F.col("n_sensitive") < 2
    return classes.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_records"),
        F.count_if(homogeneous).alias("homogeneous_classes"),
        F.coalesce(F.sum(F.when(homogeneous, F.col("class_size"))), F.lit(0))
        .cast("bigint")
        .alias("exposed_records"),
        F.min("n_sensitive").cast("bigint").alias("min_diversity"),
    )


# Benford expected first-digit shares, in exact ppm (log10(1+1/d)*1e6,
# rounded; sums to exactly 1,000,000).  Literal in BOTH engines so no
# cross-engine libm log10 ever touches the hash.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@register(
    "profile_benford",
    # First digit from exact integer cents via a fixed division ladder
    # — never a double->string cast (engine formatting) or log10/floor
    # (libm edge cases on near-powers of 10).  All outputs are exact
    # integer arithmetic: shares in ppm by integer division, chi-style
    # deviation as (obs-exp)^2 div exp on ppm ints.
    oracle=f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
),
d AS (
  SELECT CASE
    WHEN cents >= 100000000 THEN cents // 100000000
    WHEN cents >= 10000000 THEN cents // 10000000
    WHEN cents >= 1000000 THEN cents // 1000000
    WHEN cents >= 100000 THEN cents // 100000
    WHEN cents >= 10000 THEN cents // 10000
    WHEN cents >= 1000 THEN cents // 1000
    WHEN cents >= 100 THEN cents // 100
    WHEN cents >= 10 THEN cents // 10
    ELSE cents END AS digit
  FROM c
),
g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
t AS (SELECT SUM(n) AS total FROM g)
SELECT g.digit,
       g.n,
       CAST((1000000 * g.n) // t.total AS BIGINT) AS obs_ppm,
       CASE g.digit {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_PPM.items())} END
         AS exp_ppm,
       CAST((((1000000 * g.n) // t.total
         - CASE g.digit {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_PPM.items())} END)
        * ((1000000 * g.n) // t.total
         - CASE g.digit {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_PPM.items())} END))
       // CASE g.digit {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_PPM.items())} END AS BIGINT)
         AS chi_contrib
FROM g, t
""".strip(),
    tags=("profiling", "quality"),
)
def profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the fraud /
    synthetic-data screen (Benford, 1938; Nigrini's forensic-accounting
    standard): naturally occurring multi-scale money amounts follow
    P(d) = log10(1+1/d), and fabricated or truncated feeds don't.  Per
    digit: observed count, observed share (exact ppm), Benford-expected
    ppm (literal constants — no libm in the hash path), and the
    integer chi-square-style deviation (obs-exp)² div exp that an
    ingestion gate thresholds on.

    Plan: one scan computing the first digit codegen-side from exact
    integer cents via a fixed division ladder, a 9-group partial+final
    hash aggregate, and a broadcast of the single total row — at 100 TB
    the exchange moves 9 rows per partition and nothing else."""
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    digit = F.col("cents")
    for p in (10, 100, 1000, 10000, 100000, 1000000, 10000000, 100000000):
        digit = F.when(
            F.col("cents") >= p, F.expr(f"cents div {p}")
        ).otherwise(digit)
    # ≤9 rows, consumed by the total AND the report — eager checkpoint
    # makes this ONE corpus pass.
    g = checkpoint(
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = g.agg(F.sum("n").alias("total"))
    exp_ppm = F.lit(None).cast("bigint")
    for d, p in _BENFORD_PPM.items():
        exp_ppm = F.when(F.col("digit") == d, F.lit(p)).otherwise(exp_ppm)
    obs_ppm = F.expr("(1000000 * n) div total")
    return (
        g.crossJoin(F.broadcast(t))
        .withColumn("obs_ppm", obs_ppm)
        .withColumn("exp_ppm", exp_ppm)
        .select(
            "digit",
            "n",
            "obs_ppm",
            "exp_ppm",
            F.expr(
                "((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) div exp_ppm"
            ).alias("chi_contrib"),
        )
    )


_CORR_COLS = (
    ("quantity", "CAST(round(l_quantity) AS BIGINT)"),
    ("price_cents", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("discount_pct", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax_pct", "CAST(round(l_tax * 100) AS BIGINT)"),
)


def _corr_oracle() -> str:
    lat = ", ".join(f"{expr} AS {name}" for name, expr in _CORR_COLS)
    stats = ["CAST(count(*) AS DECIMAL(38,0)) AS n"]
    for name, _ in _CORR_COLS:
        stats.append(f"CAST(SUM(CAST({name} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_{name}")
    names = [n for n, _ in _CORR_COLS]
    for i, x in enumerate(names):
        for y in names[i:]:
            stats.append(
                f"CAST(SUM(CAST({x} * {y} AS DECIMAL(38,0))) AS DECIMAL(38,0))"
                f" AS s_{x}_{y}"
            )
    pairs = []
    for i, x in enumerate(names):
        for y in names[i + 1:]:
            pairs.append(
                f"SELECT '{x}' AS col_x, '{y}' AS col_y,\n"
                f"  round(CAST(n * s_{x}_{y} - s_{x} * s_{y} AS DOUBLE)\n"
                f"        / sqrt(CAST(n * s_{x}_{x} - s_{x} * s_{x} AS DOUBLE))\n"
                f"        / sqrt(CAST(n * s_{y}_{y} - s_{y} * s_{y} AS DOUBLE)), 6)\n"
                f"    AS pearson_r FROM st"
            )
    return (
        f"WITH lat AS (SELECT {lat} FROM lineitem),\n"
        f"st AS (SELECT {', '.join(stats)} FROM lat)\n"
        + "\nUNION ALL ".join(pairs)
    )


@register(
    "profile_correlation_matrix",
    oracle=_corr_oracle(),
    tags=("profiling", "agg"),
    bench=True,
)
def profile_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation matrix over lineitem's numeric columns
    — the profiling primitive behind feature selection and redundancy
    detection, computed the 100 TB way: ONE scan collapses to a single
    row of sufficient statistics (n, Σx, Σxy per pair — 15 decimal
    sums), and every r is arithmetic on that row.  No per-pair scans,
    no corr() UDAF whose double accumulation is partition-order-
    dependent: values quantize to their integer lattice (cents /
    percent — the kmeans convention), per-term products stay int64,
    sums run exact in decimal(38,0) (DuckDB mirrors with hugeint→
    decimal), and only the final r = cov/(σx·σy) touches IEEE doubles —
    three deterministic ops on exact integers, rounded to 6 dp.
    Engine-exact, hash-checked; output long-form (col_x, col_y, r) for
    the 6 unordered pairs."""
    li = table(spark, sf_dir, "lineitem")
    lat = li.select(
        *[F.expr(expr).alias(name) for name, expr in _CORR_COLS]
    )
    names = [n for n, _ in _CORR_COLS]
    aggs = [F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n")]
    for x in names:
        aggs.append(
            F.expr(f"CAST(SUM(CAST({x} AS DECIMAL(38,0))) AS DECIMAL(38,0))").alias(
                f"s_{x}"
            )
        )
    for i, x in enumerate(names):
        for y in names[i:]:
            aggs.append(
                F.expr(
                    f"CAST(SUM(CAST({x} * {y} AS DECIMAL(38,0))) AS DECIMAL(38,0))"
                ).alias(f"s_{x}_{y}")
            )
    st = lat.agg(*aggs)
    # All 6 pairs unfold from the ONE stats row via stack() — a union
    # of per-pair selects would re-run the corpus aggregate per pair
    # (measured 6 lineitem scans, no ReuseExchange across the union).
    cells = []
    for i, x in enumerate(names):
        for y in names[i + 1:]:
            cells.append(f"'{x}'")
            cells.append(f"'{y}'")
            cells.append(
                f"round(CAST(n * s_{x}_{y} - s_{x} * s_{y} AS DOUBLE)"
                f" / sqrt(CAST(n * s_{x}_{x} - s_{x} * s_{x} AS DOUBLE))"
                f" / sqrt(CAST(n * s_{y}_{y} - s_{y} * s_{y} AS DOUBLE)), 6)"
            )
    return st.select(
        F.expr(f"stack(6, {', '.join(cells)}) AS (col_x, col_y, pearson_r)")
    )
