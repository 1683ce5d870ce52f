"""Hash-checked roundtrips through the non-parquet source formats.

Each query writes a projection of a parquet table to the format under
test, reads it back with an EXPLICIT schema, and aggregates.  The
oracle computes the same aggregate directly on the parquet source —
so a hash match proves the format roundtrip is lossless (values,
timestamps, doubles) as well as the aggregate correct.  Generalizes
the reference's single text-container input model (dbconn.h:107-113)
to the formats a Spark user expects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mapreduce_framework_spark import sources
from mapreduce_framework_spark.io import table, user_scratch_dir
from mapreduce_framework_spark.registry import register


_CSV_ORACLE = """
SELECT year(o_orderdate) AS order_year,
       count(*) AS cnt,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY order_year
""".strip()


@register("source_csv_roundtrip", oracle=_CSV_ORACLE, tags=("source",))
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header) → explicit-schema read → per-year totals.
    Timestamps survive via Spark's default ISO-8601 CSV format; the
    schema declares types so no inference pass runs."""
    path = user_scratch_dir("source_csv_roundtrip")
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    sources.write_csv(src, path)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
        ]
    )
    back = sources.read_csv(spark, path, schema)
    return back.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_JSON_ORACLE = """
SELECT p_brand,
       count(*) AS cnt,
       round(sum(p_retailprice), 2) AS revenue,
       min(p_name) AS first_name
FROM part
GROUP BY p_brand
""".strip()


@register("source_json_roundtrip", oracle=_JSON_ORACLE, tags=("source",))
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → JSON lines → explicit-schema read → per-brand stats."""
    path = user_scratch_dir("source_json_roundtrip")
    src = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    sources.write_json_lines(src, path)
    schema = StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_retailprice", DoubleType()),
        ]
    )
    back = sources.read_json_lines(spark, path, schema)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("p_retailprice"), 2).alias("revenue"),
        F.min("p_name").alias("first_name"),
    )


_ORC_ORACLE = """
SELECT s_nationkey,
       count(*) AS cnt,
       round(sum(s_acctbal), 2) AS balance,
       min(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
""".strip()


@register("source_orc_roundtrip", oracle=_ORC_ORACLE, tags=("source",))
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → ORC → explicit-schema read → per-nation stats.  ORC is
    the other vectorized columnar format Spark ships natively; the hash
    match proves longs/ints/doubles/strings survive the roundtrip."""
    path = user_scratch_dir("source_orc_roundtrip")
    src = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    sources.write_orc(src, path)
    schema = StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    )
    back = sources.read_orc(spark, path, schema)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("s_acctbal"), 2).alias("balance"),
        F.min("s_name").alias("first_name"),
    )


_PART_ORACLE = """
SELECT l_linestatus,
       count(*) AS cnt,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_linestatus
""".strip()


@register("source_partition_pruning", oracle=_PART_ORACLE, tags=("source",))
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → hive-partitioned parquet by l_returnflag → filtered
    read.  The filter on the partition column becomes PartitionFilters:
    non-matching directories are never opened — at 100 TB this is the
    difference between scanning one partition and scanning the table
    (tests/test_plans.py pins the plan shape)."""
    path = user_scratch_dir("source_partition_pruning")
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_linestatus", "l_returnflag"
    )
    sources.write_partitioned(src, path, ["l_returnflag"])
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


_DPP_ORACLE = """
SELECT l_linestatus, 'returned' AS category,
       count(*) AS cnt,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_linestatus
""".strip()


@register("scan_dynamic_pruning", oracle=_DPP_ORACLE, tags=("source", "dpp"))
def scan_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the pruning predicate is not a literal
    but the result of filtering a dimension at RUNTIME — Catalyst
    injects a dynamicpruning subquery into the fact scan's
    PartitionFilters, so only the dimension-selected partitions are
    read.  At 100 TB this is what makes star-schema joins against a
    date/category dim scan 1/Nth of the fact table with no literal
    filter in the query text (plan pinned in tests/test_plans.py)."""
    path = user_scratch_dir("scan_dynamic_pruning")
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_linestatus", "l_returnflag"
    )
    sources.write_partitioned(src, path, ["l_returnflag"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, category string",
    ).where(F.col("category") == "returned")
    return (
        fact.join(dim, fact["l_returnflag"] == dim["flag"])
        .groupBy("l_linestatus", "category")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


_EVOLUTION_ORACLE = """
WITH u AS (
  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars
  FROM documents WHERE doc_id % 2 = 1
)
SELECT lang,
       count(*) AS n_docs,
       count(n_chars) AS n_with_chars,
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars
FROM u
GROUP BY lang
""".strip()


@register("source_schema_evolution", oracle=_EVOLUTION_ORACLE, tags=("source",))
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an early batch written WITHOUT a column a
    later batch has (n_chars), both read back in one pass with
    ``mergeSchema`` — the long-lived-table reality where producers add
    columns over the years and a 100 TB scan must union every vintage
    without a rewrite.  Missing columns surface as NULLs (count/sum
    skip them, the oracle replicates via a typed-NULL UNION ALL).

    Scale: mergeSchema pays a footer-read per FILE at planning time to
    reconcile schemas — at 100 TB pin the merged schema in a table
    catalog (or pass an explicit read schema, as the other roundtrips
    here do) and keep per-vintage directories so old files are never
    rewritten; the read path is then the ordinary vectorized scan with
    column pruning intact, NULL-filling absent columns for free."""
    base = user_scratch_dir("source_schema_evolution")
    d = table(spark, sf_dir, "documents")
    d.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "v1"))
    d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(os.path.join(base, "v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_chars").alias("n_with_chars"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("total_chars"),
    )


@register(
    "source_csv_malformed",
    # Every doc_id % 10 == 0 line is planted malformed (non-numeric
    # n_chars field), so the oracle knows exactly which rows PERMISSIVE
    # parsing must null out and flag.
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN NULL ELSE n_chars END AS n_chars,
       doc_id % 10 = 0 AS is_corrupt
FROM documents
""".strip(),
    tags=("source", "robustness"),
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input accounting — the operational reality of 100 TB
    CSV ingestion: a corpus is staged as CSV lines with a deterministic
    10% planted corruption (non-numeric numeric field), read back in
    PERMISSIVE mode with an explicit schema and a corrupt-record
    column, and every row is classified instead of failing the task
    (FAILFAST) or silently vanishing (DROPMALFORMED).

    The plan: parseable fields of a bad row are still populated, the
    broken field nulls out, and `_corrupt_record` holds the raw line —
    the quarantine column a production pipeline writes to a dead-letter
    sink.  Scale: parsing is scan-side per-split; the corruption rate
    is observable via observe()-style counters with zero extra passes."""
    path = user_scratch_dir("source_csv_malformed")
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lines = d.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 10 == 0, F.lit("###bad###")).otherwise(
                F.col("n_chars").cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_chars", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return parsed.select(
        "doc_id",
        "n_chars",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


def _kv_sink_cache(spark: SparkSession, sf_dir: str) -> str:
    """Build-once `key:value` sink of the wordcount result, R=5 shard
    files (the reference's graded small-run reducer count), published
    through io.publish_cached.  The cache key carries BOTH the input
    identity (documents.parquet size/mtime) and a code-version
    component: unlike the corpus spill (a pure projection of the
    input), this artifact is DERIVED OUTPUT — wordcount through the
    tokenizer — so a tokenizer/wordcount change must invalidate it, or
    the key would serve stale counts against a freshly-computed oracle
    and stay red until someone hand-cleared /tmp.  The oracle SQL
    string is that version: it encodes the tokenizer rules verbatim."""
    import hashlib

    from mapreduce_framework_spark.compat import write_kv_text
    from mapreduce_framework_spark.io import cache_sf_token, publish_cached, table_identity
    from mapreduce_framework_spark.queries.wordcount import _ORACLE, wordcount

    ident = table_identity(sf_dir, "documents")
    ver = hashlib.sha1(_ORACLE.encode()).hexdigest()[:8]
    # cache_sf_token (path-hash-suffixed basename): an sf_dir basename
    # that extends another with an underscore must not nest inside its
    # GC family (round-10 ADVICE).
    sf_base = cache_sf_token(sf_dir)
    key = f"{sf_base}_{ident}_{ver}"

    def build(staged: str) -> None:
        counts = wordcount(spark, sf_dir).select(
            F.col("word").alias("key"), F.col("cnt").alias("value")
        )
        write_kv_text(counts.repartition(5, "key"), staged)

    return publish_cached(
        f"mfs_kvsink_{key}",
        build,
        family=f"mfs_kvsink_{sf_base}",
    )


def _load_kvtext_oracle() -> str:
    from mapreduce_framework_spark.queries.wordcount import _ORACLE

    return _ORACLE


@register(
    "source_kvtext_datasource",
    oracle=_load_kvtext_oracle(),
    tags=("source", "compat"),
)
def source_kvtext_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `key:value` sink format read back as a
    FIRST-CLASS registered source — ``spark.read.format("kvtext")`` via
    the Spark 4 Python DataSource API (sources/kvtext_datasource.py):
    one InputPartition per reducer-shard file, EqualTo(key) pushdown
    applied inside the reader.  The sink under test is the wordcount
    result written once through compat.write_kv_text (R=5 shards), so
    the oracle is wordcount's own: a hash match proves the format is
    lossless THROUGH the custom source path — scan, partition planning,
    Arrow transfer and parse all included.  The JVM
    ``compat.read_kv_text`` lane remains the scan-throughput path;
    tests/test_kvtext_source.py pins the two lanes row-identical."""
    from mapreduce_framework_spark.sources.kvtext_datasource import register_kvtext

    path = _kv_sink_cache(spark, sf_dir)
    register_kvtext(spark)
    return spark.read.format("kvtext").load(path).select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    )


@register(
    "sink_kvtext_writer_roundtrip",
    oracle=_load_kvtext_oracle(),
    tags=("sink", "compat"),
)
def sink_kvtext_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kvtext WRITER's two-phase commit under the oracle: wordcount
    counts written through ``df.write.format("kvtext")`` (tasks stage
    .tmp shards, the driver commit renames the complete set) into a
    per-invocation dir, read back through the JVM lane
    (compat.read_kv_text) — lane-crossing on purpose: the hash only
    matches if the Python writer's published shards are byte-compatible
    with the format the fast reader expects.  Complements
    source_kvtext_datasource (Python READER over a JVM-written sink);
    together the two keys close the write↔read matrix."""
    from mapreduce_framework_spark.compat import read_kv_text
    from mapreduce_framework_spark.queries.wordcount import wordcount
    from mapreduce_framework_spark.sources.kvtext_datasource import register_kvtext

    register_kvtext(spark)
    out = user_scratch_dir("sink_kvtext_writer_roundtrip")
    counts = wordcount(spark, sf_dir).select(
        F.col("word").alias("key"), F.col("cnt").alias("value")
    )
    counts.repartition(3).write.format("kvtext").mode("overwrite").save(out)
    return read_kv_text(spark, out).select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    )


@register(
    "stream_kvtext_source",
    oracle=_load_kvtext_oracle(),
    tags=("stream", "source", "compat"),
)
def stream_kvtext_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kvtext STREAM lane under the oracle: the cached wordcount
    sink consumed through ``spark.readStream.format("kvtext")``
    (consumed-shard set offsets; since round 10 the PARTITION-PLANNED
    DataSourceStreamReader — one InputPartition per new shard,
    executor-side Arrow reads, driver only lists the dir) in one
    availableNow pass to a memory sink — the result must equal the
    batch wordcount exactly, proving the incremental reader loses and
    duplicates nothing across its per-shard offsets.  The multi-batch
    resume/mutation behavior is pinned by tests/test_kvtext_source.py;
    this key puts the lane itself under the driver's hash gate.

    Resource hygiene: the checkpoint lives in per-call scratch, empty
    on every call (REUSING it would make the second availableNow pass
    read zero new shards and return empty), and the memory sink uses
    one fixed pid-scoped table name so repeated runs REPLACE the
    driver-held result instead of accumulating one full copy per
    invocation."""
    from mapreduce_framework_spark.sources.kvtext_datasource import register_kvtext

    register_kvtext(spark)
    path = _kv_sink_cache(spark, sf_dir)
    ckpt = os.path.join(user_scratch_dir("stream_kvtext_source"), "ckpt")
    sink = f"kvstream_sink_{os.getpid()}"
    q = (
        spark.readStream.format("kvtext")
        .load(path)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    )


@register(
    "sink_kvtext_stream_writer",
    oracle=_load_kvtext_oracle(),
    tags=("sink", "stream", "compat"),
)
def sink_kvtext_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format matrix's last cell: ``df.writeStream.format
    ("kvtext")`` — the cached wordcount sink streamed through the
    partition-planned kvtext READER and landed through the kvtext
    STREAM WRITER (per-batch two-phase commit, batch-scoped idempotent
    shard names), then read back through the JVM lane.  A hash match
    proves the whole streaming write path — per-partition staging,
    driver batch commit, replay-safe naming — is byte-lossless against
    the same oracle as every other kvtext lane.  Exactly-once replay
    semantics are pinned separately by tests/test_kvtext_source.py
    (idempotent re-commit of a batchId, multi-run resume)."""
    from mapreduce_framework_spark.sources.kvtext_datasource import register_kvtext

    register_kvtext(spark)
    src = _kv_sink_cache(spark, sf_dir)
    # Empty per call: a reused checkpoint would make the second
    # availableNow pass a no-op and return the PREVIOUS generation.
    root = user_scratch_dir("sink_kvtext_stream_writer")
    out = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    q = (
        spark.readStream.format("kvtext")
        .load(src)
        .writeStream.format("kvtext")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from mapreduce_framework_spark.compat import read_kv_text

    return read_kv_text(spark, out).select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    )
