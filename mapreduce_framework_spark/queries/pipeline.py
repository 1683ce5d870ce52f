"""Dataset-assembly operations for training pipelines.

Deduplication, quality scoring, and similarity live in their own
modules; these are the LAST-mile ops that turn a cleaned corpus into
training input: reproducible splits and token-budget shard packing.
Both are pure single-pass declarative plans — no sampling state, no
driver-side loops — so they run unchanged at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.functions.idsplit import id_hexdigit
from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.operators.materialize import checkpoint
from mapreduce_framework_spark.registry import register


@register(
    "split_train_eval",
    oracle="""
SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
            THEN 'train' ELSE 'eval' END AS split,
       lang,
       count(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""".strip(),
    tags=("pipeline", "split"),
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 12/16–4/16 train/eval split by the first hex digit
    of md5(doc_id).  Hash-based splitting is the only reproducible way
    to split at scale: no shuffle, no sampling state, stable under
    re-runs and under adding/removing OTHER documents (each doc's
    assignment depends on its id alone).  Engine-portable because the
    hex string compare avoids any engine-specific hash function."""
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "split", F.when(id_hexdigit("doc_id") < "c", "train").otherwise("eval")
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)"))
            .cast("bigint")
            .alias("total_chars"),
        )
    )


@register(
    "pack_sequences",
    oracle="""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS start_offset
  FROM toks
)
SELECT source,
       CAST(floor(start_offset / 2048.0) AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM packed
GROUP BY source, CAST(floor(start_offset / 2048.0) AS BIGINT)
""".strip(),
    tags=("pipeline", "pack"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: within each source, documents are
    laid out in doc_id order and cut into ~2048-token shards by their
    running token offset — the sequence-packing layout step of a
    training pipeline, as one window pass.  Partitioning the window by
    ``source`` is what makes this scale: each partition's running sum
    is independent, so there is no global single-partition sort —
    at 100 TB the shard layout parallelizes across sources (cf. the
    same per-key independence the reference gets from hash-partitioned
    reducers, workerimpl.cc:254)."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        packed.groupBy(
            "source",
            F.floor(F.col("start_offset") / F.lit(2048.0)).alias("shard_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
    )


@register(
    "sample_stratified",
    oracle="""
WITH d AS (
  SELECT source, n_chars,
         substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)
           < CASE WHEN CAST(substring(source, 4) AS INTEGER) < 10
                  THEN '4' ELSE 'c' END AS keep
  FROM documents
)
SELECT source,
       count(*) AS n_total,
       count(*) FILTER (WHERE keep) AS n_sampled,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) FILTER (WHERE keep) AS BIGINT)
         AS sampled_chars
FROM d
GROUP BY source
""".strip(),
    tags=("pipeline", "sample"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling with per-stratum rates (head sources
    src0–src9 kept at 4/16, the rest at 12/16) decided by a salted
    md5-hexdigit of the doc id — the downsample-the-overrepresented-
    source step of corpus curation.  Hash-based, like split_train_eval:
    no sampling state, no RNG, reproducible per row at any scale and
    under any partitioning.  The salt ('sample:') decorrelates the
    sampling decision from the train/eval split hash, so sampling does
    not bias the split.  One scan, conditional aggregates — the keep
    decision never materializes a second copy of the corpus."""
    d = table(spark, sf_dir, "documents")
    threshold = F.when(
        F.substring("source", 4, 10).cast("int") < 10, F.lit("4")
    ).otherwise(F.lit("c"))
    keep = (
        F.substring(
            F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")).cast("binary")),
            1,
            1,
        )
        < threshold
    )
    return (
        d.select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("keep"), 1)).alias("n_sampled"),
            F.sum(
                F.when(F.col("keep"), F.col("n_chars").cast("decimal(18,0)"))
            )
            .cast("bigint")
            .alias("sampled_chars"),
        )
    )


def curation_funnel_frame(d: DataFrame) -> DataFrame:
    """The curation funnel over a (doc_id, source, text) frame — the
    reusable core of corpus_curation_funnel, shared with
    tools/scale_probe.py so the probe times the real pipeline."""
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("tok_cnt"),
        F.length("text").alias("n_chars"),
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 12))).alias("pfx"),
        (id_hexdigit("doc_id") < "2").alias("is_eval"),
    )
    flagged = base.withColumn(
        "qual",
        F.col("tok_cnt").between(5, 5000)
        & (F.col("n_chars").cast("double") / F.col("tok_cnt")).between(2, 20),
    )
    train_doc = F.when(F.col("qual") & ~F.col("is_eval"), F.col("doc_id"))
    staged = flagged.select(
        "*",
        (
            F.col("qual")
            & ~F.col("is_eval")
            & (F.col("doc_id") == F.min(train_doc).over(Window.partitionBy("h")))
        ).alias("keep_exact"),
        F.max(
            F.when(F.col("qual") & F.col("is_eval"), F.lit(1)).otherwise(F.lit(0))
        )
        .over(Window.partitionBy("h"))
        .alias("eval_hash_seen"),
    )
    keep_doc = F.when(F.col("keep_exact"), F.col("doc_id"))
    staged2 = staged.select(
        "*",
        (
            F.col("keep_exact")
            & (F.col("doc_id") == F.min(keep_doc).over(Window.partitionBy("pfx")))
        ).alias("keep_prefix"),
    )

    def n(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return staged2.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        n(F.col("qual"), "n_quality"),
        n(F.col("qual") & ~F.col("is_eval"), "n_train_pool"),
        n(F.col("keep_exact"), "n_post_exact"),
        n(F.col("keep_prefix"), "n_post_prefix"),
        n(F.col("keep_prefix") & (F.col("eval_hash_seen") == 0), "n_clean"),
        n(F.col("qual") & F.col("is_eval"), "n_eval_heldout"),
    )


@register(
    "corpus_curation_funnel",
    # End-to-end curation composed as ONE plan; every stage is integer
    # counting over deterministic digests, so the whole funnel is
    # hash-checked.
    oracle="""
WITH base AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS tok_cnt,
         length(text) AS n_chars,
         sha256(lower(trim(text))) AS h,
         md5(array_to_string(string_split(text, ' ')[1:12], ' ')) AS pfx,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_eval
  FROM documents
),
flagged AS (
  SELECT *,
         (tok_cnt BETWEEN 5 AND 5000
          AND CAST(n_chars AS DOUBLE) / tok_cnt BETWEEN 2 AND 20) AS qual
  FROM base
),
staged AS (
  SELECT *,
         (qual AND NOT is_eval
          AND doc_id = min(CASE WHEN qual AND NOT is_eval THEN doc_id END)
                         OVER (PARTITION BY h)) AS keep_exact,
         max(CASE WHEN qual AND is_eval THEN 1 ELSE 0 END)
           OVER (PARTITION BY h) AS eval_hash_seen
  FROM flagged
),
staged2 AS (
  SELECT *,
         (keep_exact
          AND doc_id = min(CASE WHEN keep_exact THEN doc_id END)
                         OVER (PARTITION BY pfx)) AS keep_prefix
  FROM staged
)
SELECT source,
       count(*) AS n_raw,
       CAST(sum(CASE WHEN qual THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN qual AND NOT is_eval THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train_pool,
       CAST(sum(CASE WHEN keep_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_post_exact,
       CAST(sum(CASE WHEN keep_prefix THEN 1 ELSE 0 END) AS BIGINT)
         AS n_post_prefix,
       CAST(sum(CASE WHEN keep_prefix AND eval_hash_seen = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN qual AND is_eval THEN 1 ELSE 0 END) AS BIGINT)
         AS n_eval_heldout
FROM staged2
GROUP BY source
""".strip(),
    tags=("pipeline", "dedup", "quality"),
    bench=True,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus curation pipeline as ONE plan:
    quality gate → held-out split → exact dedup (within the train pool)
    → prefix near-dedup → decontamination against the held-out split,
    reported as a per-source funnel of surviving-document counts.

    Composition strategy (the 100 TB point of this query): every stage
    is a FLAG computed with conditional window aggregation over the
    stage's blocking digest — `min(CASE WHEN <prev stage> THEN doc_id
    END) OVER (PARTITION BY digest)` — so the whole funnel is one scan
    of the corpus plus two skinny digest-partitioned shuffles (exact
    hash, prefix digest) and one final groupBy.  No stage re-scans the
    corpus, no intermediate materialization, and survivors of stage k
    are defined inside stage k+1's window frame instead of a join.
    Decontamination rides the exact-hash window for free (has ANY
    held-out doc been seen under this hash?).  Individual tiers exist
    as standalone queries (quality_gopher_rules, dedup_exact,
    dedup_doc_prefix, contamination_exact, split_train_eval); this is
    their composed, single-plan form."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return curation_funnel_frame(d)


@register(
    "sample_importance_weighted",
    # Efraimidis–Spirakis A-Res with a deterministic md5 uniform: every
    # row's key u^(1/w) is a pure function of doc_id, so the weighted
    # sample is reproducible AND engine-portable (the DuckDB oracle
    # computes the identical keys).  Top-20 per language stratum.
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) + 1) / 4294967296.0 AS u
  FROM documents
),
p AS (
  SELECT doc_id, lang, n_chars, pow(u, 1.0 / n_chars) AS pri FROM d
)
SELECT lang, doc_id, n_chars, round(pri, 6) AS priority
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY pri DESC, doc_id ASC) AS rn
  FROM p
)
WHERE rn <= 20
""".strip(),
    tags=("pipeline", "sample"),
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-Res): each doc
    draws key u^(1/w) with w = n_chars and u a deterministic md5-based
    uniform in (0, 1]; the top-20 keys per language ARE a without-
    replacement sample with inclusion probability proportional to
    weight.  This is the quality-weighted subsampling step of a
    curation pipeline, made reproducible: re-runs (and other engines)
    select byte-identical samples because the randomness is a hash, not
    a generator state.

    Scale: one scan computes keys codegen-side; per-stratum top-k is a
    bounded window (rank ≤ 20) — at 100 TB this is the same
    TakeOrdered-per-key shape as window_rank, no global sort, no
    sampling state on the driver (contrast: Spark's `sampleBy` needs a
    fractions dict and gives only Bernoulli, not weighted-k).  The
    float pow keys are compared, never summed — cross-engine libm
    differences are ~1 ulp, selection boundaries sit far wider."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    h8 = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8)
    u = (F.conv(h8, 16, 10).cast("double") + F.lit(1)) / F.lit(4294967296.0)
    p = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.pow(u, F.lit(1.0) / F.col("n_chars")).alias("pri"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("pri"), F.asc("doc_id"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars", F.round("pri", 6).alias("priority"))
    )


@register(
    "sample_reservoir",
    # Bottom-k by a salted md5 IS an exact-k uniform sample without
    # replacement (every k-subset equally likely under the random-
    # oracle view of the hash), and — unlike a classical reservoir —
    # it is deterministic, engine-portable, and mergeable: the bottom-k
    # of a union is the bottom-k of the per-partition bottom-k's.
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
ORDER BY md5('reservoir:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
LIMIT 200
""".strip(),
    tags=("pipeline", "sample"),
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform corpus sample (k=200) as bottom-k-by-hash: rank
    every document by md5('reservoir:' || doc_id) and keep the k
    smallest.  This is the distributed replacement for reservoir
    sampling — identical inclusion law (uniform without replacement),
    but stateless and reproducible: assignment is a pure function of
    doc_id, so re-runs and other engines draw the byte-identical
    sample, and the sample is STABLE under corpus growth in the
    bottom-k sense (a new doc only displaces the current max).

    Scale: the plan is TakeOrderedAndProject — each partition keeps a
    k-row heap and the driver merges partitions×k rows; no shuffle, no
    global sort, no sampling state.  At 100 TB that is one scan plus
    O(k·partitions) driver work, the same shape as topk_limit
    (plan-pinned by tests/test_plans.py).  Complements the existing
    sampling lane: sample_stratified (Bernoulli per stratum),
    sample_importance_weighted (weighted-k per stratum) — this is the
    exact-k uniform tier a curation pipeline uses for eval carve-outs
    and human-review batches."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(
        F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    return (
        d.orderBy(h.asc(), F.col("doc_id").asc())
        .limit(200)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "pipeline_mix_rebalance",
    # Hash-thresholded downsampling toward a target language mix:
    # rates are min(1, target/actual) from one aggregate, applied as a
    # deterministic per-doc keep test — replicated exactly in SQL.
    oracle="""
WITH tgt(t_lang, share) AS (
  SELECT * FROM (VALUES ('en', 0.30), ('de', 0.175), ('es', 0.175),
                        ('fr', 0.175), ('zh', 0.175))
),
act AS (
  SELECT lang, count(*) AS n_docs,
         count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE)
           AS actual_share
  FROM documents GROUP BY lang
),
rates AS (
  SELECT a.lang, a.n_docs,
         least(1.0, t.share / a.actual_share) AS keep_rate
  FROM act a JOIN tgt t ON a.lang = t.t_lang
),
kept AS (
  SELECT d.lang,
         CASE WHEN (CAST(concat('0x', substr(md5(concat('mix-', CAST(d.doc_id AS VARCHAR))), 1, 8))
                    AS BIGINT) + 1) / 4294967296.0 <= r.keep_rate
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN rates r ON d.lang = r.lang
)
SELECT r.lang,
       r.n_docs AS n_before,
       CAST(SUM(k.keep) AS BIGINT) AS n_after,
       round(r.keep_rate, 6) AS keep_rate,
       round(SUM(k.keep) / CAST((SELECT SUM(keep) FROM kept) AS DOUBLE), 6)
         AS share_after
FROM kept k JOIN rates r ON k.lang = r.lang
GROUP BY r.lang, r.n_docs, r.keep_rate
""".strip(),
    tags=("pipeline", "mix"),
)
def pipeline_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing — the data-mixing step of a training
    pipeline: compute each language's actual share, derive a keep-rate
    min(1, target/actual) toward a declared target mix, and apply it as
    a DETERMINISTIC hash threshold per doc (salted md5 uniform), so the
    rebalanced corpus is reproducible and incrementally stable (a doc's
    keep decision never depends on other docs' arrival).

    Scale: one aggregate produces the 5-row rates table (broadcast
    back), the keep test is codegen scan-side, and the report is a
    second skinny aggregate — the corpus shuffles zero times; at 100 TB
    the same two-phase shape computes rates on day-1 statistics and
    applies them as a map-only filter during ingestion."""
    d = table(spark, sf_dir, "documents")
    tgt = spark.createDataFrame(
        [("en", 0.30), ("de", 0.175), ("es", 0.175), ("fr", 0.175), ("zh", 0.175)],
        "t_lang string, share double",
    )
    # One statistics pass: `act` is the only corpus-sized aggregate —
    # materialize its |langs| rows eagerly and derive the total from IT
    # (Σ n_docs ≡ count(*)), instead of a separate corpus scan for
    # `total` plus re-runs of both inside every broadcast subtree below
    # (lazily this query scanned the corpus ~6×: total, act, both
    # embedded in `rates`, the keep scan, and `total_after` re-running
    # the whole keep lineage).
    act = checkpoint(d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))
    total = act.agg(F.sum("n_docs").cast("double").alias("n_total"))
    rates = (
        act.crossJoin(F.broadcast(total))
        .join(F.broadcast(tgt), act.lang == tgt.t_lang)
        .select(
            "lang",
            "n_docs",
            F.least(
                F.lit(1.0),
                F.col("share") / (F.col("n_docs") / F.col("n_total")),
            ).alias("keep_rate"),
        )
    )
    h8 = F.substring(
        F.md5(F.concat(F.lit("mix-"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        8,
    )
    u = (F.conv(h8, 16, 10).cast("double") + F.lit(1)) / F.lit(4294967296.0)
    kept = (
        d.select("lang", "doc_id")
        .join(F.broadcast(rates), "lang")
        .select(
            "lang",
            "n_docs",
            "keep_rate",
            F.when(u <= F.col("keep_rate"), 1).otherwise(0).alias("keep"),
        )
    )
    agg = kept.groupBy("lang", "n_docs", "keep_rate").agg(
        F.sum("keep").cast("bigint").alias("n_after")
    )
    total_after = agg.agg(F.sum("n_after").alias("ta")).select("ta")
    return (
        agg.crossJoin(F.broadcast(total_after))
        .select(
            "lang",
            F.col("n_docs").alias("n_before"),
            "n_after",
            F.round("keep_rate", 6).alias("keep_rate"),
            F.round(F.col("n_after") / F.col("ta").cast("double"), 6).alias(
                "share_after"
            ),
        )
    )


@register(
    "corpus_token_budget_plan",
    # Largest-remainder (Hamilton) apportionment in exact integers:
    # base = (B*t) div T, leftover = B - Σ base goes to the largest
    # remainders (ties to source asc) — so Σ alloc == B exactly, which
    # proportional-share-then-round cannot guarantee.
    oracle="""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM tok),
base AS (
  SELECT k.source, k.tokens,
         (100000 * k.tokens) // tot.t AS base_alloc,
         (100000 * k.tokens) % tot.t AS rem,
         (1000000 * k.tokens) // tot.t AS share_ppm
  FROM tok k, tot
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
         100000 - (SELECT CAST(SUM(base_alloc) AS BIGINT) FROM base)
           AS leftover
  FROM base
)
SELECT source, tokens, share_ppm,
       base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
         AS alloc_tokens,
       rk <= leftover AS got_remainder
FROM ranked
""".strip(),
    tags=("pipeline", "mix"),
    bench=True,
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment across sources by the largest-
    remainder method — the epoch-planning step of a training-mix
    pipeline: given per-source token counts and a global budget
    (100k tokens here), allocate proportionally in EXACT integers with
    the leftover units going to the largest fractional remainders
    (Hamilton's method; ties to source asc), so the allocations sum to
    the budget EXACTLY — the follow-on to pipeline_mix_rebalance, which
    rebalances shares but cannot hit an exact token total.

    Scale: the corpus-sized work is one conditional aggregate (token
    counts per source — shares pack_sequences' whitespace-token
    semantics); apportionment runs on |sources| rows with one skinny
    window.  At 100 TB the counts come from the maintained per-source
    partials (agg_partial_merge's pattern), making re-planning a
    metadata-only operation."""
    from pyspark.sql import Window

    B = 100_000
    d = table(spark, sf_dir, "documents")
    # Eager checkpoint of the ONLY corpus-sized aggregate: lazily, the
    # broadcast subtrees below (`tot`, then `spent` whose lineage embeds
    # `tot` again) re-ran the documents scan + token count up to 4× per
    # query.  Materializing the |sources|-row frame makes everything
    # downstream metadata-sized — the single-pass shape the docstring
    # promises.
    tok = checkpoint(
        d.groupBy("source").agg(
            F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("tokens")
        )
    )
    tot = tok.agg(F.sum("tokens").alias("t"))
    base = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"({B} * tokens) div t").alias("base_alloc"),
        F.expr(f"({B} * tokens) % t").alias("rem"),
        F.expr("(1000000 * tokens) div t").alias("share_ppm"),
    )
    spent = base.agg(F.sum("base_alloc").alias("spent"))
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    ranked = (
        base.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(spent))
        .withColumn("leftover", F.lit(B) - F.col("spent"))
    )
    return ranked.select(
        "source",
        "tokens",
        "share_ppm",
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_tokens"),
        (F.col("rk") <= F.col("leftover")).alias("got_remainder"),
    )
