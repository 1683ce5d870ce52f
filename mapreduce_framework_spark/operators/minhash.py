"""MinHash + LSH banding for near-duplicate detection at scale.

Algorithm (standard MinHash/LSH, cf. Broder '97; ClusterJoin VLDB'14 for
the partitioned-candidate-join framing in PAPERS.md):

1. token hashes: explode the shingle arrays and ``xxhash64`` each
   shingle string ONCE; the N_HASHES family is n seeded re-hashes of
   that 8-byte value, not n string scans.
2. signature: ``groupBy(doc).agg(min(rehash_i) …)`` — 64 min columns
   inside ONE whole-stage-codegen HashAggregate.  Map-side partial
   aggregation makes the shuffle one row per doc (64 longs), so the
   explode never travels.  (The array-HOF formulation —
   `array_min(transform(...))` per seed — is interpreted per element
   with boxing and measured ~3× slower end-to-end; HOFs also
   RE-EVALUATE unnamed input expressions at every use site, which is
   why this module stages every intermediate as a real column.)
3. banding: band hash = ``xxhash64`` of r adjacent min columns.
   Documents sharing ANY band hash become candidates.
4. pair generation happens INSIDE the bucket: one `groupBy(band_id,
   band_hash)` shuffle collects bucket members, pairs come from an
   array-level cross inside each (bounded-size) bucket.  No second
   scan of the corpus, no candidate self-join.

Scale posture: the all-pairs O(n²) never materializes — the shuffle is
O(n · N_BANDS) rows, candidate buckets are bounded by collision rate,
and the verify join touches only candidates.  Skewed buckets
(e.g. boilerplate shingles) are AQE-splittable; the `MAX_BUCKET` cap
guards pathological collisions.

Probability: with N_HASHES=64, bands=16×4, P(candidate) ≈
1-(1-j⁴)¹⁶ — ~50% at j≈0.55, >99% at j≥0.8 — the classic S-curve for a
0.7-0.8 threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The LSH geometry.  A persisted band index and every probe of it must
# agree on it, so it is one set of constants, not per-call options.
N_HASHES = 64
N_BANDS = 16
# Buckets of the persisted index table, sized by index volume
# (corpus_docs · N_BANDS rows of 3 longs): at 100 TB use thousands.  The
# count must stay fixed across daily appends — the bucketing contract
# `join_bucketed` demonstrates.
INDEX_BUCKETS = 8
# Drops degenerate candidate buckets (a bucket of k docs yields k²
# pairs).  It must stay well above the largest LEGITIMATE duplicate
# cluster — a cluster of k near-identical docs shares most band
# buckets, and pruning them silently loses true pairs: this bounds
# bucket blowup at ~1e10 comparisons while tolerating 1e5-doc clusters.
MAX_BUCKET = 100_000


def band_buckets(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """DataFrame(_id, band_id, band_hash): the LSH banding index rows
    for each document — N_BANDS rows per doc, each hashing r adjacent
    minhashes.  This IS the persistable incremental-dedup index: at
    100 TB the corpus's band rows live in a bucketed table partitioned
    by (band_id, band_hash) and new batches probe it with an equi-join,
    never re-scanning (or re-pairing) the corpus itself.

    Signature via EXPLODE + codegen'd HashAggregate, not array HOFs:
    `transform`/`array_min` are interpreted per element with boxing —
    64 passes over every token array was the whole query's bottleneck
    (measured ~3× end-to-end).  Exploded, the 64 `min(rehash)` columns
    run inside whole-stage codegen; map-side partial aggregation means
    the shuffle still carries one row per doc (64 longs), identical to
    the array formulation.
    explode_outer, NOT explode: plain explode makes Catalyst infer a
    `size(arr) > 0` filter and push it below the projection with the
    whole array expression inlined — the shingle pipeline then runs
    twice per row, once in re-inlined (split-per-element_at) form.
    Measured 6.2s → 0.2s on this stage at sf0.1."""
    rows_per_band = N_HASHES // N_BANDS
    ex = (
        df.select(F.col(id_col).alias("_id"), F.explode_outer(F.col(tokens_col)).alias("_t"))
        .where(F.col("_t").isNotNull())
        .select("_id", F.xxhash64("_t").alias("_h"))
    )
    mins = ex.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
            for i in range(N_HASHES)
        ]
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.col(f"_m{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )
    return mins.select("_id", F.explode(band_arr).alias("b")).select(
        "_id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def persist_band_index(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    table_name: str,
    path: str,
) -> DataFrame:
    """Materialize the corpus's LSH band rows as a BUCKETED (and
    bucket-sorted) table on (band_id, band_hash) — the persisted
    incremental-dedup index the module docstring promises.  Probing it
    via ``probe_candidates(..., corpus_index=...)`` reads matching
    buckets directly: the index side of the probe join carries NO
    exchange (pinned in tests/test_plans.py), so a daily admission job
    shuffles only the new batch's O(new·bands) rows no matter how
    large the accumulated corpus index is.  Maintenance is append-only:
    admitted docs' band rows insert into the same ``INDEX_BUCKETS``
    layout."""
    (
        band_buckets(df, id_col, tokens_col)
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(INDEX_BUCKETS, "band_id", "band_hash")
        .sortBy("band_id", "band_hash")
        .saveAsTable(table_name)
    )
    return df.sparkSession.table(table_name)


def probe_candidates(
    new_df: DataFrame,
    corpus_df: DataFrame | None,
    id_col: str,
    tokens_col: str,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Distinct (new_id, corpus_id) candidate pairs: new docs probing
    the corpus's banding index.  The incremental-dedup join shape —
    cost is O(new·bands + matched buckets), with NO corpus×corpus pair
    generation.  Pass ``corpus_index`` (band rows persisted by
    `persist_band_index`, or any precomputed ``(_id, band_id,
    band_hash)`` frame) to probe without re-scanning corpus text; when
    the index table is bucketed on (band_id, band_hash) the join reads
    its buckets in place and only the new side shuffles."""
    nb = band_buckets(new_df, id_col, tokens_col).select(
        F.col("_id").alias("new_id"), "band_id", "band_hash"
    )
    if corpus_index is None:
        corpus_index = band_buckets(corpus_df, id_col, tokens_col)
    cb = corpus_index.select(
        F.col("_id").alias("corpus_id"), "band_id", "band_hash"
    )
    return nb.join(cb, ["band_id", "band_hash"]).select("new_id", "corpus_id").distinct()


def candidate_pairs(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) from LSH banding.

    One corpus scan → one shuffle of (doc, band) rows → pairs generated
    array-side within each bucket; buckets past ``MAX_BUCKET`` members
    are dropped (a pathological collision would otherwise dominate the
    stage)."""
    banded = band_buckets(df, id_col, tokens_col)
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.collect_list("_id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET))
    )

    def pairs_of(ids: Column) -> Column:
        def with_gt(x: Column) -> Column:
            def gt(y: Column) -> Column:
                return y > x

            def pair(y: Column) -> Column:
                return F.struct(x.alias("id_a"), y.alias("id_b"))

            return F.transform(F.filter(ids, gt), pair)

        return F.flatten(F.transform(ids, with_gt))

    return (
        buckets.select(F.explode(pairs_of(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """Exact Jaccard over two (deduplicated) token arrays — int
    cardinalities + one double division: cross-engine deterministic."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(F.array_union(tokens_a, tokens_b))
    return inter.cast("double") / union.cast("double")


def containment(tokens_a: Column, tokens_b: Column) -> Column:
    """Exact containment |A∩B| / |A| of token set A in token set B —
    asymmetric, so a short doc quoted inside a long one scores ~1 where
    its Jaccard is low.  Same integer-cardinality determinism as
    :func:`jaccard`."""
    return F.size(F.array_intersect(tokens_a, tokens_b)).cast("double") / F.size(
        tokens_a
    )


def verified_pairs(
    pairs: DataFrame, docs: DataFrame, id_col: str, tokens_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard): the candidate pairs (id_a, id_b) whose
    exact token-set Jaccard is ≥ ``threshold`` — the verify stage every
    MinHash candidate passes before it can count, so sketch noise never
    reaches an answer.  Each pair joins back to ``docs`` once per side
    for the two token arrays.  Any other column of ``docs`` is a
    blocking key the two sides must share: it joins the second side
    alongside ``id_b``, so a candidate that crosses blocks is dropped."""
    keys = [c for c in docs.columns if c not in (id_col, tokens_col)]

    def side(s: str) -> DataFrame:
        return docs.select(
            F.col(id_col).alias(f"id_{s}"), *keys, F.col(tokens_col).alias(f"_t{s}")
        )

    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), [*keys, "id_b"])
        .select("id_a", "id_b", jaccard(F.col("_ta"), F.col("_tb")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
