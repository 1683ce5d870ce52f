"""SimHash (Charikar '02) near-dup fingerprinting, pure JVM expressions.

64-bit fingerprint: for each bit position, sum +1/-1 votes from each
token's xxhash64; bit = 1 if the vote is positive.  Near-dups = pairs
within small Hamming distance, found by the pigeonhole trick: split the
64 bits into 4 16-bit chunks — any pair at distance ≤ 3 shares at least
one exact chunk, so one shuffle on (chunk_id, chunk_value) groups all
candidates; pairs are generated inside each bucket (no self-join, no
second corpus scan).

Execution shape (same reasoning as operators/minhash.py): explode the
token array, hash each token once, then ``groupBy(doc)`` with 64
codegen'd ``sum(bit_i)`` columns + one count — the vote for bit i is
``2·Σbit_i − n``.  Array-HOF bit-vote passes (``aggregate`` per bit)
are interpreted per element and were measured several times slower.
Map-side partial aggregation keeps the shuffle at one row per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_spark.operators.materialize import checkpoint
from mapreduce_framework_spark.operators.minhash import MAX_BUCKET


def md5_prefix60(token: Column) -> Column:
    """60-bit token hash from the first 15 hex chars of md5 — the
    cross-engine-reproducible hash family: DuckDB computes the identical
    value as ``CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)``,
    which makes md5-based SimHash fingerprints oracle-checkable.  Still
    pure JVM codegen (md5 + conv), just slower than xxhash64."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")


def fingerprints(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    token_hash=None,
    n_bits: int = 64,
    dictionary_hash: bool = False,
) -> DataFrame:
    """DataFrame[id, fp]: ``n_bits``-bit SimHash (bigint) per document
    from a token-ARRAY column.  One explode + one codegen HashAggregate;
    the shuffle carries one row of n_bits+1 longs per doc.

    ``token_hash`` maps a token Column to a bigint Column; default is
    engine-native ``xxhash64`` (fastest).  Pass :func:`md5_prefix60`
    with ``n_bits=60`` when the fingerprint must be reproducible
    outside Spark (oracle checks).

    ``dictionary_hash=True`` evaluates ``token_hash`` once per DISTINCT
    token instead of once per occurrence: distinct tokens → hash → join
    the (token, hash) dictionary back onto the occurrences.  Identical
    fingerprints — the hash is a pure function of the token — with the
    hash evaluated |vocab| times instead of |occurrences| times, which
    is the lever when the hash is expensive (md5+base-16 conv costs
    ~20× an xxhash64).  The join stays un-hinted: on a bounded
    vocabulary AQE broadcasts the dictionary (map-side, no new shuffle
    of the occurrences); on an open vocabulary it degrades to a shuffle
    join on the token — at that point prefer the default
    per-occurrence lane, which shuffles nothing extra.
    Leave False for cheap hashes: the dictionary's distinct aggregate
    costs more than xxhash64 saves."""
    if token_hash is None:
        token_hash = F.xxhash64
    # explode_outer: avoids the inferred size()>0 filter that re-inlines
    # the token-array expression below the projection (see
    # operators/minhash.py).
    occ = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(F.col(tokens_col)).alias("_t")
    ).where(F.col("_t").isNotNull())
    if dictionary_hash:
        dic = occ.select("_t").distinct().select(
            "_t", token_hash(F.col("_t")).alias("_h")
        )
        ex = occ.join(dic, "_t").select("_id", "_h")
    else:
        ex = occ.select("_id", token_hash(F.col("_t")).alias("_h"))
    agg = ex.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftrightunsigned("_h", i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
            for i in range(n_bits)
        ],
    )
    fp = F.lit(0).cast("long")
    for i in range(n_bits):
        # bit set iff vote > 0  ⇔  2·Σbit − n > 0
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"_b{i}") * 2 > F.col("_n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col("_id").alias(id_col), fp.alias("fp"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def chunk16(fp: Column, n_chunks: int = 4, width: int = 16) -> Column:
    """array<struct<chunk_id:int, chunk_val:int>>: the fingerprint cut
    into ``n_chunks`` chunks of ``width`` bits for the pigeonhole
    candidate join (distance ≤ n_chunks−1 ⇒ some chunk matches)."""
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftrightunsigned(fp, c * width)
                .bitwiseAND(F.lit(mask))
                .cast("int")
                .alias("chunk_val"),
            )
            for c in range(n_chunks)
        ]
    )


def _keyed_single(fps: DataFrame, n_chunks: int, width: int) -> DataFrame:
    """(_id, _fp, key_id, key_val): one row per (doc, chunk) — the base
    pigeonhole keying (distance ≤ n_chunks−1 ⇒ some chunk matches)."""
    return fps.select(
        "_id", "_fp", F.explode(chunk16(F.col("_fp"), n_chunks, width)).alias("c")
    ).select(
        "_id",
        "_fp",
        F.col("c.chunk_id").alias("key_id"),
        F.col("c.chunk_val").cast("long").alias("key_val"),
    )


def _keyed_combo(fps: DataFrame, total_bits: int, max_distance: int) -> DataFrame:
    """(_id, _fp, key_id, key_val): the WIDE-key fallback — re-chunk the
    fingerprint into ``max_distance + 2`` chunks and key each doc on
    every PAIR of chunks (multi-index / PartEnum-style).  Pigeonhole:
    ≤ d bit errors touch ≤ d chunks, leaving ≥ 2 clean chunks, so a true
    pair shares at least one (chunk_i, chunk_j) combo exactly — recall
    is lossless, same as the single-chunk scheme, but the bucket key
    carries 2·width bits instead of width, so homogeneous-corpus
    buckets shrink ~2^width-fold.  Cost: C(d+2, 2) explode rows per doc
    instead of d+1 (10 vs 4 at d=3) — skinny rows, cheap.

    key_val is xxhash64 of the two chunk values (overflow-free packing);
    a 64-bit hash collision can only MERGE buckets, adding false
    candidates that the exact distance filter removes — never dropping
    a true pair."""
    c2 = max_distance + 2
    w2 = total_bits // c2
    mask = (1 << w2) - 1

    def chunk(i: int) -> Column:
        return F.shiftrightunsigned(F.col("_fp"), i * w2).bitwiseAND(F.lit(mask))

    combos = [(i, j) for i in range(c2) for j in range(i + 1, c2)]
    arr = F.array(
        *[
            F.struct(
                F.lit(k).alias("key_id"),
                F.xxhash64(chunk(i), chunk(j)).alias("key_val"),
            )
            for k, (i, j) in enumerate(combos)
        ]
    )
    return fps.select("_id", "_fp", F.explode(arr).alias("c")).select(
        "_id", "_fp", F.col("c.key_id").alias("key_id"), F.col("c.key_val").alias("key_val")
    )


def _bucket_pairs(keyed: DataFrame, max_distance: int) -> DataFrame:
    """Group the keyed rows into buckets, generate pairs array-side
    inside each bucket, filter by exact Hamming distance."""
    buckets = (
        keyed.groupBy("key_id", "key_val")
        .agg(F.collect_list(F.struct(F.col("_id"), F.col("_fp"))).alias("xs"))
        .where((F.size("xs") >= 2) & (F.size("xs") <= MAX_BUCKET))
    )

    def pairs_of(xs: Column) -> Column:
        def with_gt(x: Column) -> Column:
            def gt(y: Column) -> Column:
                return y["_id"] > x["_id"]

            def pair(y: Column) -> Column:
                return F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    hamming64(x["_fp"], y["_fp"]).alias("distance"),
                )

            return F.transform(F.filter(xs, gt), pair)

        return F.flatten(F.transform(xs, with_gt))

    return (
        buckets.select(F.explode(pairs_of(F.col("xs"))).alias("p"))
        .select("p.id_a", "p.id_b", "p.distance")
        .where(F.col("distance") <= max_distance)
        .distinct()
    )


def near_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    max_distance: int = 3,
    n_chunks: int = 4,
    width: int = 16,
    pair_budget_per_doc: int = 64,
    pair_budget_floor: int = 5_000_000,
) -> DataFrame:
    """(id_a, id_b, distance) for pairs within ``max_distance``; one
    shuffle on fingerprint chunk keys (valid for max_distance ≤
    n_chunks−1), pairs generated within each bucket array-side.

    Buckets past minhash's ``MAX_BUCKET`` members are dropped, with the
    same rationale and recall caveat as operators/minhash.py — a bucket
    of k docs builds k² pair structs inside ONE collect_list row, so an
    unguarded hot bucket is a memory hazard before it is a time
    problem.

    HOMOGENEITY FALLBACK (automated): on a low-vocabulary corpus
    fingerprints concentrate and Σk² over MID-SIZE buckets — not one
    hot bucket — dominates (244M pair structs at 400k synthetic ~100-word-vocab
    docs, 21.6× time at 10× data, no bucket over 2.1k; the cap cannot
    fix that shape).  So before generating pairs, the operator measures
    the single-chunk bucket histogram — a one-row aggregate over ≤
    n_chunks·2^width histogram groups, the same metadata-scale action
    as components.py's convergence probe — and when the implied
    comparison count Σk(k−1)/2 exceeds
    ``max(pair_budget_floor, pair_budget_per_doc · n_docs)`` it
    switches to the pair-combination keying (``_keyed_combo``): same
    exact Hamming semantics, lossless recall, ~2^width-fold smaller
    buckets.  The fingerprint frame is checkpointed eagerly so the
    histogram probe and the pair job compute fingerprints once.

    The budget floor must stay above the pair count of the largest
    LEGITIMATE duplicate cluster (k docs ⇒ k²/2 pairs in one bucket);
    the default tolerates a ~3k-doc cluster before switching — and the
    switch only changes bucket WIDTH, never which pairs qualify."""
    fps = checkpoint(df.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp")))

    keyed_base = _keyed_single(fps, n_chunks, width)
    hist = keyed_base.groupBy("key_id", "key_val").agg(F.count(F.lit(1)).alias("k"))
    over_budget = (
        hist.agg(
            F.sum(F.col("k") * (F.col("k") - F.lit(1)) / F.lit(2)).alias("pairs"),
            (F.sum("k") / F.lit(n_chunks)).alias("n_docs"),
        )
        .where(
            F.col("pairs")
            > F.greatest(
                F.lit(float(pair_budget_floor)),
                F.lit(float(pair_budget_per_doc)) * F.col("n_docs"),
            )
        )
        .limit(1)
        .count()
        > 0
    )
    keyed = (
        _keyed_combo(fps, n_chunks * width, max_distance)
        if over_budget
        else keyed_base
    )
    return _bucket_pairs(keyed, max_distance)
