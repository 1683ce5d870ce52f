"""Deduplication suite over `documents` — the training-data-pipeline
core (BASELINE north star; candidate-join patterns after ClusterJoin
VLDB'14 / V-SMART-Join VLDB'12, see PAPERS.md).

Five tiers, cheapest first — at 100 TB you run them in this order and
each tier prunes the next one's input:

1. exact       — hash groupBy, one shuffle of (hash, id).
2. ngram/jaccard — blocked exact similarity (quadratic within block
   only; blocks = (lang, source) here, at scale add a length band).
3. minhash LSH — sub-quadratic candidates for unblockable corpora.
4. simhash    — constant-size fingerprint, Hamming-distance candidates
   via pigeonhole chunks.
5. embedding  — semantic near-dups, cluster-blocked cosine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.functions.idsplit import id_hexdigit
from mapreduce_framework_spark.functions.vector import cosine
from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.operators.materialize import (
    checkpoint,
    sized_local_checkpoint,
)
from mapreduce_framework_spark.operators.minhash import (
    candidate_pairs,
    containment,
    jaccard,
    verified_pairs,
)
from mapreduce_framework_spark.operators.simhash import (
    fingerprints,
    md5_prefix60,
    near_pairs,
)
from mapreduce_framework_spark.registry import register


@register(
    "dedup_exact",
    oracle="""
SELECT sha256(lower(trim(text))) AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY sha256(lower(trim(text)))
""".strip(),
    tags=("dedup",),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text digest: keep the smallest doc_id
    per hash group.  One shuffle of (hash, id) pairs — the digest is
    computed scan-side, so the fact bytes never move."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _band_radius(threshold: float) -> int:
    """Probe radius of the token-count band join, in bands: Jaccard ≥ t
    bounds the distinct-count ratio by 1/t, i.e. log₁.₂₅(1/t) bands;
    +1 absorbs float rounding at the band edges (t = 0.8 gives ±2).
    round(…, 9) keeps binary-float dust (1/0.8 → 1.2500000000000002)
    from bumping the ceil a whole band at exact band-edge thresholds."""
    return math.ceil(round(math.log(1.0 / threshold) / math.log(1.25), 9)) + 1


def _split_by_cap(
    d: DataFrame, size_cols: list[str], block_cap: int
) -> tuple[DataFrame, DataFrame]:
    """(small, big): ``d`` split by (lang, source) category.  A category
    is big when any of its ``size_cols`` groups holds more than
    ``block_cap`` rows; routing whole categories keeps every pair in
    exactly one tier.  The big-category list is tiny, so both routing
    joins broadcast."""
    big_cats = (
        d.groupBy(*size_cols)
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > block_cap)
        .select("lang", "source")
        .distinct()
    )
    cats = ["lang", "source"]
    return (
        d.join(F.broadcast(big_cats), cats, "left_anti"),
        d.join(F.broadcast(big_cats), cats, "left_semi"),
    )


def banded_jaccard_pairs(
    d: DataFrame, threshold: float = 0.8, block_cap: int | None = 1000
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs at ``jaccard ≥ threshold`` from a
    (doc_id, lang, source, toks) frame — the one band join of the
    token-set tiers.

    Blocking on (lang, source) alone is a scale-killer: block membership
    grows linearly with the corpus, so within-block pairs grow
    quadratically.  Two defenses, both enforced in-plan:

    1. LOSSLESS token-count band in the join key: Jaccard ≥ t forces
       the DISTINCT-token counts within a ratio of 1/t
       (|A∩B| ≥ t·|A∪B| ≥ t·max ⇒ min ≥ t·max), so with geometric
       bands of factor 1.25 (band = ⌊log₁.₂₅ n⌋) a qualifying pair
       differs by at most ``_band_radius(t)`` bands.  The probe side
       explodes band ± radius and the build side keeps its single band,
       so every qualifying pair matches EXACTLY once — no post-join
       distinct, the result multiset is identical to unbanded.

    2. ENFORCED block cap with MinHash overflow: per-(lang, source,
       band) group sizes are aggregated (skinny rows), and any CATEGORY
       (lang, source) containing a group above ``block_cap`` routes
       wholly to the MinHash-LSH tier — candidates from
       operators/minhash.py banding over the same distinct-token sets,
       verified by the same exact Jaccard ≥ threshold predicate.  The
       exact tier can no longer go quadratic: its per-group work is
       bounded by ~(2·radius+1)·block_cap² comparisons regardless of
       corpus size.  ``block_cap=None`` runs the exact tier alone on the
       lazy input — the cluster keys' choice, where the cap aggregate
       and the two-tier union cost two more jobs per call on pair sets
       their size.

       Overflow candidates come from unigram-set MinHash (16×4) over
       the same distinct-token arrays the verify step uses — MinHash is
       duplicate- and order-invariant, so the candidate metric IS the
       declared set-Jaccard and per-pair recall follows the standard
       S-curve (≥ 99.97% at j ≥ 0.8); false positives are impossible
       since every candidate is exact-verified.  Honest limit: on a
       degenerate LOW-VOCABULARY corpus, random doc pairs themselves
       sit at high set-j (at ~25 observed tokens, unrelated docs reach
       j = 1.0) — there the 0.8-threshold OUTPUT is Θ(n²) and no exact
       algorithm is sub-quadratic because the answer is; the right
       operator at that point is cluster-granularity reporting
       (dedup_clusters), not pair enumeration.  On metric-healthy
       corpora (real vocabularies, random-pair j ≈ 0) LSH candidates
       ≈ true pairs and the overflow tier is linear — measured ~1× at
       4× data on the wide-vocab single-category probe corpus
       (tools/scale_probe.py banded_overflow)."""
    radius = _band_radius(threshold)
    banded = d.withColumn(
        "band",
        F.floor(
            F.log(F.greatest(F.size("toks"), F.lit(1))) / F.lit(math.log(1.25))
        ).cast("int"),
    )
    if block_cap is None:
        small = banded
    else:
        # The capped frame is consumed ~6× (the cap aggregate, both
        # sides of the exact tier, the overflow candidate and verify
        # sides), each re-running the caller's scan + tokenize; the size
        # gate in operators/materialize.py decides whether materializing
        # it pays.
        banded = sized_local_checkpoint(banded)
        small, big = _split_by_cap(banded, ["lang", "source", "band"], block_cap)
    a = small.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "source",
        F.col("toks").alias("toks_a"),
        F.explode(
            F.array(
                *[F.col("band") + F.lit(i) for i in range(-radius, radius + 1)]
            )
        ).alias("band_probe"),
    )
    b = small.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("toks").alias("toks_b"),
        "band",
    )
    j = jaccard(F.col("toks_a"), F.col("toks_b"))
    exact_pairs = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("band_probe") == F.col("band")),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    if block_cap is None:
        return exact_pairs
    lsh_pairs = verified_pairs(
        candidate_pairs(big, "doc_id", "toks"),
        big.select("doc_id", "lang", "source", "toks"),
        "doc_id",
        "toks",
        threshold,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")
    return exact_pairs.unionByName(lsh_pairs)


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / len(list_distinct(a.toks || b.toks)) AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(a.toks || b.toks)) >= 0.8
""".strip(),
    tags=("dedup",),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact Jaccard with a token-count band in the join key and
    an ENFORCED block-size cap that routes oversized categories to the
    MinHash tier — see :func:`banded_jaccard_pairs` for both guards.
    On the pinned testdata no category overflows, so the oracle's plain
    quadratic join replicates the result exactly."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    return banded_jaccard_pairs(d, threshold=0.8, block_cap=1000)


@register(
    "dedup_minhash",
    # Tolerance oracle: DuckDB computes the EXACT 3-shingle-Jaccard
    # pairs at threshold 0.7 (quadratic, pruned by the lossless
    # distinct-shingle-count band |a|/|b| ∈ [0.7, 1/0.7] — a DuckDB
    # IEJoin, fine at oracle SF).  The Spark side emits only
    # exact-verified candidates (no false positives by construction),
    # so hash equality proves recall: the LSH banding found every true
    # pair.  xxhash64 seeds stay engine-native — the check constrains
    # the OUTPUT, not the sketch internals.
    #
    # Recall caveat (pinned-testdata contract): 16 bands x 4 rows gives
    # a true pair at jaccard j a per-band hit probability j^4, so a pair
    # JUST above the 0.7 threshold misses every band with
    # (1 - 0.7^4)^16 ~ 1.2% probability.  The generator's planted
    # near-dups sit well above the S-curve knee (j >= ~0.8 -> miss
    # < 0.03%), and the equality has been validated at sf0.001/0.01/0.1;
    # on a NEW corpus with borderline-j pairs the correct response to a
    # hash mismatch is to raise operators/minhash.py's N_HASHES/N_BANDS,
    # not to distrust the banding math.
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(toks) - 2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM d
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM s a JOIN s b
  ON a.doc_id < b.doc_id
 AND len(a.sh) >= CAST(ceil(0.7 * len(b.sh)) AS BIGINT)
 AND len(a.sh) <= CAST(floor(len(b.sh) / 0.7) AS BIGINT)
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)) >= 0.7
""".strip(),
    tags=("dedup", "lsh"),
    bench=True,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over 3-word shingles, verified by
    exact shingle-Jaccard ≥ 0.7.

    Shingles (not unigram token sets) are the published standard for
    training-corpus dedup (GPT-3/Gopher-style): word order matters, so
    permuted bags of the same vocabulary don't collide — on a small-
    vocabulary corpus the unigram variant degenerates to ~quadratic
    true-pair density (the blocked unigram tier is dedup_ngram_jaccard).

    Pipeline: shingle-set → 64 minhashes → 16×4 banding → bucket join →
    exact verify.  Candidate generation is O(n·bands) shuffle rows, not
    O(n²) — see operators/minhash.py for the scale analysis.

    Tokens and shingles are staged as NAMED columns before any
    higher-order function touches them — an unnamed expression inside a
    HOF lambda is re-evaluated per use site (measured 10× on this
    query).  The shingle arrays are NOT array_distinct'ed: MinHash is
    duplicate-invariant and the verify Jaccard is set-semantic already,
    while array_distinct is an O(n²) interpreted string-compare per doc
    (measured ~40% of the whole query)."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams

    # Filter on size(toks), not size(sh): a filter on the ngram array
    # gets pushdown-reordered below the projection and re-computes every
    # shingle array just to test emptiness (measured ~3s of ~4s here).
    # The shingled frame is consumed three times (candidate generation
    # and both verify sides) and shingling is the key's most expensive
    # stage; operators/materialize.py decides whether materializing it
    # pays.
    d = sized_local_checkpoint(
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", word_ngrams(F.col("toks"), 3).alias("sh"))
    )
    verified = verified_pairs(candidate_pairs(d, "doc_id", "sh"), d, "doc_id", "sh", 0.7)
    return verified.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


# DuckDB replica of the 60-bit md5-prefix SimHash (see
# operators/simhash.py:md5_prefix60): same token hash, same per-bit
# majority vote, same 4×15-bit pigeonhole pairing — generated
# programmatically because it needs one SUM per bit.
_SIMHASH_BITS = 60
_SIMHASH_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
ex AS (
  SELECT doc_id, unnest(toks) AS tok FROM d
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM ex
),
agg AS (
  SELECT doc_id, count(*) AS n,
         {", ".join(f"SUM((h >> {i}) & 1) AS b{i}" for i in range(_SIMHASH_BITS))}
  FROM hashed GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN 2 * b{i} > n THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS))} AS BIGINT) AS fp
  FROM agg
),
ch AS (
  SELECT doc_id, fp, unnest([0, 1, 2, 3]) AS chunk_id FROM fp
),
keyed AS (
  SELECT doc_id, fp, chunk_id, (fp >> (chunk_id * 15)) & 32767 AS chunk_val
  FROM ch
),
-- Mirror the implementation's max_bucket guard (operators/simhash.py:
-- near_pairs drops chunk buckets with more than 100k members), so the
-- oracle and the engine agree even on a corpus with a degenerate
-- bucket instead of silently diverging on recall.  (near_pairs'
-- homogeneity fallback to pair-combination keys changes only bucket
-- WIDTH, never which pairs qualify, so this oracle stays valid on
-- either path.)
bsz AS (
  SELECT chunk_id, chunk_val FROM keyed
  GROUP BY chunk_id, chunk_val
  HAVING count(*) BETWEEN 2 AND 100000
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp)) AS distance
FROM keyed a
JOIN keyed b USING (chunk_id, chunk_val)
JOIN bsz USING (chunk_id, chunk_val)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.fp, b.fp)) <= 3
""".strip()


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash"),
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + Hamming ≤ 3 pairs via pigeonhole chunks
    (4 chunks of 15 bits: any pair at distance ≤ 3 shares a chunk — one
    equi-join).  Fingerprints come from one explode + codegen
    HashAggregate (see operators/simhash.py).

    Uses the md5-prefix 60-bit token hash rather than engine-native
    xxhash64 so the WHOLE pipeline — fingerprint bits included — is
    replicated bit-for-bit by the DuckDB oracle (the hash family is a
    parameter of the operator; xxhash64 remains the fast default for
    production corpora where cross-engine reproducibility isn't
    needed)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # dictionary_hash: md5+conv is ~the whole fingerprint stage when
    # evaluated per occurrence; hashing the distinct token dictionary
    # once and joining it back computes identical fingerprints with
    # |vocab| md5 evaluations instead of |occurrences|.
    fps = fingerprints(
        d,
        "doc_id",
        "toks",
        token_hash=md5_prefix60,
        n_bits=_SIMHASH_BITS,
        dictionary_hash=True,
    )
    return near_pairs(fps, "doc_id", "fp", max_distance=3, n_chunks=4, width=15)


@register(
    "dedup_embedding",
    oracle="""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
""".strip(),
    tags=("dedup", "embedding"),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups, blocked by cluster label (at scale the
    label comes from coarse quantization / k-means — same plan shape).
    Cosine folds sequentially in double → deterministic; round(6) guards
    the cross-engine last-ulp."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(F.col("vec_id").alias("id_a"), "label", F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), "label", F.col("v").alias("vb"))
    cos = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.4)
    )


def _semantic_assignment(
    e: DataFrame, occupancy: int = 64, k_rows: Column | None = None
):
    """Shared k-means assignment for the SemDeDup family over ``e =
    (vec_id, v, *extra)``: quantized base frame (extra columns ride
    along), in-plan seed derivation (k = max(8, n // occupancy) over the
    rows ``k_rows`` selects, all rows when None; no collect), argmin
    assignment, and the k-row cluster-size frame.  Returns ``(base,
    assigned, counts)``; every semantic key builds on it, so the
    accounting key audits the EXACT assignment the dedup keys run."""
    from mapreduce_framework_spark.operators.kmeans import assign, quantize

    base = e.select(
        "vec_id",
        quantize(F.col("v")).alias("qv"),
        F.col("v").cast("array<double>").alias("vd"),
        *[c for c in e.columns if c not in ("vec_id", "v")],
    )
    sized = base if k_rows is None else base.where(k_rows)
    kf = sized.agg(
        F.greatest(F.lit(8), F.expr(f"count(1) div {occupancy}")).alias("k")
    )
    seeds = (
        base.crossJoin(F.broadcast(kf))
        .where(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("c"))
    )
    # The n·k argmin is the flops-heavy stage of the family and has 3-4
    # consumers (cluster sizes, both sides of the within-cluster pair
    # join, the final keep join); ReuseExchange dedups only identical
    # exchanges, so it is materialized once.  The checkpointed frame is
    # (vec_id, cid) ints — n×~8 bytes, safe at any corpus size.
    assigned = checkpoint(
        assign(base.select("vec_id", F.col("qv").alias("v")), seeds).select(
            "vec_id", "cid"
        )
    )
    # k-row cluster-size frame; AQE broadcasts it while it fits and
    # falls back to a shuffle join at extreme k — no forced hint.
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_mc"))
    return base, assigned, counts


def _sub_split(
    base: DataFrame, assigned: DataFrame, counts: DataFrame, cap: int
) -> DataFrame:
    """Cluster members with their base columns (minus the quantized
    vector) and the balanced sub-split key ``_sub = vec_id mod
    ceil(m_c / cap)`` — the identity below the cap."""
    return (
        assigned.join(base.drop("qv"), "vec_id")
        .join(counts, "cid")
        .withColumn(
            "_sub", F.pmod(F.col("vec_id"), F.expr(f"(_mc + {cap - 1}) div {cap}"))
        )
    )


# SemDeDup's cosine keep threshold and its per-cluster sub-split cap
# (16× the expected occupancy).
_SEMDEDUP_TAU = 0.4
_CLUSTER_CAP = 1024


def semantic_dedup_frame(e: DataFrame, occupancy: int = 64) -> DataFrame:
    """Frame core of dedup_semantic over ``e = (vec_id, v:
    array<double>)`` — separated so tools/scale_probe.py can measure
    growth on synthetic corpora with the REAL operator code.  Returns
    (vec_id, cluster_id, keep).

    ``_CLUSTER_CAP`` is the ENFORCED guard against assignment skew.  k
    pins EXPECTED occupancy at ~``occupancy``, but a near-identical
    vector ball can still pile one cluster to O(n); any cluster over
    the cap is sub-split by the balanced key ``vec_id mod ceil(m_c /
    cap)``, so pair work per cluster is ≤ ~cap·m_c regardless of skew.
    Below the cap (every real corpus here — 16× the expected occupancy)
    the split is the identity, so semantics are unchanged; above it,
    cross-sub-block pairs go uncompared — acceptable for the
    pathological case it guards, because a ball of near-dups still
    collapses within every sub-block (each keeps ~1 survivor), and
    EXACT duplicates were already removed by the dedup ladder's earlier
    tiers.  HOW OFTEN the cap engages (and the exact count of pairs it
    declined to compare) is surfaced by the companion key
    `dedup_semantic_cap_report`."""
    m = _sub_split(*_semantic_assignment(e, occupancy), _CLUSTER_CAP)
    a = m.select(
        F.col("vec_id").alias("id_a"), "cid", "_sub", F.col("vd").alias("va")
    )
    b = m.select(
        F.col("vec_id").alias("id_b"), "cid", "_sub", F.col("vd").alias("vb")
    )
    drops = (
        a.join(b, ["cid", "_sub"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= F.lit(_SEMDEDUP_TAU))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return m.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("_d").isNull().alias("keep"),
    )


@register(
    "dedup_semantic",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 10000) AS BIGINT)) AS q
  FROM embeddings
),
kk AS (SELECT greatest(8, count(*) // 64) AS k FROM e),
ex AS (SELECT vec_id, unnest(q) AS val, unnest(range(len(q))) AS pos FROM e),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, val FROM ex
       WHERE vec_id < (SELECT k FROM kk)),
d1 AS (
  SELECT ex.vec_id, c.cid, SUM((ex.val - c.val) * (ex.val - c.val)) AS dist
  FROM ex JOIN c0 c USING (pos)
  GROUP BY ex.vec_id, c.cid
),
a1 AS (SELECT vec_id, cid FROM d1
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
mc AS (SELECT cid, count(*) AS mc FROM a1 GROUP BY cid),
m AS (
  SELECT a1.vec_id, a1.cid, e.v,
         a1.vec_id % ((mc.mc + 1023) // 1024) AS sub
  FROM a1 JOIN e USING (vec_id) JOIN mc USING (cid)
),
p AS (
  SELECT b.vec_id
  FROM m a JOIN m b
    ON a.cid = b.cid AND a.sub = b.sub AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
),
drops AS (SELECT DISTINCT vec_id FROM p)
SELECT m.vec_id, m.cid AS cluster_id, (d.vec_id IS NULL) AS keep
FROM m LEFT JOIN drops d ON m.vec_id = d.vec_id
""".strip(),
    tags=("dedup", "embedding", "clustering"),
    bench=True,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    k-means-assign the corpus, compare cosines only WITHIN a cluster,
    greedily keep the lowest vec_id of each near-dup pair.  This makes
    `dedup_embedding`'s docstring claim ("at scale the label comes from
    k-means") an executable, oracle-checked composition: the blocks here
    ARE the kmeans assignment (`operators/kmeans.py:assign`, integer
    lattice, struct-min argmin), not a pre-existing column.

    k is derived from corpus size IN-PLAN — ``k = max(8, n // 64)``, the
    same fixed-occupancy philosophy as `annsearch.occupancy_planes` — so
    expected cluster occupancy pins at ~64 and the within-cluster pair
    stage does ~32·n comparisons TOTAL at any corpus size (linear; the
    quadratic all-pairs term is the thing SemDeDup exists to kill).
    Honest cost accounting at 100 TB: the assignment step is n·k
    distance evaluations — flops-heavy but map-side, shuffle-free, and
    embarrassingly parallel (the paper pays the same bill on GPUs); the
    levers to cut its constant are coarser k, the int8-quantized
    distance of `sim_search_quantized`, or a two-level coarse→fine
    assignment via the IVF machinery (`operators/annsearch.py`).
    Known recall trade, also the paper's: a near-dup pair straddling a
    cluster boundary is not compared.  Greedy lowest-id keep (drop any
    vector with a lower-id qualifying neighbor in its cluster) avoids
    transitive closure — no iteration, fully deterministic.

    Assignment SKEW is guarded in-plan, not by expectation: clusters
    over ``_CLUSTER_CAP`` (1024 = 16× expected occupancy) sub-split on
    the balanced key ``vec_id mod ceil(m_c/cap)`` — oracle-mirrored,
    identity below the cap, bounded pair work above it (a planted
    near-identical ball of n/2 vectors measures 1.1× wall at 4× data
    at fixed k — tools/scale_probe.py `semantic_dedup_skew`, gated in
    tests/test_scale_gate.py — and still collapses to one survivor per
    sub-block)."""
    return semantic_dedup_frame(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("v")
        )
    )


@register(
    "dedup_semantic_cap_report",
    # Pure integer arithmetic end-to-end (cluster sizes, pair counts) —
    # engine-exact, no float tolerance needed.  SUMs cast to BIGINT so
    # DuckDB's HUGEINT never reaches the driver compare.
    oracle="""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 10000) AS BIGINT)) AS q
  FROM embeddings
),
kk AS (SELECT greatest(8, count(*) // 64) AS k FROM e),
ex AS (SELECT vec_id, unnest(q) AS val, unnest(range(len(q))) AS pos FROM e),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, val FROM ex
       WHERE vec_id < (SELECT k FROM kk)),
d1 AS (
  SELECT ex.vec_id, c.cid, SUM((ex.val - c.val) * (ex.val - c.val)) AS dist
  FROM ex JOIN c0 c USING (pos)
  GROUP BY ex.vec_id, c.cid
),
a1 AS (SELECT vec_id, cid FROM d1
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
mc AS (SELECT cid, count(*) AS mc FROM a1 GROUP BY cid),
caps AS (SELECT * FROM (VALUES (64), (1024)) AS t(cap)),
sub AS (
  SELECT caps.cap, a1.cid, mc.mc,
         a1.vec_id % ((mc.mc + caps.cap - 1) // caps.cap) AS sub_id
  FROM a1 JOIN mc USING (cid) CROSS JOIN caps
),
subcnt AS (
  SELECT cap, cid, mc, count(*) AS c
  FROM sub GROUP BY cap, cid, mc, sub_id
),
clus AS (
  SELECT cap, cid, mc, SUM(c * (c - 1) // 2) AS within
  FROM subcnt GROUP BY cap, cid, mc
)
SELECT CAST(cap AS INT) AS cap,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(mc) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN mc > cap THEN 1 ELSE 0 END) AS BIGINT)
         AS capped_clusters,
       CAST(MAX(mc) AS BIGINT) AS max_cluster_size,
       CAST(SUM(mc * (mc - 1) // 2) AS BIGINT) AS total_pairs,
       CAST(SUM(within) AS BIGINT) AS compared_pairs,
       CAST(SUM(mc * (mc - 1) // 2) - SUM(within) AS BIGINT)
         AS uncompared_pairs
FROM clus GROUP BY cap
""".strip(),
    tags=("dedup", "embedding", "profiling"),
    bench=True,
)
def dedup_semantic_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cap engagement accounting for `dedup_semantic` (the cap
    must not lower recall SILENTLY).  Runs the
    exact assignment `dedup_semantic` runs (`_semantic_assignment` is
    shared code, not a re-derivation) and reports, per cap tier, how
    the sub-split guard would engage: the production cap (1024) and a
    stress cap (64 = the expected occupancy, guaranteed to engage on
    real corpora) so the engagement arithmetic itself is exercised and
    oracle-checked, ladder-funnel attrition style.

    ``uncompared_pairs`` is EXACT, not a bound: total within-cluster
    pairs C(m_c,2) minus the pairs that remain co-located after the
    balanced sub-split ``vec_id mod ceil(m_c/cap)`` (computed from the
    actual per-sub-block sizes).  At 100 TB this is a k-row aggregate
    piggy-backing on the assignment the dedup job computes anyway —
    the corpus-sized frames are touched once, everything after the
    groupBy(cid) is centroid-cardinality.  A curation pipeline runs it
    alongside `dedup_semantic` and alerts when capped_clusters > 0,
    turning the documented recall trade into a measured quantity.
    Reference provenance: the reference's job counters surface dropped
    records per stage (w7/src/master/masterimpl.cc task bookkeeping);
    this is the same observability duty for the semantic tier."""
    base, assigned, counts = _semantic_assignment(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("v")
        )
    )
    m = assigned.join(counts, "cid")
    caps = m.select(
        "vec_id",
        "cid",
        "_mc",
        F.explode(F.array(F.lit(64), F.lit(1024))).alias("cap"),
    ).withColumn(
        "sub_id", F.pmod(F.col("vec_id"), F.expr("(_mc + cap - 1) div cap"))
    )
    subcnt = caps.groupBy("cap", "cid", "_mc", "sub_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    clus = subcnt.groupBy("cap", "cid", "_mc").agg(
        F.expr("sum(c * (c - 1) div 2)").alias("within")
    )
    return clus.groupBy("cap").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("_mc").alias("n_vectors"),
        F.sum(F.when(F.col("_mc") > F.col("cap"), 1).otherwise(0)).alias(
            "capped_clusters"
        ),
        F.max("_mc").alias("max_cluster_size"),
        F.expr("sum(_mc * (_mc - 1) div 2)").alias("total_pairs"),
        F.sum("within").alias("compared_pairs"),
        (
            F.expr("sum(_mc * (_mc - 1) div 2)") - F.sum("within")
        ).alias("uncompared_pairs"),
    )


@register(
    "dedup_semantic_incremental",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 10000) AS BIGINT)) AS q,
         CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'
              THEN 'new' ELSE 'corpus' END AS split
  FROM embeddings
),
kk AS (SELECT greatest(8, count(*) // 64) AS k FROM e WHERE split = 'corpus'),
ex AS (SELECT vec_id, unnest(q) AS val, unnest(range(len(q))) AS pos FROM e),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, val FROM ex
       WHERE vec_id < (SELECT k FROM kk)),
d1 AS (
  SELECT ex.vec_id, c.cid, SUM((ex.val - c.val) * (ex.val - c.val)) AS dist
  FROM ex JOIN c0 c USING (pos)
  GROUP BY ex.vec_id, c.cid
),
a1 AS (SELECT vec_id, cid FROM d1
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
mc AS (SELECT cid, count(*) AS mc FROM a1 GROUP BY cid),
m AS (
  SELECT a1.vec_id, a1.cid, e.v, e.split,
         a1.vec_id % ((mc.mc + 1023) // 1024) AS sub
  FROM a1 JOIN e USING (vec_id) JOIN mc USING (cid)
),
dup_c AS (
  SELECT DISTINCT a.vec_id
  FROM m a JOIN m b
    ON a.cid = b.cid AND a.sub = b.sub
   AND a.split = 'new' AND b.split = 'corpus'
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
),
dup_w AS (
  SELECT DISTINCT a.vec_id
  FROM m a JOIN m b
    ON a.cid = b.cid AND a.sub = b.sub
   AND a.split = 'new' AND b.split = 'new' AND b.vec_id < a.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT m.cid AS cluster_id,
       count(*) AS n_new,
       CAST(sum(CASE WHEN dc.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_corpus,
       CAST(sum(CASE WHEN dc.vec_id IS NULL AND dw.vec_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
       CAST(sum(CASE WHEN dc.vec_id IS NULL AND dw.vec_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
FROM m
LEFT JOIN dup_c dc ON m.vec_id = dc.vec_id
LEFT JOIN dup_w dw ON m.vec_id = dw.vec_id
WHERE m.split = 'new'
GROUP BY m.cid
""".strip(),
    tags=("dedup", "embedding", "incremental"),
    bench=True,
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) SemDeDup — the production daily
    shape of `dedup_semantic`, completing the incremental family
    (`dedup_incremental` exact tier, `dedup_minhash_incremental` LSH
    tier, this one semantic tier).  The new/corpus split reuses the
    md5-hexdigit convention of those keys so the family composes.

    New-batch vectors are admitted unless they have (a) a qualifying
    (cosine ≥ 0.4) corpus neighbor in their cluster → `n_dup_corpus`
    (upstream re-crawl), or (b) a LOWER-id qualifying neighbor within
    the batch → `n_dup_within` (ingest overlap; corpus-dup wins when
    both apply).  Reported per cluster: (cluster_id, n_new,
    n_dup_corpus, n_dup_within, n_admitted).

    Scale: k derives from the CORPUS size (the centroid set is a
    maintained artifact in production — the batch assigns against it,
    nothing re-clusters), so the daily cost is |new|·k assignment flops
    plus within-cluster comparisons of new rows against co-clustered
    corpus/new rows — |new|·occupancy pairs, NOT |corpus|²; the corpus
    is touched only through its cluster members that share a cell with
    a new vector (at scale: the corpus frame is written partitioned by
    cluster, so the probe reads matching cells only, the same
    bucket-probe posture as dedup_minhash_incremental).  The
    `cluster_cap` sub-split guard applies unchanged."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.when(id_hexdigit("vec_id") < "4", "new").otherwise("corpus").alias("split"),
    )
    base, assigned, counts = _semantic_assignment(
        e, k_rows=F.col("split") == "corpus"
    )
    m = _sub_split(base, assigned, counts, 1024)
    newm = m.where(F.col("split") == "new")
    corm = m.where(F.col("split") == "corpus")
    a = newm.select(
        F.col("vec_id").alias("id_a"), "cid", "_sub", F.col("vd").alias("va")
    )
    qual = F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.4
    dup_c = (
        a.join(
            corm.select("cid", "_sub", F.col("vd").alias("vb")), ["cid", "_sub"]
        )
        .where(qual)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("_dc", F.lit(1))
    )
    dup_w = (
        a.join(
            newm.select(
                F.col("vec_id").alias("id_b"), "cid", "_sub",
                F.col("vd").alias("vb"),
            ),
            ["cid", "_sub"],
        )
        .where(F.col("id_b") < F.col("id_a"))
        .where(qual)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("_dw", F.lit(1))
    )
    flagged = newm.join(dup_c, "vec_id", "left").join(dup_w, "vec_id", "left")
    is_dc = F.col("_dc").isNotNull()
    is_dw = F.col("_dc").isNull() & F.col("_dw").isNotNull()
    return flagged.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.when(is_dc, 1).otherwise(0)).alias("n_dup_corpus"),
        F.sum(F.when(is_dw, 1).otherwise(0)).alias("n_dup_within"),
        F.sum(F.when(~is_dc & ~is_dw, 1).otherwise(0)).alias("n_admitted"),
    )


@register(
    "dedup_clusters",
    oracle="""
WITH RECURSIVE
d AS (
  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
p AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(a.toks || b.toks)) >= 0.8
),
edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
)
SELECT u AS node, least(u, min(v)) AS component
FROM reach
GROUP BY u
""".strip(),
    tags=("dedup", "iterative"),
    bench=True,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: transitive closure of the blocked-Jaccard
    near-dup pairs (the uncapped :func:`banded_jaccard_pairs`) via
    iterative min-label propagation
    (operators/components.py) — the pipeline deliverable is one
    canonical doc per cluster, not pairs.  The oracle computes the same
    components with a recursive CTE; rounds = cluster diameter (shallow
    for near-dup graphs)."""
    from mapreduce_framework_spark.operators.components import connected_components

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    return connected_components(
        banded_jaccard_pairs(d, threshold=0.8, block_cap=None), "doc_a", "doc_b"
    )


@register(
    "dedup_edit_distance",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, source, substring(text, 1, 96) AS head
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.head, b.head) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 24
""".strip(),
    tags=("dedup", "editdistance"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dups: pairs whose 96-char prefixes are within
    levenshtein 24, blocked by (lang, source).  Complements the
    set-semantic tiers (Jaccard/MinHash ignore word ORDER; edit
    distance catches small in-place edits).  levenshtein is O(m·n) per
    pair — the fixed-length prefix bounds each comparison and the block
    join bounds the pair count, which is what keeps the quadratic
    kernel affordable at corpus scale (same blocked-verify shape as
    the exact tier of dedup_minhash).

    Two LOSSLESS kernel prunes: (a) the length band
    |len_a−len_b| ≤ 24 prunes before any DP (≥ k length delta forces
    ≥ k edits); (b) the THRESHOLDED levenshtein builtin runs the banded
    O(threshold·n) DP with early exit instead of the full O(m·n) table
    (−1 = over threshold, filtered out).  Identical output, measured
    2.3× at sf0.1 (10.5 → 4.65 s).

    100 TB ladder position, stated honestly: per-block pair work is
    quadratic in block size, and (lang, source) blocks grow with the
    corpus — so in production this tier runs LAST in the dedup ladder,
    over candidate clusters the cheaper tiers emit (MinHash buckets /
    `dedup_clusters` components are both bounded-size by their own
    guards), not over raw demographic blocks.  The (lang, source)
    blocking here is the verification-friendly stand-in that keeps the
    oracle a plain SQL join."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.substring("text", 1, 96).alias("head")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", F.col("head").alias("head_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", F.col("head").alias("head_b")
    )
    return (
        a.join(b, ["lang", "source"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(F.abs(F.length("head_a") - F.length("head_b")) <= 24)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("head_a", "head_b", 24).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )


@register(
    "dedup_incremental",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
              THEN 'new' ELSE 'corpus' END AS split,
         md5(lower(trim(text))) AS fp
  FROM documents
),
corpus AS (SELECT DISTINCT fp FROM d WHERE split = 'corpus'),
nw AS (SELECT doc_id, source, fp FROM d WHERE split = 'new'),
fresh AS (
  SELECT nw.* FROM nw LEFT JOIN corpus c USING (fp) WHERE c.fp IS NULL
),
keeper AS (SELECT fp, min(doc_id) AS keep_id FROM fresh GROUP BY fp)
SELECT nw.source,
       count(*) AS n_new,
       CAST(sum(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_corpus,
       CAST(sum(CASE WHEN c.fp IS NULL AND nw.doc_id = k.keep_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN c.fp IS NULL AND nw.doc_id <> k.keep_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within
FROM nw
LEFT JOIN corpus c USING (fp)
LEFT JOIN keeper k USING (fp)
GROUP BY nw.source
""".strip(),
    tags=("dedup", "pipeline", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup — the production shape
    of tier 1: a new ingest batch is deduped (a) against the existing
    corpus's fingerprint set and (b) within itself (first-wins by
    lowest doc_id), reporting per-source admit/drop counts.  The
    new/corpus split reuses the md5-hexdigit convention of
    split_train_eval so the whole pipeline family composes.

    Scale: the corpus side collapses to DISTINCT 32-hex fingerprints
    before the join (map-side partial), so the daily job shuffles
    32 bytes per corpus doc once — and in production that distinct
    fingerprint set is a bucketed table maintained incrementally, so
    admitting a batch touches only matching buckets and NEVER rescans
    corpus text.  Within-batch dedup is a groupBy on the (small) batch.
    Both drop reasons stay separate because they answer different
    operational questions (ingest overlap vs upstream re-crawl)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(id_hexdigit("doc_id") < "4", "new").otherwise("corpus").alias("split"),
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fp"),
    )
    corpus = (
        d.where(F.col("split") == "corpus")
        .select(F.col("fp").alias("cfp"))
        .distinct()
    )
    new = d.where(F.col("split") == "new").drop("split")
    flagged = new.join(corpus, new["fp"] == F.col("cfp"), "left")
    keeper = (
        flagged.where(F.col("cfp").isNull())
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .withColumnRenamed("fp", "kfp")
    )
    full = flagged.join(keeper, flagged["fp"] == F.col("kfp"), "left")
    is_corpus_dup = F.col("cfp").isNotNull()
    return full.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.when(is_corpus_dup, 1).otherwise(0)).alias("n_dup_corpus"),
        F.sum(
            F.when(~is_corpus_dup & (F.col("doc_id") == F.col("keep_id")), 1).otherwise(0)
        ).alias("n_kept"),
        F.sum(
            F.when(~is_corpus_dup & (F.col("doc_id") != F.col("keep_id")), 1).otherwise(0)
        ).alias("n_dup_within"),
    )


@register(
    "dedup_doc_prefix",
    oracle="""
WITH p AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')) AS prefix_hash
  FROM documents
)
SELECT prefix_hash, count(*) AS n_docs,
       min(doc_id) AS keep_doc, max(doc_id) AS last_doc
FROM p GROUP BY prefix_hash HAVING count(*) > 1
""".strip(),
    tags=("dedup", "boilerplate"),
)
def dedup_doc_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix detection: cluster documents by the hash of
    their leading tokens (2 here; 50–200 in production) and report
    clusters with more than one member.  Shared prefixes are how
    scraped boilerplate (cookie banners, nav headers, license
    preambles) manifests — prefix clustering is the cheap tier-0 that
    runs before any pairwise near-dup math, and `keep_doc` (min id)
    is the deterministic survivor choice.

    Plan shape: fixed-width digest of a 2-token slice, scan-side; one
    exchange of (16-byte hash, id) pairs — the same skinny-shuffle
    footprint as dedup_exact regardless of document length, because
    the slice bounds the bytes hashed per row."""
    p = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 2)).cast("binary")
        ).alias("prefix_hash"),
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


@register(
    "dedup_minhash_incremental",
    # Oracle: DuckDB derives every new doc's admission status from the
    # EXACT shingle-Jaccard truth (new×corpus and new×new pairs at
    # 0.7, quadratic pruned by the lossless shingle-count band), so
    # hash equality proves the incremental LSH probe found every true
    # match — same recall argument (and same pinned-testdata caveat:
    # ~1.2% per-band-scheme miss chance for a pair at exactly j=0.7)
    # as dedup_minhash, extended to the cross-batch probe.
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_new
  FROM documents
),
s AS (
  SELECT doc_id, is_new,
         list_distinct(list_transform(generate_series(1, len(toks) - 2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM d
  WHERE len(toks) >= 3
),
corpus_hit AS (
  SELECT DISTINCT a.doc_id
  FROM s a JOIN s b
    ON a.is_new AND NOT b.is_new
   AND len(a.sh) >= CAST(ceil(0.7 * len(b.sh)) AS BIGINT)
   AND len(a.sh) <= CAST(floor(len(b.sh) / 0.7) AS BIGINT)
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.7
),
batch_hit AS (
  SELECT DISTINCT a.doc_id
  FROM s a JOIN s b
    ON a.is_new AND b.is_new AND b.doc_id < a.doc_id
   AND len(a.sh) >= CAST(ceil(0.7 * len(b.sh)) AS BIGINT)
   AND len(a.sh) <= CAST(floor(len(b.sh) / 0.7) AS BIGINT)
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.7
)
SELECT d.doc_id,
       CASE WHEN c.doc_id IS NOT NULL THEN 'dup_of_corpus'
            WHEN h.doc_id IS NOT NULL THEN 'dup_within_batch'
            ELSE 'admitted' END AS status
FROM d
LEFT JOIN corpus_hit c USING (doc_id)
LEFT JOIN batch_hit h USING (doc_id)
WHERE d.is_new
""".strip(),
    tags=("dedup", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission: a new batch (deterministic ~1/8
    split of `documents`) probes the existing corpus's MinHash banding
    index — the production shape for continuous corpus ingestion at
    100 TB.

    The corpus is NEVER re-paired against itself: its band rows
    (`operators/minhash.py:band_buckets`) are the persistable index, and
    the probe is one equi-join on (band_id, band_hash) costing
    O(new·bands), independent of corpus-side history size.  Within-batch
    dups are found by regular LSH over the (small) batch only.  Every
    candidate is verified by exact shingle-Jaccard ≥ 0.7 before it can
    affect a verdict, so statuses are sketch-noise-free:
    `dup_of_corpus` (≥1 corpus near-match) beats `dup_within_batch`
    (a smaller-id near-dup in the same batch) beats `admitted`.
    The exact-fingerprint tier of the same shape is dedup_incremental."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams
    from mapreduce_framework_spark.operators.minhash import probe_candidates

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        (id_hexdigit("doc_id") < "2").alias("is_new"),
    )
    sh = d.where(F.size("toks") >= 3).select(
        "doc_id", "is_new", word_ngrams(F.col("toks"), 3).alias("sh")
    )
    new = sh.where(F.col("is_new"))
    corpus = sh.where(~F.col("is_new"))
    sh_by_id = sh.select("doc_id", "sh")

    corpus_hits = verified_pairs(
        probe_candidates(new, corpus, "doc_id", "sh").toDF("id_a", "id_b"),
        sh_by_id, "doc_id", "sh", 0.7,
    ).select(F.col("id_a").alias("doc_id")).distinct()

    batch_pairs = candidate_pairs(new, "doc_id", "sh")  # id_a < id_b
    batch_hits = verified_pairs(batch_pairs, sh_by_id, "doc_id", "sh", 0.7).select(
        F.col("id_b").alias("doc_id")
    ).distinct()

    new_all = d.where(F.col("is_new")).select("doc_id")
    return (
        new_all.join(corpus_hits.withColumn("_c", F.lit(1)), "doc_id", "left")
        .join(batch_hits.withColumn("_b", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_c") == 1, F.lit("dup_of_corpus"))
            .when(F.col("_b") == 1, F.lit("dup_within_batch"))
            .otherwise(F.lit("admitted"))
            .alias("status"),
        )
    )


@register(
    "dedup_canonical_keep",
    oracle="""
WITH RECURSIVE
d AS (
  SELECT doc_id, n_chars, list_distinct(string_split(text, ' ')) AS toks,
         lang, source
  FROM documents
),
p AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(a.toks || b.toks)) >= 0.8
),
edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
comp AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u),
member AS (
  SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS component
  FROM d LEFT JOIN comp c ON d.doc_id = c.node
),
canon AS (
  SELECT component, doc_id AS canonical_id
  FROM (SELECT component, doc_id,
               row_number() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM member)
  WHERE rn = 1
)
SELECT m.doc_id, c.canonical_id, m.doc_id = c.canonical_id AS is_kept
FROM member m JOIN canon c ON m.component = c.component
""".strip(),
    tags=("dedup", "iterative", "pipeline"),
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the curation step AFTER cluster
    detection: every doc maps to exactly one survivor (the longest doc
    in its near-dup cluster, ties to the lowest doc_id; singletons are
    their own canonical).  Pair detection and components are the same
    blocked-Jaccard + min-label-propagation plan as dedup_clusters;
    the selection itself is one struct-MIN argmax per component (no
    window, no sort — same trick as agg_mode) plus a map-side
    broadcastable join back to members.

    Scale: components' iterative hygiene is inherited; the argmax adds
    ONE skinny (component, best-struct) aggregate over cluster members
    — at 100 TB the cluster table is orders of magnitude smaller than
    the corpus, and the final member→canonical join co-locates on the
    component key the components step already partitioned by."""
    from mapreduce_framework_spark.operators.components import connected_components

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        "lang",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    comp = connected_components(
        banded_jaccard_pairs(
            d.select("doc_id", "lang", "source", "toks"), threshold=0.8, block_cap=None
        ),
        "doc_a",
        "doc_b",
    )
    member = (
        d.select("doc_id", "n_chars")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    canon = member.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("neg_len"), F.col("doc_id").alias("d")
            )
        ).alias("best")
    ).select("component", F.col("best.d").alias("canonical_id"))
    return member.join(canon, "component").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_kept"),
    )


@register(
    "dedup_chunk_exact",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
chunks AS (
  SELECT doc_id,
         array_to_string(tk[(i.i*16+1):(i.i*16+16)], ' ') AS chunk
  FROM toks,
       LATERAL (SELECT unnest(range(CAST(ceil(len(tk)/16.0) AS BIGINT))) AS i) i
),
owned AS (
  SELECT doc_id, chunk, min(doc_id) OVER (PARTITION BY chunk) AS owner
  FROM chunks
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) / count(*), 6)
         AS kept_ratio
FROM owned
GROUP BY doc_id
""".strip(),
    tags=("dedup", "pipeline"),
    bench=True,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (line-level) exact dedup, the C4/RefinedWeb shape:
    every document is split into spans, each span is kept only by its
    canonical owner (the lowest doc_id that contains it), and the
    per-doc output reports how much of the doc survives span dedup.
    The synthetic corpus is single-line, so deterministic 16-token
    chunks stand in for newline splits — the PLAN (explode → min-owner
    groupBy on the span key → join-back → per-doc re-aggregate) is
    exactly the line-dedup plan and is what this key pins.

    Scale: one corpus-sized exchange on the span DIGEST (md5(span),
    16 bytes per key at any span length — the same re-key trick as
    contamination_ngram), reused between the min-owner aggregate and
    its join-back (map-side partial agg collapses hot boilerplate
    spans before the exchange; the join-back is AQE-skew-splittable —
    see chunk_dedup_frame), plus one on doc_id (the re-aggregate);
    the explode fan-out is ~n_tokens/16 rows per doc,
    linear in corpus size.  No pairwise comparison
    anywhere — exact span equality only, which is why line dedup is
    the cheapest sub-document tier and runs FIRST in a curation
    cascade (cf. banded jaccard for the doc-level near-dup tier)."""
    return chunk_dedup_frame(table(spark, sf_dir, "documents"))


_GATE_LIVE: dict[str, DataFrame] = {}


def _gate_dup_broadcast(
    name: str, build: DataFrame, d: DataFrame, tokens_per_row: int
) -> DataFrame:
    """Auto-gate the span/chunk dedup join-back build side: the
    duplicated-digest set is broadcast ONLY while it provably fits a
    budget, so a corpus outside the curated-ladder posture degrades to
    the AQE-skew-splittable shuffle join instead of OOMing the driver.

    Budget: 32 × ``spark.sql.autoBroadcastJoinThreshold`` (non-positive
    threshold = broadcast disabled → shuffle join).  The threshold
    itself (Spark's default is 10 MB) is Catalyst's bound for ESTIMATED sizes,
    which can be off by orders of magnitude; this gate compares an
    EXACT row count of a known row shape (16-byte digest rendered as a
    32-char string + one bigint ≈ 72 bytes with row overhead), so a 32×
    budget (320 MB at defaults) is still far under driver/executor
    headroom while keeping realistic curated-corpus dup sets (millions
    of digests) on the measured-10×-faster broadcast path.

    Two tiers, so the common case costs almost nothing:

    1. **Cheap upper bound** on the rows of ``build``, from the
       (doc_id, text) frame ``d`` WITHOUT tokenizing: tokens are
       single-space-separated non-empty strings, so a doc of B bytes
       has ≤ (B+1)/2 tokens and emits ≤ B/(2·``tokens_per_row``) + 1
       rows (a 16-token chunk per row, or a gram per token offset).
       octet_length is O(1) per row, so this is one skinny column
       read — no explode, no shuffle.  When the BOUND fits the budget
       the broadcast is safe unconditionally and the plan is a pure
       broadcast (no persist, no extra pass — the tier every test SF and
       any bounded batch lands in).
    2. **Exact pre-flight** — only when the bound overflows: the
       dup-digest aggregate (which the join-back needs anyway) is
       persisted, counted, and the join builds ON the persisted frame,
       so the aggregate still executes exactly once per invocation.
       The previous invocation's cache is unpersisted at entry (one
       live instance per gate site), which keeps repeated timing runs
       honest: every rep pays the full build, never a cache hit from
       the last rep.
    """
    # Drop the previous invocation's pre-flight cache FIRST, whichever
    # tier this call lands in: Spark's cache manager substitutes any
    # logically-equal subplan with the live InMemoryRelation, so a
    # stale cache from an earlier tier-2 call would silently hijack
    # even a tier-1 plan (and turn repeated timing runs into cache
    # hits).  One live instance per gate site, ever.
    prev = _GATE_LIVE.pop(name, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    conf = build.sparkSession._jsparkSession.sessionState().conf()
    thr = conf.autoBroadcastJoinThreshold()
    if thr <= 0:
        return build
    budget_rows = thr * 32 // 72
    row = d.select(
        F.sum(F.octet_length("text")).alias("b"), F.count(F.lit(1)).alias("n")
    ).first()
    if (row["b"] or 0) // (2 * tokens_per_row) + (row["n"] or 0) <= budget_rows:
        return F.broadcast(build)
    from pyspark import StorageLevel

    cached = build.persist(StorageLevel.MEMORY_AND_DISK)
    n_dup = cached.count()
    _GATE_LIVE[name] = cached
    if n_dup <= budget_rows:
        return F.broadcast(cached)
    return cached


# Token width of every span/chunk dedup window.
_SPAN_TOKENS = 16


def chunk_dedup_frame(d: DataFrame) -> DataFrame:
    """Span-dedup core over a (doc_id, text) frame — the reusable heart
    of dedup_chunk_exact, shared with tools/scale_probe.py so the probe
    times the real operator."""
    k = _SPAN_TOKENS
    tk = F.split("text", " ")
    n_chunks = F.ceil(F.size(tk) / F.lit(float(k))).cast("int")
    chunks = d.select(
        "doc_id",
        # The span key that shuffles is a 128-bit digest, not the span
        # text: min-owner grouping only needs EQUALITY of spans, and
        # md5 is injective in practice, so results are identical while
        # every shuffled key is 16 bytes regardless of span length —
        # the same re-key trick as contamination_ngram.
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - F.lit(1)),
                lambda i: F.md5(F.array_join(F.slice(tk, i * k + 1, k), " ")),
            )
        ).alias("chunk"),
    )
    # Min-owner via groupBy + join-back, NOT min().over(Window.partitionBy
    # (chunk)): a window partitioned by content digest puts EVERY
    # occurrence of one chunk on ONE task, and the exact-chunk pass exists
    # precisely because some spans repeat millions of times (boilerplate
    # headers) — a single-task sort AQE cannot split.  groupBy partial-
    # aggregates map-side (partial_min + partial_count, plan-pinned),
    # collapsing the hot digest to one row per input partition BEFORE the
    # exchange.  The owner frame is then filtered to DUPLICATED chunks
    # only (count >= 2): a sole-occurrence chunk is trivially owned by
    # its one doc, so the left join's null branch covers it and the
    # join's build side shrinks to the (rare-by-construction)
    # duplicated-chunk set — BROADCAST while it provably fits: left to
    # the optimizer this join planned as a SortMergeJoin that
    # re-exchanges and sorts the corpus-sized chunk frame on the
    # skewed digest (measured 10× slower than the broadcast on a
    # hot-gram corpus — see span_dup_positions; SCALE.md carries the
    # table), but a corpus whose duplicated-chunk set is itself
    # corpus-scale would OOM a forced broadcast, so the choice is
    # auto-gated by _gate_dup_broadcast: cheap chunk-count upper bound,
    # then exact pre-flight, then the AQE-skew-splittable shuffle join.
    # Identical answer every way.
    owners = _gate_dup_broadcast(
        "chunk_dedup_owners",
        chunks.groupBy("chunk")
        .agg(F.min("doc_id").alias("owner"), F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("chunk", "owner"),
        d,
        _SPAN_TOKENS,
    )
    owned = chunks.join(owners, "chunk", "left").select("doc_id", "owner")
    kept = F.sum(
        F.when(
            F.col("owner").isNull() | (F.col("owner") == F.col("doc_id")), 1
        ).otherwise(0)
    )
    return owned.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        kept.cast("bigint").alias("n_kept"),
        F.round(kept / F.count(F.lit(1)), 6).alias("kept_ratio"),
    )


@register(
    "dedup_span_exact",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
grams AS (
  SELECT doc_id, i.i AS pos,
         md5(array_to_string(tk[(i.i+1):(i.i+16)], ' ')) AS g
  FROM toks, LATERAL (SELECT unnest(range(len(tk) - 15)) AS i) i
  WHERE len(tk) >= 16
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
dup_pos AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS p FROM ranked WHERE rn > 1)
),
per_doc AS (SELECT doc_id, count(*) AS n_dup FROM dup_pos GROUP BY doc_id)
SELECT d.doc_id,
       len(string_split(d.text, ' ')) AS n_tokens,
       coalesce(p.n_dup, 0) AS n_dup_tokens,
       round(coalesce(p.n_dup, 0) / len(string_split(d.text, ' ')), 6) AS dup_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""".strip(),
    tags=("dedup", "pipeline"),
    bench=True,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-span dedup at ARBITRARY token offsets — the
    Lee et al. ACL'22 ("Deduplicating Training Data Makes Language
    Models Better") exact-substring pass as a removal report, closing
    the offset-alignment miss of dedup_chunk_exact: a span duplicated
    at offset 3 in one doc and offset 9 in another straddles 16-token
    ALIGNED chunk boundaries in both and chunk dedup never sees it
    (tests/test_operators.py pins the miss with exactly that
    fixture).

    Semantics: every 16-token window at EVERY offset (the suffix-array
    k-gram equivalent; 16 tokens ≈ the paper's 50-char threshold on
    this corpus) is keyed by content digest; the canonical occurrence
    of each gram is the (doc_id, pos)-least one (min-owner
    survivorship, Lee et al. keep-first), every later occurrence —
    cross-doc or within-doc repeat alike — marks its 16 covered token
    positions as duplicated; per-doc output is the removal report
    (n_tokens, n_dup_tokens = distinct covered positions, dup_ratio).
    A duplicated span of length s ≥ 16 yields s-15 hot grams whose
    coverage union is exactly its s tokens — the report counts the
    whole span, not an aligned approximation of it.

    Scale: the fan-out is n grams per n-token doc (16× chunk dedup's
    n/16, the price of offset-exactness — run AFTER chunk/exact tiers
    prune), but every shuffled key is a 16-byte md5 digest regardless
    of span text, the keep-first pass is a map-side-combining
    HashAggregate on the digest (the partial agg collapses boilerplate
    grams that repeat 10⁶+ times BEFORE the exchange) plus a join-back
    whose build side is only the duplicated-gram set — AQE flips it to
    broadcast, or skew-splits it when it stays a shuffle join (see
    span_dup_positions), and
    the position explode only touches DUPLICATED occurrences (rare by
    construction in curated corpora).  countDistinct(doc_id, p)
    collapses overlapping covers before the per-doc re-aggregate."""
    return span_dedup_frame(table(spark, sf_dir, "documents"))


def span_grams(d: DataFrame) -> DataFrame:
    """(doc_id, pos, g): the content digest of every ``_SPAN_TOKENS``
    window at every token offset of a (doc_id, text) frame.  Docs
    shorter than the window
    emit nothing (F.sequence with start > stop would run DESCENDING,
    silently minting phantom grams — hence the filter).  Shared by the
    full-corpus span pass and the incremental batch-vs-corpus probe."""
    k = _SPAN_TOKENS
    tk = F.split("text", " ")
    toks = d.select("doc_id", tk.alias("tk"), F.size(tk).alias("n"))
    return (
        toks.where(F.col("n") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - k),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.array_join(F.slice("tk", i + 1, k), " ")).alias("g"),
                    ),
                )
            ).alias("oc"),
        )
        .select("doc_id", F.col("oc.pos").alias("pos"), F.col("oc.g").alias("g"))
    )


def span_dup_positions(d: DataFrame) -> DataFrame:
    """DISTINCT duplicated token positions (doc_id, p) under the
    offset-exact keep-first gram semantics — the shared core of the
    span-dedup report (dedup_span_exact) and the removal twin
    (dedup_span_removal).

    Keep-first is computed as groupBy(g).agg(min(struct(doc_id, pos)))
    + join-back, NOT row_number().over(Window.partitionBy(g)): the
    window form funnels every occurrence of one gram onto one task,
    and on real web corpora boilerplate 16-grams repeat 10⁶+ times —
    a single-task sort AQE's skew split cannot touch (it only applies
    to joins and aggregates).  min() partial-aggregates map-side
    (partial_min + partial_count, plan-pinned) — the hot digest
    collapses to one row per input partition before any exchange.

    The min operand is (doc_id, pos) PACKED into one bigint
    (doc_id << 25 | pos), NOT min(struct(doc_id, pos)) and NOT a
    padded-string concat: HashAggregate requires MUTABLE fixed-width
    aggregate buffers, so both the struct and the string form silently
    plan a SortAggregate whose map side SORTS the entire corpus-sized
    gram frame (measured 3.7× slower than the window it was meant to
    replace on a 50M-gram adversarial corpus); min(bigint) stays in
    whole-stage-codegen HashAggregate.  Numeric order on the packed
    value equals (doc_id, pos) order while doc_id ∈ [0, 2³⁸) and
    pos ∈ [0, 2²⁵) — i.e. up to ~275 G docs of up to ~33 M tokens
    (~200 MB of text) each, comfortably past the 100-TB design point —
    and the plan RAISES (raise_error branch in the packing expression)
    rather than silently mis-ranking if either bound is ever exceeded.
    It therefore selects exactly the row row_number(orderBy doc_id,
    pos) == 1 selected; (doc_id, pos) is unique in span_grams, so
    "not the min" ≡ "rn > 1".

    The keep-first frame is filtered to DUPLICATED grams (count >= 2)
    before the join-back: sole-occurrence grams can never mark a dup
    row (their only occurrence IS the min), so the inner join is
    unchanged while the build side shrinks to the duplicated-gram set.
    That build side is broadcast WHILE IT PROVABLY FITS, not left to
    the optimizer: left alone, Catalyst/AQE planned the join-back as a
    SortMergeJoin whose probe side re-exchanges AND SORTS the entire
    corpus-sized gram frame on the skewed digest — measured 573 s on a
    50M-gram one-hot-family corpus where the forced broadcast runs
    56 s (and the window this design replaced, 138 s; SCALE.md carries
    the table).  The broadcast bound is the DISTINCT duplicated-gram
    count, rare by construction in a curation ladder (span dedup runs
    AFTER the exact/chunk tiers have removed whole-doc and aligned
    duplication) — but a corpus outside that posture would OOM a
    broadcast FORCED unconditionally, so :func:`_gate_dup_broadcast`
    makes the choice: cheap gram-count upper bound, exact pre-flight
    count only when the bound overflows, AQE-skew-splittable shuffle
    join when the dup set is genuinely corpus-scale."""
    grams = span_grams(d)
    pos_bits = 25
    ord_ = F.when(
        F.col("doc_id").between(0, (1 << (63 - pos_bits)) - 1)
        & (F.col("pos") < (1 << pos_bits)),
        F.shiftleft(F.col("doc_id"), pos_bits) + F.col("pos").cast("bigint"),
    ).otherwise(
        F.raise_error(
            F.lit("span_dup_positions: doc_id/pos exceed packed keep-first bounds")
        ).cast("bigint")
    )
    first = _gate_dup_broadcast(
        "span_dup_firsts",
        grams.groupBy("g")
        .agg(F.min(ord_).alias("first_ord"), F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("g", "first_ord"),
        d,
        1,  # grams/doc = max(0, n_tok - k + 1) ≤ n_tok
    )
    dup = grams.join(first, "g").where(ord_ != F.col("first_ord"))
    span_end = F.col("pos") + (_SPAN_TOKENS - 1)
    covered = dup.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), span_end)).alias("p")
    )
    return covered.distinct()


def span_dedup_frame(d: DataFrame) -> DataFrame:
    """Offset-exact span-dedup core over a (doc_id, text) frame — the
    reusable heart of dedup_span_exact, shared with
    tools/scale_probe.py so the probe times the real operator."""
    per_doc = span_dup_positions(d).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    return (
        d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_dup.cast("bigint").alias("n_dup_tokens"),
            F.round(n_dup / F.col("n_tokens"), 6).alias("dup_ratio"),
        )
    )


@register(
    "dedup_span_removal",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
grams AS (
  SELECT doc_id, i.i AS pos,
         md5(array_to_string(tk[(i.i+1):(i.i+16)], ' ')) AS g
  FROM toks, LATERAL (SELECT unnest(range(len(tk) - 15)) AS i) i
  WHERE len(tk) >= 16
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
dup_pos AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS p FROM ranked WHERE rn > 1)
),
positions AS (
  SELECT doc_id, i.i AS p, tk[i.i + 1] AS tok
  FROM toks, LATERAL (SELECT unnest(range(len(tk))) AS i) i
),
kept AS (
  SELECT po.doc_id, po.p, po.tok
  FROM positions po LEFT JOIN dup_pos dp
    ON po.doc_id = dp.doc_id AND po.p = dp.p
  WHERE dp.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_tokens_kept,
         string_agg(tok, ' ' ORDER BY p) AS cleaned_text
  FROM kept
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       coalesce(r.cleaned_text, '') AS cleaned_text
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
""".strip(),
    tags=("dedup", "pipeline"),
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of the Lee et al. exact-substring pass: the
    corpus with every duplicated position's token excised, rebuilt in
    original token order — what actually ships to training after
    dedup_span_exact's accounting approves the cut.  The cleaned text
    itself is hash-checked (order-exact reconstruction), so the gate
    proves position bookkeeping end-to-end, not just counts.

    Scale: dup positions (rare) anti-join the posexploded corpus — a
    broadcast-able right side whenever duplication is sparse — and the
    per-doc rebuild is one aggregate of (pos, token) structs sorted
    in-array (no per-doc window sort).  Docs that lose every token
    (fully-duplicated docs shorter than one gram of unique material)
    still emit a row with empty cleaned_text via the left join back to
    the doc spine."""
    d = table(spark, sf_dir, "documents")
    dup = span_dup_positions(d)
    positions = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p", "tok"),
    )
    kept = positions.join(dup, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), F.col("tok")))
                ),
                lambda s: s.tok,
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        d.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens_kept", F.lit(0)).cast("bigint").alias(
                "n_tokens_kept"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


@register(
    "dedup_span_incremental",
    oracle="""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
              THEN 'new' ELSE 'corpus' END AS split
  FROM documents
),
toks AS (SELECT doc_id, split, string_split(text, ' ') AS tk FROM d),
grams AS MATERIALIZED (
  SELECT doc_id, split, i.i AS pos,
         md5(array_to_string(tk[(i.i+1):(i.i+16)], ' ')) AS g
  FROM toks, LATERAL (SELECT unnest(range(len(tk) - 15)) AS i) i
  WHERE len(tk) >= 16
),
corpus_g AS (SELECT DISTINCT g FROM grams WHERE split = 'corpus'),
newg AS (SELECT doc_id, pos, g FROM grams WHERE split = 'new'),
corpus_pos AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT n.doc_id, unnest(range(n.pos, n.pos + 16)) AS p
        FROM newg n JOIN corpus_g c USING (g))
),
batch_ranked AS (
  SELECT n.doc_id, n.pos,
         row_number() OVER (PARTITION BY n.g ORDER BY n.doc_id, n.pos) AS rn
  FROM newg n LEFT JOIN corpus_g c USING (g)
  WHERE c.g IS NULL
),
within_pos AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS p
        FROM batch_ranked WHERE rn > 1)
),
within_only AS (
  SELECT w.doc_id, w.p
  FROM within_pos w LEFT JOIN corpus_pos c
    ON w.doc_id = c.doc_id AND w.p = c.p
  WHERE c.doc_id IS NULL
),
agg_c AS (SELECT doc_id, count(*) AS n_c FROM corpus_pos GROUP BY doc_id),
agg_w AS (SELECT doc_id, count(*) AS n_w FROM within_only GROUP BY doc_id)
SELECT nd.doc_id,
       len(string_split(nd.text, ' ')) AS n_tokens,
       CAST(coalesce(ac.n_c, 0) AS BIGINT) AS n_dup_corpus_tokens,
       CAST(coalesce(aw.n_w, 0) AS BIGINT) AS n_dup_within_tokens,
       round((coalesce(ac.n_c, 0) + coalesce(aw.n_w, 0))
             / len(string_split(nd.text, ' ')), 6) AS dup_ratio
FROM (SELECT doc_id, text FROM d WHERE split = 'new') nd
LEFT JOIN agg_c ac USING (doc_id)
LEFT JOIN agg_w aw USING (doc_id)
""".strip(),
    tags=("dedup", "pipeline", "incremental"),
)
def dedup_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact-substring dedup — the
    production shape of the span pass: a new ingest batch's grams probe
    the corpus's DISTINCT gram-digest set (positions covered by a
    corpus hit are corpus-duplicated), and only the corpus-MISS grams
    rank within the batch (keep-first) for within-batch duplication;
    within-batch coverage is reported NET of corpus coverage so the two
    columns partition the duplicated positions.  Same new/corpus
    md5-hexdigit split as dedup_incremental — the whole incremental
    family composes over one convention.

    Scale: the corpus side collapses to distinct 16-byte digests before
    the join (map-side partial) — in production that digest set is the
    PERSISTED gram index maintained incrementally (the
    dedup_minhash_incremental band-index pattern), so a daily batch
    probes index buckets and never rescans corpus text; batch-side work
    is |batch| grams through one join and one batch-local window."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(id_hexdigit("doc_id") < "4", "new").otherwise("corpus").alias("split"),
    )
    from pyspark.sql import Window

    k = _SPAN_TOKENS
    grams_all = span_grams(d.select("doc_id", "text")).join(
        d.select("doc_id", "split"), "doc_id"
    )
    corpus_g = (
        grams_all.where(F.col("split") == "corpus")
        .select(F.col("g").alias("cg"))
        .distinct()
    )
    newg = grams_all.where(F.col("split") == "new").select("doc_id", "pos", "g")
    probed = newg.join(corpus_g, newg["g"] == F.col("cg"), "left")
    cover = lambda frame: frame.select(  # noqa: E731 - local shorthand
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"),
    ).distinct()
    corpus_pos = cover(probed.where(F.col("cg").isNotNull()))
    rn = F.row_number().over(Window.partitionBy("g").orderBy("doc_id", "pos"))
    batch_dup = (
        probed.where(F.col("cg").isNull())
        .select("doc_id", "pos", rn.alias("rn"))
        .where(F.col("rn") > 1)
    )
    within_only = cover(batch_dup).join(corpus_pos, ["doc_id", "p"], "left_anti")
    agg_c = corpus_pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_c"))
    agg_w = within_only.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_w"))
    n_c = F.coalesce("n_c", F.lit(0))
    n_w = F.coalesce("n_w", F.lit(0))
    return (
        d.where(F.col("split") == "new")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(agg_c, "doc_id", "left")
        .join(agg_w, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_c.cast("bigint").alias("n_dup_corpus_tokens"),
            n_w.cast("bigint").alias("n_dup_within_tokens"),
            F.round((n_c + n_w) / F.col("n_tokens"), 6).alias("dup_ratio"),
        )
    )


def containment_pairs(
    d: DataFrame, threshold: float = 0.9, block_cap: int = 1000
) -> DataFrame:
    """(contained_doc, container_doc, containment) pairs at
    |A∩B| / |A| ≥ ``threshold`` with |A| ≤ |B|, from a (doc_id, lang,
    source, toks) frame of DISTINCT token arrays — EXACT at any scale.

    Two tiers, routed per (lang, source) category by the same
    :func:`_split_by_cap` as :func:`banded_jaccard_pairs`:

    - categories with ≤ ``block_cap`` docs run the plain blocked
      all-pairs join (bounded ~block_cap² work per category);
    - oversized categories route WHOLLY to a PREFIX-FILTER tier
      (Bayardo et al. WWW'07 / PPJoin): if |A∩B| ≥ t·|A|, then any
      (|A| − ⌈t·|A|⌉ + 1) tokens of A must include one token of B, so
      the contained side emits only its (1−t)·|A|+1 RAREST tokens
      (ranked by per-category document frequency — rare tokens minimize
      candidates) while the container side is the full inverted index.
      Candidates = one equi-join on (lang, source, token); every
      candidate is exact-verified, so the tier has NO false positives
      and — unlike MinHash banding, whose hit probability follows the
      JACCARD S-curve and hence vanishes for a small doc inside a much
      larger one (j = c·|A|/|A∪B| → 0 while containment c stays 1) —
      NO false negatives either.  Category routing keeps each pair in
      exactly one tier, so the union equals the unguarded all-pairs
      result bit-for-bit and the oracle stays valid even when a
      category overflows.

    Scale: the index side is one corpus token explode (linear, the same
    cost the MinHash signature step already pays); the join key
    distribution is prefix-dominated — a frequent token enters a prefix
    only for docs whose OTHER tokens are all even more frequent — and
    residual hot tokens are AQE-skew-splittable.  Honest limit: on a
    degenerate low-vocabulary corpus every doc contains every shorter
    doc and the OUTPUT is Θ(n²) — no exact algorithm beats the answer's
    own size there (same boundary as banded_jaccard_pairs)."""
    # `d` is consumed ~5× (the category-size aggregate, both sides of
    # the exact tier, the overflow tier's index and verify sides), each
    # re-running the caller's scan + tokenize; the size gate in
    # operators/materialize.py decides whether materializing it pays.
    d = sized_local_checkpoint(d)
    small, big = _split_by_cap(d, ["lang", "source"], block_cap)
    c = containment(F.col("toks_a"), F.col("toks_b"))
    exact_tier = (
        small.select(
            F.col("doc_id").alias("contained_doc"), "lang", "source",
            F.col("toks").alias("toks_a"),
        )
        .join(
            small.select(
                F.col("doc_id").alias("container_doc"),
                F.col("lang").alias("lang_b"), F.col("source").alias("source_b"),
                F.col("toks").alias("toks_b"),
            ),
            (F.col("lang") == F.col("lang_b")) & (F.col("source") == F.col("source_b")),
        )
        .where(F.col("contained_doc") != F.col("container_doc"))
        .where(F.size("toks_a") <= F.size("toks_b"))
        .where(c >= threshold)
        .select("contained_doc", "container_doc", F.round(c, 6).alias("containment"))
    )

    toks = big.select(
        "doc_id", "lang", "source", F.size("toks").alias("sz"),
        F.explode("toks").alias("tok"),
    )
    tok_df = toks.groupBy("lang", "source", "tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    # Rarest-first prefix of length |A| − ⌈t·|A|⌉ + 1; (df, tok) struct
    # sort makes the ranking deterministic under any shuffle order.
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + F.lit(1)
    ).cast("int")
    prefixes = (
        toks.join(tok_df, ["lang", "source", "tok"])
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.first("sz").alias("sz"),
            F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("ranked"),
        )
        .select(
            F.col("doc_id").alias("contained_doc"), "lang", "source", "sz",
            F.explode(F.slice("ranked", F.lit(1), prefix_len)).alias("p"),
        )
        .select(
            "contained_doc", "lang", "source", F.col("sz").alias("sz_a"),
            F.col("p.tok").alias("tok"),
        )
    )
    cands = (
        prefixes.join(
            toks.select(
                F.col("doc_id").alias("container_doc"), "lang", "source",
                F.col("sz").alias("sz_b"), "tok",
            ),
            ["lang", "source", "tok"],
        )
        .where(
            (F.col("contained_doc") != F.col("container_doc"))
            & (F.col("sz_a") <= F.col("sz_b"))
        )
        .select("contained_doc", "container_doc")
        .distinct()
    )
    # Exact per-candidate verify: category, identity, and size
    # constraints were already enforced at candidate generation, so the
    # joins here are pure id-equi lookups of the two token arrays.
    overflow_tier = (
        cands.join(
            big.select(
                F.col("doc_id").alias("contained_doc"),
                F.col("toks").alias("toks_a"),
            ),
            "contained_doc",
        )
        .join(
            big.select(
                F.col("doc_id").alias("container_doc"),
                F.col("toks").alias("toks_b"),
            ),
            "container_doc",
        )
        .where(c >= threshold)
        .select("contained_doc", "container_doc", F.round(c, 6).alias("containment"))
    )
    return exact_tier.unionByName(overflow_tier)


@register(
    "dedup_containment",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
)
SELECT a.doc_id AS contained_doc,
       b.doc_id AS container_doc,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(a.toks), 6) AS containment
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
WHERE len(a.toks) <= len(b.toks)
  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(a.toks) >= 0.9
""".strip(),
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: token-set containment
    |A∩B| / |A| ≥ 0.9 with |A| ≤ |B| — doc A substantially contained
    in a larger doc B.  Jaccard misses exactly this case (a short doc
    quoted inside a long one has low union-normalized similarity but
    containment ≈ 1), which is why curation pipelines (RefinedWeb
    shape) run a containment tier besides the symmetric one.

    Guarded by :func:`containment_pairs`: same enforced
    ``block_cap`` category routing as dedup_ngram_jaccard, with a
    LOSSLESS prefix-filter overflow tier instead of MinHash — the
    result equals the oracle's plain quadratic join at ANY corpus size,
    overflow or not."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    return containment_pairs(d, threshold=0.9, block_cap=1000)


@register(
    "dedup_ladder_funnel",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, source, md5(lower(trim(text))) AS fp,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
k AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY fp),
s AS (SELECT d.doc_id, d.lang, d.source, d.toks
      FROM d JOIN k USING (fp) WHERE d.doc_id = k.keep_id),
p AS (
  SELECT b.doc_id
  FROM s a JOIN s b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(a.toks || b.toks)) >= 0.8
),
nr AS (SELECT DISTINCT doc_id FROM p)
SELECT d.lang, d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_removed,
       CAST(sum(CASE WHEN d.doc_id = k.keep_id AND nr.doc_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_near_removed,
       CAST(sum(CASE WHEN d.doc_id = k.keep_id AND nr.doc_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM d JOIN k USING (fp)
LEFT JOIN nr ON d.doc_id = nr.doc_id
GROUP BY d.lang, d.source
""".strip(),
    tags=("dedup", "pipeline"),
    bench=True,
)
def dedup_ladder_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The module docstring's dedup LADDER as one executable plan: tier
    1 (exact, global md5-fingerprint groupBy, first-wins) prunes the
    input of tier 2 (blocked exact Jaccard ≥ 0.8 over tier-1 survivors,
    via the guarded :func:`banded_jaccard_pairs` — token-count band +
    enforced block cap), and the funnel reports per-(lang, source)
    attrition: (n_docs, n_exact_removed, n_near_removed, n_kept).
    Greedy lowest-id keep at both tiers, same convention as every other
    dedup key.  On the pinned testdata the corpus contains no exact
    duplicates (TESTDATA.md), so tier 1 measures 0 — the funnel reports
    the truth about its input rather than a staged demo.

    Scale: tier 1 is one hash shuffle of (fp, id); tier 2 inherits the
    banded tier's guards and runs on the ALREADY-PRUNED survivor set —
    the composition IS the 100 TB strategy (each tier shrinks the next
    tier's quadratic surface), and at full scale tier 2's overflow
    categories route to MinHash exactly as in dedup_ngram_jaccard."""
    # Checkpoint of the fingerprinted/tokenized frame: its lazy form is
    # evaluated twice even inside one `flagged` computation (the keeper
    # aggregate side and the probe side of the fp join), so without it
    # the corpus is scanned + md5'd + tokenized 2× per consumer.
    # Size-gated: an unconditional eager form measured 0.78× at sf0.1
    # (two materialization jobs on a few-MB corpus cost more than the
    # re-scans they save); operators/materialize.py keeps small inputs
    # lazy.
    d = sized_local_checkpoint(
        table(spark, sf_dir, "documents").select(
            "doc_id",
            "lang",
            "source",
            F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fp"),
            F.array_distinct(F.split("text", " ")).alias("toks"),
        )
    )
    keeper = d.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    # Materialize the tier-1 verdict ONCE: the
    # lazy `flagged` is consumed both by tier 2 (via `surv`, whose
    # lineage the banded tier would otherwise re-derive) and by the
    # final attrition rollup (`full`) — each re-running the documents
    # scan + md5 + tokenize.  Same size gate as above.
    flagged = sized_local_checkpoint(d.join(keeper, "fp"))
    surv = flagged.where(F.col("doc_id") == F.col("keep_id")).select(
        "doc_id", "lang", "source", "toks"
    )
    near = (
        banded_jaccard_pairs(surv, threshold=0.8, block_cap=1000)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_nr", F.lit(1))
    )
    full = flagged.join(near, "doc_id", "left")
    is_exact = F.col("doc_id") != F.col("keep_id")
    is_near = ~is_exact & F.col("_nr").isNotNull()
    return full.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(is_exact, 1).otherwise(0)).alias("n_exact_removed"),
        F.sum(F.when(is_near, 1).otherwise(0)).alias("n_near_removed"),
        F.sum(F.when(~is_exact & F.col("_nr").isNull(), 1).otherwise(0)).alias(
            "n_kept"
        ),
    )


# The five crawl-variant shapes of the same page the fixture plants
# (case/www, trailing slash + reordered params, default port +
# tracking params, fragment) — the documents table carries no URL
# column, so both engines derive the SAME urls from doc_id; the
# canonicalizer's work is what the hash check compares.
_URL_ORACLE = r"""
WITH urls AS (
  SELECT doc_id,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id % 20 AS VARCHAR)
      WHEN 1 THEN 'HTTPS://WWW.EXAMPLE' || CAST(doc_id % 50 AS VARCHAR)
                  || '.COM/page/' || CAST(doc_id % 20 AS VARCHAR)
      WHEN 2 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id % 20 AS VARCHAR)
                  || '/?z=1&a=2&utm_campaign=x'
      WHEN 3 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                  || '.com:443/page/' || CAST(doc_id % 20 AS VARCHAR)
                  || '?utm_source=feed&gclid=abc'
      ELSE 'https://example' || CAST(doc_id % 50 AS VARCHAR)
           || '.com/page/' || CAST(doc_id % 20 AS VARCHAR) || '#section-2'
    END AS u
  FROM documents
),
step AS (
  SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM urls
),
parts AS (
  SELECT doc_id, u,
         regexp_extract(u, '^[^:]+://[^/?]*', 0) AS sh0,
         substr(u, length(regexp_extract(u, '^[^:]+://[^/?]*', 0)) + 1) AS rest
  FROM step
),
canon AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(sh0), '^([a-z]+)://www\.', '\1://'),
        '^http://([^:]*):80$', 'http://\1'),
      '^https://([^:]*):443$', 'https://\1'
    )
    || regexp_replace(regexp_extract(rest, '^[^?]*', 0), '/+$', '')
    || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canonical_url
  FROM (
    SELECT doc_id, sh0, rest,
      array_to_string(list_sort(list_filter(
        string_split(CASE WHEN position('?' IN rest) > 0
                          THEN substr(rest, position('?' IN rest) + 1)
                          ELSE '' END, '&'),
        x -> x <> '' AND NOT starts_with(x, 'utm_')
             AND NOT starts_with(x, 'fbclid=')
             AND NOT starts_with(x, 'gclid=')
             AND NOT starts_with(x, 'ref='))), '&') AS cq
    FROM parts
  )
)
SELECT canonical_url, count(*) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM canon
GROUP BY canonical_url
""".strip()


@register(
    "dedup_url",
    oracle=_URL_ORACLE,
    tags=("dedup", "text"),
    bench=True,
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the stage every web-corpus pipeline
    runs BEFORE touching document text (CCNet/RefinedWeb: the same page
    recrawled as ``HTTPS://WWW.X.COM/a/?utm_source=f#top`` and
    ``https://x.com/a`` is one document): canonicalize with
    :func:`functions.urlnorm.canonicalize_url` (fragment → case → www →
    default port → tracking-param drop + bytewise param sort → trailing
    slash; all codegen string ops, no UDF), then one hash groupBy on
    the canonical key with min-id keeper — identical plan shape to
    dedup_exact, shuffling short canonical strings, never text.

    The documents table has no URL column, so both engines derive the
    same five crawl-variant shapes from doc_id (the planted-duplicate
    fixture pattern); what the hash check compares is the
    canonicalizer itself, step for step against the DuckDB mirror.

    Scale: canonicalization is map-side in the scan stage; the groupBy
    shuffles one short string + id per document.  At 100 TB this is
    the cheapest dedup tier and runs first in the ladder."""
    from mapreduce_framework_spark.functions.urlnorm import canonicalize_url

    d = table(spark, sf_dir, "documents").select("doc_id")
    site = (F.col("doc_id") % 50).cast("string")
    page = (F.col("doc_id") % 20).cast("string")
    variant = (F.col("doc_id") % 5).cast("int")
    plain = F.concat(
        F.lit("https://example"), site, F.lit(".com/page/"), page
    )
    u = (
        F.when(variant == 0, plain)
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://WWW.EXAMPLE"), site, F.lit(".COM/page/"), page
            ),
        )
        .when(variant == 2, F.concat(plain, F.lit("/?z=1&a=2&utm_campaign=x")))
        .when(
            variant == 3,
            F.concat(
                F.lit("https://example"),
                site,
                F.lit(".com:443/page/"),
                page,
                F.lit("?utm_source=feed&gclid=abc"),
            ),
        )
        .otherwise(F.concat(plain, F.lit("#section-2")))
    )
    return (
        d.select("doc_id", canonicalize_url(u).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )
