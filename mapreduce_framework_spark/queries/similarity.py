"""Similarity search over `embeddings` (SURVEY.md §2b extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table, user_scratch_dir
from mapreduce_framework_spark.operators.annsearch import (
    PQ_INDEX_VERSION,
    PQ_SEEDS,
    PQ_SUB,
    PQ_SUB_DIM,
    assign_cells,
    brute_force_topk,
    int8_quantize,
    ivf_topk,
    ivf_topk_batch,
    lsh_topk,
    persist_pq_index,
    pq_adc_topk,
    pq_build,
    pq_subvectors,
    probe_cells,
    probe_pq_index,
    quantized_topk,
    read_pq_index,
    topk_per_query,
)
from mapreduce_framework_spark.operators.kmeans import quantize
from mapreduce_framework_spark.operators.materialize import checkpoint
from mapreduce_framework_spark.registry import register

# IVF coarse quantizer of the seed-cell keys: the 16 lowest vec_ids as
# cells, 4 of them probed per query.
_N_CELLS = 16
_N_PROBE = 4


def _views(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vectors, lattice) from ONE read of the embeddings — each read
    runs one footer-reading job.  ``vectors`` is the float view
    (vec_id, label, v array<double>), ``lattice`` the embeddings on
    kmeans.quantize's exact integer lattice (vec_id, v array<bigint>)."""
    emb = table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return (
        emb.select("vec_id", "label", e.cast("array<double>").alias("v")),
        emb.select("vec_id", quantize(e).alias("v")),
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _views(spark, sf_dir)[0]


def _query_vec(vectors: DataFrame) -> DataFrame:
    """The query = embedding of vec_id 0, kept in-plan (broadcast) —
    no driver-side collect."""
    return vectors.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))


def _query_sub(sub: DataFrame) -> DataFrame:
    """The query's (vec_id 0) PQ subvectors as (m, sp, qval)."""
    return sub.where(F.col("vec_id") == 0).select("m", "sp", F.col("val").alias("qval"))


def _seed_cells(vectors: DataFrame) -> DataFrame:
    """Deterministic IVF centroids: the ``_N_CELLS`` lowest vec_ids'
    vectors as (cell_id, cv).  Production swaps in k-means means
    (sim_search_ivf_kmeans); the plan shape is identical."""
    return (
        vectors.orderBy("vec_id")
        .limit(_N_CELLS)
        .select(F.col("vec_id").cast("int").alias("cell_id"), F.col("v").alias("cv"))
    )


@register(
    "sim_search_topk",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cos_sim
FROM e, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
""".strip(),
    tags=("similarity",),
    bench=True,
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vector 0 (brute-force baseline;
    TakeOrderedAndProject keeps only k rows per partition)."""
    vectors = _vectors(spark, sf_dir)
    return brute_force_topk(
        vectors.where(F.col("vec_id") != 0), _query_vec(vectors), k=10
    )


@register(
    "sim_search_topk_batch",
    # Both engines rank by the ROUNDED cosine with vec_id tie-break, so
    # the per-query top-10 lists are deterministic and hash-checkable.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8)
SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rk
FROM (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC,
                    e.vec_id ASC
         ) AS rn
  FROM e, q
  WHERE e.vec_id <> q.query_id
)
WHERE rn <= 10
""".strip(),
    tags=("similarity", "batch"),
    bench=True,
)
def sim_search_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED exact top-10: the 8 query vectors (vec_id < 8) answered
    in ONE corpus scan — the production ANN serving shape (a query per
    ROW, not a query per job; single-query keys amortize nothing).

    Scale: the query set broadcasts (queries ≪ corpus always), scoring
    is one map-side pass producing skinny (query_id, vec_id, cos) rows,
    and the per-query top-k is a window over the query_id partitioning
    — the only shuffle carries |Q|·n skinny rows, never the vectors.
    At 100 TB with large |Q| the same plan becomes IVF-routed (each
    query scores only its probed cells, sim_search_ivf's pruning per
    batch row); brute-force-per-batch here is the recall baseline those
    variants are measured against."""
    vectors = _vectors(spark, sf_dir).select("vec_id", "v")
    queries = vectors.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return topk_per_query(vectors.crossJoin(F.broadcast(queries)), 10)


@register(
    "sim_search_ivf",
    # The IVF pipeline is deterministic end-to-end (seed centroids =
    # 16 lowest vec_ids, argmax-cosine assignment with lowest-cell-id
    # tie-break, 4 fixed probes), so the oracle replicates it EXACTLY
    # in SQL — an approximate ANN result that is still hash-checkable.
    # Recall vs the exact baseline is additionally asserted in
    # tests/test_operators.py.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
scored AS (
  SELECT e.vec_id, e.v, c.cell_id,
         list_cosine_similarity(e.v, c.cv) AS sim,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell_id ASC
         ) AS rn
  FROM e, c
  WHERE e.vec_id <> 0
),
assigned AS (SELECT vec_id, v, cell_id FROM scored WHERE rn = 1),
probes AS (
  SELECT cell_id FROM (
    SELECT c.cell_id,
           row_number() OVER (
             ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cell_id ASC
           ) AS rn
    FROM c, q
  ) WHERE rn <= 4
)
SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
FROM assigned a, q
WHERE a.cell_id IN (SELECT cell_id FROM probes)
ORDER BY cos_sim DESC, a.vec_id ASC
LIMIT 10
""".strip(),
    tags=("similarity", "ann"),
    bench=True,
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed top-10: assign vectors to 16 seed cells, probe the 4
    nearest to the query — the scan-pruning scale path (cell id becomes
    a partition key at 100 TB)."""
    vectors = _vectors(spark, sf_dir)
    return ivf_topk(
        vectors.where(F.col("vec_id") != 0),
        _seed_cells(vectors),
        _query_vec(vectors),
        k=10,
        n_probe=_N_PROBE,
    )


@register(
    "sim_search_ivf_batch",
    # Deterministic end-to-end (seed centroids, argmax assignment with
    # lowest-cell tie-break, fixed probes, rounded-cosine ranking with
    # vec_id tie-break), so the per-query IVF lists are hash-checkable.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
c AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT e.vec_id, e.v, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell_id ASC
           ) AS rn
    FROM e, c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT q.query_id, q.qv, c.cell_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cell_id ASC
           ) AS rn
    FROM q, c
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cos_sim
  FROM assigned a JOIN probes p ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
  ) AS rn FROM scored
)
WHERE rn <= 10
""".strip(),
    tags=("similarity", "ann", "batch"),
    bench=True,
)
def sim_search_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF serving — the composition of sim_search_ivf's
    scan pruning with sim_search_topk_batch's query-per-row
    amortization: cell assignment runs ONCE, each of the 8 queries
    probes only its 4 nearest of the 16 cells, and scoring touches
    Σ_q probed-cell volume instead of |Q|·corpus.  At 100 TB the
    assigned table is partitioned by cell_id so each query's probe
    prunes whole files — this is the plan an online batch ANN endpoint
    actually runs."""
    vectors = _vectors(spark, sf_dir).select("vec_id", "v")
    queries = vectors.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivf_topk_batch(
        vectors, _seed_cells(vectors), queries, k=10, n_probe=_N_PROBE
    )


# IVF over REAL k-means centroids: stage 1 replicates the
# embedding_kmeans oracle's first Lloyd round (exact integer-lattice
# arithmetic) to derive centroids c1; stage 2 replicates the IVF
# assignment/probing exactly as in sim_search_ivf.  Cosine is
# scale-invariant, so the integer-lattice centroids drop into the
# cosine-based IVF unchanged.
_IVF_KMEANS_ORACLE = """
WITH e AS (
  SELECT vec_id,
         unnest(list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(round(x * 10000) AS BIGINT))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, val FROM e WHERE vec_id < 8),
d1 AS (
  SELECT e.vec_id, c.cid, SUM((e.val - c.val) * (e.val - c.val)) AS dist
  FROM e JOIN c0 c USING (pos)
  GROUP BY e.vec_id, c.cid
),
a1 AS (
  SELECT vec_id, cid FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
),
c1 AS (
  SELECT a1.cid, e.pos, SUM(e.val) // count(*) AS val
  FROM a1 JOIN e ON a1.vec_id = e.vec_id
  GROUP BY a1.cid, e.pos
),
cent AS (
  SELECT cid AS cell_id, CAST(list(val ORDER BY pos) AS DOUBLE[]) AS cv
  FROM c1 GROUP BY cid
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
scored AS (
  SELECT ev.vec_id, ev.v, cent.cell_id,
         row_number() OVER (
           PARTITION BY ev.vec_id
           ORDER BY list_cosine_similarity(ev.v, cent.cv) DESC, cent.cell_id ASC
         ) AS rn
  FROM ev, cent
  WHERE ev.vec_id <> 0
),
assigned AS (SELECT vec_id, v, cell_id FROM scored WHERE rn = 1),
probes AS (
  SELECT cell_id FROM (
    SELECT cent.cell_id,
           row_number() OVER (
             ORDER BY list_cosine_similarity(cent.cv, q.qv) DESC, cent.cell_id ASC
           ) AS rn
    FROM cent, q
  ) WHERE rn <= 3
)
SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
FROM assigned a, q
WHERE a.cell_id IN (SELECT cell_id FROM probes)
ORDER BY cos_sim DESC, a.vec_id ASC
LIMIT 10
""".strip()


@register(
    "sim_search_ivf_kmeans",
    oracle=_IVF_KMEANS_ORACLE,
    tags=("similarity", "ann", "clustering"),
    bench=True,
)
def sim_search_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 probed against REAL k-means centroids — the composed
    production index-build path (sim_search_ivf's docstring promised
    the swap; this is it): one exact integer-lattice Lloyd round
    (operators/kmeans.py — broadcast-assign + integer-mean update, both
    hash-checkable) produces 8 centroids, which slot into the same
    broadcast IVF probing as sim_search_ivf (3 of 8 cells).  At 100 TB
    the centroid build is a side job over a sample, the cell id becomes
    a partition key, and probing prunes entire files — identical plan
    shape, real centroids."""
    from mapreduce_framework_spark.operators.kmeans import assign, update

    vectors, qvecs = _views(spark, sf_dir)
    seeds = qvecs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("c")
    )
    centroids = update(assign(qvecs, seeds)).select(
        F.col("cid").cast("int").alias("cell_id"),
        F.col("c").cast("array<double>").alias("cv"),
    )
    return ivf_topk(
        vectors.where(F.col("vec_id") != 0).select("vec_id", "v"),
        centroids,
        _query_vec(vectors),
        k=10,
        n_probe=3,
    )


@register(
    "sim_search_quantized",
    # The whole pipeline is deterministic: quantization codes are
    # round(v * 127/max|v|) — identical in both engines — and the code
    # dot product is integer arithmetic (order-independent, no float
    # summation divergence), so the oracle replicates the approximate
    # search EXACTLY; only the two scale factors are float ops, rounded
    # to 6 on both sides.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
         127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS scale
  FROM e
),
q AS (SELECT vec_id, list_transform(v, x -> round(x * scale)) AS qv, scale FROM m),
qq AS (SELECT qv AS query_qv, scale AS query_scale FROM q WHERE vec_id = 0)
SELECT a.vec_id,
       round(list_dot_product(a.qv, qq.query_qv) / (a.scale * qq.query_scale), 6)
         AS approx_dot
FROM q a, qq
WHERE a.vec_id <> 0
ORDER BY approx_dot DESC, a.vec_id ASC
LIMIT 10
""".strip(),
    tags=("similarity", "ann", "quantization"),
    bench=True,
)
def sim_search_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized top-10 by rescaled quantized dot product — the
    vector-store compression tier: 4× fewer scan bytes than float32 and
    an integer dot product that is exact and reproducible regardless of
    summation order (a float dot's value depends on fold order, which
    differs across engines and partitionings).  At 100 TB the int8
    codes column replaces the raw embedding column for first-pass
    retrieval; exact re-ranking on the float vectors touches only the
    candidate set (tests pin the recall of this pass vs the exact
    baseline)."""
    vectors = _vectors(spark, sf_dir).select("vec_id", "v")
    q = int8_quantize(vectors)
    query = q.where(F.col("vec_id") == 0).select(
        F.col("qv").alias("query_qv"), F.col("scale").alias("query_scale")
    )
    return quantized_topk(q.where(F.col("vec_id") != 0), query, k=10)


@register(
    "sim_search_lsh",
    # Deterministic end-to-end (LCG-parity hyperplanes over integer-
    # quantized components, fixed multi-probe radius), so the oracle
    # replicates the whole pipeline exactly — approximate ANN, still
    # hash-checkable.  Recall vs the exact baseline is asserted in
    # tests/test_operators.py (the synthetic embeddings are measured-
    # isotropic — same-label avg cosine ≈ cross-label ≈ 0 — so recall
    # is data-bounded for ANY ANN structure; see docstring).
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
-- np mirrors operators/annsearch.py occupancy_planes(): integer
-- bit-length math (length(bin(n-1)) == Python (n-1).bit_length()),
-- no libm log2, so both engines derive the identical plane count.
params AS (SELECT greatest(8, length(bin(count(*) - 1)) - 6) AS np FROM e),
comp AS (
  -- stride mirrors operators/annsearch.py hyperplane_buckets exactly:
  -- greatest(64, dim), so plane sign patterns agree for ANY embedding
  -- dimension (identical to the historical literal 64 while dim <= 64).
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS d,
         greatest(64, len(v)) AS stride,
         CAST(round(unnest(v) * 1000) AS BIGINT) AS xi
  FROM e
),
proj AS (
  SELECT vec_id, p.p,
         SUM(CASE WHEN ((1103515245 * (p.p * stride + d) + 12345) // 65536) % 2 = 0
                  THEN xi ELSE -xi END) AS s
  FROM comp, (SELECT unnest(range(4 * np)) AS p FROM params) p
  GROUP BY vec_id, p.p
),
buckets AS (
  SELECT vec_id, p // np AS tbl,
         SUM(CASE WHEN s > 0 THEN (1 << (p % np)) ELSE 0 END) AS bucket
  FROM proj, params GROUP BY vec_id, p // np
),
qb AS (SELECT tbl, bucket AS qbucket FROM buckets WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT b.vec_id
  FROM buckets b JOIN qb ON b.tbl = qb.tbl
   AND bit_count(CAST(xor(b.bucket, qb.qbucket) AS BIGINT)) <= 2
  WHERE b.vec_id <> 0
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
FROM e JOIN cand USING (vec_id), q
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 10
""".strip(),
    tags=("similarity", "ann", "lsh"),
    bench=True,
)
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe random-hyperplane LSH top-10 — the third ANN tier
    next to IVF (sim_search_ivf) and quantization (sim_search_quantized):
    4 hash tables × occupancy-derived sign-bit planes (8 at every
    verification SF; grows with log(corpus) past 16 384 vectors so the
    candidate set stays bounded, see operators/annsearch.py
    occupancy_planes), candidates within Hamming radius 2 of the query
    bucket in any table, exact cosine re-rank on the candidate set only.

    Why it scales: signatures are ONE codegen projection pass over the
    corpus (no shuffle, integer arithmetic, no UDF); the bucket index
    is a skinny (id, tbl, bucket) table that at 100 TB is written
    partitioned by (tbl, bucket) so a probe reads only ~n_tables ·
    (1 + radius-ball) partitions; multi-probe trades query-side work
    for index size (Lv et al., VLDB'07) instead of adding tables.

    Honest recall note, measured: this corpus's embeddings are
    isotropic random (same-label mean cosine -0.0004 vs cross-label
    -0.0003 at sf0.001) — there is NO local neighborhood structure, so
    every ANN structure degrades toward random candidate sampling on
    it.  At sf0.01 this setup reaches recall@10 = 6/10 while scanning
    ~40% of the corpus; on clustered real-world embeddings the same
    plan prunes far harder.  tests/test_operators.py pins recall ≥ 3/10
    and a bounded candidate fraction at both verification SFs."""
    # Eager checkpoint: lsh_topk consumes its input ~5× (the occupancy
    # count, both bucket sides, the query row, and the re-rank scan) —
    # lazily each consumer re-ran the embedding scan + projection.  One
    # materialization of the skinny (vec_id, v) frame serves them all.
    vectors = checkpoint(_vectors(spark, sf_dir).select("vec_id", "v"))
    return lsh_topk(
        vectors, query_id=0, k=10, n_tables=4, n_planes=None, hamming_radius=2
    )


# PQ: train → encode → ADC, all on the exact integer lattice so the
# oracle replays the full pipeline (train included) bit-for-bit.
_PQ_ORACLE = """
WITH e AS (
  SELECT vec_id,
         unnest(list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(round(x * 10000) AS BIGINT))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
s AS (SELECT vec_id, CAST(pos // 16 AS INTEGER) AS m, pos % 16 AS sp, val FROM e),
seeds AS (
  -- codes = rank of the 8 smallest OBSERVED vec_ids (0-based), the
  -- exact mirror of pq_train's seed pick; on dense-from-0 ids this is
  -- identical to the old literal vec_id < 8 / code = vec_id form.
  SELECT s.m, s.sp, sid.code, s.val AS sval
  FROM s JOIN (
    SELECT vec_id,
           CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
    FROM (SELECT DISTINCT vec_id FROM s ORDER BY vec_id LIMIT 8)
  ) sid USING (vec_id)
),
d1 AS (
  SELECT s.vec_id, s.m, seeds.code,
         SUM((s.val - seeds.sval) * (s.val - seeds.sval)) AS dist
  FROM s JOIN seeds ON s.m = seeds.m AND s.sp = seeds.sp
  GROUP BY 1, 2, 3
),
a1 AS (
  SELECT vec_id, m, code FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) = 1
),
cb AS (
  SELECT a1.m, a1.code, s.sp, SUM(s.val) // count(*) AS cval
  FROM a1 JOIN s ON a1.vec_id = s.vec_id AND a1.m = s.m
  GROUP BY 1, 2, 3
),
d2 AS (
  SELECT s.vec_id, s.m, cb.code,
         SUM((s.val - cb.cval) * (s.val - cb.cval)) AS dist
  FROM s JOIN cb ON s.m = cb.m AND s.sp = cb.sp
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, code FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) = 1
),
lut AS (
  SELECT cb.m, cb.code, SUM(q.val * cb.cval) AS dot
  FROM cb JOIN (SELECT m, sp, val FROM s WHERE vec_id = 0) q
    ON cb.m = q.m AND cb.sp = q.sp
  GROUP BY 1, 2
),
adc AS (
  SELECT c.vec_id, SUM(l.dot) AS adc
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
  WHERE c.vec_id <> 0
  GROUP BY 1
)
SELECT vec_id, round(adc / 100000000.0, 6) AS approx_dot
FROM adc
ORDER BY adc DESC, vec_id ASC
LIMIT 10
""".strip()


@register(
    "sim_search_pq",
    oracle=_PQ_ORACLE,
    tags=("similarity", "ann", "quantization", "clustering"),
    bench=True,
)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized top-10 by ADC — the compression tier BELOW
    int8 (sim_search_quantized) in the serving ladder: the 64-dim
    embedding splits into M=4 subspaces of 16 dims, each subspace
    learns an 8-codeword codebook (one exact integer Lloyd round,
    operators/kmeans.py's lattice trick per subspace), and a corpus
    vector is stored as 4 code ids — 4 bytes instead of 256, a 64×
    scan-byte reduction.  Search is ADC (Jégou et al., TPAMI 2011): the
    query precomputes the 32-entry (subspace, code) partial-dot LUT and
    a vector's approximate dot is 4 integer lookups summed; ranking
    uses the EXACT integer score with vec_id tie-break, so the whole
    pipeline — training included — is hash-checked against the oracle's
    replay.  Recall vs the exact baseline is pinned in tests.

    Scale (100 TB): training is ONE broadcast-seed Lloyd pass (at
    corpus scale you train the codebooks on a sample — same plan,
    sampled input); encoding is one broadcast-codebook pass over the
    corpus producing the skinny codes table (the thing you persist —
    bounded by n×M ints); serving never touches a float vector — the
    LUT broadcasts (M×K rows) and the scan reads codes only, with the
    same top-k-per-partition cut as the brute-force key.  The re-rank path
    (exact cosine on the PQ candidates) is sim_search_topk on a
    1000×-smaller input."""
    return _pq_topk(_views(spark, sf_dir)[1], 10)


def _pq_topk(qvecs: DataFrame, k: int) -> DataFrame:
    """In-plan PQ build over the lattice ``qvecs``, then the ADC top-k
    of vec_id 0 over every other vector."""
    sub, codebook, codes = pq_build(qvecs)
    return pq_adc_topk(codes.where(F.col("vec_id") != 0), codebook, _query_sub(sub), k)


@register(
    "sim_search_pq_persisted",
    # Same deterministic pipeline as sim_search_pq, so the same oracle
    # replay applies — the persisted layout must be invisible to the
    # answer (write-once/probe-many changes WHERE the codes live, not
    # what they are).
    oracle=_PQ_ORACLE,
    tags=("similarity", "ann", "quantization", "sink"),
    bench=True,
)
def sim_search_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_search_pq served from a PERSISTED index: persist_pq_index
    trains + encodes once and writes the wide code table (vec_id,
    c1..c3, c0) parquet-partitioned by the leading code c0 with the
    codebook as a skinny sidecar; probe_pq_index answers the query from
    the code scan plus the broadcast LUT — the probe plan never reads a
    float vector (ReadSchema is codes-only, pinned by
    tests/test_plans.py::test_pq_index_probe_reads_codes_only).

    Scale (100 TB): this is the serving shape the in-plan key's
    docstring promises — training amortizes to zero across queries,
    the per-query cost is one scan of M small ints per vector plus a
    32-row broadcast LUT join, and appends land in their c0 directory
    without touching the rest of the layout.  Results are bit-identical
    to sim_search_pq by construction (same lattice, same codebook,
    same ADC ranking)."""
    return _pq_served(
        spark,
        sf_dir,
        lambda persist: persist(user_scratch_dir("sim_search_pq_persisted")),
    )


def _pq_served(spark: SparkSession, sf_dir: str, open_index) -> DataFrame:
    """sim_search_pq answered from a persisted index.
    ``open_index(persist)`` returns the index's (codes, codebook), where
    ``persist(path)`` builds one at ``path`` and returns it read back.
    The lattice is read once, for the build and the query alike: each
    extra read is one more footer-reading job."""
    qvecs = _views(spark, sf_dir)[1]
    codes, codebook = open_index(lambda path: persist_pq_index(qvecs, path))
    return probe_pq_index(
        codes.where(F.col("vec_id") != 0),
        codebook,
        _query_sub(pq_subvectors(qvecs)),
        k=10,
    )


# PQ retrieve + exact re-rank: the PQ oracle's pipeline cut at top-50
# by the EXACT integer ADC score, then exact cosine on the candidates.
_PQ_RERANK_ORACLE = _PQ_ORACLE.replace(
    """SELECT vec_id, round(adc / 100000000.0, 6) AS approx_dot
FROM adc
ORDER BY adc DESC, vec_id ASC
LIMIT 10""",
    """, cand AS (
  SELECT vec_id FROM adc ORDER BY adc DESC, vec_id ASC LIMIT 50
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM ev WHERE vec_id = 0)
SELECT c.vec_id,
       round(list_cosine_similarity(ev.v, q.qv), 6) AS cos_sim
FROM cand c JOIN ev ON c.vec_id = ev.vec_id, q
ORDER BY cos_sim DESC, c.vec_id ASC
LIMIT 10""",
)


@register(
    "sim_search_pq_rerank",
    oracle=_PQ_RERANK_ORACLE,
    tags=("similarity", "ann", "quantization"),
    bench=True,
)
def sim_search_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ retrieve → exact re-rank, the two-stage serving shape
    sim_search_pq's docstring promises: ADC selects 50 candidates from
    the 4-byte code scan (never touching a float vector), then exact
    cosine re-ranks ONLY those 50 against the float embeddings and
    returns the top 10.  Re-ranking can only help: PQ's own top-10 is a
    subset of the candidate set, so every exact-top-10 vector PQ found
    survives the re-rank — recall(rerank) ≥ recall(PQ), pinned as an
    invariant in tests/test_operators.py.

    Scale (100 TB): stage 1 is the full-corpus scan but reads codes
    only (the 64× byte cut); stage 2 touches 50 float vectors — a
    point-lookup join against the id-keyed embedding store, the ratio
    that makes two-stage retrieval the universal vector-serving
    architecture.  Candidate count trades recall for stage-2 cost
    without changing either plan."""
    vectors, qvecs = _views(spark, sf_dir)
    cand = _pq_topk(qvecs, 50).select("vec_id")
    vectors = vectors.select("vec_id", "v")
    return brute_force_topk(cand.join(vectors, "vec_id"), _query_vec(vectors), k=10)


# IVF-PQ composite: the PQ oracle's replay, with the ADC scan restricted
# to the members of the 4 IVF cells nearest the query (the same coarse
# quantizer as sim_search_ivf).  Built by surgery on _PQ_ORACLE so the
# PQ half stays literally identical to the tier it composes.
_IVF_PQ_ORACLE = _PQ_ORACLE.replace(
    "WITH e AS (",
    """WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
qf AS (SELECT fv AS qv FROM raw WHERE vec_id = 0),
cells AS (SELECT vec_id AS cell_id, fv AS cv FROM raw ORDER BY vec_id LIMIT 16),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT r.vec_id, c.cell_id,
           row_number() OVER (
             PARTITION BY r.vec_id
             ORDER BY list_cosine_similarity(r.fv, c.cv) DESC, c.cell_id ASC
           ) AS rn
    FROM raw r, cells c
    WHERE r.vec_id <> 0
  ) WHERE rn = 1
),
probes AS (
  SELECT cell_id FROM (
    SELECT c.cell_id,
           row_number() OVER (
             ORDER BY list_cosine_similarity(c.cv, qf.qv) DESC, c.cell_id ASC
           ) AS rn
    FROM cells c, qf
  ) WHERE rn <= 4
),
cand AS (
  SELECT vec_id FROM assigned
  WHERE cell_id IN (SELECT cell_id FROM probes)
),
e AS (""",
).replace(
    """  WHERE c.vec_id <> 0
  GROUP BY 1""",
    """  WHERE c.vec_id <> 0 AND c.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY 1""",
)


@register(
    "sim_search_ivf_pq",
    oracle=_IVF_PQ_ORACLE,
    tags=("similarity", "ann", "quantization"),
)
def sim_search_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the industry-standard composite index (Jégou et al.'s
    IVFADC, the FAISS `IVFx,PQy` shape) closing the serving ladder:
    the IVF coarse quantizer (sim_search_ivf's 16 deterministic cells)
    prunes the corpus to the 4 cells nearest the query, and PQ/ADC
    (sim_search_pq's 4x8 integer-Lloyd codebooks) ranks ONLY the
    survivors from their 4-byte codes.  Global (non-residual)
    codebooks, so the PQ half is bit-identical to the standalone tier
    and the whole pipeline — coarse assignment, probe pick, training,
    encoding, ADC — replays exactly in the oracle.

    Scale (100 TB): the two prunings MULTIPLY — IVF cuts the scanned
    rows to n_probe/n_cells of the corpus (partition pruning when
    codes are stored partitioned by cell, as persist_cell_index does
    for floats), and PQ cuts the bytes per scanned row 64x.  Neither
    tier alone gives that: brute ADC scans every code, float IVF reads
    full vectors in probed cells.  The candidate semi-join here is the
    in-plan mirror of that layout (broadcast 4-row probe list, then a
    key join codes⋈members that becomes a partition filter once codes
    carry cell_id in the persisted form).  Recall compounds the two
    tiers' losses — production recovers it with n_probe and the
    exact re-rank stage (sim_search_pq_rerank), both orthogonal knobs
    on this same plan."""
    return ivf_pq_frame(*_views(spark, sf_dir))


def ivf_pq_frame(vectors: DataFrame, qvecs: DataFrame) -> DataFrame:
    """The IVF-PQ composite on explicit inputs — ``vectors`` is the
    float view (vec_id, v array<double>) used by the coarse quantizer,
    ``qvecs`` the integer lattice (vec_id, v array<bigint>) the PQ half
    trains/encodes on.  Shared with tools/scale_probe.py so the probe
    times the real operator."""
    centroids = _seed_cells(vectors)
    probed = probe_cells(centroids, _query_vec(vectors), _N_PROBE)
    members = (
        assign_cells(vectors.where(F.col("vec_id") != 0), centroids)
        .join(F.broadcast(probed), "cell_id")
        .select("vec_id")
    )
    sub, codebook, codes = pq_build(qvecs)
    codes = codes.where(F.col("vec_id") != 0).join(members, "vec_id")
    return pq_adc_topk(codes, codebook, _query_sub(sub), 10)


@register(
    "sim_search_ivf_pq_persisted",
    # Same deterministic pipeline as sim_search_ivf_pq, so the same
    # oracle replay applies — the persisted layout must be invisible to
    # the answer.
    oracle=_IVF_PQ_ORACLE,
    tags=("similarity", "ann", "quantization", "sink"),
    bench=True,
)
def sim_search_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ composite served from a WRITE-ONCE index: codes wide
    (vec_id, c0..c3) parquet-partitioned by the vector's IVF cell_id,
    codebook as a broadcastable sidecar.  The probe computes its cells
    in-plan (broadcast centroids x query), so cell pruning reaches the
    code scan as DYNAMIC partition pruning, and the scan reads code
    columns only — the layout realizes both prunings at once: a probe
    opens n_probe/n_cells of the files and reads 4 small ints per
    surviving row.  This is the FAISS-IVFPQ on-disk shape expressed as
    a parquet layout; bit-identical results to sim_search_ivf_pq by
    construction (pinned by tests/test_plans.py::
    test_ivf_pq_index_probe_prunes_and_reads_codes_only)."""
    return _ivf_pq_served(
        spark,
        sf_dir,
        lambda persist: persist(user_scratch_dir("sim_search_ivf_pq_persisted")),
    )


def _ivf_pq_served(spark: SparkSession, sf_dir: str, open_index) -> DataFrame:
    """sim_search_ivf_pq answered from a cell-partitioned persisted
    index; ``open_index`` as in ``_pq_served``."""
    vectors, qvecs = _views(spark, sf_dir)
    centroids = _seed_cells(vectors)
    cells = assign_cells(vectors.where(F.col("vec_id") != 0), centroids).select(
        "vec_id", "cell_id"
    )
    codes, codebook = open_index(lambda path: persist_pq_index(qvecs, path, cells))
    probed = probe_cells(centroids, _query_vec(vectors), _N_PROBE)
    return probe_pq_index(
        codes.join(F.broadcast(probed), "cell_id"),
        codebook,
        _query_sub(pq_subvectors(qvecs)),
        k=10,
    )


@register(
    "sim_search_doc_retrieval",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
topk AS (
  SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cos_sim
  FROM e, q
  WHERE vec_id <> 0
  ORDER BY cos_sim DESC, vec_id ASC
  LIMIT 10
)
SELECT t.vec_id AS doc_id, t.cos_sim, d.lang, d.source, d.n_chars
FROM topk t JOIN documents d ON t.vec_id = d.doc_id
""".strip(),
    tags=("similarity", "pipeline"),
)
def sim_search_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval serving end-to-end: ANN top-10 over the embedding
    store, then a point-lookup join back to the DOCUMENT store for the
    payloads — the two-table shape every RAG / semantic-search stack
    runs (vectors and documents live in different tables because they
    have different write paths, compaction policies, and scan
    economics; conflating them re-reads text on every query).

    Scale (100 TB): stage 1 is whichever ANN tier fits the corpus
    (brute force here as the exact baseline; the IVF/PQ/persisted keys
    are drop-in — all produce the same skinny (vec_id, score) frame);
    stage 2 joins 10 rows against the id-keyed document table — a
    broadcast of the CANDIDATES, never the documents, so document-side
    cost is a point lookup per candidate regardless of corpus size.
    Returns metadata columns only; payload projection is the caller's
    choice (column pruning keeps text out of the scan here — same
    policy as the streaming module's pruning note)."""
    vectors = _vectors(spark, sf_dir).select("vec_id", "v")
    topk = brute_force_topk(
        vectors.where(F.col("vec_id") != 0), _query_vec(vectors), k=10
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return (
        F.broadcast(topk)
        .join(docs, topk["vec_id"] == docs["doc_id"])
        .select("doc_id", "cos_sim", "lang", "source", "n_chars")
    )


def _per_sf_cached_index(sf_dir: str, kind: str, build) -> str:
    """Per-SF build-once cache for a persisted ANN index: keyed by
    (sf, embeddings file identity, index kind, PQ geometry, layout
    version) — a pure function of immutable inputs and of the code that
    writes the index, exactly _spill_corpus's contract
    (queries/mapreduce_job.py) — staged privately and atomically
    renamed into place, so concurrent sessions race safely and readers
    only ever see a complete index.  The *_persisted keys keep pricing
    build+probe per invocation; the *_probe keys read this cache, so
    bench's min-of-3 records pure serving latency on a prebuilt index —
    the number that matters at 100 TB, where the build amortizes across
    every query."""
    from mapreduce_framework_spark.io import cache_sf_token, publish_cached, table_identity

    ident = table_identity(sf_dir, "embeddings")
    # The family holds the axes that may coexist (kind, SF, geometry):
    # two parameterizations of one SF must not reap each other.  Only
    # superseded file-identity or layout-version generations are reaped
    # by the publish sweep, after the cross-session age guard
    # (io.reap_superseded).
    family = (
        f"mfs_idx_cache_{kind}_{cache_sf_token(sf_dir)}"
        f"_ns{PQ_SUB}sd{PQ_SUB_DIM}se{PQ_SEEDS}"
    )
    return publish_cached(
        f"{family}_v{PQ_INDEX_VERSION}_{ident}",
        build,
        family=family,
    )


@register(
    "sim_search_pq_probe",
    # Identical pipeline to sim_search_pq_persisted — the cache must be
    # invisible to the answer.
    oracle=_PQ_ORACLE,
    tags=("similarity", "ann", "quantization"),
    bench=True,
)
def sim_search_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_search_pq_persisted's PROBE-ONLY steady-state lane: the PQ
    index builds ONCE per SF into an atomically-published cache and
    every subsequent invocation answers from the existing parquet —
    bench's min-of-3 therefore records pure probe latency (scan M small
    ints per vector + a 32-row broadcast LUT join), the serving number
    a 100 TB deployment gates on, while sim_search_pq_persisted keeps
    pricing the full build+probe path.  Results are bit-identical to
    sim_search_pq / sim_search_pq_persisted by construction."""
    return _pq_served(
        spark,
        sf_dir,
        lambda persist: read_pq_index(
            spark, _per_sf_cached_index(sf_dir, "pq", persist)
        ),
    )


@register(
    "sim_search_ivf_pq_probe",
    oracle=_IVF_PQ_ORACLE,
    tags=("similarity", "ann", "quantization"),
    bench=True,
)
def sim_search_ivf_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_search_ivf_pq_persisted's PROBE-ONLY steady-state lane (same
    per-SF build-once cache as sim_search_pq_probe): the gated number is
    the serving probe — dynamic partition pruning over the n_probe cell
    directories × a codes-only ReadSchema — on a prebuilt FAISS-IVFPQ-
    shaped layout.  Bit-identical results to sim_search_ivf_pq by
    construction."""
    return _ivf_pq_served(
        spark,
        sf_dir,
        lambda persist: read_pq_index(
            spark, _per_sf_cached_index(sf_dir, f"ivfpq_c{_N_CELLS}", persist)
        ),
    )
