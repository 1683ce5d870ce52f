"""Embedding clustering (training-data curation: semantic bucketing,
IVF index construction, diversity sampling all start from k-means)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.operators.kmeans import kmeans_rounds, quantize
from mapreduce_framework_spark.operators.materialize import checkpoint
from mapreduce_framework_spark.registry import register

_KMEANS_ORACLE = """
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
d2 AS (
  SELECT e.vec_id, c.cid, SUM((e.val - c.val) * (e.val - c.val)) AS dist
  FROM e JOIN c1 c USING (pos)
  GROUP BY e.vec_id, c.cid
),
a2 AS (
  SELECT vec_id, cid, dist FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
)
SELECT cid AS cluster_id,
       count(*) AS n_members,
       min(vec_id) AS rep_vec_id,
       CAST(SUM(dist) AS BIGINT) AS total_dist
FROM a2
GROUP BY cid
""".strip()


@register(
    "embedding_kmeans",
    oracle=_KMEANS_ORACLE,
    tags=("clustering", "pipeline", "iterative"),
    bench=True,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd's k-means iterations (k=8, seeds = the first
    8 vectors) over integer-quantized embeddings; returns per-cluster
    size, representative (lowest member id), and total squared-L2
    inertia.  Deterministic end to end — quantized int64 distances,
    struct-min argmin with cid tie-break, truncating integer centroid
    means — so even the ITERATION is hash-checked against an unrolled
    SQL oracle (same trick as graph_pagerank).  See
    operators/kmeans.py for the per-step plan/scale analysis; the
    oracle works in exploded (vec, dim) form, the Spark plan in array
    form with broadcast centroids."""
    vectors = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("v")
    )
    seeds = vectors.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("c")
    )
    final = kmeans_rounds(vectors, seeds, rounds=2)
    return final.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("rep_vec_id"),
        F.sum("dist").alias("total_dist"),
    )


@register(
    "embedding_seed_farthest",
    # Greedy k-center (farthest-point) seeding, k=4, fully deterministic:
    # integer-lattice distances (same ×10000 quantization as kmeans),
    # argmax ties to the lowest vec_id.  The oracle unrolls the same 3
    # expansions over the exploded (pos, val) representation.
    oracle="""
WITH e AS (
  SELECT vec_id,
         unnest(list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(round(x * 10000) AS BIGINT))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
s0 AS (SELECT pos, val FROM e WHERE vec_id = 0),
d0 AS (
  SELECT e.vec_id, SUM((e.val - s.val) * (e.val - s.val)) AS dist
  FROM e JOIN s0 s USING (pos) GROUP BY e.vec_id
),
p1 AS (SELECT vec_id, dist FROM d0
       QUALIFY row_number() OVER (ORDER BY dist DESC, vec_id ASC) = 1),
s1 AS (SELECT pos, val FROM e WHERE vec_id = (SELECT vec_id FROM p1)),
d1 AS (
  SELECT e.vec_id,
         least(min(d0.dist), SUM((e.val - s.val) * (e.val - s.val))) AS dist
  FROM e JOIN s1 s USING (pos) JOIN d0 ON d0.vec_id = e.vec_id
  GROUP BY e.vec_id
),
p2 AS (SELECT vec_id, dist FROM d1
       QUALIFY row_number() OVER (ORDER BY dist DESC, vec_id ASC) = 1),
s2 AS (SELECT pos, val FROM e WHERE vec_id = (SELECT vec_id FROM p2)),
d2 AS (
  SELECT e.vec_id,
         least(min(d1.dist), SUM((e.val - s.val) * (e.val - s.val))) AS dist
  FROM e JOIN s2 s USING (pos) JOIN d1 ON d1.vec_id = e.vec_id
  GROUP BY e.vec_id
),
p3 AS (SELECT vec_id, dist FROM d2
       QUALIFY row_number() OVER (ORDER BY dist DESC, vec_id ASC) = 1)
SELECT 0 AS seed_rank, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS sq_dist
UNION ALL SELECT 1, vec_id, CAST(dist AS BIGINT) FROM p1
UNION ALL SELECT 2, vec_id, CAST(dist AS BIGINT) FROM p2
UNION ALL SELECT 3, vec_id, CAST(dist AS BIGINT) FROM p3
""".strip(),
    tags=("clustering",),
)
def embedding_seed_farthest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) seeding — the deterministic
    k-means++ alternative used to initialize distributed clustering and
    to pick maximally-diverse exemplar documents: seed 0 is vector 0,
    each next seed is the vector maximizing its distance to the chosen
    set (min-distance column updated with a running `least`, ties to
    the lowest id).

    Scale: each expansion is one broadcast of the single new seed
    vector + one codegen min-update + one TakeOrdered(1) — the corpus
    is never re-shuffled, and the per-round eager checkpoint of the
    min-distance frame pins the cost at exactly k passes (the lazy
    unroll duplicated every earlier round's subtree into each argmax /
    seed broadcast — ~k² scans).  The argmax frame stays IN-PLAN
    (limit-1 frame joined back for the seed's vector, no driver
    collect).  Distances live on the ×10000 integer lattice (exactly
    kmeans' convention) — sums of integer squares are order-independent
    and engine-exact."""
    from mapreduce_framework_spark.operators.kmeans import _sq_l2, quantize

    vectors = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    seed0 = vectors.where(F.col("vec_id") == 0).select(F.col("qv").alias("sv"))
    # Each round's min-distance frame is materialized eagerly: the
    # fully-lazy unroll duplicated the scored_{r-1} subtree into every
    # later round's plan AND into each round's argmax/seed-vector
    # broadcast builds (~k² corpus scans at k=4); with a per-round
    # checkpoint the greedy expansion costs exactly k passes — the "one
    # cached scan" posture the scale note promises, with the argmax
    # still in-plan (no driver collect).
    scored = checkpoint(
        vectors.crossJoin(F.broadcast(seed0)).select(
            "vec_id", "qv", _sq_l2(F.col("qv"), F.col("sv")).alias("dist")
        )
    )
    out = [
        spark.range(1).select(
            F.lit(0).alias("seed_rank"),
            F.lit(0).cast("bigint").alias("vec_id"),
            F.lit(0).cast("bigint").alias("sq_dist"),
        )
    ]
    for rank in (1, 2, 3):
        best = scored.orderBy(F.desc("dist"), F.asc("vec_id")).limit(1)
        out.append(
            best.select(
                F.lit(rank).alias("seed_rank"),
                "vec_id",
                F.col("dist").alias("sq_dist"),
            )
        )
        seed_vec = (
            vectors.join(best.select("vec_id"), "vec_id")
            .select(F.col("qv").alias("sv"))
        )
        scored = checkpoint(
            scored.crossJoin(F.broadcast(seed_vec)).select(
                "vec_id",
                "qv",
                F.least(
                    F.col("dist"), _sq_l2(F.col("qv"), F.col("sv"))
                ).alias("dist"),
            )
        )
    res = out[0]
    for frame in out[1:]:
        res = res.unionByName(frame)
    return res


# Power iteration over the Gram matrix, all int64: the Gram cells are
# exact sums of lattice products, every normalization is a truncating
# integer division (Spark `div` == DuckDB `//`, both toward zero, incl.
# negatives), so two iterations produce bit-identical loadings in both
# engines.  MATERIALIZED where referenced more than once (the kcore
# oracle's inlining lesson).
_POWER_ITER_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT vec_id,
         unnest(list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(round(x * 100) AS BIGINT))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
g AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.val * b.val) AS BIGINT) AS g
  FROM e a JOIN e b USING (vec_id)
  GROUP BY 1, 2
),
cap AS (
  -- Adaptive normalization cap, same formula as power_rounds_frame:
  -- least(1000, 2^61 // (dim * max|G|)) — equal to the old constant
  -- 1000 at every test SF, overflow-safe past the old n≈1.4e10 cliff.
  SELECT CAST(least(1000, greatest(1,
           2305843009213693952 // (CAST(count(DISTINCT i) AS HUGEINT)
                                   * greatest(max(abs(g)), 1)))) AS BIGINT) AS b
  FROM g
),
w1 AS (SELECT i, CAST(SUM(g) AS BIGINT) AS w FROM g GROUP BY i),
s1 AS (SELECT max(abs(w)) // max(b) + 1 AS s FROM w1, cap),
v1 AS (SELECT i AS j, w // s AS v FROM w1, s1),
w2 AS (
  SELECT g.i, CAST(SUM(g.g * v1.v) AS BIGINT) AS w
  FROM g JOIN v1 USING (j) GROUP BY 1
),
s2 AS (SELECT max(abs(w)) // max(b) + 1 AS s FROM w2, cap),
v2 AS MATERIALIZED (SELECT i AS j, w // s AS v FROM w2, s2),
w3 AS (
  SELECT g.i, CAST(SUM(g.g * v2.v) AS BIGINT) AS w
  FROM g JOIN v2 USING (j) GROUP BY 1
),
ray AS (
  -- The PER-TERM product must be hugeint too: when the adaptive cap
  -- engages, |w| is bounded only by 2^61 and v*w can exceed int64 —
  -- a bigint product would raise exactly in the regime the cap
  -- exists for.  The SUM is then int128-exact, the decimal lane's
  -- mirror; cast AFTER the division.
  SELECT CAST(SUM(CAST(v2.v AS HUGEINT) * w3.w)
              // SUM(CAST(v2.v AS HUGEINT) * v2.v) AS BIGINT) AS lam
  FROM v2 JOIN w3 ON v2.j = w3.i
)
SELECT v2.j AS dim, v2.v AS loading, ray.lam AS rayleigh_lambda
FROM v2, ray
""".strip()


@register(
    "embedding_power_iteration",
    oracle=_POWER_ITER_ORACLE,
    tags=("embedding", "iterative", "linalg"),
    bench=True,
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by two power-
    iteration rounds over the Gram matrix — the PCA/spectral primitive
    (whitening, dim reduction, spectral diagnostics all start here),
    and the third iterative-algorithm class in the repo after fixpoint
    label propagation (components) and damped flow (PageRank): repeated
    matrix-vector multiplication with renormalization.

    Exactness: embeddings quantize to a 1e2 lattice, the Gram matrix
    G = XᵀX is an exact int64 outer-product aggregate, v₀ = 1,
    vₖ₊₁ = (G·vₖ) div (max|G·vₖ| div B + 1) — truncating division,
    identical toward-zero semantics in both engines.  The cap B is
    adaptive, B = least(1000, 2^61 div (dim·max|G|)), computed in-plan
    from G (power_rounds_frame derives the bound).  Output: the 64
    integer loadings plus the Rayleigh quotient λ = ⌊vᵀGv / vᵀv⌋ — all
    hash-checked, iteration included.

    Scale (100 TB): the ONLY corpus-sized work is building G, on the
    Arrow accumulator (gram_matrix_arrow below; measured 3.2× faster
    than the exploded posexplode+self-join at 2M vectors).  The power
    rounds run on the 4096-row G with the
    64-row v broadcast — free at any scale, and more rounds cost only
    64×64-sized joins (the same reason Spark's own SVD does XᵀX first).
    Convergence to the true top eigenvector is data-dependent (spectral
    gap); two fixed rounds keep the key deterministic — the production
    path iterates the same plan to tolerance."""
    vecs = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return power_iteration_frame(vecs)


def power_iteration_frame(vecs: DataFrame) -> DataFrame:
    """Two integer power-iteration rounds over the Gram matrix of a
    (vec_id, v array<double>) frame — reusable heart of
    embedding_power_iteration, shared with tools/scale_probe.py.

    G = XᵀX comes from ``gram_matrix_arrow`` (per-partition numpy int64
    accumulation, one dim² partial per Arrow batch; the 100 TB lane).
    It is bit-identical to ``gram_matrix_exploded``, the pure-Catalyst
    SQL-oracle mirror (pinned by tests/test_scale_operators.py::
    test_gram_arrow_equals_exploded), so everything downstream —
    normalization, mat-vec rounds, Rayleigh quotient — stays
    hash-checked against the exploded oracle."""
    return power_rounds_frame(gram_matrix_arrow(vecs))


def power_rounds_frame(gram: DataFrame, adaptive_cap: bool = True) -> DataFrame:
    """Two integer power rounds + Rayleigh quotient over an (i, j, g)
    int64 Gram frame.

    Normalization cap: each round renormalizes to |v| ≤ B where
    ``B = least(1000, greatest(1, 2^61 div (dim · max|G|)))`` computed
    IN-PLAN from G itself (one skinny agg, broadcast everywhere).  The
    mat-vec intermediate is then |Σⱼ G·v| ≤ dim·max|G|·B ≤ 2^61 < 2^63
    by construction at ANY corpus size; a constant 1000 overflows past
    n ≈ 1.4e10 vectors.  Below that point the adaptive term exceeds
    1000 (≥ 1e13 at the test SFs), so least() picks the constant and
    the constant-1000 DuckDB oracle matches.  The remaining boundary is
    the first round's un-normalizable v₀ = 1 (|G·1| ≤ dim·max|G|,
    int64-safe to n ≈ 1.4e13 vectors ≈ 3.5 PB fp32 at dim 64).
    ``adaptive_cap=False`` keeps the constant-1000 math; it exists so
    tests/test_scale_operators.py can demonstrate the overflow the
    adaptive cap removes (Spark 4 ANSI mode turns the wraparound into
    an explicit error)."""
    if adaptive_cap:
        # Materialize G once: the cap aggregate lives under a broadcast
        # exchange, which ReuseExchange does NOT dedupe against the
        # round subtrees — without this the corpus-sized Gram pass ran
        # twice (measured 2.0 s vs 1.35 s legacy at sf0.1; with the
        # checkpoint the plan pays one pass plus a dim²-row write).
        gram = checkpoint(gram)
        # The d·max|G| product is computed in decimal(38,0): at G's own
        # int64 limit (≈9e18) the bigint product d·gmax would itself
        # overflow before the div could shrink the cap.
        cap = gram.agg(
            F.countDistinct("i").alias("d"),
            F.max(F.abs(F.col("g"))).alias("gmax"),
        ).select(
            F.expr(
                f"least(cast(1000 as bigint), greatest(cast(1 as bigint), "
                f"cast(cast({2**61} as decimal(38,0)) div "
                f"(cast(d as decimal(38,0)) * greatest(gmax, 1)) as bigint)))"
            ).alias("b")
        )
    else:
        cap = gram.sparkSession.range(1).select(
            F.lit(1000).cast("bigint").alias("b")
        )

    def _mult(v: DataFrame) -> DataFrame:
        return (
            gram.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
        )

    def _normalize(w: DataFrame) -> DataFrame:
        s = (
            w.crossJoin(F.broadcast(cap))
            .agg((F.expr("max(abs(w)) div min(b)") + F.lit(1)).alias("s"))
        )
        return w.crossJoin(F.broadcast(s)).select(
            F.col("i").alias("j"), F.expr("w div s").alias("v")
        )

    w1 = gram.groupBy("i").agg(F.sum("g").alias("w"))  # G · 1
    v1 = _normalize(w1)
    v2 = _normalize(_mult(v1))
    w3 = _mult(v2)
    # Rayleigh quotient in decimal(38,0): the numerator's bound is
    # dim·B·max|w| ≤ dim·1000·2^61 ≈ 1.5e26 — exact in decimal128 but
    # past int64 whenever the cap engages (and latently so under the
    # old constant cap).  Mirrors the DuckDB oracle, whose bigint SUMs
    # are hugeint (int128) natively; `div` truncates toward zero in
    # both engines, decimals included.
    ray = (
        v2.join(w3, v2.j == w3.i)
        .agg(
            F.expr(
                "cast(sum(cast(v as decimal(38,0)) * w)"
                " div sum(cast(v as decimal(38,0)) * v) as bigint)"
            ).alias("lam"),
        )
    )
    return v2.crossJoin(F.broadcast(ray)).select(
        F.col("j").alias("dim"),
        F.col("v").alias("loading"),
        F.col("lam").alias("rayleigh_lambda"),
    )


def gram_matrix_exploded(vecs: DataFrame) -> DataFrame:
    """Exact int64 Gram matrix (i, j, g) of a (vec_id, v array<double>)
    frame via posexplode + self-join — the pure-Catalyst mirror of
    gram_matrix_arrow (hash-checkable against SQL, but pays a dim² row
    blowup per vector)."""
    e = vecs.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("v"), lambda x: F.round(x * 100).cast("bigint"))
        ).alias("pos", "val"),
    )
    a = e.select("vec_id", F.col("pos").alias("i"), F.col("val").alias("av"))
    b = e.select("vec_id", F.col("pos").alias("j"), F.col("val").alias("bv"))
    return (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("av") * F.col("bv")).alias("g"))
    )


def gram_matrix_arrow(vecs: DataFrame) -> DataFrame:
    """The Gram path embedding_power_iteration executes: Arrow-batched
    per-partition outer-product accumulation.  Each mapInPandas batch
    quantizes its vectors to the same int lattice and emits ONE dim×dim
    partial (4096 rows per
    BATCH, not per vector — the dim² row blowup the exploded path pays
    per row is paid once per ~10k-row Arrow batch); the final groupBy
    merges partials.  numpy's int64 matmul is exact, summation order
    never leaves integers, so the result is bit-identical to
    gram_matrix_exploded — pinned by
    tests/test_scale_operators.py::test_gram_arrow_equals_exploded.
    This is the documented exception lane: the built-in expression of
    X^T X exists (above) but materializes an n×dim² exploded
    intermediate that goes super-linear once it stops fitting —
    measured (local[32], dim=64): parity at 500k vectors (8.6 s vs
    7.1 s), 3.2× at 2M (59.6 s vs 18.6 s, exploded turning super-
    linear while the accumulator stays ~linear).  Same plan shape
    either way: partial per partition → one skinny dim² merge
    shuffle."""
    import pandas as pd

    def acc(batches):
        import numpy as np

        total = None  # dim inferred from the first non-empty batch
        for pdf in batches:
            if not len(pdf):
                continue
            # Quantize HALF-AWAY-FROM-ZERO to match F.round / SQL round
            # (np.rint rounds half-to-even, which would silently diverge
            # from the Catalyst and oracle lanes on values whose x*100
            # lands on .5).  PRECONDITION: the
            # floor(abs+0.5) emulation matches F.round only for inputs
            # already on (or near) the 1e-2 lattice this repo's
            # embeddings use — for arbitrary doubles the abs(x)+0.5
            # float64 add can round up below .5 (e.g. x=0.49999999999999994
            # → 1 here vs 0 from F.round), so do NOT feed this helper
            # unquantized vectors and expect bit-parity.  float64 matmul
            # ON PURPOSE: BLAS-backed (int64 matmul is naive loops), and
            # exact here — entries are |val| <= 100 lattice ints, so
            # every product is <= 1e4 and a batch's accumulated cell sum
            # stays far below 2^53; the int64 round-trip per batch keeps
            # the running total integer.
            X0 = np.stack(pdf["v"].values) * 100
            X = np.sign(X0) * np.floor(np.abs(X0) + 0.5)
            if total is None:
                total = np.zeros((X.shape[1], X.shape[1]), dtype=np.int64)
            total += (X.T @ X).astype(np.int64)
        if total is not None:
            dim = total.shape[0]
            i, j = np.indices((dim, dim))
            yield pd.DataFrame(
                {"i": i.ravel(), "j": j.ravel(), "g": total.ravel()}
            )

    partials = vecs.select("v").mapInPandas(acc, "i int, j int, g long")
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))
