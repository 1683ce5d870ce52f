"""Approximate nearest-neighbor search over an embedding column.

Every frame here has ``vec_id`` and, for float vectors, ``v``
(array<double>); a query is a broadcast 1-row frame with ``qv``, so
each tier stays one declarative plan with no driver-side collect.
Five tiers, each ranked with a deterministic tie-break so a SQL oracle
replays it exactly:

- exact: ``brute_force_topk`` (cosine against every vector, the
  correctness baseline) and ``topk_per_query`` (the same for a query
  set, one rank window per query);
- IVF: ``assign_cells`` puts each vector in its max-cosine centroid
  cell, ``probe_cells`` picks the ``n_probe`` cells nearest the query,
  and the exact tail ranks only their members.  ``persist_cell_index``
  partitions the assignment by cell_id, so a probe prunes whole
  directories;
- int8: ``int8_quantize`` + ``quantized_topk``, an exact integer dot
  product rescaled by two per-vector factors;
- LSH: ``hyperplane_buckets`` signs integer projections into
  (tbl, bucket) rows; ``lsh_topk`` re-ranks the Hamming-ball
  candidates exactly;
- PQ: ``pq_build`` trains and encodes product-quantization codes on
  the integer lattice, ``pq_adc_topk`` ranks codes by ADC,
  ``persist_pq_index``/``probe_pq_index`` serve the same from parquet.
  IVF-PQ is ``probe_pq_index`` over the codes of the probed cells.

Three nearest-centroid assignments are kept apart on purpose:
``assign_cells`` (cosine on doubles, ``max_by``), ``kmeans.assign``
(exact integer L2 over whole vectors) and ``pq_encode`` (integer L2 per
subspace).  Each one is replayed by a different oracle — a
``list_cosine_similarity`` ranking, a whole-vector integer distance and
a per-(vector, subspace) distance, each with its own tie-break — so
merging any two would change the metric or the tie-break an oracle
replays, and with it the result hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.functions.vector import cosine
from mapreduce_framework_spark.operators.kmeans import LATTICE_SCALE
from mapreduce_framework_spark.operators.materialize import checkpoint


def brute_force_topk(vectors: DataFrame, query: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by rounded cosine with vec_id tie-break: one scan
    against the broadcast query, then TakeOrderedAndProject."""
    cos = F.round(cosine(F.col("v"), F.col("qv")), 6)
    return (
        vectors.crossJoin(F.broadcast(query))
        .select(F.col("vec_id"), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """Exact top-k for each query of a set: ``pairs`` carries
    (query_id, qv) next to candidate (vec_id, v) rows.  A query never
    returns itself; the per-query rank is a window over skinny
    (query_id, vec_id, cos_sim) rows, so the only shuffle never carries
    a vector."""
    scored = pairs.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid (broadcast join +
    max_by).  ``centroids``: (cell_id, cv array<double>)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col("vec_id"),
        F.col("v"),
        F.col("cell_id"),
        cosine(F.col("v"), F.col("cv")).alias("_cs"),
    )
    # max_by with (score, cell_id) pair → deterministic on score ties.
    return scored.groupBy("vec_id").agg(
        F.max_by(F.struct("cell_id", "v"), F.struct(F.col("_cs"), (-F.col("cell_id")).alias("tb"))).alias("best")
    ).select("vec_id", F.col("best.cell_id").alias("cell_id"), F.col("best.v").alias("v"))


def probe_cells(centroids: DataFrame, query: DataFrame, n_probe: int) -> DataFrame:
    """The ``n_probe`` cell ids nearest the query by cosine, lowest
    cell_id on ties — computed in-plan, so a join against a
    cell-partitioned index prunes by dynamic partition pruning."""
    return (
        centroids.crossJoin(F.broadcast(query))
        .select("cell_id", cosine(F.col("cv"), F.col("qv")).alias("_cs"))
        .orderBy(F.desc("_cs"), F.asc("cell_id"))
        .limit(n_probe)
        .select("cell_id")
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """Probe the ``n_probe`` centroids nearest the query, exact-search
    only their cells."""
    return probe_cell_index(
        assign_cells(vectors, centroids), query, centroids, k=k, n_probe=n_probe
    )


def ivf_topk_batch(
    vectors: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """Per-query IVF top-k for a whole query SET in one plan.
    ``queries``: (query_id, qv) rows.  Cell assignment runs once for all
    queries, each query probes only its ``n_probe`` nearest cells (probe
    rows carry the query vector, so scoring needs no second query
    join).  With the assignment partitioned by cell_id the probe join
    prunes whole files per query, so the scan cost is Σ_q probed-cell
    volume."""
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id", "qv", "cell_id", cosine(F.col("qv"), F.col("cv")).alias("_cs")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_cs"), F.asc("cell_id"))
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "cell_id")
    )
    assigned = assign_cells(vectors, centroids)
    return topk_per_query(assigned.join(F.broadcast(probes), "cell_id"), k)


def persist_cell_index(vectors: DataFrame, centroids: DataFrame, path: str) -> DataFrame:
    """Materialize the IVF assignment partitioned by cell_id: a probe of
    n_probe cells reads exactly those partition directories
    (PartitionFilters and the executed scan's numFiles are pinned in
    tests/test_plans.py), so per-query scan cost is the probed cells'
    volume, independent of corpus size.  New vectors append into their
    cell's directory; a centroid refresh is a rare offline rewrite."""
    assign_cells(vectors, centroids).write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(path)
    return vectors.sparkSession.read.parquet(path)


def probe_cell_index(
    index: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """Exact top-k over the members of the ``n_probe`` cells nearest the
    query.  ``index`` is any (vec_id, v, cell_id) assignment: in-plan
    from ``assign_cells`` or a persisted cell index, where only the
    matching cell partitions are scanned."""
    pruned = index.join(F.broadcast(probe_cells(centroids, query, n_probe)), "cell_id")
    return brute_force_topk(pruned, query, k=k)


def int8_quantize(vectors: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127 / max|v|,
    codes = round(v·scale) ∈ [-127, 127].

    int8 cuts embedding storage and scan bytes 4× vs float32 (8× vs
    double), and the quantized dot product is INTEGER arithmetic —
    exact, order-independent and cross-engine reproducible (a float
    dot's value depends on summation order).  Codes are kept as
    integer-valued doubles so the array fold reuses them without casts.
    Returns (vec_id, qv, scale)."""
    staged = vectors.select(
        F.col("vec_id"),
        F.col("v"),
        (
            F.lit(127.0)
            / F.greatest(
                F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))),
                F.lit(1e-12),
            )
        ).alias("scale"),
    )
    return staged.select(
        F.col("vec_id"),
        F.transform(F.col("v"), lambda x: F.round(x * F.col("scale"))).alias("qv"),
        "scale",
    )


def quantized_topk(vectors: DataFrame, query: DataFrame, k: int = 10) -> DataFrame:
    """Top-k by rescaled quantized dot product.  ``vectors``/(1-row)
    ``query`` are int8_quantize() outputs (query columns: query_qv,
    query_scale).  The integer dot is exact; the only float ops are the
    two scale factors — rounded to 6 for cross-engine hashing."""
    from mapreduce_framework_spark.functions.vector import dot

    approx = F.round(
        dot(F.col("qv"), F.col("query_qv"))
        / (F.col("scale") * F.col("query_scale")),
        6,
    )
    return (
        vectors.crossJoin(F.broadcast(query))
        .select(F.col("vec_id"), approx.alias("approx_dot"))
        .orderBy(F.desc("approx_dot"), F.asc("vec_id"))
        .limit(k)
    )


# Target vectors per LSH bucket (see ``occupancy_planes``).
_TARGET_OCCUPANCY = 64


def occupancy_planes(n_vectors: int) -> int:
    """Plane count for ~``_TARGET_OCCUPANCY`` vectors per bucket:
    smallest np ≥ 8 with 2^np ≥ n / target — i.e. the per-table bucket
    count GROWS with the corpus so candidate-set size (≈ ball_volume ·
    occupancy) stays bounded instead of growing linearly (a fixed 8
    planes grew the candidate set 5.8× for a 10× corpus).  Pure integer
    arithmetic ((n−1).bit_length(), no libm log2) so the DuckDB
    oracle's ``length(bin(n−1))`` reproduces it bit-exactly at any n."""
    return max(8, (n_vectors - 1).bit_length() - (_TARGET_OCCUPANCY.bit_length() - 1))


def hyperplane_buckets(
    vectors: DataFrame, n_tables: int = 4, n_planes: int = 8
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) LSH signatures:
    ``n_tables`` independent hash tables of ``n_planes`` sign bits each
    → one (vec_id, tbl, bucket) row per table per vector.

    Determinism is the design center: hyperplane component signs come
    from an LCG parity on the (plane, dim) index and vector components
    are quantized to integers (round(x·1000)) before the signed sum, so
    the projection is INTEGER arithmetic — exact, order-independent,
    and bit-identical across engines (a float projection's sign near 0
    depends on summation order).

    At scale the bucket index is written partitioned by (tbl, bucket)
    (``persist_bucket_index``) so a probe prunes entire files; new
    vectors append to the index.

    EXPLODE + codegen'd conditional SUMs, not array HOFs: one
    `aggregate(zip_with(...))` fold per plane is interpreted per
    element with boxing, and with occupancy-derived plane counts the
    projection pass became the whole operator's cost (measured 181 s of
    a 188 s run at 500 k × 52 planes).  Exploded, all planes are
    `SUM(CASE sign(p,d) THEN xi ELSE -xi END)` columns inside ONE
    whole-stage-codegen HashAggregate — the LCG parity compiles to two
    shifts and a mask — and map-side partial aggregation keeps the
    shuffle at one row per vector.  Same 52-plane run: 5.6 s."""
    planes = n_tables * n_planes

    ex = (
        vectors.select(
            F.col("vec_id"),
            # stride = max(64, dim): data-derived, so plane sign
            # patterns stay disjoint for ANY input dimension (identical
            # to the historical literal 64 whenever dim ≤ 64; the
            # sim_search_lsh oracle mirrors this same greatest(64, len)
            # stride, so the engines agree at every dimension).
            F.greatest(F.lit(64), F.size("v")).alias("_stride"),
            F.posexplode_outer(F.col("v")).alias("_d", "_x"),
        )
        .where(F.col("_d").isNotNull())
        .select(
            "vec_id",
            "_stride",
            "_d",
            F.round(F.col("_x") * 1000).cast("bigint").alias("_xi"),
        )
    )

    def _signed(p: int):
        # LCG parity on idx = p*stride + d decides the hyperplane
        # component sign; bit ops (shiftright/AND) — the LCG value is
        # always positive, so shiftright == DIV 65536 == the historical
        # fold's arithmetic exactly.
        idx = F.lit(p) * F.col("_stride") + F.col("_d")
        lcg = F.lit(1103515245).cast("bigint") * idx + F.lit(12345)
        even = F.shiftright(lcg, 16).bitwiseAND(F.lit(1)) == 0
        return F.sum(F.when(even, F.col("_xi")).otherwise(-F.col("_xi")))

    sig = ex.groupBy("vec_id").agg(
        *[(_signed(p) > 0).cast("int").alias(f"_b{p}") for p in range(planes)]
    )
    buckets = [
        sum(
            (F.col(f"_b{t * n_planes + j}") * F.lit(1 << j))
            for j in range(n_planes)
        ).alias(f"_t{t}")
        for t in range(n_tables)
    ]
    wide = sig.select(F.col("vec_id"), *buckets)
    tbl_structs = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), F.col(f"_t{t}").alias("bucket"))
            for t in range(n_tables)
        ]
    )
    return wide.select(
        F.col("vec_id"), F.explode(tbl_structs).alias("tb")
    ).select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))


def hamming_ball(bucket: int, n_planes: int, radius: int) -> list[int]:
    """All bucket codes within ``radius`` bit flips of ``bucket`` over
    an ``n_planes``-bit code — the multi-probe ball, enumerated
    driver-side (ball volume is 1 + np + C(np,2) + … — tiny; np ≤ ~20
    even at 10^9 vectors under occupancy derivation)."""
    seen = {bucket}
    frontier = {bucket}
    for _ in range(radius):
        nxt = set()
        for b in frontier:
            for j in range(n_planes):
                nxt.add(b ^ (1 << j))
        frontier = nxt - seen
        seen |= frontier
    return sorted(seen)


def persist_bucket_index(
    vectors: DataFrame, path: str, n_tables: int, n_planes: int
) -> DataFrame:
    """Materialize the LSH bucket index partitioned by (tbl, bucket).
    A multi-probe lookup against the returned frame prunes to
    ~n_tables · ball_volume partition directories (PartitionFilters in
    the scan, pinned in tests/test_plans.py with an inputFiles()
    count), so probe I/O is independent of corpus size.  Maintenance is
    append-only: new vectors' (tbl, bucket) rows land in existing
    directories."""
    hyperplane_buckets(vectors, n_tables, n_planes).write.mode(
        "overwrite"
    ).partitionBy("tbl", "bucket").parquet(path)
    return vectors.sparkSession.read.parquet(path)


def probe_bucket_index(
    index: DataFrame,
    query_buckets: list[tuple[int, int]],
    n_planes: int = 8,
    hamming_radius: int = 2,
) -> DataFrame:
    """Candidate ids from a persisted bucket index: ``query_buckets``
    is the serving layer's [(tbl, bucket)] signature of ONE query
    (computed locally — signing one vector is driver-side arithmetic,
    not a cluster job).  The ball for each table is enumerated
    driver-side and expressed as partition-column predicates, so the
    scan reads only matching partition directories; the returned frame
    is the pruned candidate id set to re-rank exactly."""
    if not query_buckets:
        raise ValueError(
            "query_buckets must be non-empty: pass the [(tbl, bucket)] "
            "signature of the query vector (one entry per LSH table)"
        )
    cond = None
    for tbl, qb in query_buckets:
        c = (F.col("tbl") == tbl) & F.col("bucket").isin(
            hamming_ball(qb, n_planes, hamming_radius)
        )
        cond = c if cond is None else (cond | c)
    return index.where(cond).select("vec_id").distinct()


def lsh_topk(
    vectors: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_tables: int = 4,
    n_planes: int | None = None,
    hamming_radius: int = 2,
    n_vectors: int | None = None,
) -> DataFrame:
    """Multi-probe hyperplane-LSH top-k: candidates are vectors whose
    bucket is within ``hamming_radius`` bits of the query's bucket in
    ANY table (multi-probe widens recall without growing the index —
    Lv et al., VLDB'07 shape); exact cosine re-ranks candidates only.

    ``n_planes=None`` (default) derives the plane count from the corpus
    size via :func:`occupancy_planes` — per-bucket occupancy is pinned
    at ~64 vectors, so the radius-2 candidate set is bounded by
    ~n_tables · (1 + np + C(np,2)) · 64 rows and grows only
    POLY-LOGARITHMICALLY with the corpus instead of linearly (5.8×
    candidates for a 10× corpus at fixed planes, ~1× derived).  The
    corpus count is one metadata-cheap action (parquet footers at
    scale); at all verification SFs (≤ 2 000 vectors) the derived count
    is 8.  Recall accounting for the growing plane count is in SCALE.md
    §LSH.

    Callers that already know the corpus size (scale probes, serving
    layers with catalog statistics) should pass ``n_vectors`` so the
    derivation stays lazy: without the hint, deriving the plane count
    runs one eager ``vectors.count()`` — a hidden extra job that
    re-executes the full upstream lineage when ``vectors`` is an
    unpersisted derived frame (persist the input first in that case).
    The hint must be the EXACT row count, not an estimate: the plane
    count derives from it via ``occupancy_planes``, so a stale catalog
    figure whose ``(n-1).bit_length()`` differs silently changes
    bucketing — and therefore which top-k survives the candidate cut —
    versus an oracle that derives planes from the true count.  Set
    ``MFS_VERIFY_LSH_HINT=1`` to cross-check the hint against a real
    count (debug-only: it is exactly the eager job the hint avoids)."""
    if n_planes is None:
        if n_vectors is not None:
            import os

            if os.environ.get("MFS_VERIFY_LSH_HINT") == "1":
                true_planes = occupancy_planes(vectors.count())
                if occupancy_planes(n_vectors) != true_planes:
                    raise ValueError(
                        f"n_vectors hint {n_vectors} derives "
                        f"{occupancy_planes(n_vectors)} planes but the true "
                        f"corpus count derives {true_planes} — stale hint"
                    )
        n_planes = occupancy_planes(
            n_vectors if n_vectors is not None else vectors.count()
        )
    buckets = hyperplane_buckets(vectors, n_tables, n_planes)
    qb = buckets.where(F.col("vec_id") == query_id).select(
        "tbl", F.col("bucket").alias("qbucket")
    )
    cand = (
        buckets.where(F.col("vec_id") != query_id)
        .join(F.broadcast(qb), "tbl")
        .where(
            F.bit_count(
                F.col("bucket").bitwiseXOR(F.col("qbucket")).cast("bigint")
            )
            <= hamming_radius
        )
        .select("vec_id")
        .distinct()
    )
    query = vectors.where(F.col("vec_id") == query_id).select(F.col("v").alias("qv"))
    # Candidate ids are the PRUNED set (a bounded fraction of the
    # corpus) — broadcast the semi join so the vector table is never
    # re-shuffled just to be filtered.  Past the broadcast threshold
    # Spark falls back to a shuffle join on the skinny id column.
    pruned = vectors.join(F.broadcast(cand), "vec_id", "left_semi")
    return brute_force_topk(pruned, query, k=k)


# --- Product quantization (PQ) -------------------------------------------
#
# The vector-store compression tier BELOW int8: the vector splits into M
# contiguous subvectors, each subspace learns a tiny codebook (k-means on
# the subspace), and a vector is stored as M small code ids — here 4
# codes for a 64-dim embedding, vs 64 floats (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011).  Search is
# ADC (asymmetric distance computation): the query precomputes a
# (subspace, code) → partial-dot lookup table against the codebook, and
# a corpus vector's approximate dot is the sum of M table lookups — no
# float vector is ever touched at scan time.  Everything below runs on
# the exact integer lattice (operators/kmeans.py's quantize), so
# training, encoding, the LUT, and the ADC scores are bit-reproducible
# and hash-checkable against a SQL oracle.

PQ_SUB = 4  # subspaces M per vector
PQ_SUB_DIM = 16  # dimensions per subspace
PQ_SEEDS = 8  # codewords K per subspace
# The lattice dot of two kmeans.quantize vectors carries the scale twice.
_SCALE_SQ = float(LATTICE_SCALE * LATTICE_SCALE)
# Version of the layout persist_pq_index writes.  Cache keys for a
# persisted index carry it: bump it whenever the index-writing code
# changes, so an index built by older code is never served.
PQ_INDEX_VERSION = 2


def pq_subvectors(qvecs: DataFrame) -> DataFrame:
    """(vec_id, v[bigint dim]) → exploded (vec_id, m, sp, val) rows:
    subspace m covers positions [m*PQ_SUB_DIM, (m+1)*PQ_SUB_DIM).

    Validates dim == PQ_SUB*PQ_SUB_DIM in-plan: a vector of any other
    length raises at execution via raise_error (instead of silently
    producing a ragged subspace), keeping the check JVM-side and
    codegen-friendly instead of a driver collect."""
    dim = PQ_SUB * PQ_SUB_DIM
    checked = qvecs.select(
        F.col("vec_id"),
        F.when(F.size("v") == dim, F.col("v")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"pq_subvectors: expected dim {dim} "
                        f"({PQ_SUB}x{PQ_SUB_DIM}), got "
                    ),
                    F.size("v").cast("string"),
                )
            )
        ).alias("v"),
    )
    return checked.select(
        F.col("vec_id"), F.posexplode("v").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") / PQ_SUB_DIM).cast("int").alias("m"),
        (F.col("pos") % PQ_SUB_DIM).alias("sp"),
        "val",
    )


def pq_train(sub: DataFrame) -> DataFrame:
    """One exact integer Lloyd round per subspace: seeds = the
    ``PQ_SEEDS`` SMALLEST OBSERVED vector ids' subvectors (code = rank
    of the id among the seeds, 0-based, so ids need not be dense from
    0), ``pq_encode`` against the seeds assigns every subvector to its
    nearest seed (ties to the lower code), and the codebook is the
    truncating integer mean per (m, code, sp).  Returns the exploded
    codebook (m, code, sp, cval) — M×K×sub_dim skinny rows, always
    broadcastable.  The seed pick is a distributed sort-limit on
    distinct ids; the rank window runs over the ≤PQ_SEEDS surviving
    rows only."""
    seed_ids = (
        sub.select("vec_id").distinct().orderBy("vec_id").limit(PQ_SEEDS)
    ).withColumn(
        "code", (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int")
    )
    seeds = sub.join(F.broadcast(seed_ids), "vec_id").select(
        F.col("m"),
        F.col("sp"),
        F.col("code"),
        F.col("val").alias("cval"),
    )
    codebook = (
        pq_encode(sub, seeds)
        .join(sub, ["vec_id", "m"])
        .groupBy("m", "code", "sp")
        .agg(F.expr("sum(val) div count(*)").alias("cval"))
    )
    # The codebook is hundreds of rows, but its lazy plan embeds three
    # passes over the corpus-sized ``sub``, and every caller consumes it
    # at least twice (pq_encode's broadcast + the ADC LUT, or the index
    # write + the codebook sidecar write).  One eager checkpoint
    # runs training once: ~3 corpus scans per build instead of ~5.
    return checkpoint(codebook)


def pq_encode(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-codeword id per (vector, subspace) — the stored PQ code.
    Broadcast codebook (m, code, sp, cval); distances and the argmin
    tie-break (dist, code) are exact integers."""
    d = (
        sub.join(F.broadcast(codebook), ["m", "sp"])
        .groupBy("vec_id", "m", "code")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("dist")
        )
    )
    return (
        d.groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "code")).alias("b"))
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )


def pq_build(qvecs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train and encode a PQ index over the lattice ``qvecs``
    (vec_id, v array<bigint>).  Returns (sub, codebook, codes): the
    exploded subvectors (also the source of a query's subvectors), the
    codebook and the tall (vec_id, m, code) codes.

    ``sub`` is checkpointed eagerly: training walks it four times (seed
    pick, seed join, assignment, codebook mean) and encoding once more;
    lazily each walk re-ran the embedding scan and the explode."""
    sub = checkpoint(pq_subvectors(qvecs))
    codebook = pq_train(sub)
    return sub, codebook, pq_encode(sub, codebook)


def pq_adc_topk(
    codes: DataFrame, codebook: DataFrame, query_sub: DataFrame, k: int
) -> DataFrame:
    """ADC top-k over tall (vec_id, m, code) codes: LUT[(m, code)] =
    Σ_sp qval·cval (M×K rows), a vector's approximate dot =
    Σ_m LUT[code(v, m)], ranked by the exact integer score with vec_id
    tie-break.  ``query_sub`` is (m, sp, qval); the score is divided by
    the lattice scale squared for display only."""
    lut = (
        codebook.join(F.broadcast(query_sub), ["m", "sp"])
        .groupBy("m", "code")
        .agg(F.sum(F.col("qval") * F.col("cval")).alias("dot"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("dot").alias("adc"))
    )
    return (
        adc.orderBy(F.desc("adc"), F.asc("vec_id"))
        .limit(k)
        .select(
            "vec_id",
            F.round(F.col("adc") / F.lit(_SCALE_SQ), 6).alias("approx_dot"),
        )
    )


def persist_pq_index(
    qvecs: DataFrame, path: str, cells: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Write-once/probe-many PQ serving layout: build the index and
    materialize

    - ``path/codes`` — one row per vector, codes WIDE (vec_id,
      c0..c{M-1}), so the corpus-sized table stores M small ints per
      vector (the 64× scan-byte cut made durable).  Without ``cells``
      it is partitioned by the leading code c0, spreading appends over
      K directories.  With ``cells`` (vec_id, cell_id), the IVF
      assignment, only the assigned vectors are kept and the table is
      partitioned by cell_id: a probe then opens n_probe/n_cells of the
      files and reads M small ints per surviving row — the FAISS-IVFPQ
      shape as a parquet layout;
    - ``path/codebook`` — the exploded (m, code, sp, cval) codebook
      sidecar, M×K×sub_dim rows, always broadcastable.

    Returns (codes, codebook) read back from disk, so probes run
    against the persisted layout.  New vectors encode against the
    frozen sidecar and append into their directory; codebook and
    centroid refresh is the rare offline rewrite."""
    _, codebook, codes = pq_build(qvecs)
    wide = (
        codes.groupBy("vec_id")
        .pivot("m", list(range(PQ_SUB)))
        .agg(F.first("code"))
        .select("vec_id", *[F.col(str(m)).alias(f"c{m}") for m in range(PQ_SUB)])
    )
    if cells is not None:
        wide = wide.join(cells, "vec_id")
    wide.write.mode("overwrite").partitionBy(
        "c0" if cells is None else "cell_id"
    ).parquet(f"{path}/codes")
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    return read_pq_index(qvecs.sparkSession, path)


def read_pq_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook) of the index ``persist_pq_index`` wrote at
    ``path``.  Each read costs one footer-reading job."""
    return (
        spark.read.parquet(f"{path}/codes"),
        spark.read.parquet(f"{path}/codebook"),
    )


def probe_pq_index(
    codes: DataFrame, codebook: DataFrame, query_sub: DataFrame, k: int
) -> DataFrame:
    """ADC top-k against persisted wide codes: the M code columns
    unpivot in-plan (posexplode — pure codegen, no shuffle before the
    per-vector sum) into ``pq_adc_topk``.  The probe plan reads code
    columns only, never a float vector (pinned by tests/test_plans.py).
    For IVF-PQ, pass the codes joined with the broadcast
    ``probe_cells``: the cell pruning then reaches the code scan as
    dynamic partition pruning."""
    tall = codes.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"c{m}") for m in range(PQ_SUB)])).alias(
            "m", "code"
        ),
    )
    return pq_adc_topk(tall, codebook, query_sub, k)
