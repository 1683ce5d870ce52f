"""Iterative graph dataflow: PageRank over the customer–supplier graph.

The reference's design doc mandates closure under chaining
(w6/docs/design.md:74) — iterative algorithms are "chain the same
MapReduce N times".  dedup_clusters (operators/components.py) shows
label propagation; this module shows the other canonical iterative
shape, a WEIGHTED numeric fixed-point, as N unrolled join+aggregate
rounds.

Determinism across engines and partitionings comes from integer
arithmetic: ranks live in integer "rank units" (1e6 per node), each
round is ``new = 150000 + floor(0.85 * Σ floor(rank/degree))`` — no
floating-point accumulation anywhere, so the result is bit-identical
regardless of aggregation order.  (All intermediates stay < 2^53, so
even the double divisions are exact-floor; see the docstring.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.operators.materialize import checkpoint, iterate
from mapreduce_framework_spark.registry import register

_N_ITER = 3
_N_DEEP = 10


def _pr_oracle(n_iter: int) -> str:
    """Unrolled oracle for n_iter rounds: r0 → c1/r1 → … → cN/rN.
    The SAME generator serves the shallow (N=3) and deep (N=10) keys,
    so the two can't silently diverge."""
    steps = "".join(
        f""",
c{i} AS (
  SELECT e.dst AS node,
         SUM(CAST(floor(r.rank / d.deg) AS BIGINT)) AS s
  FROM edges e
  JOIN r{i - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT node, CAST(150000 + floor(85 * s / 100) AS BIGINT) AS rank FROM c{i}
)"""
        for i in range(1, n_iter + 1)
    )
    return f"""
WITH edges0 AS (
  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM edges0
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges0
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg){steps}
SELECT node, rank FROM r{n_iter}
""".strip()


_PR_ORACLE = _pr_oracle(_N_ITER)


def pagerank(
    edges: DataFrame,
    rounds: int = 3,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Integer-unit PageRank over an (src, dst) edge frame: rank₀ =
    1e6 per node, each round ``new = 150000 + floor(0.85 · Σ
    floor(rank/degree))`` — pure int math, so the fixed point is
    engine- and partitioning-independent (see graph_pagerank below).

    ``checkpoint_every=None`` (default) unrolls all rounds into ONE
    lazy job — ReuseExchange computes the edge subtree once, and for
    shallow fixed-round runs this measured FASTER than eager
    checkpointing (3.7 s lazy vs 4.5 s checkpointed at 3 rounds,
    sf0.1).  But the unrolled plan doubles in depth every round, so for
    N ≳ 5 pass ``checkpoint_every=k``: the rounds then run on
    :func:`~mapreduce_framework_spark.operators.materialize.iterate`
    with the edge-with-degree frame pinned and a final checkpoint.
    Bit-identical results either way (N-curves in SCALE.md
    §Iterative)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # In checkpoint mode every per-round join is pinned to shuffle-hash.
    # Scale-honest: deg and ranks are node-sized — the same magnitude as
    # the frontier — so at 100 TB neither side broadcasts anyway; and in
    # local/driver-constrained sessions each eager checkpoint job would
    # otherwise BUILD a fresh driver-side broadcast per cadence, which is
    # what OOMed a long 167-key sf0.1 sweep (broadcast build needs free
    # driver storage memory the shared session no longer had).  The
    # shallow lazy path keeps Catalyst/AQE's free choice.
    def hint(df: DataFrame) -> DataFrame:
        return df.hint("shuffle_hash") if checkpoint_every else df

    # No repartition("src") before pinning: A/B'd at parity (6.72 vs
    # 6.76 s min-of-3 at N=10/sf0.1) — the shuffle-hash join's output
    # partitioning on src is already what every round's join needs.
    edges_deg = edges.join(hint(deg), "src")
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1_000_000).cast("bigint").alias("rank")
    )

    def damped_round(ranks: DataFrame, _pinned: DataFrame | None) -> DataFrame:
        rhs = hint(ranks)
        contrib = edges_deg.join(rhs, edges_deg.src == rhs.node).select(
            "dst",
            F.floor(F.col("rank") / F.col("deg")).cast("bigint").alias("c"),
        )
        return (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150000) + F.floor(F.lit(85) * F.col("s") / F.lit(100)))
                .cast("bigint")
                .alias("rank"),
            )
        )

    return iterate(
        ranks,
        damped_round,
        rounds,
        pinned=edges_deg if checkpoint_every else None,
        checkpoint_every=checkpoint_every,
        final_checkpoint=bool(checkpoint_every),
    )


@register("graph_pagerank", oracle=_PR_ORACLE, tags=("graph", "iterative"), bench=True)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_N_ITER} rounds, damping 0.85) over the undirected
    customer–supplier transaction graph (distinct pairs from
    orders⋈lineitem; node ids disambiguated as 2k / 2k+1).

    Integer-unit ranks make the fixed point engine- and
    partitioning-independent: per-edge contribution is
    ``floor(rank/degree)`` (exact: both operands < 2^53, and floor of
    an IEEE quotient equals the true floor whenever the quotient isn't
    exactly representable-adjacent, which int64/int64 < 2^53 guarantees),
    and the damped update is pure int math.  Each round is one
    shuffle-join on ``src`` plus one aggregation on ``dst`` over the
    edges-with-degrees frame, exactly like the reference would chain N
    MapReduce jobs (design.md:74).  At N=3 the rounds run fully lazy, as
    ONE job (see :func:`pagerank`)."""
    return pagerank(
        _customer_supplier_edges(spark, sf_dir), rounds=_N_ITER, checkpoint_every=None
    )


def _customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer–supplier transaction graph (distinct pairs
    from orders⋈lineitem; node ids disambiguated as 2k / 2k+1) — shared
    by the shallow and deep PageRank keys."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .distinct()
    )
    return edges0.unionByName(
        edges0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


@register(
    "graph_pagerank_deep",
    oracle=_pr_oracle(_N_DEEP),
    tags=("graph", "iterative"),
    bench=True,
)
def graph_pagerank_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank at depth (10 rounds, damping 0.85) over the same graph
    as graph_pagerank — the key whose EXECUTION path is the lineage-
    truncated one: ``checkpoint_every=2`` checkpoints the rank
    frame every 2 rounds, so the plan the optimizer sees stays 2 rounds
    deep no matter how far the iteration runs.  Cadence 2 was chosen
    by measurement (5.45 s vs 6.54/8.41 s for k=3/5 at sf0.1; the
    curves are in SCALE.md §Iterative).  Results are bit-identical to
    the fully-lazy unroll (tests/test_scale_operators.py::
    test_pagerank_checkpoint_cadence_identical)."""
    return pagerank(
        _customer_supplier_edges(spark, sf_dir), rounds=_N_DEEP, checkpoint_every=2
    )


@register(
    "graph_triangle_knn",
    oracle="""
WITH co AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
         count(DISTINCT a.l_orderkey) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY 1, 2
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           row_number() OVER (PARTITION BY s1 ORDER BY w DESC, s2 ASC) AS rn
    FROM co
  ) WHERE rn <= 5
),
edges AS (
  SELECT least(s1, s2) AS u, greatest(s1, s2) AS v FROM knn GROUP BY 1, 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
)
SELECT node, count(*) AS n_triangles
FROM (SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY node
""".strip(),
    tags=("graph",),
)
def graph_triangle_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbor graph construction + per-node triangle counting —
    the similarity-graph analytics pair: each supplier keeps its 5
    strongest co-supply partners (co-occurrence weight = distinct shared
    orders, ties to the lower partner key), edges are canonicalized
    undirected, and triangles are enumerated with the ordered (a<b<c)
    convention so each is found exactly once.

    Why top-k and not a weight threshold: co-occurrence density falls
    as 1/|suppliers| with scale, so any fixed threshold yields a
    complete graph at one SF and an empty one at another; a per-node
    top-k graph has ~k·n edges at EVERY scale — the same reason ANN
    pipelines build kNN graphs rather than ε-graphs.

    Scale: the co-occurrence self-join is co-partitioned on the order
    key (one shuffle); the kNN cut is a bounded window per node; the
    triangle join runs on the k·n-edge skinny table, and the ordered
    convention is the degree-orientation trick's fixed-order special
    case — for graphs WITHOUT a degree bound use
    ``triangle_knn_frame(..., orientation="degree")`` below (Suri &
    Vassilvitskii WWW'11; bit-identical counts, measured overhead in
    SCALE.md §Graphs).
    """
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return triangle_knn_frame(l)


# The kNN cut of the co-supply graph: every graph key and the
# persisted adjacency use the same k.
_KNN_K = 5


def knn_edges_frame(l: DataFrame) -> DataFrame:
    """Canonical undirected kNN co-occurrence edges (u < v) from an
    (l_orderkey, l_suppkey) membership frame: co-occurrence weight =
    distinct shared orders, per-node top-``_KNN_K`` cut (ties to the lower
    partner key), then least/greatest canonicalization — the ONE edge
    derivation shared by graph_triangle_knn and
    graph_degree_distribution (and their matching oracle CTEs), so the
    two keys cannot silently diverge on k or tie-break rules."""
    from pyspark.sql import Window

    # Round-12 optimization (guide §2.4 "remove shuffles outright"):
    # build per-order supplier SETS and explode the k² within-order
    # pairs map-side.  One groupBy(ok)+collect_set reaches the same
    # unique membership with a SINGLE membership exchange and NO join
    # operator; the pair set still crosses the network exactly once
    # into the (s1, s2) count (map-side partial aggregation intact).
    # Identical weights: exploded set pairs ≡ joined distinct pairs,
    # once per (ok, s1, s2).  A/B at sf0.1: 2.25 → 1.79 s min-of-3,
    # every paired run faster, edge set bit-identical.  Scale note:
    # the set form concentrates a group's k² pairs in one task, so it
    # assumes BOUNDED group fan-out (orders hold ≤ 7 lineitems by
    # construction); a membership frame with unbounded hot groups
    # should generate pairs with a distinct+self-join on the group key
    # instead, which spreads each group's pairs across reduce tasks.
    # Null guard (round-12 ADVICE): the former equi-join form dropped
    # null group keys implicitly; groupBy would collect them into one
    # null group and emit co-occurrence pairs from it.  l_orderkey is
    # never null on TPC-H-shaped data, but the shared edge derivation
    # should not depend on that unstated invariant.
    sets = (
        l.where(F.col("l_orderkey").isNotNull())
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.collect_set("l_suppkey").alias("ss"))
    )
    co = (
        sets.select(F.explode("ss").alias("s1"), "ss")
        .select("s1", F.explode("ss").alias("s2"))
        .where(F.col("s1") != F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    w = Window.partitionBy("s1").orderBy(F.desc("w"), F.asc("s2"))
    knn = (
        co.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN_K)
        .select("s1", "s2")
    )
    return knn.select(
        F.least("s1", "s2").alias("u"), F.greatest("s1", "s2").alias("v")
    ).distinct()


def triangle_knn_frame(l: DataFrame, orientation: str = "fixed") -> DataFrame:
    """kNN-graph + triangle core over an (l_orderkey, l_suppkey)
    membership frame — reusable heart of graph_triangle_knn, shared
    with tools/scale_probe.py.

    ``orientation="fixed"`` enumerates on the canonical u<v edges (fine
    here: the kNN cut already bounds every node's degree near 2k).
    ``orientation="degree"`` is the 100 TB path for graphs WITHOUT a
    degree bound: orient each edge from its (degree, id)-smaller
    endpoint to the larger before the wedge join (Suri & Vassilvitskii
    WWW'11), which caps the wedge fan-out per node at O(√m) no matter
    how heavy the degree tail — a hub of degree D generates D(D-1)/2
    wedges under fixed orientation but only O(m/D·…)≤O(m) total under
    degree orientation.  Both paths count each triangle exactly once
    (the orientation is a total order, so every triangle has exactly
    one source vertex); per-node counts are bit-identical — pinned by
    tests/test_scale_operators.py::test_triangle_orientation_identical,
    measured fan-out numbers in SCALE.md §Graphs."""
    edges = knn_edges_frame(l)
    if orientation == "degree":
        tri = _degree_oriented_triangles(edges)
    else:
        e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _degree_oriented_triangles(edges: DataFrame) -> DataFrame:
    """Triangles (a, b, c) of a canonical undirected (u, v) edge frame,
    enumerated with DEGREE ORIENTATION: every edge points from its
    (degree, id)-smaller endpoint to the larger, wedges are out-neighbor
    pairs of one node, and a wedge closes iff the oriented edge between
    its endpoints exists.  The total order makes each triangle appear
    exactly once, sourced at its minimum-rank vertex; out-degrees are
    O(√m), so wedge counts stay near m^1.5 even on heavy-tailed graphs
    where fixed-order enumeration explodes on hubs.  Three shuffles:
    degree agg, the two degree-attach joins (edge-sized), then the
    wedge self-join on x and the closing join on (y, z) — all on skinny
    integer frames."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = edges.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    )
    o1 = oriented.select("x", "y", "dy")
    o2 = oriented.select(
        F.col("x"), F.col("y").alias("z"), F.col("dy").alias("dz")
    )
    wedge = o1.join(o2, "x").where(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closing = oriented.select(F.col("x").alias("y"), F.col("y").alias("z"))
    return wedge.join(closing, ["y", "z"]).select(
        F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c")
    )


@register(
    "graph_degree_distribution",
    oracle="""
WITH co AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
         count(DISTINCT a.l_orderkey) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY 1, 2
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           row_number() OVER (PARTITION BY s1 ORDER BY w DESC, s2 ASC) AS rn
    FROM co
  ) WHERE rn <= 5
),
edges AS (
  SELECT least(s1, s2) AS u, greatest(s1, s2) AS v FROM knn GROUP BY 1, 2
),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)
SELECT degree, count(*) AS n_nodes
FROM deg GROUP BY degree
""".strip(),
    tags=("graph",),
    bench=True,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the mutualized top-5 co-supply graph —
    the first diagnostic run on any production graph (a heavy-tailed
    histogram predicts skewed joins and hot partitions before any
    algorithm runs; the kNN cut bounds max degree near 2k, which this
    histogram verifies).  Same edge derivation as graph_triangle_knn,
    then two skinny aggregates; the corpus-sized work is the one
    co-occurrence shuffle shared with the triangle key."""
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = knn_edges_frame(l)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# Every multiply-referenced CTE is MATERIALIZED: DuckDB inlines plain
# CTEs per reference, and the unrolled peel levels reference each other
# 2-3x — without materialization e0 (which contains the lineitem
# self-join) would be inlined ~3^rounds times, which exhausted temp
# disk at sf0.1.  Each level computes exactly once this way.
_KCORE_EDGES_CTE = """
WITH co AS MATERIALIZED (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
         count(DISTINCT a.l_orderkey) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY 1, 2
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           row_number() OVER (PARTITION BY s1 ORDER BY w DESC, s2 ASC) AS rn
    FROM co
  ) WHERE rn <= 5
),
e0 AS MATERIALIZED (
  SELECT least(s1, s2) AS u, greatest(s1, s2) AS v FROM knn GROUP BY 1, 2
)
""".strip()


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling CTE: rounds × (degree → survivors → restrict)."""
    parts = [_KCORE_EDGES_CTE.rstrip()]
    for r in range(rounds):
        parts.append(f""",
d{r} AS (
  SELECT node, count(*) AS c
  FROM (SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})
  GROUP BY node
),
a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE c >= {k}),
e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e
  JOIN a{r} x ON e.u = x.node
  JOIN a{r} y ON e.v = y.node
)""")
    parts.append(f"""
SELECT node, count(*) AS core_degree
FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
GROUP BY node""")
    return "".join(parts).strip()


@register(
    "graph_kcore",
    oracle=_kcore_oracle(k=3, rounds=3),
    tags=("graph", "iterative"),
    bench=True,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, 3 unrolled rounds) over the
    mutualized top-5 co-supply graph — the dense-subgraph extractor
    that complements the triangle and degree keys: each round drops
    every node whose CURRENT degree is < k and restricts the edge set
    to survivors, so degrees cascade downward until the k-core remains
    (3 rounds suffice to converge on this kNN-bounded graph — pinned by
    tests; fixed unrolled rounds keep the plan deterministic and
    SQL-replayable, same policy as the PageRank keys).  Output = the
    surviving nodes with their within-core degree.

    Scale: each round is one skinny degree aggregate plus two
    node-key joins of the edge frame against the shrinking survivor
    set; the corpus-sized work remains the single co-occurrence shuffle
    shared with graph_triangle_knn via knn_edges_frame.  Deeper peels
    pass ``checkpoint_every`` to :func:`kcore_frame`."""
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return kcore_frame(knn_edges_frame(l), k=3, rounds=3)


# One bucket-count constant shared by the artifact builder and every
# probe that derives a bucket predicate from it — a silent mismatch
# would partition-prune probes into empty results.
_ADJ_BUCKETS = 16


def persisted_cosupply_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-ONCE co-supply adjacency artifact (serving parity with the
    ANN family's persist_*/probe_* split): the canonical kNN edge set of
    knn_edges_frame stored BOTH WAYS as a directed (src, dst) adjacency
    list, parquet-partitioned by ``src_bucket = src mod _ADJ_BUCKETS``.
    Every graph probe key reads this instead of re-deriving the
    lineitem self-join co-occurrence shuffle per invocation — the one
    corpus-sized stage all the graph keys share becomes a build-once
    cost, exactly like an IVF cell index (operators/annsearch.py
    persist_cell_index).

    Layout rationale: both-ways adjacency (each undirected edge twice)
    is the serving shape — a node's neighborhood is ONE partition-pruned
    bucket read (src_bucket pushes down as a PartitionFilter), degree is
    a plain count over src, and the canonical undirected edge set
    recovers as ``WHERE src < dst`` without a shuffle.  At 100 TB the
    same layout holds: k·n·2 skinny integer rows, appends land in their
    bucket directory, and the build amortizes across every downstream
    graph query.

    Cache contract = _spill_corpus's (queries/mapreduce_job.py): keyed
    by (sf, lineitem file identity, k, bucket count) — a pure function of
    immutable inputs — staged privately and atomically renamed into
    place, so concurrent sessions race safely and readers only ever see
    a complete artifact."""
    from mapreduce_framework_spark.io import cache_sf_token, publish_cached, table_identity

    file_id = table_identity(sf_dir, "lineitem")
    sf_base = cache_sf_token(sf_dir)
    params = f"k{_KNN_K}b{_ADJ_BUCKETS}"
    ident = f"{sf_base}_{params}_{file_id}"

    def build(staged: str) -> None:
        l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        edges = knn_edges_frame(l)
        adj = edges.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionByName(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        (
            adj.withColumn(
                "src_bucket", F.pmod(F.col("src"), F.lit(_ADJ_BUCKETS)).cast("int")
            )
            .repartition("src_bucket")
            .write.mode("overwrite")
            .partitionBy("src_bucket")
            .parquet(staged)
        )

    # family = kind + SF + fixed params (k/buckets): per-SF artifacts
    # coexist (tests/bench/driver run different SFs concurrently), and
    # two parameterizations of one SF must not reap each other — only a
    # changed FILE IDENTITY marks a generation superseded, and the
    # publish sweep reaps it once it ages past the cross-session guard.
    dest = publish_cached(
        f"mfs_graph_adj_{ident}",
        build,
        family=f"mfs_graph_adj_{sf_base}_{params}",
    )
    return spark.read.parquet(dest)


# The probe keys' oracles re-derive the SAME edge set the artifact
# holds (knn_edges_frame is deterministic), so the persisted layout
# must be invisible to the answer — same contract as the persisted
# ANN keys.
_ADJ_CTE = """
WITH co AS MATERIALIZED (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
         count(DISTINCT a.l_orderkey) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY 1, 2
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           row_number() OVER (PARTITION BY s1 ORDER BY w DESC, s2 ASC) AS rn
    FROM co
  ) WHERE rn <= 5
),
edges AS MATERIALIZED (
  SELECT least(s1, s2) AS u, greatest(s1, s2) AS v FROM knn GROUP BY 1, 2
),
adj AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
)
""".strip()


@register(
    "graph_degree_persisted",
    oracle=_ADJ_CTE
    + """
SELECT degree, count(*) AS n_nodes
FROM (SELECT src, count(*) AS degree FROM adj GROUP BY src)
GROUP BY degree
""",
    tags=("graph", "sink"),
    bench=True,
)
def graph_degree_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_degree_distribution served from the write-once adjacency
    artifact: degree = count over src on the both-ways layout (no edge
    union needed), then the histogram — two skinny aggregates over a
    k·n·2-row parquet scan, with NO lineitem scan anywhere in the probe
    plan (pinned by tests/test_plans.py::
    test_graph_persisted_probe_has_no_lineitem_scan).  This is the
    steady-state price of the first diagnostic every production graph
    run starts with; the co-occurrence shuffle it replaces is the
    artifact's one-time build cost."""
    adj = persisted_cosupply_adjacency(spark, sf_dir)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "graph_neighborhood_probe",
    oracle=_ADJ_CTE
    + """
SELECT dst AS neighbor FROM adj WHERE src = 1
""",
    tags=("graph",),
    bench=True,
)
def graph_neighborhood_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on the persisted adjacency: supplier 1's co-supply
    neighborhood.  The serving query the both-ways bucketed layout
    exists for — ``src = 1`` implies ``src_bucket = 1``, so the scan
    opens ONE bucket directory (PartitionFilters pinned by
    tests/test_plans.py) and reads two int columns from it; at 100 TB
    this is a constant-size read no matter how large the graph.  The
    bucket predicate is derived in the plan (pmod on the literal), not
    computed driver-side."""
    adj = persisted_cosupply_adjacency(spark, sf_dir)
    node = F.lit(1).cast("bigint")
    return (
        adj.where(
            (F.col("src_bucket") == F.pmod(node, F.lit(_ADJ_BUCKETS)).cast("int"))
            & (F.col("src") == node)
        )
        .select(F.col("dst").alias("neighbor"))
    )


@register(
    "graph_kcore_persisted",
    oracle=_kcore_oracle(k=3, rounds=3),
    tags=("graph", "iterative", "sink"),
)
def graph_kcore_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_kcore served from the write-once adjacency artifact: the
    canonical undirected edge set recovers as ``src < dst`` (each
    undirected edge is stored exactly twice, once per direction), then
    the same bounded peeling as graph_kcore — so the iterative key's
    per-invocation price drops to the peel itself, with the
    co-occurrence shuffle amortized into the artifact build.  Results
    are identical to graph_kcore by construction (same edge set, same
    kcore_frame)."""
    adj = persisted_cosupply_adjacency(spark, sf_dir)
    edges = adj.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return kcore_frame(edges, k=3, rounds=3)


@register(
    "graph_components_persisted",
    # The oracle computes EXACT components as a recursive transitive
    # closure (node, min reachable id) — fixpoint by UNION dedup, no
    # round count to keep in sync with the Spark side's convergence
    # loop.  Closure size is Σ|component|² — fine at oracle SFs, and
    # exactly why the ENGINE side uses min-label propagation instead.
    oracle=_ADJ_CTE
    + """,
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT src, dst FROM adj
    UNION
    SELECT r.a, e.dst FROM r JOIN adj e ON r.b = e.src
  ) SELECT * FROM r
)
SELECT a AS node, least(a, min(b)) AS component
FROM reach GROUP BY a
""",
    tags=("graph", "iterative", "sink"),
)
def graph_components_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-supply graph, served from the
    persisted adjacency artifact — the graph-family twin of
    dedup_clusters' min-label propagation (operators/components.py),
    probing the same write-once edge table as the degree/kcore/
    neighborhood keys.  Hash-checked against an exact transitive-
    closure oracle: label propagation CONVERGES (the loop stops when a
    round changes nothing), so no round-count coupling exists between
    the engines — the comparison is the fixpoint itself.

    Scale: propagation is one skinny (node, label) shuffle per round,
    rounds = O(component diameter); the closure the oracle builds is
    the O(Σ|c|²) object the engine-side algorithm exists to avoid."""
    from mapreduce_framework_spark.operators.components import (
        connected_components,
    )

    adj = persisted_cosupply_adjacency(spark, sf_dir)
    edges = adj.where(F.col("src") < F.col("dst")).select("src", "dst")
    return connected_components(edges, "src", "dst")


# BFS's runaway bound on rounds, not a tuning knob; shared with
# graph_bfs_persisted's oracle walk.
_BFS_MAX_HOPS = 25


def bfs_hops(adj: DataFrame, source: int) -> DataFrame:
    """Single-source BFS hop distances over a directed (src, dst)
    adjacency frame — frontier expansion, the third iterative-dataflow
    class in the graph family after damped flow (pagerank) and peeling
    (kcore): each round joins ONLY the frontier (the nodes the previous
    round settled, flagged ``_new``) against the adjacency, anti-joins
    out settled nodes, and stops when the frontier empties.  Total work
    across rounds is O(|E|) like any BFS.  Runs on
    :func:`~mapreduce_framework_spark.operators.materialize.iterate`,
    checkpointing every round."""

    def expand(dist: DataFrame, _pinned: DataFrame | None) -> DataFrame:
        frontier = dist.where("_new")
        nxt = (
            frontier.join(adj, frontier.node == adj.src)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
        )
        return dist.select("node", "hops", F.lit(False).alias("_new")).unionByName(
            nxt.withColumn("_new", F.lit(True))
        )

    dist = iterate(
        adj.sparkSession.createDataFrame(
            [(source, 0, True)], "node long, hops int, _new boolean"
        ),
        expand,
        _BFS_MAX_HOPS,
        final_checkpoint=True,
        changed="_new",
    )
    return dist.drop("_new")


@register(
    "graph_bfs_persisted",
    # Exact recursive closure over (node, hops) pairs — UNION (not
    # UNION ALL) dedupes states, so the walk explores ≤ n·_BFS_MAX_HOPS
    # rows, then min(hops) per node is the BFS distance.  Same
    # no-round-coupling contract as the components oracle.
    oracle=_ADJ_CTE
    + f""",
walk AS (
  WITH RECURSIVE w(node, hops) AS (
    SELECT CAST(1 AS BIGINT), 0
    UNION
    SELECT a.dst, w.hops + 1 FROM w JOIN adj a ON a.src = w.node
    WHERE w.hops < {_BFS_MAX_HOPS}
  ) SELECT * FROM w
)
SELECT node, CAST(min(hops) AS INT) AS hops FROM walk GROUP BY node
""",
    tags=("graph", "iterative"),
)
def graph_bfs_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from supplier 1 to every reachable node of the
    co-supply graph, served from the persisted adjacency artifact —
    frontier-expansion BFS (see :func:`bfs_hops`) probing the same
    write-once edge table as the degree/kcore/components keys.
    Reachability radius is the first thing a graph practitioner asks
    after degree; at 100 TB the frontier join is bucket-prunable on
    the same src_bucket layout the neighborhood probe uses."""
    adj = persisted_cosupply_adjacency(spark, sf_dir)
    return bfs_hops(adj.select("src", "dst"), source=1)


def kcore_frame(
    edges: DataFrame,
    k: int,
    rounds: int,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """k-core peeling on a canonical undirected (u, v) edge frame:
    ``rounds`` unrolled (degree → survivors → restrict) steps, then the
    surviving (node, core_degree) table — shared by graph_kcore and the
    convergence test (rounds vs rounds+1 identical).

    The input edge frame is eagerly checkpointed first: every
    peel level references its predecessor 3× (degree agg + two semi-
    joins), so a lazy plan re-derives the base graph ~3^rounds times —
    the Spark-side twin of the DuckDB CTE-inlining blowup this key's
    oracle hit at sf0.1.  Measured 27.6 s lazy vs 6.5 s checkpointed at
    sf0.1 (bit-identical results); the checkpointed frame is k·n edges,
    tiny next to the co-occurrence join it pins.

    The same 3^rounds growth RECURS inside a deep peel (rounds ≳ 5):
    ``checkpoint_every=c`` checkpoints the shrinking edge frame on
    :func:`~mapreduce_framework_spark.operators.materialize.iterate`'s
    cadence (c=2 as for graph_pagerank_deep; SCALE.md §Iterative prices
    rounds∈{3,6,10}), bit-identically (tests/test_scale_operators.py)."""
    edges = iterate(
        checkpoint(edges),
        lambda e, _pinned: _peel(e, k),
        rounds,
        checkpoint_every=checkpoint_every,
    )
    return (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def _peel(edges: DataFrame, k: int) -> DataFrame:
    """One k-core round: keep the edges whose both ends have degree ≥ k."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    alive = deg.where(F.col("c") >= k).select("node")
    return edges.join(alive.withColumnRenamed("node", "u"), "u", "left_semi").join(
        alive.withColumnRenamed("node", "v"), "v", "left_semi"
    )
