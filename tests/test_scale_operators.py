"""As-of join, salted aggregation, stateful streaming operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_asof_join_semantics(spark):
    """Inclusive match, latest-prior wins, NULL when no prior row."""
    from mapreduce_framework_spark.operators.asofjoin import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "l1"), ("u1", 20, "l2"), ("u1", 5, "l0"), ("u2", 7, "l3")],
        "k string, ts long, lbl string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 100.0), ("u1", 15, 150.0), ("u3", 1, 999.0)],
        "k string, ts long, v double",
    )
    got = {
        (r.lbl, r.v_asof)
        for r in asof_join(left, right, on="k", ts="ts").collect()
    }
    assert got == {
        ("l0", None),      # before any right row
        ("l1", 100.0),     # equal ts matches (inclusive)
        ("l2", 150.0),     # latest prior, not first
        ("l3", None),      # key with no right rows at all
    }


def test_salted_agg_equals_plain_groupby(spark):
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.salting import salted_agg

    o = table(spark, SF_DIR, "orders")
    salted = salted_agg(
        o,
        keys=["o_orderstatus"],
        aggs={
            "cnt": ("count", F.lit(1)),
            "total": ("sum", F.col("o_totalprice").cast("decimal(18,2)")),
            "first_key": ("min", F.col("o_orderkey")),
        },
        salt_source=F.col("o_orderkey"),
        n_salts=8,
    )
    plain = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        F.min("o_orderkey").alias("first_key"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_agg_rejects_non_decomposable(spark):
    import pytest

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.salting import salted_agg

    with pytest.raises(ValueError, match="non-decomposable"):
        salted_agg(
            table(spark, SF_DIR, "orders"),
            keys=["o_orderstatus"],
            aggs={"m": ("median", F.col("o_totalprice"))},
            salt_source=F.col("o_orderkey"),
        )


def test_stateful_final_state_is_batching_invariant(spark):
    """The per-user final state must not depend on micro-batch slicing."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.streaming.runner import run_file_stream
    from mapreduce_framework_spark.streaming.stateful import running_totals

    ev = table(spark, SF_DIR, "events")

    def final(n_batches):
        updates = run_file_stream(
            spark, ev, running_totals, output_mode="update", n_batches=n_batches
        )
        return sorted(
            map(
                tuple,
                updates.groupBy("user_id")
                .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
                .select("user_id", "s.n_events", "s.total_cents")
                .collect(),
            )
        )

    assert final(2) == final(5)


def test_salted_join_equals_plain_join(spark):
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.salting import salted_join

    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    salted = salted_join(o, c, on="o_custkey", salt_source=F.col("o_orderkey"), n_salts=8)
    plain = o.join(c, "o_custkey")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_session_scale_knobs_pinned(spark):
    """session.py is 'the audited place' for scale configs — pin them so
    an accidental edit is caught."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert int(spark.conf.get("spark.sql.files.maxPartitionBytes").rstrip("b")) == 128 * 1024 * 1024


def test_dynamic_partition_overwrite_preserves_others(spark):
    """Overwriting a one-partition slice must not truncate the rest of
    the table (incremental daily re-run semantics)."""
    import tempfile

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.sources import (
        overwrite_partitions_dynamic,
        write_partitioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/li"
        src = table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        )
        write_partitioned(src, path, ["l_returnflag"])
        before = spark.read.parquet(path).groupBy("l_returnflag").count()
        before_map = {r.l_returnflag: r["count"] for r in before.collect()}

        # Re-run just the 'R' slice with halved rows.
        slice_r = (
            src.where(F.col("l_returnflag") == "R")
            .where(F.col("l_orderkey") % 2 == 0)
        )
        overwrite_partitions_dynamic(slice_r, path, ["l_returnflag"])

        after = {r.l_returnflag: r["count"] for r in
                 spark.read.parquet(path).groupBy("l_returnflag").count().collect()}
        assert after["A"] == before_map["A"]          # untouched partitions intact
        assert after["N"] == before_map["N"]
        assert after["R"] == slice_r.count()          # only R replaced
        assert after["R"] < before_map["R"]


def test_connected_components_path_and_islands(spark):
    """Path graph collapses to one component; disjoint pair stays its
    own; labels are the min node id."""
    from mapreduce_framework_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "a long, b long",
    )
    got = {r.node: r.component for r in connected_components(edges, "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_write_compacted_bounds_file_count(spark):
    import glob
    import tempfile

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.sources import write_compacted

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/compact"
        # Shuffle output would normally write one file per partition (32);
        # compaction must collapse small outputs to few files.
        agg = table(spark, SF_DIR, "lineitem").groupBy("l_orderkey").count()
        write_compacted(agg, path)
        files = glob.glob(f"{path}/part-*")
        assert 1 <= len(files) <= 4
        assert spark.read.parquet(path).count() == agg.count()


def test_interval_join_survives_event_storm(spark):
    """Skew: one hour holds ~50% of all points (an event storm).  The
    bucketized range join must (a) stay exact under the storm and
    (b) let AQE split the hot bucket's shuffle partition at runtime —
    asserted on the executed plan, with thresholds forced low so the
    split triggers at test scale the way size would trigger it at
    100 TB."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.rangejoin import point_interval_join

    base = F.lit("2024-03-01 00:00:00").cast("timestamp")
    # 20k points: even ids all inside hour 12 (the storm), odd ids
    # spread uniformly over the day.
    points = spark.range(20_000).select(
        F.col("id").alias("pid"),
        F.when(
            F.col("id") % 2 == 0,
            base + F.make_interval(hours=F.lit(12), secs=F.col("id") % 3600),
        )
        .otherwise(base + F.make_interval(secs=F.col("id") % 86_400))
        .alias("ts"),
    )
    # 96 quarter-hour-aligned intervals of 90 minutes (overlapping).
    intervals = spark.range(96).select(
        F.col("id").alias("iid"),
        (base + F.make_interval(mins=15 * F.col("id"))).alias("lo"),
        (base + F.make_interval(mins=15 * F.col("id") + 90)).alias("hi"),
    )

    joined = point_interval_join(points, intervals, "ts", "lo", "hi", bucket="hour")

    naive = points.join(
        intervals, (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))
    )
    want = sorted((r.pid, r.iid) for r in naive.select("pid", "iid").collect())

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got_df = point_interval_join(
            points, intervals, "ts", "lo", "hi", bucket="hour"
        ).select("pid", "iid")
        got = sorted((r.pid, r.iid) for r in got_df.collect())
        assert got == want  # exact under the storm
        # executedPlan after the action = AQE's FINAL plan.
        final_plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_jaccard_band_is_lossless_exhaustive():
    """The banded jaccard join is only correct if NO qualifying pair
    can land more than the production probe radius apart (the probe
    side explodes band ± _band_radius(t)).  Jaccard ≥ t forces
    distinct-token counts x ≤ y ≤ x/t, and band(n) = ⌊ln n / ln 1.25⌋
    is monotone — so checking the extreme ratios for every x proves
    losslessness for all (x, y) pairs.  Exhaustive to 200k tokens at
    each threshold, with the exact IEEE double ops Spark's expression
    uses (log/division/floor), which is where the theoretical bound
    could rot via rounding."""
    import math

    from mapreduce_framework_spark.queries.dedup import _band_radius

    def band(n: int) -> int:
        return math.floor(math.log(max(n, 1)) / math.log(1.25))

    for t10 in (6, 7, 8, 9):
        radius = _band_radius(t10 / 10)
        for x in range(1, 200_001):
            hi = 10 * x // t10  # largest y with x / y ≥ t
            lo = -(-x * t10 // 10)  # smallest y with y / x ≥ t
            assert band(hi) - band(x) <= radius, (t10, x, hi)
            assert band(x) - band(lo) <= radius, (t10, x, lo)


def test_simhash_combo_fallback_matches_base_scheme(spark):
    """The homogeneity fallback (pair-combination bucket keys) must
    return EXACTLY the single-chunk scheme's pairs — it changes bucket
    width, never which pairs qualify.  A low-vocabulary corpus (8-word
    vocab) concentrates fingerprints, which is the corpus shape that
    triggers the fallback in production."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.simhash import fingerprints, near_pairs

    vocab = F.array(*[F.lit(w) for w in "aa bb cc dd ee ff gg hh".split()])
    d = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(1), (F.lit(8) + F.pmod("id", F.lit(10))).cast("int")),
            lambda k: F.element_at(
                vocab, (F.pmod(F.xxhash64(F.col("id"), k), F.lit(8)) + 1).cast("int")
            ),
        ).alias("toks"),
    )
    fps = fingerprints(d, "doc_id", "toks")
    base = near_pairs(
        fps, "doc_id", "fp", max_distance=3, pair_budget_floor=10**15
    )  # budget never reached -> single-chunk path
    combo = near_pairs(
        fps, "doc_id", "fp", max_distance=3,
        pair_budget_floor=0, pair_budget_per_doc=0,
    )  # budget always exceeded -> pair-combination path
    base_rows = {(r.id_a, r.id_b, r.distance) for r in base.collect()}
    combo_rows = {(r.id_a, r.id_b, r.distance) for r in combo.collect()}
    assert base_rows, "low-vocab corpus should produce near pairs"
    assert base_rows == combo_rows


def test_banded_jaccard_cap_overflow_matches_exact(spark):
    """With block_cap forced to 1, every category overflows to the
    MinHash tier — the guarded operator must still return exactly the
    unguarded quadratic join's pairs (clone pairs sit at jaccard
    ~(n-1)/n >= 0.96, where the 16x4 LSH miss probability is ~1e-13)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.minhash import jaccard
    from mapreduce_framework_spark.queries.dedup import banded_jaccard_pairs
    from tests.conftest import SF_DIR

    toks = F.array_distinct(F.split("text", " "))
    base = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", "source", toks.alias("toks"))
        .where(F.size("toks") >= 30)
        .limit(120)
    )
    clone = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "lang",
        "source",
        F.slice("toks", 1, F.size("toks") - 1).alias("toks"),
    )
    d = base.union(clone)

    a = d.select(F.col("doc_id").alias("doc_a"), "lang", "source", F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb"),
                 F.col("source").alias("sb"), F.col("toks").alias("tb"))
    truth = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, (F.col("lang") == F.col("lb")) & (F.col("source") == F.col("sb")))
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(jaccard(F.col("ta"), F.col("tb")) >= 0.8)
        .collect()
    }
    assert truth, "clones should create >=0.8-jaccard pairs"

    overflow = {(r.doc_a, r.doc_b) for r in banded_jaccard_pairs(d, 0.8, block_cap=1).collect()}
    guarded = {(r.doc_a, r.doc_b) for r in banded_jaccard_pairs(d, 0.8, block_cap=10**9).collect()}
    assert guarded == truth  # cap never trips -> exact tier == plain quadratic
    assert overflow == truth  # cap always trips -> LSH tier == plain quadratic


def test_containment_cap_overflow_matches_exact(spark):
    """With block_cap forced to 1, every category overflows to the
    PREFIX-FILTER tier — which is lossless by the prefix theorem
    (any |A|−⌈t·|A|⌉+1 tokens of A must intersect a ≥t-container), so
    the guarded operator must equal the unguarded quadratic join
    EXACTLY, including containment pairs a Jaccard-LSH overflow would
    miss (a short doc inside a much larger one)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.queries.dedup import containment_pairs
    from tests.conftest import SF_DIR

    toks = F.array_distinct(F.split("text", " "))
    base = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", "source", toks.alias("toks"))
        .where(F.size("toks") >= 30)
        .limit(120)
    )
    # Planted contained docs: the first ~35% of each base doc's tokens —
    # high containment in the parent, low Jaccard (j ≈ 0.35) — exactly
    # the size-skewed shape that breaks a MinHash-banded overflow.
    contained = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "lang",
        "source",
        F.slice("toks", 1, F.greatest((F.size("toks") * 35) / 100, F.lit(5)).cast("int")).alias("toks"),
    )
    d = base.union(contained)

    a = d.select(F.col("doc_id").alias("ca"), "lang", "source", F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("cb"), F.col("lang").alias("lb"),
                 F.col("source").alias("sb"), F.col("toks").alias("tb"))
    cont = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size("ta")
    truth = {
        (r.ca, r.cb)
        for r in a.join(b, (F.col("lang") == F.col("lb")) & (F.col("source") == F.col("sb")))
        .where(F.col("ca") != F.col("cb"))
        .where(F.size("ta") <= F.size("tb"))
        .where(cont >= 0.9)
        .collect()
    }
    assert truth, "planted prefixes should create >=0.9-containment pairs"

    overflow = {
        (r.contained_doc, r.container_doc)
        for r in containment_pairs(d, 0.9, block_cap=1).collect()
    }
    guarded = {
        (r.contained_doc, r.container_doc)
        for r in containment_pairs(d, 0.9, block_cap=10**9).collect()
    }
    assert guarded == truth  # cap never trips -> exact tier == plain quadratic
    assert overflow == truth  # cap always trips -> prefix tier == plain quadratic


def test_pagerank_checkpoint_cadence_identical(spark):
    """pagerank(checkpoint_every=2) — the production cadence of
    graph_pagerank_deep, chosen by the round-7 pricing in SCALE.md
    §Iterative — must be bit-identical to the fully lazy unroll at
    N=10: lineage truncation changes the execution boundaries, never
    the integer fixed-point arithmetic."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.queries.graphs import pagerank

    edges = spark.range(2000).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(300)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(300)).alias("dst"),
    )
    lazy = {(r.node, r.rank) for r in pagerank(edges, rounds=10).collect()}
    ckpt = {
        (r.node, r.rank)
        for r in pagerank(edges, rounds=10, checkpoint_every=2).collect()
    }
    assert lazy == ckpt
    assert len(lazy) > 100


def test_triangle_orientation_identical(spark):
    """Degree-oriented triangle enumeration (the 100 TB path for graphs
    with no degree bound) must produce bit-identical per-node counts to
    the fixed u<v convention — on the real kNN co-supply graph AND on a
    synthetic heavy-tailed membership (one hub order shared by many
    suppliers, the shape where orientation actually matters)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.queries.graphs import triangle_knn_frame

    l = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    fixed = {(r.node, r.n_triangles) for r in triangle_knn_frame(l).collect()}
    orient = {
        (r.node, r.n_triangles)
        for r in triangle_knn_frame(l, orientation="degree").collect()
    }
    assert fixed == orient
    assert len(fixed) >= 10

    # Heavy-tailed synthetic: orders 0-2 are hubs touched by most
    # suppliers, the rest is sparse — pushes skewed degrees through
    # both paths.
    m = spark.range(4000).select(
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(40)).alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(4)), F.lit(120)).alias("l_suppkey"),
    ).where(F.col("l_orderkey") < 3).unionByName(
        spark.range(4000).select(
            (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(400)) + 10).alias(
                "l_orderkey"
            ),
            F.pmod(F.xxhash64("id", F.lit(6)), F.lit(120)).alias("l_suppkey"),
        )
    )
    f2 = {(r.node, r.n_triangles) for r in triangle_knn_frame(m).collect()}
    o2 = {
        (r.node, r.n_triangles)
        for r in triangle_knn_frame(m, orientation="degree").collect()
    }
    assert f2 == o2
    assert len(f2) > 10


def test_adaptive_salted_join_equals_plain_join(spark):
    """adaptive_salted_join must be answer-invariant vs the plain join,
    on a frame with one deterministic hot key (~50% of rows)."""
    from mapreduce_framework_spark.operators.salting import adaptive_salted_join

    big = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(500)) + 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
    )
    plain = (
        big.join(small, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.max("attr").alias("a"))
    )
    salted = (
        adaptive_salted_join(big, small, on="k", salt_source=F.col("v"), rows_per_salt=100)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.max("attr").alias("a"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_adaptive_salted_join_left_outer(spark):
    """Left-join semantics survive salting: unmatched big-side rows
    (hot or cold) appear exactly once with NULL attrs."""
    from mapreduce_framework_spark.operators.salting import adaptive_salted_join

    big = spark.range(5_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(99_999)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(1000).select(F.col("id").alias("k"), F.lit("x").alias("attr"))
    plain = big.join(small, "k", "left")
    salted = adaptive_salted_join(
        big, small, on="k", salt_source=F.col("v"), rows_per_salt=100, how="left"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_kcore_converged_and_degrees_bounded(spark):
    """graph_kcore's 3 unrolled peel rounds must be a fixpoint on the
    kNN graph (round 4 changes nothing — the docstring's convergence
    claim) and every surviving node's core degree must be >= k."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.queries.graphs import kcore_frame, knn_edges_frame

    l = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    edges = knn_edges_frame(l)
    r3 = sorted(map(tuple, kcore_frame(edges, k=3, rounds=3).collect()))
    r4 = sorted(map(tuple, kcore_frame(edges, k=3, rounds=4).collect()))
    assert r3 == r4, "3 rounds are not a fixpoint on this graph"
    assert r3, "empty core"
    assert min(d for _, d in r3) >= 3


def test_kcore_checkpoint_cadence_is_bit_identical(spark):
    """checkpoint_every only truncates lineage (round-8 verdict task
    #3) — the peeled core must be byte-for-byte the same with and
    without the cadence, at a depth where the cadence actually fires
    (rounds=3, cadence=2 -> one mid-loop localCheckpoint)."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.queries.graphs import kcore_frame, knn_edges_frame

    l = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    edges = knn_edges_frame(l)
    lazy = sorted(map(tuple, kcore_frame(edges, k=3, rounds=3).collect()))
    cade = sorted(
        map(tuple, kcore_frame(edges, k=3, rounds=3, checkpoint_every=2).collect())
    )
    assert lazy == cade


def test_gram_arrow_equals_exploded(spark):
    """The Arrow-batched Gram accumulator must be bit-identical to the
    exploded Catalyst path — int64 matmul is exact, so the only way
    they diverge is a real bug (wrong quantization, dropped batch,
    transposed index)."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.queries.clustering import (
        gram_matrix_arrow,
        gram_matrix_exploded,
    )

    vecs = table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = sorted(map(tuple, gram_matrix_exploded(vecs).collect()))
    b = sorted(map(tuple, gram_matrix_arrow(vecs).collect()))
    assert len(a) == len(b) == 64 * 64
    assert a == b


def test_power_iteration_adaptive_cap_identical_below_cliff(spark):
    """The adaptive normalization cap (round-8 verdict task #2) must be
    INVISIBLE at every realistic scale: on the real corpus the adaptive
    term is ≥ 1e13, least() picks the constant 1000, and the rounds are
    bit-identical to the legacy constant-cap math — which is what keeps
    the key's recorded hashes and its constant-1000 DuckDB oracle
    valid."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.queries.clustering import (
        gram_matrix_arrow,
        power_rounds_frame,
    )

    vecs = table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    gram = gram_matrix_arrow(vecs).localCheckpoint(eager=True)
    adaptive = sorted(map(tuple, power_rounds_frame(gram, adaptive_cap=True).collect()))
    legacy = sorted(map(tuple, power_rounds_frame(gram, adaptive_cap=False).collect()))
    assert adaptive == legacy


def test_power_iteration_adaptive_cap_survives_huge_gram(spark):
    """The de-cliffing itself: a synthetic Gram with |G| = 2^57 entries
    overflows the LEGACY constant-1000 cap (round-2 mat-vec intermediate
    ≈ 4·2^57·999 ≈ 5.8e20 > 2^63) but is exact under the adaptive cap
    (B = 2^61 div (4·2^57) = 4, so every intermediate ≤ 2^61).  The
    expected values are replicated in pure-python unbounded ints —
    the Spark result must match them exactly."""
    from mapreduce_framework_spark.queries.clustering import power_rounds_frame

    dim, M = 4, 2**57
    gram = spark.createDataFrame(
        [(i, j, M) for i in range(dim) for j in range(dim)], "i int, j int, g long"
    )

    # Pure-python replica of the rounds with unbounded ints.
    def rounds(cap_b):
        w1 = [dim * M] * dim
        def norm(w):
            s = max(abs(x) for x in w) // cap_b + 1
            return [x // s for x in w]
        v1 = norm(w1)
        w2 = [sum(M * v1[j] for j in range(dim)) for _ in range(dim)]
        v2 = norm(w2)
        w3 = [sum(M * v2[j] for j in range(dim)) for _ in range(dim)]
        lam = sum(v2[i] * w3[i] for i in range(dim)) // sum(x * x for x in v2)
        return sorted((j, v2[j], lam) for j in range(dim))

    adaptive_b = min(1000, max(1, 2**61 // (dim * M)))
    assert adaptive_b == 4  # the cap genuinely engaged
    expected = rounds(adaptive_b)
    got = sorted(map(tuple, power_rounds_frame(gram, adaptive_cap=True).collect()))
    assert got == expected

    # And the legacy constant cap genuinely overflows on this input:
    # the exact round-2 intermediate exceeds int64, so Spark either
    # raises (ANSI) or silently wraps to something ≠ the exact result.
    assert dim * M * 999 > 2**63 - 1
    try:
        legacy = sorted(
            map(tuple, power_rounds_frame(gram, adaptive_cap=False).collect())
        )
    except Exception:
        pass  # ANSI mode: overflow raises — the cliff is real
    else:
        assert legacy != rounds(1000), "expected int64 wraparound or error"


def test_reliable_checkpoint_identical(spark, tmp_path, monkeypatch):
    """Where materialize.checkpoint puts its blocks (executor storage,
    or the reliable FS under $SPARK_GRAFT_CKPT_RELIABLE_DIR, surviving
    executor loss) must be result-invisible: pagerank, kcore, connected
    components and the PQ codebook produce identical frames on the
    localCheckpoint and checkpoint() paths, and the reliable path
    really writes under the dir."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.annsearch import pq_build
    from mapreduce_framework_spark.operators.components import connected_components
    from mapreduce_framework_spark.queries.graphs import (
        _customer_supplier_edges,
        kcore_frame,
        knn_edges_frame,
        pagerank,
    )
    from mapreduce_framework_spark.queries.similarity import _views

    def rows(df):
        return sorted(map(tuple, df.collect()))

    l = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    edges = knn_edges_frame(l).localCheckpoint(eager=True)
    pr_edges = _customer_supplier_edges(spark, SF_DIR)
    qvecs = _views(spark, SF_DIR)[1]

    def run_all():
        return (
            rows(kcore_frame(edges, k=3, rounds=3)),
            rows(pagerank(pr_edges, rounds=4, checkpoint_every=2)),
            rows(connected_components(edges, "u", "v")),
            rows(pq_build(qvecs)[1]),
        )

    monkeypatch.delenv("SPARK_GRAFT_CKPT_RELIABLE_DIR", raising=False)
    local_kcore, local_pr, local_cc, local_cb = run_all()

    ckpt = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CKPT_RELIABLE_DIR", str(ckpt))
    rel_kcore, rel_pr, rel_cc, rel_cb = run_all()

    assert local_kcore == rel_kcore
    assert local_pr == rel_pr
    assert local_cc == rel_cc
    assert local_cb == rel_cb
    # One run-scoped subdirectory (the dir is pointed there once), and
    # checkpointed RDD data inside it.
    run_dirs = list(ckpt.iterdir())
    assert len(run_dirs) == 1, run_dirs
    assert any(run_dirs[0].glob("rdd-*")), "the reliable path never wrote"


def test_knn_edges_set_form_matches_join_form(spark):
    """Round-12 rewrote knn_edges_frame's co-occurrence derivation from
    a distinct+self-join to per-group collect_set + map-side pair
    explosion.  The two must be bit-identical on a membership frame
    WITH duplicate (order, supplier) rows (the dedup the old distinct
    and the new collect_set must both perform) and with weight ties
    (the kNN cut's s2-ascending tie-break)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.queries.graphs import knn_edges_frame

    # 1200 membership rows, ~6 items/order over a 20-supplier pool,
    # plus every row duplicated once (collect_set/distinct must fold).
    base = spark.range(1200).select(
        (F.col("id") / 6).cast("bigint").alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(20)).alias("l_suppkey"),
    )
    l = base.unionByName(base)

    def edges_join_form(l, k=5):
        a = l.select(
            F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1")
        ).distinct()
        b = a.select("ok", F.col("s1").alias("s2"))
        co = (
            a.join(b, "ok")
            .where(F.col("s1") != F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        w = Window.partitionBy("s1").orderBy(F.desc("w"), F.asc("s2"))
        knn = (
            co.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("s1", "s2")
        )
        return knn.select(
            F.least("s1", "s2").alias("u"), F.greatest("s1", "s2").alias("v")
        ).distinct()

    got = sorted(map(tuple, knn_edges_frame(l).collect()))
    ref = sorted(map(tuple, edges_join_form(l, 5).collect()))
    assert got, "probe graph should produce edges"
    assert got == ref


def test_uncapped_band_join_matches_plain_join(spark):
    """The uncapped band join (block_cap=None, the dedup_clusters and
    dedup_canonical_keep path) must return exactly the plain
    (lang, source)-block join's pairs on a corpus whose near-dup pairs
    straddle band boundaries (token counts at the 0.8 size-ratio edge),
    at t = 0.8 and at the lower t = 0.7, whose wider probe radius the
    threshold derives."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.minhash import jaccard
    from mapreduce_framework_spark.queries.dedup import banded_jaccard_pairs

    # Docs of sizes n and ceil(0.8*n) sharing a prefix vocabulary:
    # pairs sit right at the qualifying-ratio edge, where the probe
    # radius does the absorbing.  Sizes sweep across band boundaries.
    rows = []
    for g in range(30):
        n = 5 + g * 3
        m = -(-4 * n // 5)  # ceil(0.8 n)
        toks_big = [f"w{g}_{i}" for i in range(n)]
        rows.append((2 * g, "en", f"s{g % 3}", toks_big))
        rows.append((2 * g + 1, "en", f"s{g % 3}", toks_big[:m]))
    d = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, toks array<string>"
    )

    plain_a = d.select(
        F.col("doc_id").alias("doc_a"), "lang", "source",
        F.col("toks").alias("toks_a"),
    )
    plain_b = d.select(
        F.col("doc_id").alias("doc_b"), "lang", "source",
        F.col("toks").alias("toks_b"),
    )
    for t in (0.8, 0.7):
        plain = (
            plain_a.join(plain_b, ["lang", "source"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .where(jaccard(F.col("toks_a"), F.col("toks_b")) >= t)
            .select("doc_a", "doc_b")
        )
        got = sorted(
            map(tuple, banded_jaccard_pairs(d, t, block_cap=None)
                .select("doc_a", "doc_b").collect())
        )
        ref = sorted(map(tuple, plain.collect()))
        assert ref, "edge-ratio corpus should produce qualifying pairs"
        assert got == ref, t


def test_bpe_train_exhausts_pairs_gracefully(spark):
    """Round-12 replaced bpe_train's per-round 1-row checkpoint +
    broadcast join with a driver collect of the argmax row.  On a
    corpus whose pair supply runs out before n_merges rounds, the loop
    must keep applying the never-matching sentinel (not crash or mint
    phantom merges) and the merge table must hold only the real
    merges."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.queries.bpe import bpe_train

    # One distinct 2-char word: round 1 merges (a, b), round 2 merges
    # (ab, </w>), then no adjacent pairs remain for rounds 3..8.
    d = spark.createDataFrame([(0, "ab"), (1, "ab")], "doc_id long, text string")
    vocab, merges = bpe_train(d, n_merges=8)
    got = sorted(map(tuple, merges.collect()))
    assert len(got) == 2
    assert got[0][:4] == (1, "a", "b", "ab")
    assert got[1][:4] == (2, "ab", "</w>", "ab</w>")
    [(word, freq, s)] = vocab.collect()
    assert (word, freq, s) == ("ab", 2, "ab</w>")
