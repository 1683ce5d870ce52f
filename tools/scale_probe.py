#!/usr/bin/env python
"""Empirical scaling probe for the dedup ladder and the other
iterative/pipeline families VERDICT r3 asked to measure.

Synthesizes deterministic corpora/streams/graphs at two sizes and
times each operator family at both.  The interesting number is the
RATIO: a linear operator should scale ~Nx when the input grows Nx;
anything super-linear is a scale bug this probe exists to catch before
a 100 TB run does.

    python tools/scale_probe.py [--small 50000] [--big 500000]
    python tools/scale_probe.py --tiers simhash,banded_overflow

Writes nothing outside /tmp; prints one JSON line per (tier, size)
plus a summary line.  Synthetic doc corpus: 2% of docs are exact
duplicates of a neighbor, 2% are near-dups (one appended token).

Every tier calls the REAL operator code (queries/ and operators/
helpers), not a probe-local re-implementation.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def forced_count(df: DataFrame, load_bearing: list[str]) -> int:
    """Count-force a probe frame, REFUSING vacuous plans (round-11
    verdict task #7): round 11 found three probes whose ``.count()``
    forcing let Catalyst join-ELIMINATE the very stage under audit
    (span_dedup's report join, contamination's train-side
    distinct+join, semantic dedup's pair stage), so the recorded
    curves timed residual scans.  That class cannot recur through this
    helper: the count aggregate's OWN physical plan — the plan that
    will actually execute, after count-projection pruning — must still
    match every ``load_bearing`` regex, else the probe raises instead
    of publishing a vacuous number (force through a load-bearing
    column aggregate instead, the way t_contamination/t_semantic do).
    """
    import re

    from mapreduce_framework_spark.plans import formatted_plan

    cnt = df.groupBy().agg(F.count(F.lit(1)).alias("n"))
    plan = formatted_plan(cnt)
    missing = [pat for pat in load_bearing if not re.search(pat, plan)]
    if missing:
        raise RuntimeError(
            f"vacuous probe forcing: {missing} eliminated from the counted "
            "plan — Catalyst pruned the stage under audit; force through a "
            "load-bearing column aggregate instead"
        )
    return cnt.collect()[0][0]


def forced_agg(df: DataFrame, cols: list[str], load_bearing: list[str]) -> int:
    """Column-aggregate forcing with the same integrity check as
    :func:`forced_count`: referencing real output columns keeps their
    producing stages alive under pruning, and the executed plan is
    still asserted to contain every load-bearing node — belt and
    suspenders, so a future optimizer rewrite that eliminates the
    stage ANYWAY raises instead of recording a vacuous curve."""
    import re

    from mapreduce_framework_spark.plans import formatted_plan

    agg = df.agg(*[F.sum(F.col(c)).alias(c) for c in cols])
    plan = formatted_plan(agg)
    missing = [pat for pat in load_bearing if not re.search(pat, plan)]
    if missing:
        raise RuntimeError(
            f"vacuous probe forcing: {missing} eliminated from the aggregated "
            "plan — Catalyst pruned the stage under audit despite the column "
            "reference; pick a column the stage actually produces"
        )
    row = agg.collect()[0]
    v = row[0]
    return int(v if v is not None else 0)


VOCAB = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu zero one two three four "
    "five six seven eight nine stone river cloud ember quartz willow "
    "falcon harbor meadow summit canyon prairie tundra lagoon mesa "
    "grove delta basin ridge bluff cove glen heath knoll ledge marsh "
    "notch outlook pass quarry reach shoal trail vale wash yard zone "
    "arch bend cliff dune edge ford gap hill isle jetty key loop mount"
][0].split()


def synth(
    spark, n: int, single_category: bool = False, wide_vocab: bool = False
) -> DataFrame:
    """Deterministic corpus mirroring the testdata's blocking shape:
    (lang, source) categories plus VARIED doc lengths (20-79 tokens —
    uniform lengths would collapse every doc into one token-count band
    and turn the banded tier into all-pairs, which is exactly the
    degenerate case the band does NOT protect against; the probe's
    first version demonstrated that by hanging).  Text derives from a
    seed id; 2% of docs reuse the previous id's seed (exact dup), 2%
    reuse it and append a token (near dup) — dup partners share
    (lang, source) like real near-dups share provenance.

    ``single_category=True`` collapses every doc into ONE (lang,
    source) category — the adversarial shape where block membership
    grows linearly with the corpus, used to exercise the banded tier's
    enforced block cap.  ``wide_vocab=True`` draws tokens from a
    ~100k-token universe instead of the 110-word VOCAB: random-pair
    set-jaccard drops to ~0 (the metric-healthy real-corpus shape)
    while planted dup/near-dup pairs stay at j ≈ 1 — the right corpus
    for measuring candidate-generation cost, because on the tiny VOCAB
    the 0.8-threshold answer itself degenerates toward Θ(n²)."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 50 == 1, F.col("id") - 1)
        .when(F.col("id") % 50 == 2, F.col("id") - 2)
        .otherwise(F.col("id"))
        .alias("seed"),
        (F.col("id") % 50 == 2).alias("near"),
    )
    if single_category:
        d = d.withColumn("lang", F.lit("l0")).withColumn("source", F.lit("s0"))
    else:
        d = d.withColumn("lang", F.concat(F.lit("l"), F.pmod("seed", F.lit(5))))
        d = d.withColumn("source", F.concat(F.lit("s"), F.pmod("seed", F.lit(20))))
    n_tok = (F.lit(20) + F.pmod(F.col("seed") * 7, F.lit(60))).cast("int")
    if wide_vocab:
        tok = lambda k: F.concat(  # noqa: E731
            F.lit("w"), F.pmod(F.xxhash64(F.col("seed"), k), F.lit(100_000))
        )
    else:
        tok = lambda k: F.element_at(  # noqa: E731
            vocab, (F.pmod(F.xxhash64(F.col("seed"), k), F.lit(len(VOCAB))) + 1).cast("int")
        )
    body = F.concat_ws(" ", F.transform(F.sequence(F.lit(1), n_tok), tok))
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.when(F.col("near"), F.concat(body, F.lit(" extra"))).otherwise(body).alias(
            "text"
        ),
    )


def synth_events(spark, n: int) -> DataFrame:
    """~n/50 users, 30 days of second-resolution activity — enough
    per-user density that 30-minute-gap sessionization has real work.
    event_type/value are deterministic extras for the stream-join and
    running-total tiers (¼ clicks, ¼ purchases — interval-join density
    stays constant with scale)."""
    n_users = max(n // 50, 1)
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_users)).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(30 * 86_400))
        ).alias("ts"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("purchase"), F.lit("error")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10_000)) / 100.0).alias("value"),
    )


def synth_edges(spark, n: int) -> DataFrame:
    """Random multigraph with n edges over n/10 nodes (mean degree ~10,
    hash-uniform) — the pagerank growth shape."""
    nn = max(n // 10, 10)
    return spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(nn)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(nn)).alias("dst"),
    )


def synth_membership(spark, n: int) -> DataFrame:
    """(order, supplier) membership rows: 6 items per order, supplier
    pool = n/600 (so co-occurrence density stays constant with scale —
    the triangle-kNN growth shape)."""
    nsupp = max(n // 600, 20)
    return spark.range(n).select(
        (F.col("id") / 6).cast("bigint").alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(nsupp)).alias("l_suppkey"),
    )


def synth_vectors(spark, n: int, dim: int = 64) -> DataFrame:
    """n deterministic pseudo-random vectors in [-1, 1]^dim — the
    hyperplane-LSH growth shape."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                F.pmod(F.xxhash64((F.col("id") * dim + d).cast("string")), F.lit(2001))
                - F.lit(1000)
            )
            / F.lit(1000.0),
        ).alias("v"),
    )


def synth_vectors_skewed(spark, n: int, dim: int = 64) -> DataFrame:
    """Adversarial assignment-skew corpus for the semantic-dedup cap:
    the first half is a near-identical ball (one base vector plus a
    tiny id-dependent perturbation — pairwise cosine ≈ 1, and every
    member lands in ONE cluster because the seeds are ball members
    too), the second half is the uniform corpus.  Without the enforced
    cluster_cap the ball's pair stage is (n/2)²/2 comparisons; with it,
    ≤ ~cap·n/2."""
    uniform = synth_vectors(spark, n, dim)
    ball = spark.range(n // 2).select(
        (F.col("id") + n).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.lit(1.0)
            + F.when(d == 0, (F.pmod(F.col("id"), F.lit(997))) / F.lit(1e7))
            .otherwise(F.lit(0.0)),
        ).alias("v"),
    )
    return uniform.unionByName(ball)


def _doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", "lang", "source", F.array_distinct(F.split("text", " ")).alias("toks")
    )


def build_tiers(spark, small: int, big: int) -> dict[str, dict[int, callable]]:
    """tier name -> {n_input: thunk}.  Each thunk runs the REAL
    operator on a (cached) synthetic input of that size and returns a
    result row count."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams
    from mapreduce_framework_spark.operators.annsearch import lsh_topk
    from mapreduce_framework_spark.operators.minhash import candidate_pairs
    from mapreduce_framework_spark.operators.simhash import fingerprints, near_pairs
    from mapreduce_framework_spark.queries.dedup import (
        banded_jaccard_pairs,
        chunk_dedup_frame,
        containment_pairs,
        semantic_dedup_frame,
        span_dedup_frame,
    )
    from mapreduce_framework_spark.queries.graphs import pagerank, triangle_knn_frame
    from mapreduce_framework_spark.queries.pipeline import curation_funnel_frame
    from mapreduce_framework_spark.queries.textstats import (
        contamination_frame,
        lm_perplexity_frame,
    )
    from mapreduce_framework_spark.queries.windows import sessionize_frame

    cache: dict[tuple, DataFrame] = {}

    def corpus(kind: str, n: int) -> DataFrame:
        key = (kind, n)
        if key not in cache:
            df = {
                "docs": lambda: synth(spark, n),
                "docs1cat": lambda: synth(
                    spark, n, single_category=True, wide_vocab=True
                ),
                "events": lambda: synth_events(spark, n),
                "edges": lambda: synth_edges(spark, n),
                "membership": lambda: synth_membership(spark, n),
                "vectors": lambda: synth_vectors(spark, n),
                "vectors_skewed": lambda: synth_vectors_skewed(spark, n),
            }[kind]()
            df.persist()
            df.count()  # lint: materialization-only (outside timed region)
            cache[key] = df
        return cache[key]

    def t_exact(n):
        docs = corpus("docs", n)
        return forced_count(
            docs.select(F.sha2(F.col("text"), 256).alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("k"))
            .where(F.col("k") > 1),
            [r"HashAggregate"],
        )

    def t_minhash(n):
        docs = corpus("docs", n)
        d = (
            docs.select("doc_id", F.split("text", " ").alias("toks"))
            .where(F.size("toks") >= 3)
            .select("doc_id", word_ngrams(F.col("toks"), 3).alias("sh"))
        )
        # Pairs are generated ARRAY-side within buckets (no join by
        # design): the load-bearing stages are the banding collect_list
        # (ObjectHashAggregate) and the pair explode (Generate).
        return forced_count(
            candidate_pairs(d, "doc_id", "sh"),
            [r"ObjectHashAggregate", r"Generate"],
        )

    def t_simhash(n):
        docs = corpus("docs", n)
        d = docs.select("doc_id", F.split("text", " ").alias("toks"))
        fps = fingerprints(d, "doc_id", "toks")
        return forced_count(
            near_pairs(fps, "doc_id", "fp", max_distance=3),
            [r"ObjectHashAggregate", r"Generate"],
        )

    def t_banded(n):
        return forced_count(banded_jaccard_pairs(_doc_tokens(corpus("docs", n)), 0.8), [r"Join"])

    def t_banded_overflow(n):
        # Single-category corpus: at the small size every (band) group
        # stays under block_cap (exact tier); at the big size groups
        # overflow and the whole category routes to the MinHash tier —
        # the enforced guard this tier exists to measure.
        return forced_count(banded_jaccard_pairs(_doc_tokens(corpus("docs1cat", n)), 0.8), [r"Join"])

    def t_containment_overflow(n):
        # Single-category wide-vocab corpus bracketing the category cap
        # (1000 docs): under it the exact quadratic tier runs; over it
        # the whole category routes to the lossless prefix-filter tier.
        return forced_count(containment_pairs(_doc_tokens(corpus("docs1cat", n)), 0.9), [r"Join"])

    def t_pagerank(n):
        return forced_count(pagerank(corpus("edges", n), rounds=3), [r"Join"])

    def t_sessionize(n):
        return forced_count(sessionize_frame(corpus("events", n)), [r"Window"])

    def t_funnel(n):
        return forced_count(curation_funnel_frame(corpus("docs", n)), [r"HashAggregate"])

    def t_contamination(n):
        d = corpus("docs", n).select(
            "doc_id",
            F.when(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c",
                "train",
            )
            .otherwise("eval")
            .alias("split"),
            F.split("text", " ").alias("t"),
        )
        # Force via report-column aggregates, not .count(): the frame's
        # final left join (unique right key) is join-ELIMINATED under a
        # bare count, which silently drops the train-side distinct +
        # contamination join from the timed region (same class as the
        # round-10 span_dedup probe vacuity, fixed round 11).
        out = contamination_frame(d, 5)
        forced_agg(out, ["n_contaminated"], [r"Join"])
        row = out.agg(
            F.sum("n_contaminated").alias("c"), F.sum("n_grams").alias("g")
        ).collect()[0]
        return int(row.g)

    def t_ks_drift(n):
        from mapreduce_framework_spark.queries.profiling import ks_drift_frame

        e = corpus("events", n).select(
            F.lit("t").alias("event_type"),
            (F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(100000)) / 100.0).alias("value"),
            (F.pmod(F.xxhash64("event_id", F.lit(8)), F.lit(2)) + 1).cast("int").alias("grp"),
        )
        # Round-12 probe-integrity catch: under a bare count the ks_stat
        # max-aggregate is pruned, which eliminates the running-cdf Window
        # — a real cost component (per-distinct-value state).  Force
        # through the statistic column instead.
        return forced_agg(ks_drift_frame(e), ["ks_stat"], [r"Window", r"Join"])

    def t_grid_join(n):
        from mapreduce_framework_spark.queries.joins import grid_proximity_frame

        e = corpus("events", n).select(
            "event_id",
            F.lit("t").alias("event_type"),
            (F.pmod(F.xxhash64("event_id", F.lit(9)), F.lit(2000000)) / 1000.0).alias("value"),
            F.pmod(F.xxhash64("event_id", F.lit(10)), F.lit(30 * 86400)).alias("sec"),
        )
        return forced_count(grid_proximity_frame(e), [r"Join"])

    def t_chunk_dedup(n):
        # Round-12 probe-integrity catch: a bare count of the chunk report
        # lets Catalyst prune the (unreferenced) n_kept aggregate, then
        # ELIMINATE the owner left join and the min-owner subtree — the
        # round-11 span vacuity class, missed for chunk in the r11 audit
        # (the r11 3-decade chunk row timed explode+per-doc count only;
        # superseded by the round-12 re-probe).  Forcing through the
        # n_kept column keeps the join-back load-bearing.
        return forced_agg(
            chunk_dedup_frame(corpus("docs", n).select("doc_id", "text")),
            ["n_kept"],
            [r"partial_min", r"Join"],
        )

    def t_bpe_train(n):
        # Learned-tokenizer training: ONE corpus-sized word-frequency
        # shuffle, then 8 vocab-sized merge rounds — the ratio verdict
        # should approach the cost of the corpus scan alone, since the
        # iteration state never grows with the corpus.
        from mapreduce_framework_spark.queries.bpe import bpe_train

        _, merges = bpe_train(corpus("docs", n).select("doc_id", "text"))
        # Training runs EAGERLY inside bpe_train (driver-looped rounds);
        # the returned merge table is post-materialization, so a bare
        # count cannot eliminate timed work.
        return merges.count()  # lint: materialization-only (training ran eagerly)

    def t_span_dedup(n):
        # The offset-exact tier: n grams per n-token doc (16x chunk
        # dedup's fan-out) through one digest-keyed keep-first
        # aggregate + broadcast join-back — the ratio verdict must stay
        # linear-class despite the fan-out.  Forced via an aggregate
        # over the REPORT COLUMN, not .count(): the report's final
        # left join (unique right key, no columns referenced by count)
        # is join-ELIMINATED by Catalyst, so a bare count times the
        # document scan alone — the round-10 probe rows recorded that
        # vacuous plan and are superseded by the round-11 re-probe.
        out = span_dedup_frame(corpus("docs", n).select("doc_id", "text"))
        return forced_agg(out, ["n_dup_tokens"], [r"partial_min", r"Join"])

    def t_lm_perplexity(n):
        return forced_count(
            lm_perplexity_frame(corpus("docs", n).select("doc_id", "text")),
            [r"Join"],
        )

    def t_triangle(n):
        return forced_count(triangle_knn_frame(corpus("membership", n)), [r"Join"])

    def t_triangle_oriented(n):
        # Degree-oriented enumeration (the unbounded-degree 100 TB
        # path) on the same membership graph — per-node counts are
        # pinned bit-identical by tests/test_scale_operators.py; this
        # tier prices the orientation overhead (degree agg + attach
        # joins) on a graph where the kNN cut already bounds degrees.
        return forced_count(
            triangle_knn_frame(corpus("membership", n), orientation="degree"),
            [r"Join"],
        )

    def t_power_iteration(n):
        from mapreduce_framework_spark.queries.clustering import (
            power_iteration_frame,
        )

        return forced_count(power_iteration_frame(corpus("vectors", n)), [r"HashAggregate"])

    def t_kcore(n):
        from mapreduce_framework_spark.queries.graphs import (
            kcore_frame,
            knn_edges_frame,
        )

        return forced_count(
            kcore_frame(knn_edges_frame(corpus("membership", n)), 3, 3), [r"Join"]
        )

    def t_degree_distribution(n):
        # graph_degree_distribution's exact shape on the synthetic
        # membership: the shared co-occurrence derivation + kNN cut
        # (knn_edges_frame — the corpus-sized work), then the two
        # skinny degree aggregates.  Since round 12 the co-occurrence
        # is a per-group collect_set + map-side pair explosion (no
        # join operator), so the load-bearing node to pin is the
        # ObjectHashAggregate building the sets — counting the
        # histogram cannot eliminate it (it feeds the aggregate's
        # cardinality); forced_count pins it in the executed plan
        # (round-11 task #7 posture).
        from mapreduce_framework_spark.queries.graphs import knn_edges_frame

        edges = knn_edges_frame(corpus("membership", n))
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
        return forced_count(hist, [r"ObjectHashAggregate", r"HashAggregate"])

    def t_pq(n):
        from mapreduce_framework_spark.operators.annsearch import pq_adc_topk, pq_build
        from mapreduce_framework_spark.operators.kmeans import quantize
        from mapreduce_framework_spark.queries.similarity import _query_sub

        qv = corpus("vectors", n).select("vec_id", quantize(F.col("v")).alias("v"))
        sub, cb, codes = pq_build(qv)
        codes = codes.where(F.col("vec_id") != 0)
        return forced_count(pq_adc_topk(codes, cb, _query_sub(sub), k=10), [r"HashAggregate"])

    def t_ivf_pq(n):
        from mapreduce_framework_spark.operators.kmeans import quantize
        from mapreduce_framework_spark.queries.similarity import ivf_pq_frame

        vecs = corpus("vectors", n)
        qv = vecs.select("vec_id", quantize(F.col("v")).alias("v"))
        return forced_count(ivf_pq_frame(vecs, qv), [r"Join"])

    def t_ngram_novelty(n):
        from mapreduce_framework_spark.queries.textstats import (
            ngram_novelty_frame,
        )

        d = corpus("docs", n).select(
            "doc_id", "source", F.split("text", " ").alias("t")
        )
        return forced_count(ngram_novelty_frame(d), [r"HashAggregate"])

    def t_lsh(n):
        # n is known here — pass the hint so the probe measures the
        # operator, not an extra count() job over the synthetic corpus.
        return forced_count(
            lsh_topk(corpus("vectors", n), query_id=0, k=10, n_vectors=n), [r"Join"]
        )

    def t_semantic_skew(n):
        # Gate variant: k is held FIXED by scaling `occupancy` with n
        # (k = 1.5n / (n/8) ~= 12 at every size), which isolates the
        # quantity the cluster_cap ENFORCES — within-cluster pair
        # growth under adversarial skew (the n/2 near-identical ball
        # all lands in one cluster and must sub-split).  The n*k
        # assignment flops of the production corpus-derived k are a
        # separate, deliberately-priced term measured by the ungated
        # `semantic_dedup` tier (SCALE.md #Semantic dedup).
        # keep-column aggregate, not .count(): the frame's final left
        # join (unique right key) is join-eliminated under a bare
        # count, which would drop the within-cluster PAIR stage — the
        # exact quantity this gate exists to time (round-11 probe-
        # integrity fix).
        return int(
            semantic_dedup_frame(
                corpus("vectors_skewed", n), occupancy=max(64, n // 8)
            )
            .agg(F.sum(F.col("keep").cast("int")))
            .collect()[0][0]
        )

    def t_semantic(n):
        # SemDeDup frame: occupancy-pinned pair stage (linear by
        # construction) + n·k map-side assignment (super-linear FLOPS,
        # zero shuffle growth — priced, see SCALE.md §Semantic dedup).
        # keep-column aggregate, not .count() — see t_semantic_skew.
        return int(
            semantic_dedup_frame(corpus("vectors", n))
            .agg(F.sum(F.col("keep").cast("int")))
            .collect()[0][0]
        )

    adj_paths: dict[int, str] = {}

    def _adjacency_path(n):
        """Build the bucketed co-supply adjacency artifact once per n
        (the write-once layout of queries/graphs.py
        persisted_cosupply_adjacency, on the synthetic membership)."""
        if n not in adj_paths:
            from mapreduce_framework_spark.io import user_scratch_dir
            from mapreduce_framework_spark.queries.graphs import knn_edges_frame

            edges = knn_edges_frame(corpus("membership", n))
            adj = edges.select(
                F.col("u").alias("src"), F.col("v").alias("dst")
            ).unionByName(
                edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            path = user_scratch_dir(f"scale_probe_adjacency_{n}")
            (
                adj.withColumn(
                    "src_bucket", F.pmod(F.col("src"), F.lit(16)).cast("int")
                )
                .repartition("src_bucket")
                .write.mode("overwrite")
                .partitionBy("src_bucket")
                .parquet(path)
            )
            adj_paths[n] = path
        return adj_paths[n]

    def t_adjacency_build(n):
        # Prices the write-once build: co-occurrence shuffle + kNN cut +
        # bucketed write (expected ~linear in n).
        return spark.read.parquet(_adjacency_path(n)).count()  # lint: materialization-only (times the build+scan itself)

    def t_adjacency_probe(n):
        # Prices the POINT PROBE on the prebuilt artifact (the build
        # tier above runs first and populates adj_paths): one bucket
        # partition read — the expected ratio at 10× data is ~1×, the
        # whole argument for the serving layout.
        adj = spark.read.parquet(_adjacency_path(n))
        node = F.lit(1).cast("bigint")
        return adj.where(
            (F.col("src_bucket") == 1) & (F.col("src") == node)
        ).count()  # lint: materialization-only (the filtered scan IS the probe)

    def t_bfs(n):
        # Frontier-expansion BFS on the synthetic membership's kNN
        # graph (diameter-bounded rounds; total work O(E)).  Source =
        # the lowest supplier id, present at every size.
        from mapreduce_framework_spark.queries.graphs import (
            bfs_hops,
            knn_edges_frame,
        )

        edges = knn_edges_frame(corpus("membership", n))
        adj = edges.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionByName(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        # bfs_hops iterates eagerly with checkpoint truncation inside the
        # thunk; the returned frame is post-checkpoint, so the count plan
        # legitimately shows only the final aggregate — the join work
        # already ran inside the timed region and cannot be eliminated.
        return forced_count(bfs_hops(adj, source=0), [r"HashAggregate"])

    def _supply_views(n):
        """Deterministic TPC-H-shaped supply tables at size n for the
        SQL decorrelation tiers: lineitem (the fact, n rows), part
        (n/30 parts, ~1/6 named '...bolt'), supplier (n/50, min 10)
        and nation (25).  Same dialect-shared strings as the
        registered keys run over these views."""
        parts = max(n // 30, 20)
        supps = max(n // 50, 10)
        (
            spark.range(n)
            .selectExpr(
                f"id % {parts} AS l_partkey",
                f"id % {supps} AS l_suppkey",
                "CAST(1 + id % 50 AS DOUBLE) AS l_quantity",
                "CAST(900 + (id * 37) % 100000 AS DOUBLE) / 100.0"
                "  AS l_extendedprice",
                "CAST((id % 11) AS DOUBLE) / 100.0 AS l_discount",
            )
            .createOrReplaceTempView("lineitem")
        )
        spark.sql(
            f"SELECT id AS p_partkey, concat('k', id, ' ', "
            f"element_at(array('bolt','rod','widget','gear','cam','pin'), "
            f"CAST(id % 6 + 1 AS INT))) AS p_name, "
            f"CAST(1 + id % 50 AS INT) AS p_size, "
            f"concat('Brand#', 1 + id % 25) AS p_brand "
            f"FROM range({parts})"
        ).createOrReplaceTempView("part")
        spark.sql(
            f"SELECT id AS s_suppkey, concat('S', id) AS s_name, "
            f"CAST(id % 25 AS INT) AS s_nationkey, "
            f"CAST((id * 13) % 10000 AS DOUBLE) / 10.0 AS s_acctbal "
            f"FROM range({supps})"
        ).createOrReplaceTempView("supplier")
        spark.sql(
            "SELECT CAST(id AS INT) AS n_nationkey, "
            "concat('NATION_', id) AS n_name, "
            "CAST(id % 5 AS INT) AS n_regionkey FROM range(25)"
        ).createOrReplaceTempView("nation")
        spark.sql(
            "SELECT CAST(id AS INT) AS r_regionkey, element_at(array"
            "('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), "
            "CAST(id + 1 AS INT)) AS r_name FROM range(5)"
        ).createOrReplaceTempView("region")

    def t_q20(n):
        # TPC-H Q20's nested correlation (MAX per (part,supplier) vs
        # 0.5·AVG per part inside an IN chain), decorrelated by
        # Catalyst into grouped aggregates + semi joins: every stage
        # shuffles on l_partkey(+l_suppkey), so the expected ratio at
        # 10x data is ~linear.  A per-row subquery plan would be
        # quadratic — this tier is the regression alarm for that.
        from mapreduce_framework_spark.queries.sql_surface import _Q20

        _supply_views(n)
        return forced_count(spark.sql(_Q20), [r"Join"])

    def t_q2(n):
        # TPC-H Q2's correlated MIN whose subquery repeats the outer
        # supply join: decorrelates to two co-partitioned passes over
        # the fact (one per-part MIN aggregate + the equality join
        # back).  Expected ~linear; dims broadcast at every size.
        from mapreduce_framework_spark.queries.sql_surface import _Q2

        _supply_views(n)
        return forced_count(spark.sql(_Q2), [r"Join"])

    def t_lateral_topk(n):
        # Correlated LATERAL (ORDER BY + LIMIT 2) over n orders and
        # n/10 customers: Catalyst's WindowGroupLimit rewrite keeps
        # per-key state k-bounded through one shuffle, so 10x data
        # should be ~linear.  A per-customer re-sort would be n*log n
        # PER KEY — the regression this tier alarms on.
        from mapreduce_framework_spark.queries.sql_surface import _LATERAL

        custs = max(n // 10, 10)
        spark.range(n).selectExpr(
            "id AS o_orderkey",
            f"id % {custs} AS o_custkey",
            "CAST((id * 97) % 1000000 AS DOUBLE) / 100.0 AS o_totalprice",
            "CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END AS o_orderstatus",
        ).createOrReplaceTempView("orders")
        spark.range(custs).selectExpr(
            "id AS c_custkey",
            "CASE WHEN id % 5 = 0 THEN 'BUILDING' ELSE 'OTHER' END"
            "  AS c_mktsegment",
        ).createOrReplaceTempView("customer")
        return forced_count(spark.sql(_LATERAL), [r"WindowGroupLimit|Window"])

    def t_recursive_cte(n):
        # WITH RECURSIVE over the implicit binary tree of n ids: depth
        # grows log2(n), each level joins the frontier against the
        # anchor — total work O(n · log n / n-per-level) = O(n), so
        # 10x ids (~3 extra levels) should stay near-linear.  The
        # default spark.sql.cteRecursionRowLimit (1e6 TOTAL rows across
        # all levels — a safety valve, found by this probe's first run
        # dying at n=5e6) must be raised to the expected output size
        # on any real corpus; the test-SF key never nears it.
        from mapreduce_framework_spark.queries.sql_surface import _RECURSIVE
        from mapreduce_framework_spark.session import scoped_confs

        with scoped_confs(spark, {"spark.sql.cteRecursionRowLimit": str(2 * n + 100)}):
            spark.range(n).selectExpr(
                "id AS s_suppkey"
            ).createOrReplaceTempView("supplier")
            return forced_count(spark.sql(_RECURSIVE), [r"Join|UnionLoop"])

    def t_session_timers(n):
        # Timer-driven sessionization on the real micro-batch replay:
        # per-user event-time timeout state, emission on watermark
        # crossing.  Cost = replay + one state row per active user.
        # Emits a supplemental JSON line with the PEAK state-store rows
        # observed across the run's micro-batches (round-10 verdict
        # task #6: the deep streaming probe records peak state, pinning
        # that state tracks concurrent users — not history).
        from mapreduce_framework_spark.streaming.runner import run_file_stream
        from mapreduce_framework_spark.streaming.stateful import timeout_sessions

        ev = corpus("events", n)
        prog: list = []
        out = run_file_stream(
            spark,
            ev.select("ts", "user_id"),
            timeout_sessions,
            watermark=("ts", "10 seconds"),
            output_mode="append",
            collect_progress=prog,
        ).count()  # lint: materialization-only (replay already ran; counts the sink)
        peak = 0
        for p in prog:
            d = p if isinstance(p, dict) else json.loads(p.json)
            for so in d.get("stateOperators", []) or []:
                peak = max(peak, int(so.get("numRowsTotal", 0) or 0))
        print(
            json.dumps(
                {"tier": "session_timers_state", "n_input": n,
                 "peak_state_rows": peak, "n_batches": len(prog)}
            )
        )
        return out

    def t_stream_interval_join(n):
        # Stream-stream interval self-join on the real micro-batch
        # replay (round-12 verdict task #8): watermark-bounded join
        # state on both sides, 4 state stores per partition.  Expected
        # near-linear: per-batch state holds only the 10-minute
        # horizon; the autoscaled state partitions grow with replay
        # volume.  Sink count forces nothing extra — the stream already
        # ran eagerly inside the thunk.
        from mapreduce_framework_spark.streaming.runner import run_file_stream
        from mapreduce_framework_spark.streaming.transforms import (
            click_purchase_interval_join,
        )

        ev = corpus("events", n).select("ts", "user_id", "event_type", "event_id")
        return run_file_stream(
            spark,
            ev,
            click_purchase_interval_join,
            watermark=("ts", "10 minutes"),
            output_mode="append",
        ).count()  # lint: materialization-only (replay already ran)

    def t_stream_running_total(n):
        # applyInPandasWithState running totals (round-12 verdict task
        # #8): one fixed-width state row per user, update-mode emission
        # per touched key per batch.  Cost = replay + per-key Python
        # invocation; the Python-lane autoscale target (6k rows per
        # state partition) is exactly what this tier prices at depth.
        from mapreduce_framework_spark.streaming.runner import run_file_stream
        from mapreduce_framework_spark.streaming.stateful import running_totals

        ev = corpus("events", n).select("ts", "user_id", "value")
        return run_file_stream(
            spark,
            ev,
            running_totals,
            output_mode="update",
            state_rows_per_partition=6_000,
        ).count()  # lint: materialization-only (replay already ran)

    def t_pagerank_deep(n):
        # graph_pagerank_deep's EXACT execution config (rounds=10,
        # checkpoint_every=2 lineage truncation), forced via a rank-sum
        # aggregate.  Also times rounds=4 under the same config and
        # prints the per-round MARGINAL wall ((r10-r4)/6) — the
        # round-10 verdict task #6 number: a flat marginal across
        # decades means the iteration price is per-round-linear, no
        # compounding plan/lineage term.
        from mapreduce_framework_spark.queries.graphs import pagerank

        e = corpus("edges", n)
        t0 = time.perf_counter()
        pagerank(e, rounds=4, checkpoint_every=2).agg(F.sum("rank")).collect()
        t4 = time.perf_counter() - t0
        t0 = time.perf_counter()
        r = pagerank(e, rounds=10, checkpoint_every=2).agg(F.sum("rank")).collect()
        t10 = time.perf_counter() - t0
        print(
            json.dumps(
                {"tier": "pagerank_deep_perround", "n_input": n,
                 "sec_r4": round(t4, 2), "sec_r10": round(t10, 2),
                 "per_round_marginal_sec": round((t10 - t4) / 6, 3)}
            )
        )
        return int(r[0][0])

    # Tier-appropriate sizes: linear tiers run at (small, big); the
    # banded exact tier runs smaller because its within-cap block work
    # is deliberately quadratic; the overflow tier brackets the
    # block_cap=1000 boundary (~7 length bands in one category ⇒
    # groups of ~n/7: under cap at 3k docs, over it at 12k).
    return {
        "exact": {small: lambda: t_exact(small), big: lambda: t_exact(big)},
        "minhash_lsh": {small: lambda: t_minhash(small), big: lambda: t_minhash(big)},
        "simhash": {small: lambda: t_simhash(small), big: lambda: t_simhash(big)},
        "banded_jaccard": {
            max(small // 8, 1000): lambda: t_banded(max(small // 8, 1000)),
            max(small // 2, 4000): lambda: t_banded(max(small // 2, 4000)),
        },
        "banded_overflow": {
            3000: lambda: t_banded_overflow(3000),
            12000: lambda: t_banded_overflow(12000),
        },
        "containment_overflow": {
            900: lambda: t_containment_overflow(900),
            3600: lambda: t_containment_overflow(3600),
        },
        "pagerank": {
            2 * small: lambda: t_pagerank(2 * small),
            2 * big: lambda: t_pagerank(2 * big),
        },
        "pagerank_deep": {
            2 * small: lambda: t_pagerank_deep(2 * small),
            2 * big: lambda: t_pagerank_deep(2 * big),
        },
        "sessionize": {
            10 * small: lambda: t_sessionize(10 * small),
            10 * big: lambda: t_sessionize(10 * big),
        },
        "curation_funnel": {small: lambda: t_funnel(small), big: lambda: t_funnel(big)},
        "contamination_ngram": {
            small: lambda: t_contamination(small),
            big: lambda: t_contamination(big),
        },
        "chunk_dedup": {
            small: lambda: t_chunk_dedup(small),
            big: lambda: t_chunk_dedup(big),
        },
        "span_dedup": {
            small: lambda: t_span_dedup(small),
            big: lambda: t_span_dedup(big),
        },
        "bpe_train": {
            small: lambda: t_bpe_train(small),
            big: lambda: t_bpe_train(big),
        },
        "lm_perplexity": {
            small: lambda: t_lm_perplexity(small),
            big: lambda: t_lm_perplexity(big),
        },
        "triangle_knn_oriented": {
            10 * small: lambda: t_triangle_oriented(10 * small),
            10 * big: lambda: t_triangle_oriented(10 * big),
        },
        "triangle_knn": {
            10 * small: lambda: t_triangle(10 * small),
            10 * big: lambda: t_triangle(10 * big),
        },
        "pq_ann": {
            small: lambda: t_pq(small),
            big: lambda: t_pq(big),
        },
        "ivf_pq_ann": {
            small: lambda: t_ivf_pq(small),
            big: lambda: t_ivf_pq(big),
        },
        "ngram_novelty": {
            small: lambda: t_ngram_novelty(small),
            big: lambda: t_ngram_novelty(big),
        },
        "power_iteration": {
            small: lambda: t_power_iteration(small),
            big: lambda: t_power_iteration(big),
        },
        "kcore": {
            10 * small: lambda: t_kcore(10 * small),
            10 * big: lambda: t_kcore(10 * big),
        },
        "degree_distribution": {
            10 * small: lambda: t_degree_distribution(10 * small),
            10 * big: lambda: t_degree_distribution(10 * big),
        },
        "lsh_ann": {
            small: lambda: t_lsh(small),
            big: lambda: t_lsh(big),
        },
        "semantic_dedup": {
            4000: lambda: t_semantic(4000),
            16000: lambda: t_semantic(16000),
        },
        "semantic_dedup_skew": {
            4000: lambda: t_semantic_skew(4000),
            16000: lambda: t_semantic_skew(16000),
        },
        "ks_drift": {
            10 * small: lambda: t_ks_drift(10 * small),
            10 * big: lambda: t_ks_drift(10 * big),
        },
        "grid_join": {
            10 * small: lambda: t_grid_join(10 * small),
            10 * big: lambda: t_grid_join(10 * big),
        },
        # Build precedes probe in iteration order, so the probe tier
        # runs against the artifact the build tier just wrote.
        "adjacency_build": {
            10 * small: lambda: t_adjacency_build(10 * small),
            10 * big: lambda: t_adjacency_build(10 * big),
        },
        "adjacency_probe": {
            10 * small: lambda: t_adjacency_probe(10 * small),
            10 * big: lambda: t_adjacency_probe(10 * big),
        },
        "session_timers": {
            small: lambda: t_session_timers(small),
            big: lambda: t_session_timers(big),
        },
        "stream_interval_join": {
            small: lambda: t_stream_interval_join(small),
            big: lambda: t_stream_interval_join(big),
        },
        "stream_running_total": {
            small: lambda: t_stream_running_total(small),
            big: lambda: t_stream_running_total(big),
        },
        "bfs": {
            10 * small: lambda: t_bfs(10 * small),
            10 * big: lambda: t_bfs(10 * big),
        },
        "q20_decorrelation": {
            10 * small: lambda: t_q20(10 * small),
            10 * big: lambda: t_q20(10 * big),
        },
        "q2_decorrelation": {
            10 * small: lambda: t_q2(10 * small),
            10 * big: lambda: t_q2(10 * big),
        },
        "lateral_topk": {
            10 * small: lambda: t_lateral_topk(10 * small),
            10 * big: lambda: t_lateral_topk(10 * big),
        },
        "recursive_cte": {
            10 * small: lambda: t_recursive_cte(10 * small),
            10 * big: lambda: t_recursive_cte(10 * big),
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=50_000)
    ap.add_argument("--big", type=int, default=500_000)
    ap.add_argument("--tiers", default="", help="comma-separated subset")
    ap.add_argument(
        "--deep",
        action="store_true",
        help="add a THIRD decade (each tier's big size x10) to every "
        "selected tier — the 100x-asymptote probe (round-9 verdict "
        "task #5): two decades fit a line, three expose whether the "
        "second ratio is converging to linear or compounding",
    )
    args = ap.parse_args()

    from mapreduce_framework_spark.session import get_spark

    spark = get_spark("mfs-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

    tiers = build_tiers(spark, args.small, args.big)
    selected = (
        {t: tiers[t] for t in args.tiers.split(",") if t} if args.tiers else tiers
    )
    if args.deep:
        # Rebuilding with (big, 10*big) reuses every tier's own size
        # multiplier, so the third point sits exactly one decade above
        # its second.
        deep = build_tiers(spark, args.big, 10 * args.big)
        for name, runs in selected.items():
            for n, fn in deep[name].items():
                runs.setdefault(n, fn)

    report: dict[str, dict[int, dict]] = {}
    for name, runs in selected.items():
        for n, fn in sorted(runs.items()):
            t0 = time.perf_counter()
            result = fn()
            dt = round(time.perf_counter() - t0, 2)
            report.setdefault(name, {})[n] = {"sec": dt, "result_rows": result}
            print(
                json.dumps({"tier": name, "n_input": n, "sec": dt, "rows": result}),
                flush=True,
            )

    summary = {}
    for name, v in report.items():
        pts = sorted(v.items())
        ns = [n for n, _ in pts]
        secs = [r["sec"] for _, r in pts]
        summary[name] = {
            "n": ns,
            "sec": secs,
            "data_ratio": round(ns[-1] / ns[0], 1),
            "time_ratio": round(secs[-1] / max(secs[0], 1e-9), 1),
            # Consecutive-decade ratios: a linear operator's ratios
            # CONVERGE toward the data ratio as fixed overhead
            # amortizes; a super-linear one's ratios GROW decade over
            # decade — the three-point signature the --deep probe reads.
            "step_time_ratios": [
                round(secs[i + 1] / max(secs[i], 1e-9), 2)
                for i in range(len(secs) - 1)
            ],
        }
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
