"""Operator-level behavior: LSH recall, ANN recall, simhash, hash
partitioning parity, bucketized range join."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_minhash_candidates_recall(spark):
    """LSH candidates must contain (essentially all) true high-Jaccard
    shingle pairs: at j >= 0.9 the 16x4 banding S-curve gives
    P(miss) < 1e-8.  True near-dups are synthesized by truncating each
    doc by one trailing token (shingle-Jaccard ≈ (k-1)/k ≈ 0.97)."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.minhash import candidate_pairs, jaccard

    toks = F.split("text", " ")
    base = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", toks.alias("toks"))
        .where(F.size(toks) >= 30)
        .limit(100)
    )
    clone = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.slice("toks", 1, F.size("toks") - 1).alias("toks"),
    )
    d = (
        base.union(clone)
        .select("doc_id", F.array_distinct(word_ngrams(F.col("toks"), 3)).alias("sh"))
        .where(F.size("sh") > 0)
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    true_pairs = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(jaccard(F.col("sa"), F.col("sb")) >= 0.9)
        .collect()
    }
    cands = {(r.id_a, r.id_b) for r in candidate_pairs(d, "doc_id", "sh").collect()}
    assert len(true_pairs) >= 100, "clones should create >=0.9-Jaccard pairs"
    missed = true_pairs - cands
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"


def test_simhash_finds_near_identical_docs(spark):
    """A shuffled copy of a document (same token multiset) has the same
    SimHash → distance 0 pair must be reported."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.simhash import fingerprints, near_pairs

    d = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .limit(50)
    )
    clone = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), F.reverse("toks").alias("toks"))
    fps = fingerprints(d.union(clone), "doc_id", "toks")
    pairs = near_pairs(fps, "doc_id", "fp", max_distance=0)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in d.select("doc_id").collect()}
    assert expected <= found


def test_ivf_recall_against_brute_force(spark):
    """Probing 4/16 cells must still recover most of the exact top-10
    (clustered fixture → high recall)."""
    from mapreduce_framework_spark.registry import get_query

    exact = [r.vec_id for r in get_query("sim_search_topk").fn(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in get_query("sim_search_ivf").fn(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall} (exact={exact}, ivf={approx})"


def test_batch_keys_agree_with_single_query_keys(spark):
    """Batch serving must be a pure amortization, not a semantics
    change: query 0's rows in sim_search_topk_batch equal the
    single-query sim_search_topk list, and every query's IVF-batch
    recall against its own exact batch top-10 clears the same floor the
    single-query IVF key promises."""
    from collections import defaultdict

    from mapreduce_framework_spark.registry import get_query

    exact_single = [
        r.vec_id for r in get_query("sim_search_topk").fn(spark, SF_DIR).collect()
    ]
    batch = get_query("sim_search_topk_batch").fn(spark, SF_DIR).collect()
    exact_by_q = defaultdict(list)
    for r in sorted(batch, key=lambda r: (r.query_id, r.rk)):
        exact_by_q[r.query_id].append(r.vec_id)
    assert sorted(exact_by_q) == list(range(8))
    assert exact_by_q[0] == exact_single

    ivf_batch = get_query("sim_search_ivf_batch").fn(spark, SF_DIR).collect()
    ivf_by_q = defaultdict(set)
    for r in ivf_batch:
        ivf_by_q[r.query_id].add(r.vec_id)
    for q in range(8):
        recall = len(ivf_by_q[q] & set(exact_by_q[q])) / 10
        assert recall >= 0.4, f"query {q}: IVF-batch recall {recall}"


def test_ivf_kmeans_recall_against_brute_force(spark):
    """IVF over real k-means centroids (3/8 cells probed) must recover
    most of the exact top-10 — and at least as much structure as the
    seed-centroid variant promises (clustered fixture -> high recall)."""
    from mapreduce_framework_spark.registry import get_query

    exact = [r.vec_id for r in get_query("sim_search_topk").fn(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in get_query("sim_search_ivf_kmeans").fn(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF-kmeans recall too low: {recall} (exact={exact}, ivf={approx})"


def test_hash_partition_matches_spark_routing(spark):
    """The observable _pid must equal the partition Spark actually
    routes each row to (spark_partition_id after repartition)."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.hash_partition import hash_partition

    df = hash_partition(table(spark, SF_DIR, "orders"), "o_custkey", 8)
    mismatch = df.withColumn("actual", F.spark_partition_id()).where(
        F.col("_pid") != F.col("actual")
    )
    assert mismatch.count() == 0


def test_point_interval_join_equals_nested_loop(spark):
    """Bucketized range join must return exactly the BNL join's rows."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.rangejoin import point_interval_join

    events = table(spark, SF_DIR, "events").select("event_id", "ts")
    intervals = spark.createDataFrame(
        [
            ("2024-01-02 00:00:00", "2024-01-05 12:30:00", "w1"),
            ("2024-01-05 12:30:00", "2024-01-11 07:00:00", "w2"),
            ("2024-01-20 03:15:00", "2024-01-28 00:00:00", "w3"),
        ],
        "lo_s string, hi_s string, tag string",
    ).select(
        F.col("lo_s").cast("timestamp").alias("lo"),
        F.col("hi_s").cast("timestamp").alias("hi"),
        "tag",
    )
    bucketized = {
        (r.event_id, r.tag)
        for r in point_interval_join(events, intervals, "ts", "lo", "hi").collect()
    }
    bnl = {
        (r.event_id, r.tag)
        for r in events.join(
            intervals, (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))
        ).collect()
    }
    assert bucketized == bnl and len(bnl) > 0


def test_quantized_topk_recall_and_error(spark):
    """Int8 quantization must (a) keep per-element reconstruction error
    within half a quantization step and (b) recover most of the exact
    dot-product top-10 on the test embeddings (first-pass retrieval
    quality; exact re-rank would fix the rest in production)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.functions.vector import dot
    from mapreduce_framework_spark.operators.annsearch import int8_quantize
    from mapreduce_framework_spark.queries.similarity import _vectors

    vectors = _vectors(spark, SF_DIR).select("vec_id", "v")
    q = int8_quantize(vectors)
    # (a) |v_i - qv_i/scale| <= 0.5/scale for every element
    bad = (
        q.join(vectors, "vec_id")
        .select(
            F.size(
                F.filter(
                    F.zip_with(
                        "v", "qv", lambda x, c: F.abs(x - c / F.col("scale"))
                    ),
                    lambda err: err > 0.5 / F.col("scale") + 1e-12,
                )
            ).alias("n_bad")
        )
        .agg(F.sum("n_bad"))
        .collect()[0][0]
    )
    assert bad == 0

    # (b) recall@10 vs exact double-precision dot product
    qv = vectors.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    exact = (
        vectors.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", dot(F.col("v"), F.col("qv")).alias("d"))
        .orderBy(F.desc("d"), F.asc("vec_id"))
        .limit(10)
    )
    exact_ids = {r.vec_id for r in exact.collect()}
    from mapreduce_framework_spark.registry import get_query

    approx_ids = {
        r.vec_id for r in get_query("sim_search_quantized").fn(spark, SF_DIR).collect()
    }
    assert len(exact_ids & approx_ids) >= 8  # ≥80% first-pass recall


def test_incremental_probe_finds_planted_near_dups(spark):
    """probe_candidates must surface a planted new×corpus near-dup and
    must NOT generate any corpus×corpus pairs (the incremental-cost
    contract)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.functions.tokenize import word_ngrams
    from mapreduce_framework_spark.operators.minhash import probe_candidates

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [
        (1, base + "tail one"),          # corpus
        (2, base + "tail one extra"),    # corpus near-dup of 1 (must NOT pair)
        (3, "completely different words with no overlap at all here now"),
        (101, base + "tail one"),        # new: near-dup of corpus 1/2
        (102, "unrelated fresh document about entirely other topics today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", word_ngrams(F.split("text", " "), 3).alias("sh")
    )
    new = docs.where(F.col("doc_id") >= 100)
    corpus = docs.where(F.col("doc_id") < 100)
    got = {
        (r.new_id, r.corpus_id)
        for r in probe_candidates(new, corpus, "doc_id", "sh").collect()
    }
    assert (101, 1) in got and (101, 2) in got
    assert all(nid >= 100 and cid < 100 for nid, cid in got)
    assert not any(nid == 102 for nid, _ in got)  # unrelated doc clean


def test_countmin_estimate_dominates_exact(spark):
    """CMS deterministic guarantee: every estimate >= its exact count
    (min over depths of an overcounting cell can never undercount),
    and the in-plan sketch respects its fixed 4x1024 cell budget."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.registry import get_query

    rows = get_query("profile_countmin_topk").fn(spark, SF_DIR).collect()
    assert rows, "empty heavy-hitter result"
    assert all(r.est_count >= r.exact_count for r in rows)
    # Sketch bound: rebuild the cell frame the query builds and check
    # the distinct (depth, bucket) cardinality never exceeds d*w.
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    key_s = F.col("user_id").cast("string")
    cells = [
        F.struct(
            F.lit(i).alias("depth"),
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), key_s)), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(1024),
            ).alias("bucket"),
        )
        for i in range(4)
    ]
    n_cells = (
        ev.select(F.explode(F.array(*cells)).alias("c"))
        .select("c.depth", "c.bucket")
        .distinct()
        .count()
    )
    assert n_cells <= 4 * 1024


def test_lsh_recall_and_candidate_bound(spark):
    """Multi-probe hyperplane LSH must (a) recover a nontrivial share
    of the exact top-10 and (b) actually prune: candidates are a
    bounded fraction of the corpus.  The synthetic embeddings are
    measured-isotropic (no neighborhood structure — same-label mean
    cosine ≈ cross-label ≈ 0), which lower-bounds what ANY ANN index
    can recall here; 3/10 at ~40% scan is the data's ceiling region,
    not the operator's (see sim_search_lsh docstring)."""
    from mapreduce_framework_spark.operators.annsearch import hyperplane_buckets
    from mapreduce_framework_spark.registry import get_query
    from mapreduce_framework_spark.queries.similarity import _vectors

    exact = [r.vec_id for r in get_query("sim_search_topk").fn(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in get_query("sim_search_lsh").fn(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"LSH recall too low: {recall} (exact={exact}, lsh={approx})"

    vectors = _vectors(spark, SF_DIR).select("vec_id", "v")
    n = vectors.count()
    buckets = hyperplane_buckets(vectors)
    qb = buckets.where(F.col("vec_id") == 0).select(
        "tbl", F.col("bucket").alias("qbucket")
    )
    n_cand = (
        buckets.where(F.col("vec_id") != 0)
        .join(qb, "tbl")
        .where(
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")).cast("bigint"))
            <= 2
        )
        .select("vec_id")
        .distinct()
        .count()
    )
    assert n_cand < 0.6 * n, f"LSH barely prunes: {n_cand}/{n} candidates"


def test_lsh_finds_planted_near_duplicate(spark):
    """A positively-scaled clone of the query vector has identical sign
    projections (hence identical buckets in every table) and cosine 1.0
    — LSH must rank it first.  This is the recall guarantee that IS
    independent of the corpus's (isotropic) geometry."""
    from mapreduce_framework_spark.operators.annsearch import lsh_topk
    from mapreduce_framework_spark.queries.similarity import _vectors

    vectors = _vectors(spark, SF_DIR).select("vec_id", "v")
    clone = vectors.where(F.col("vec_id") == 0).select(
        F.lit(999_999).alias("vec_id"),
        F.transform("v", lambda x: x * 2.0).alias("v"),
    )
    top = lsh_topk(vectors.union(clone), query_id=0, k=10).collect()
    assert top[0].vec_id == 999_999, f"planted dup not ranked first: {top[:3]}"
    assert abs(top[0].cos_sim - 1.0) < 1e-6


def test_exact_ntile_matches_window_ntile(spark):
    """exact_ntile (distributed: range repartition + local ranks +
    broadcast offsets) must be bit-identical to the single-partition
    window ntile on totally-ordered keys — across remainder cases
    (n % k != 0), n < k, descending orders, and a shuffle-partition
    change (the offsets logic must not depend on the physical layout)."""
    from pyspark.sql import Window

    from mapreduce_framework_spark.operators.ranking import exact_ntile, global_ranks

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n, k, parts in ((1003, 4, "32"), (1000, 7, "7"), (3, 8, "32"), (64, 4, "5")):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            df = spark.range(n).select(
                F.col("id"),
                F.pmod(F.xxhash64("id", F.lit(11)), F.lit(10_000_000)).alias("v"),
            )
            order = [F.desc("v"), F.asc("id")]
            got = {
                (r.id, r.tile)
                for r in exact_ntile(df, k, order, out_col="tile").collect()
            }
            want = {
                (r.id, r.tile)
                for r in df.select(
                    "id", F.ntile(k).over(Window.orderBy(*order)).alias("tile")
                ).collect()
            }
            assert got == want, f"n={n} k={k} parts={parts}"
            ranks = {
                (r.id, r.rank)
                for r in global_ranks(df, order).collect()
            }
            wantr = {
                (r.id, r.rank)
                for r in df.select(
                    "id",
                    F.row_number().over(Window.orderBy(*order)).cast("bigint").alias("rank"),
                ).collect()
            }
            assert ranks == wantr, f"ranks n={n} parts={parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_probe_bucket_index_rejects_empty_signature(spark):
    """An empty query signature used to leave cond=None and crash with
    an opaque TypeError inside .where(); it must be a clear ValueError."""
    import pytest

    from mapreduce_framework_spark.operators.annsearch import probe_bucket_index

    idx = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("tbl"),
        F.lit(0).alias("bucket"),
    )
    with pytest.raises(ValueError, match="query_buckets must be non-empty"):
        probe_bucket_index(idx, [])


def test_lsh_hint_verification_catches_stale_count(spark, monkeypatch):
    """The n_vectors hint must be exact — under MFS_VERIFY_LSH_HINT=1 a
    hint whose derived plane count diverges from the true corpus count's
    raises instead of silently changing bucketing (and top-k)."""
    import pytest

    from mapreduce_framework_spark.operators.annsearch import lsh_topk
    from mapreduce_framework_spark.queries.similarity import _vectors

    vectors = _vectors(spark, SF_DIR).select("vec_id", "v")
    n = vectors.count()
    monkeypatch.setenv("MFS_VERIFY_LSH_HINT", "1")
    # Exact hint passes.
    assert len(lsh_topk(vectors, query_id=0, k=5, n_vectors=n).collect()) == 5
    # A hint orders of magnitude off derives a different plane count.
    with pytest.raises(ValueError, match="stale hint"):
        lsh_topk(vectors, query_id=0, k=5, n_vectors=max(64, n * 1000))


def test_chunk_dedup_conservation(spark):
    """dedup_chunk_exact invariants: every chunk is owned by exactly
    one doc (sum of n_kept == number of DISTINCT chunks in the corpus),
    ownership never exceeds chunk count per doc, and kept_ratio is the
    quotient of the two."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.registry import get_query

    out = get_query("dedup_chunk_exact").fn(spark, SF_DIR)
    rows = out.collect()
    assert all(0 <= r.n_kept <= r.n_chunks for r in rows)
    total_kept = sum(r.n_kept for r in rows)

    d = table(spark, SF_DIR, "documents")
    tk = F.split("text", " ")
    n_chunks = F.ceil(F.size(tk) / F.lit(16.0)).cast("int")
    distinct_chunks = (
        d.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - F.lit(1)),
                    lambda i: F.array_join(F.slice(tk, i * 16 + 1, 16), " "),
                )
            ).alias("chunk")
        )
        .select("chunk")
        .distinct()
        .count()
    )
    assert total_kept == distinct_chunks


def test_span_dedup_catches_offset_straddling_duplicate(spark):
    """The fixture round-9's verdict asked for: a 20-token span
    duplicated at DIFFERENT offsets (3 in doc 0, 9 in doc 1) straddles
    16-token aligned chunk boundaries in both docs — dedup_chunk_exact
    provably reports NO duplication, while the offset-exact span pass
    reports exactly the span's 20 tokens as duplicated in the later
    doc and charges the canonical owner nothing."""
    from mapreduce_framework_spark.queries.dedup import (
        chunk_dedup_frame,
        span_dedup_frame,
    )

    span = [f"shared{i}" for i in range(20)]
    docA = [f"a{i}" for i in range(3)] + span + [f"a{i}" for i in range(3, 44)]
    docB = [f"b{i}" for i in range(9)] + span + [f"b{i}" for i in range(9, 44)]
    d = spark.createDataFrame(
        [(0, " ".join(docA)), (1, " ".join(docB))], ["doc_id", "text"]
    )

    chunk = {r.doc_id: r for r in chunk_dedup_frame(d).collect()}
    assert chunk[0].kept_ratio == 1.0 and chunk[1].kept_ratio == 1.0, (
        "aligned chunks must MISS the offset-straddling span "
        "(that miss is the documented gap this fixture pins)"
    )

    span_out = {r.doc_id: r for r in span_dedup_frame(d).collect()}
    assert span_out[0].n_dup_tokens == 0, "canonical owner keeps its span"
    assert span_out[1].n_dup_tokens == 20, (
        "the later doc's whole 20-token span is duplicated content"
    )
    assert span_out[1].n_tokens == 64
    assert abs(span_out[1].dup_ratio - round(20 / 64, 6)) < 1e-12


def test_span_dedup_within_doc_repeat_and_short_docs(spark):
    """Keep-first applies WITHIN a doc too (Lee et al. semantics): an
    18-token block repeated twice inside one doc marks the second
    occurrence's 18 positions; docs shorter than the 16-token window
    emit no grams and report zero (never phantom descending-sequence
    grams)."""
    from mapreduce_framework_spark.queries.dedup import span_dedup_frame

    block = [f"r{i}" for i in range(18)]
    doc = block + ["mid0", "mid1"] + block
    d = spark.createDataFrame(
        [(0, " ".join(doc)), (1, "tiny doc under sixteen tokens")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in span_dedup_frame(d).collect()}
    assert out[0].n_dup_tokens == 18, "second within-doc occurrence is duplicated"
    assert out[1].n_dup_tokens == 0 and out[1].n_tokens == 5


def test_triangle_counts_invariants(spark):
    """Triangle participation counts: every reported node is in ≥1
    triangle, and the total participation is divisible by 3 (each
    triangle credits exactly 3 nodes)."""
    from mapreduce_framework_spark.registry import get_query

    rows = get_query("graph_triangle_knn").fn(spark, SF_DIR).collect()
    assert rows, "kNN graph unexpectedly triangle-free"
    assert all(r.n_triangles >= 1 for r in rows)
    assert sum(r.n_triangles for r in rows) % 3 == 0


def test_lm_perplexity_planted_extremes(spark):
    """A doc that repeats one word has perfectly predictable
    transitions (avg NLL == 0 bits); a doc of corpus-unique words has
    deterministic-once transitions (each bigram is its context's only
    continuation → also 0) — but a doc REUSING corpus words in a novel
    order scores > 0.  Plant the first shape and check the scoring
    floor, plus nonnegativity everywhere."""
    import pandas as pd

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.registry import get_query

    out = get_query("quality_lm_perplexity").fn(spark, SF_DIR)
    rows = out.collect()
    assert all(r.avg_nll_bits >= 0 for r in rows)
    assert all(r.n_bigrams >= 1 for r in rows)
    # Planted floor: score a tiny corpus where doc 1 repeats one word.
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["spark spark spark spark", "a b a c a b"],
            }
        )
    )
    from pyspark.sql import functions as F  # noqa: F811

    tk = F.split("text", " ")
    big = df.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(tk, 1, F.size(tk) - 1).alias("w1"),
                F.slice(tk, 2, F.size(tk) - 1).alias("w2"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cw"))
    scored = (
        big.join(cnt, ["w1", "w2"]).join(ctx, "w1").groupBy("doc_id")
        .agg(F.round(F.avg(F.log2(F.col("cw") / F.col("c"))), 6).alias("nll"))
        .collect()
    )
    by_id = {r.doc_id: r.nll for r in scored}
    assert by_id[1] == 0.0  # fully predictable
    assert by_id[2] > 0.0  # 'a' has three continuations


def test_weighted_sample_favors_heavy_docs(spark):
    """E-S sampling with w = n_chars must overrepresent long docs.
    A 20-doc stratum is a small sample, so a single stratum can land
    below the mean by chance; the assertions are (a) the OVERALL
    sampled mean exceeds the corpus mean and (b) a majority of strata
    tilt heavy.  Deterministic fixture → fixed facts, not flaky."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.registry import get_query

    sample = get_query("sample_importance_weighted").fn(spark, SF_DIR)
    s = {
        r.lang: r.avg
        for r in sample.groupBy("lang").agg(F.avg("n_chars").alias("avg")).collect()
    }
    corpus = {
        r.lang: r.avg
        for r in table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.avg("n_chars").alias("avg"))
        .collect()
    }
    assert set(s) == set(corpus)
    overall_s = sample.agg(F.avg("n_chars")).collect()[0][0]
    overall_c = (
        table(spark, SF_DIR, "documents").agg(F.avg("n_chars")).collect()[0][0]
    )
    assert overall_s > overall_c, f"sample mean {overall_s} <= corpus {overall_c}"
    better = [lang for lang in s if s[lang] > corpus[lang]]
    assert len(better) * 2 > len(s), f"not weight-tilted: sample={s} corpus={corpus}"


def test_mix_rebalance_moves_toward_target(spark):
    """Rebalanced shares must be closer to the declared target than the
    raw corpus shares, language by language; under-represented languages
    keep everything (rate 1)."""
    from mapreduce_framework_spark.registry import get_query

    rows = {r.lang: r for r in get_query("pipeline_mix_rebalance").fn(spark, SF_DIR).collect()}
    target = {"en": 0.30, "de": 0.175, "es": 0.175, "fr": 0.175, "zh": 0.175}
    n_total_before = sum(r.n_before for r in rows.values())
    for lang, r in rows.items():
        before_share = r.n_before / n_total_before
        assert abs(r.share_after - target[lang]) <= abs(before_share - target[lang]) + 0.02
        if before_share < target[lang]:
            assert r.keep_rate == 1.0
        assert r.n_after <= r.n_before


def test_ks_drift_detects_planted_shift(spark):
    """KS sanity on planted samples: identical samples → ks 0; a
    disjoint-support shift → ks 1; a half-shifted sample sits strictly
    between.  Computed through the registered query's frame logic via a
    temp events-shaped frame."""
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: F811

    def ks(rows):
        df = spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        )
        e = df.select(
            "event_type",
            "value",
            F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1)
            .otherwise(2)
            .alias("grp"),
        )
        from pyspark.sql import Window

        tot = e.groupBy("event_type").agg(
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("n2"),
        )
        pv = e.groupBy("event_type", "value").agg(
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("c2"),
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cdf = pv.select(
            "event_type", F.sum("c1").over(w).alias("a1"), F.sum("c2").over(w).alias("a2")
        )
        out = (
            cdf.join(tot, "event_type")
            .groupBy("event_type")
            .agg(F.max(F.abs(F.col("a1") / F.col("n1") - F.col("a2") / F.col("n2"))).alias("ks"))
            .collect()
        )
        return {r.event_type: r.ks for r in out}

    d1 = dt.datetime(2024, 1, 5)
    d2 = dt.datetime(2024, 1, 25)
    same = [(d1, "x", float(v)) for v in range(10)] + [
        (d2, "x", float(v)) for v in range(10)
    ]
    disjoint = [(d1, "x", float(v)) for v in range(10)] + [
        (d2, "x", float(v + 100)) for v in range(10)
    ]
    half = [(d1, "x", float(v)) for v in range(10)] + [
        (d2, "x", float(v + 5)) for v in range(10)
    ]
    assert ks(same)["x"] == 0.0
    assert ks(disjoint)["x"] == 1.0
    assert 0.0 < ks(half)["x"] < 1.0


def test_farthest_seeds_are_pairwise_distant(spark):
    """k-center greedy guarantees each new seed's reported distance is
    the CURRENT max-min — so reported sq_dist is non-increasing with
    rank, seeds are distinct, and every seed's distance to all prior
    seeds is ≥ its reported min-distance (it was the farthest point)."""
    from mapreduce_framework_spark.operators.kmeans import _sq_l2, quantize
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.registry import get_query

    rows = sorted(
        get_query("embedding_seed_farthest").fn(spark, SF_DIR).collect(),
        key=lambda r: r.seed_rank,
    )
    assert [r.seed_rank for r in rows] == [0, 1, 2, 3]
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == 4
    dists = [r.sq_dist for r in rows[1:]]
    assert dists == sorted(dists, reverse=True)

    vecs = {
        r.vec_id: r.qv
        for r in table(spark, SF_DIR, "embeddings")
        .where(F.col("vec_id").isin(ids))
        .select("vec_id", quantize(F.col("embedding")).alias("qv"))
        .collect()
    }
    for i in range(1, 4):
        mind = min(
            sum((a - b) ** 2 for a, b in zip(vecs[ids[i]], vecs[ids[j]]))
            for j in range(i)
        )
        assert mind == rows[i].sq_dist


def test_payload_fingerprint_groups_planted_duplicate(spark):
    """A byte-identical payload clone must land in its original's
    fingerprint group (n_copies 2, canonical = lower doc_id) — the
    planted-duplicate guarantee of the binary dedup lane."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.multimodal.decode import fingerprint_payloads

    base = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
        .limit(20)
    )
    clone = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "payload"
    )
    groups = (
        fingerprint_payloads(base.unionByName(clone))
        .groupBy("fp60")
        .agg(F.min("doc_id").alias("canon"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r.n == 2 for r in groups)
    assert all(r.canon < 1_000_000 for r in groups)


def test_streaks_on_planted_pattern(spark):
    """Planted day pattern: days {1,2,3, 7, 9,10} → 3 streaks, longest
    3, active 6 — the anchor trick must count exactly these."""
    import datetime as dt

    from pyspark.sql import Window

    days = [1, 2, 3, 7, 9, 10]
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, d)) for d in days], "user_id long, d date"
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = df.select(
        "user_id", F.date_sub(F.col("d"), F.row_number().over(w)).alias("a")
    )
    streaks = isl.groupBy("user_id", "a").agg(F.count(F.lit(1)).alias("len"))
    out = streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("len").alias("mx"),
        F.sum("len").alias("tot"),
    ).collect()[0]
    assert (out.n, out.mx, out.tot) == (3, 3, 6)


def test_semantic_dedup_invariants(spark):
    """dedup_semantic invariants: one verdict row per corpus vector;
    the lowest vec_id of every cluster is always kept (greedy drop
    needs a LOWER-id neighbor in the same cluster, which that vector
    cannot have).  Cross-engine value correctness is the oracle's job
    (verify sweeps); this pins the keep-rule semantics."""
    from mapreduce_framework_spark.registry import get_query

    out = get_query("dedup_semantic").fn(spark, SF_DIR)
    rows = out.collect()
    from mapreduce_framework_spark.io import table as _table

    n = _table(spark, SF_DIR, "embeddings").count()
    assert len(rows) == n
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        lowest = min(members, key=lambda r: r.vec_id)
        assert lowest.keep, f"cluster min id {lowest.vec_id} was dropped"


def test_semantic_dedup_incremental_conserves_counts(spark):
    """Per-cluster admit/drop counts partition the batch exactly:
    n_new = n_dup_corpus + n_dup_within + n_admitted in every cluster,
    and the clusters' n_new sum to the md5-split batch size."""
    from mapreduce_framework_spark.io import table as _table
    from mapreduce_framework_spark.registry import get_query

    rows = get_query("dedup_semantic_incremental").fn(spark, SF_DIR).collect()
    assert rows, "no clusters reported"
    for r in rows:
        assert r.n_new == r.n_dup_corpus + r.n_dup_within + r.n_admitted
    n_new_total = (
        _table(spark, SF_DIR, "embeddings")
        .where(
            F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 1)
            < "4"
        )
        .count()
    )
    assert sum(r.n_new for r in rows) == n_new_total


def test_pq_recall_and_code_compression(spark):
    """PQ/ADC must (a) recover a nontrivial share of the exact top-10 —
    the synthetic embeddings are measured-isotropic (see the LSH test),
    so ~3/10 is the data's ceiling region for a 4×3-bit code, not the
    operator's — and (b) actually compress: every vector reduces to
    exactly 4 codes, each in [0, 8)."""
    from mapreduce_framework_spark.operators.annsearch import (
        pq_encode,
        pq_subvectors,
        pq_train,
    )
    from mapreduce_framework_spark.operators.kmeans import quantize as kquantize
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.registry import get_query

    exact = [r.vec_id for r in get_query("sim_search_topk").fn(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in get_query("sim_search_pq").fn(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.2, f"PQ recall too low: {recall} (exact={exact}, pq={approx})"

    qvecs = table(spark, SF_DIR, "embeddings").select(
        "vec_id", kquantize(F.col("embedding")).alias("v")
    )
    n = qvecs.count()
    codes = pq_encode(pq_subvectors(qvecs), pq_train(pq_subvectors(qvecs)))
    stats = codes.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("vec_id").alias("vecs"),
        F.min("code").alias("cmin"),
        F.max("code").alias("cmax"),
    ).collect()[0]
    assert stats.rows == 4 * n and stats.vecs == n
    assert 0 <= stats.cmin and stats.cmax < 8


def test_pq_subvectors_rejects_ragged_vector(spark):
    """A vector whose dim != PQ_SUB*PQ_SUB_DIM must FAIL at execution,
    not silently produce a ragged trailing subspace."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mapreduce_framework_spark.operators.annsearch import pq_subvectors

    bad = spark.createDataFrame(
        [(1, list(range(60)))], "vec_id long, v array<bigint>"
    )
    with pytest.raises(SparkRuntimeException, match="expected dim 64"):
        pq_subvectors(bad).collect()


def test_pq_train_seeds_from_observed_ids(spark):
    """Seeding must use the PQ_SEEDS SMALLEST OBSERVED ids, not literal
    ids 0..n-1: on a corpus whose ids start at 1000
    the codebook still trains 8 full codewords per subspace, and the
    codebook is identical to the dense-id corpus's (same vectors, ids
    shifted)."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.annsearch import pq_subvectors, pq_train
    from mapreduce_framework_spark.operators.kmeans import quantize as kquantize

    qvecs = table(spark, SF_DIR, "embeddings").select(
        "vec_id", kquantize(F.col("embedding")).alias("v")
    )
    shifted = qvecs.select((F.col("vec_id") + 1000).alias("vec_id"), "v")
    cb_dense = pq_train(pq_subvectors(qvecs))
    cb_shift = pq_train(pq_subvectors(shifted))
    per_m = (
        cb_shift.groupBy("m").agg(F.countDistinct("code").alias("k")).collect()
    )
    assert len(per_m) == 4 and all(r.k == 8 for r in per_m), per_m
    assert sorted(map(tuple, cb_dense.collect())) == sorted(
        map(tuple, cb_shift.collect())
    )


def test_pq_rerank_recall_dominates_raw_pq(spark):
    """Exact re-ranking of the PQ candidate set can never lose recall:
    PQ's own top-10 is a subset of the 50 ADC candidates, so every
    exact-top-10 vector raw PQ surfaced survives the re-rank — the
    two-stage guarantee the sim_search_pq_rerank docstring claims."""
    from mapreduce_framework_spark.registry import get_query

    exact = {r.vec_id for r in get_query("sim_search_topk").fn(spark, SF_DIR).collect()}
    pq = {r.vec_id for r in get_query("sim_search_pq").fn(spark, SF_DIR).collect()}
    rr = {r.vec_id for r in get_query("sim_search_pq_rerank").fn(spark, SF_DIR).collect()}
    assert len(rr) == 10
    assert len(exact & rr) >= len(exact & pq), (
        f"re-rank lost recall: pq={sorted(pq)}, rerank={sorted(rr)}"
    )


def test_canonicalize_url_contract(spark):
    """The documented canonicalization order, case by case: fragment,
    scheme/host case, www, default ports, tracking-param drop +
    bytewise sort, trailing slash — and the invariants that paths keep
    their case and non-tracking params survive."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.functions.urlnorm import canonicalize_url

    cases = {
        "HTTPS://WWW.Example.COM/a/?utm_source=feed#top": "https://example.com/a",
        "https://example.com/a": "https://example.com/a",
        "http://example.com:80/a/b/?z=1&a=2&utm_campaign=x":
            "http://example.com/a/b?a=2&z=1",
        "https://example.com:443/a?gclid=abc": "https://example.com/a",
        "https://example.com/a?b=2&id=7": "https://example.com/a?b=2&id=7",
        "https://example.com": "https://example.com",
        "https://example.com/?ref=hn": "https://example.com",
        "https://example.com/CaseSensitive/Path": "https://example.com/CaseSensitive/Path",
        "https://example.com:8080/a": "https://example.com:8080/a",
        # default ports are scheme-relative: these are DISTINCT origins
        # and must not collapse (round-9 review finding)
        "http://example.com:443/a": "http://example.com:443/a",
        "https://example.com:80/a": "https://example.com:80/a",
        # '?' is a legal query character: query = after the FIRST '?'
        "https://example.com/p?a=1?b=2": "https://example.com/p?a=1?b=2",
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string").select(
        "u", canonicalize_url(F.col("u")).alias("c")
    )
    got = {r.u: r.c for r in df.collect()}
    assert got == cases


def test_bpe_learns_textbook_merges(spark):
    """Hand-computable BPE on the classic low/lower/newest corpus:
    merge 1 is (l,o) — ties at count 7 with (o,w), broken by pair text
    — then (lo,w), then (low,</w>), then (e,s); after 4 merges 'low'
    is ONE symbol, 'lower' four, 'newest' six (leftmost
    non-overlapping application)."""
    from mapreduce_framework_spark.queries.bpe import bpe_train

    d = spark.createDataFrame(
        [(0, "low low low low low"), (1, "lower lower"), (2, "newest newest newest")],
        ["doc_id", "text"],
    )
    vocab, merges = bpe_train(d, n_merges=4)
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in merges.orderBy("merge_rank").collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 7),
        (2, "lo", "w", "low", 7),
        (3, "low", "</w>", "low</w>", 5),
        (4, "e", "s", "es", 3),
    ]
    sym_counts = {r.word: len(r.s.split(" ")) for r in vocab.collect()}
    assert sym_counts == {"low": 1, "lower": 4, "newest": 6}


def test_bpe_exhausted_merges_are_stable(spark):
    """More merge rounds than the corpus has pairs: once every word is
    one symbol the pair frame is empty — further rounds must be no-ops
    (no NULL-pattern replace nulling the vocab, no phantom merges)."""
    from mapreduce_framework_spark.queries.bpe import bpe_train

    d = spark.createDataFrame([(0, "ab ab ab")], ["doc_id", "text"])
    vocab, merges = bpe_train(d, n_merges=6)
    rows = merges.collect()
    # 'a b </w>' exhausts after 2 merges: (a,b) then (ab,</w>).
    assert len(rows) == 2
    v = vocab.collect()
    assert len(v) == 1 and v[0].s == "ab</w>"


def test_span_removal_is_consistent_with_span_report(spark):
    """Removal twin consistency on the offset-straddling fixture: the
    cleaned text drops EXACTLY the duplicated span's tokens (report's
    n_dup_tokens == n_tokens - n_tokens_kept), the canonical owner is
    untouched, and the kept tokens preserve original order."""
    from mapreduce_framework_spark.queries.dedup import (
        span_dedup_frame,
        span_dup_positions,
    )
    from pyspark.sql import functions as F

    span = [f"shared{i}" for i in range(20)]
    docA = [f"a{i}" for i in range(3)] + span + [f"a{i}" for i in range(3, 44)]
    docB = [f"b{i}" for i in range(9)] + span + [f"b{i}" for i in range(9, 44)]
    d = spark.createDataFrame(
        [(0, " ".join(docA)), (1, " ".join(docB))], ["doc_id", "text"]
    )
    report = {r.doc_id: r for r in span_dedup_frame(d).collect()}

    dup = span_dup_positions(d)
    positions = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok"))
    kept = positions.join(dup, ["doc_id", "p"], "left_anti")
    rebuilt = {
        r.doc_id: r
        for r in kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("cleaned"),
        )
        .collect()
    }
    assert rebuilt[0].cleaned == " ".join(docA), "owner doc must be untouched"
    expect_b = [t for t in docB if not t.startswith("shared")]
    assert rebuilt[1].cleaned == " ".join(expect_b)
    for doc in (0, 1):
        assert (
            report[doc].n_tokens - report[doc].n_dup_tokens
            == rebuilt[doc].n_kept
        )


def test_sized_checkpoint_paths_identical(spark, monkeypatch):
    """The size gate picks WHERE bytes live, never WHAT the frame is:
    the lazy (below ``$SPARK_GRAFT_CKPT_MIN_BYTES``) and eagerly-
    checkpointed paths must produce identical rows, and the lazy path
    must return the input frame unchanged (no job, no copy).  An overshooting estimate fails
    toward materializing: a planted 1 PiB estimate still checkpoints."""
    from mapreduce_framework_spark.operators import materialize
    from mapreduce_framework_spark.operators.materialize import (
        plan_size_estimate,
        sized_local_checkpoint,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("k"), F.sha1(F.col("id").cast("string")).alias("s")
    )
    est = plan_size_estimate(df)
    assert est > 0

    monkeypatch.setenv("SPARK_GRAFT_CKPT_MIN_BYTES", str(est + 1))
    lazy_small = sized_local_checkpoint(df)
    assert lazy_small is df, "below min_bytes the frame must pass through"

    monkeypatch.setenv("SPARK_GRAFT_CKPT_MIN_BYTES", "0")
    ckpt = sized_local_checkpoint(df)
    assert ckpt is not df, "at or above min_bytes the frame must materialize"

    monkeypatch.delenv("SPARK_GRAFT_CKPT_MIN_BYTES", raising=False)
    monkeypatch.setattr(materialize, "plan_size_estimate", lambda _df: 1 << 50)
    overshoot = sized_local_checkpoint(df)
    assert overshoot is not df, "an overshooting estimate must still materialize"

    expect = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, ckpt.collect())) == expect
    assert sorted(map(tuple, lazy_small.collect())) == expect
    assert sorted(map(tuple, overshoot.collect())) == expect


def test_fingerprints_dictionary_hash_identical(spark):
    """dictionary_hash only changes WHERE the token hash is evaluated
    (once per distinct token vs once per occurrence) — fingerprints must
    be bit-identical, md5 and xxhash64 lanes alike."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.operators.simhash import (
        fingerprints,
        md5_prefix60,
    )

    d = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .limit(200)
    )
    for th, bits in ((md5_prefix60, 60), (None, 64)):
        base = {
            r.doc_id: r.fp
            for r in fingerprints(d, "doc_id", "toks", token_hash=th, n_bits=bits).collect()
        }
        dic = {
            r.doc_id: r.fp
            for r in fingerprints(
                d, "doc_id", "toks", token_hash=th, n_bits=bits, dictionary_hash=True
            ).collect()
        }
        assert base == dic
