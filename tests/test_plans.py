"""Physical-plan regression tests: pushdown, pruning, broadcast,
shuffle counts, partial aggregation.  Correctness tests can't see a
100× cost regression — these pin the plan shape itself."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(spark, name):
    from mapreduce_framework_spark.registry import get_query

    return get_query(name).fn(spark, SF_DIR)


def test_scan_project_prunes_columns(spark):
    from mapreduce_framework_spark.plans import read_schema_columns

    schemas = read_schema_columns(_q(spark, "scan_project"))
    assert schemas, "no parquet scan found"
    assert sorted(schemas[0]) == [
        "l_extendedprice",
        "l_orderkey",
        "l_partkey",
        "l_quantity",
    ]


def test_filter_pushdown_reaches_scan(spark):
    from mapreduce_framework_spark.plans import pushed_filters

    filters = " ".join(pushed_filters(_q(spark, "scan_filter_pushdown")))
    assert "o_orderstatus" in filters
    assert "o_orderdate" in filters


def test_wordcount_has_partial_aggregation(spark):
    """The map-side combine (reference map.py:16-22) must appear as a
    partial aggregate below the exchange."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "wordcount"))
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Scan parquet")


def test_broadcast_join_is_broadcast(spark):
    from mapreduce_framework_spark.plans import count_exchanges, has_operator

    df = _q(spark, "join_broadcast")
    assert has_operator(df, "BroadcastHashJoin")
    # lineitem is aggregated after the broadcast join: exactly one
    # shuffle (for the final groupBy), never one for the join.
    assert count_exchanges(df) == 1


def test_join_agg_reuses_partitioning(spark):
    """orders ⋈ customer on custkey then groupBy custkey must never need
    a third exchange: either the small side broadcasts (1 shuffle, for
    the groupBy) or both sides shuffle once and the aggregate reuses
    that partitioning (2 shuffles). 3 = regression."""
    from mapreduce_framework_spark.plans import count_exchanges

    assert count_exchanges(_q(spark, "join_inner_equi")) <= 2


def test_topk_uses_take_ordered(spark):
    from mapreduce_framework_spark.plans import has_operator

    assert has_operator(_q(spark, "topk_limit"), "TakeOrderedAndProject")


def test_semi_anti_plans(spark):
    from mapreduce_framework_spark.plans import formatted_plan

    assert "LeftSemi" in formatted_plan(_q(spark, "join_semi"))
    assert "LeftAnti" in formatted_plan(_q(spark, "join_anti"))


def test_multiway_broadcasts_nation(spark):
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "join_multiway"))
    assert "BroadcastHashJoin" in plan


def test_scalar_battery_is_whole_stage_codegen(spark):
    """The scalar pipelines must stay inside whole-stage codegen (no
    Python evaluation nodes)."""
    from mapreduce_framework_spark.plans import formatted_plan

    for name in ("scalar_string", "scalar_math", "proj_expressions"):
        plan = formatted_plan(_q(spark, name))
        # Formatted explain marks codegen stages with a '* ' prefix.
        assert "* Project" in plan or "* HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_partition_pruning_reaches_scan(spark):
    """Filter on a hive partition column must become PartitionFilters
    (pruned directories are never opened), not a post-scan Filter."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "source_partition_pruning"))
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "l_returnflag" in m[0]


def test_bucketed_join_has_no_join_exchange(spark):
    """Both sides bucketed+sorted by the join key into the same bucket
    count: the sort-merge join must read buckets directly — the only
    exchange in the plan is the final groupBy."""
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    df = _q(spark, "join_bucketed")
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert count_exchanges(df) == 1


def test_asof_join_is_single_shuffle(spark):
    """The union+window as-of plan must cost one exchange (the window's
    hash partitioning on the key) — a theta-join formulation would show
    a nested loop instead."""
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    df = _q(spark, "join_asof")
    assert "NestedLoop" not in formatted_plan(df)
    assert count_exchanges(df) <= 2  # union inputs may each repartition


def test_salted_agg_is_two_stage(spark):
    """Salted aggregation = exactly two exchanges: (key, salt) then key."""
    from mapreduce_framework_spark.plans import count_exchanges

    assert count_exchanges(_q(spark, "agg_salted_skew")) == 2


def test_no_python_eval_outside_udf_surface(spark):
    """Python evaluation nodes (row-at-a-time or Arrow) may appear ONLY
    in queries whose point is the Python surface (udf/pandas/compat/
    multimodal/stateful).  Everything else must stay JVM-side — a
    BatchEvalPython sneaking into a relational query is a 10-100×
    regression invisible to correctness tests."""
    from mapreduce_framework_spark.plans import formatted_plan
    from mapreduce_framework_spark.registry import all_queries

    python_ok = {"udf", "pandas", "compat", "multimodal", "stateful"}
    # Queries that execute streams/writes eagerly can't be explained
    # cheaply here; they are covered by their own tests.
    skip = {"sink_roundtrip", "join_bucketed", "source_csv_roundtrip",
            "source_json_roundtrip", "source_partition_pruning",
            "mapreduce_job_wordcount", "stream_stateful_running_total",
            "stream_watermark_late"}
    for name, spec in sorted(all_queries().items()):
        if name in skip or python_ok & set(spec.tags):
            continue
        plan = formatted_plan(spec.fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name}: row-Python in plan"
        assert "ArrowEvalPython" not in plan, f"{name}: pandas UDF in plan"
        assert "FlatMapGroupsInPandas" not in plan, f"{name}: grouped-map in plan"


def test_no_unintended_cartesian_products(spark):
    """CartesianProduct/BroadcastNestedLoop may appear only where a
    non-equi join is the declared semantics (theta/range joins, the
    broadcast query-vector cross in similarity)."""
    from mapreduce_framework_spark.plans import formatted_plan
    from mapreduce_framework_spark.registry import all_queries

    nonequi_ok = {"theta", "similarity", "ann", "embedding"}
    skip = {"sink_roundtrip", "join_bucketed", "source_csv_roundtrip",
            "source_json_roundtrip", "source_partition_pruning",
            "mapreduce_job_wordcount", "stream_stateful_running_total",
            "stream_watermark_late"}
    for name, spec in sorted(all_queries().items()):
        if name in skip or nonequi_ok & set(spec.tags):
            continue
        plan = formatted_plan(spec.fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_watermark_replay_source_has_no_global_sort(spark):
    """The late-arrival replay's batch assignment must be a broadcast
    threshold comparison (skinny min/max aggregate → time-third
    cutoffs), NOT the round-6 `ntile(3) OVER (ORDER BY ...)` — a window
    with no partitionBy funnels the whole events table through one task,
    the classic 100 TB scale-killer.  Pin: no Window operator, and the
    only SinglePartition exchange allowed is the one-row final merge of
    the skinny cutoff aggregate (input = the 2-column min/max buffer),
    never the events data path."""
    import re

    from mapreduce_framework_spark.plans import formatted_plan
    from mapreduce_framework_spark.queries.streaming import _late_replay_source

    plan = formatted_plan(_late_replay_source(spark, SF_DIR))
    assert "Window" not in plan, "global window crept back into the replay fixture"
    # Every SinglePartition exchange must carry a skinny aggregation
    # buffer (<=4 cols), not event rows.
    for block in re.split(r"\n\n", plan):
        if "Arguments: SinglePartition" not in block:
            continue
        m = re.search(r"Input(?: \[(\d+)\]|: \[\])", block)
        assert m and int(m.group(1) or 0) <= 4, (
            f"wide single-partition exchange in replay fixture:\n{block}"
        )


def test_rfm_quartiles_have_no_wide_single_partition_window(spark):
    """events_rfm_segmentation's three quartile scores must run on the
    distributed exact_ntile path (range repartition + local ranks +
    broadcast offsets) — the unpartitioned ntile(4) windows it shipped
    with funneled the whole user frame through one task.  Allowed
    SinglePartition exchanges carry only the skinny per-partition
    counts/offsets frames (≤4 columns), never user rows."""
    import re

    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "events_rfm_segmentation"))
    assert "ntile" not in plan, "window ntile crept back into the RFM plan"
    for block in re.split(r"\n\n", plan):
        if "Arguments: SinglePartition" not in block:
            continue
        m = re.search(r"Input(?: \[(\d+)\]|: \[\])", block)
        assert m and int(m.group(1) or 0) <= 4, (
            f"wide single-partition exchange in RFM plan:\n{block}"
        )


def test_global_sort_is_range_partitioned(spark):
    """A global ORDER BY must range-partition (sampled boundaries), not
    funnel through one reducer."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sort_multi_key"))
    assert "rangepartitioning" in plan or "Sort" in plan
    assert "SinglePartition" not in plan


def test_observe_metrics_single_pass(spark):
    """observe() audit counts must match reality without a second scan
    (reference polls progress out-of-band; we get it in-plan)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.plans.metrics import observed

    src = table(spark, SF_DIR, "orders")
    df, obs = observed(
        src.where(F.col("o_totalprice") > 100),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("audit_total"),
    )
    out = df.groupBy("o_orderstatus").count()
    rows = out.collect()
    got = obs.get
    expect = src.where(F.col("o_totalprice") > 100).count()
    assert got["n_rows"] == expect
    assert sum(r["count"] for r in rows) == expect
    assert got["audit_total"] is not None


def test_dynamic_partition_pruning_in_scan(spark):
    """The fact scan's partition filter must be a runtime dynamicpruning
    subquery fed by the dimension filter, not a literal."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "scan_dynamic_pruning"))
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_pack_sequences_avoids_global_sort(spark):
    """The running-sum window is partitioned by source: a single-
    partition exchange here would serialize the whole corpus through
    one task at scale."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "pack_sequences"))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_sessionize_is_single_shuffle(spark):
    """Both sessionize windows and the final per-session aggregate must
    share ONE user_id exchange — a second exchange means the groupBy
    stopped reusing the window partitioning (the whole scale story of
    this operator)."""
    from mapreduce_framework_spark.plans import count_exchanges

    assert count_exchanges(_q(spark, "window_sessionize")) == 1


def test_ngram_topk_take_ordered_with_partial_agg(spark):
    """Corpus bigram top-k: partial aggregation below the exchange
    (one row per distinct gram shuffles, not per occurrence) and
    TakeOrderedAndProject on top (never a global sort)."""
    from mapreduce_framework_spark.plans import formatted_plan, has_operator

    df = _q(spark, "ngram_topk")
    assert has_operator(df, "TakeOrderedAndProject")
    plan = formatted_plan(df)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime bloom-filter join (the 100 TB shuffle reducer:
    the selective side's keys are sketched and applied as a
    might_contain prefilter on the big side's scan) stays OFF at local
    fixture sizes — the application-side threshold is 10 GB — but must
    inject once thresholds reflect big-data conditions.  This pins that
    the engine's plans are bloom-eligible: join shape and key types
    qualify, so at real scale the filter appears with default configs."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = table(spark, SF_DIR, "lineitem")
        o = table(spark, SF_DIR, "orders").where(F.col("o_totalprice") > 300000)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter did not inject"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_overlap_is_equi_join_not_nested_loop(spark):
    """The bucketized range join exists to avoid the O(n·m) nested
    loop a naive theta join plans; pin that it stays an equi-join."""
    from mapreduce_framework_spark.plans import formatted_plan, has_operator

    df = _q(spark, "join_interval_overlap")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        has_operator(df, "SortMergeJoin")
        or has_operator(df, "ShuffledHashJoin")
        or has_operator(df, "BroadcastHashJoin")
    )


def test_heavy_hitters_take_ordered_with_partial_count(spark):
    """Top-10 must be TakeOrderedAndProject (never a global sort) over a
    map-side-combined count."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "profile_heavy_hitters"))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_dedup_incremental_joins_on_fingerprints_only(spark):
    """The admission join must carry md5 fingerprints, never document
    text: no plan node may reference the text column after the scan
    projections, and the joins stay equi-joins."""
    from mapreduce_framework_spark.plans import formatted_plan, read_schema_columns

    df = _q(spark, "dedup_incremental")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # text is read (to fingerprint) but must not appear in any join/agg
    # node: every reference outside the scan/project lines is the fp.
    for schema in read_schema_columns(df):
        assert "doc_id" in schema or "text" in schema  # scans read only what they need


def test_ngram_jaccard_join_carries_token_band(spark):
    """The exact-Jaccard join must block on the token-count band, not
    just (lang, source): the band is what bounds within-block pair
    growth at corpus scale.  Pin that the join is an equi-join whose
    keys include band_probe/band, with no nested loop."""
    from mapreduce_framework_spark.plans import formatted_plan

    df = _q(spark, "dedup_ngram_jaccard")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "band_probe" in plan and "band" in plan
    # the band must appear in the join's key list, not merely as a
    # post-join filter: find the join node's key line and check it.
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln or "keys" in ln.lower()
    ]
    assert any("band" in ln for ln in join_lines), join_lines


def test_curation_funnel_is_single_scan(spark):
    """The composed curation funnel must scan `documents` exactly once:
    stage survivorship is conditional window aggregation, not re-scans
    or self-joins.  (Two digest-partitioned window exchanges + the final
    groupBy are the only shuffles.)"""
    from mapreduce_framework_spark.plans import formatted_plan

    import re

    plan = formatted_plan(_q(spark, "corpus_curation_funnel"))
    scan_nodes = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_nodes) == 1, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantized_topk_is_broadcast_take_ordered(spark):
    """Quantized search must broadcast the 1-row query and keep top-k as
    TakeOrderedAndProject — no shuffle of the vector table, no global
    sort."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sim_search_quantized"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "Sort " not in plan.replace("TakeOrdered", "")


def test_incremental_minhash_probe_is_equi_join_on_bands(spark):
    """The corpus probe must be an equi-join on (band_id, band_hash) —
    the persisted-index lookup — with no nested loop anywhere in the
    admission pipeline."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "dedup_minhash_incremental"))
    assert "band_hash" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_filtered_query_injects_might_contain(spark):
    """join_bloom_filtered's exact frame (shared helper) must plan a
    bloom_filter_agg on the filtered dim and a might_contain prefilter
    on the fact side under the query's pinned confs — the registered
    query materializes this same frame eagerly."""
    from mapreduce_framework_spark.queries.joins import (
        BLOOM_JOIN_CONFS,
        bloom_join_frame,
    )

    old = {k: spark.conf.get(k, None) for k in BLOOM_JOIN_CONFS}
    for k, v in BLOOM_JOIN_CONFS.items():
        spark.conf.set(k, v)
    try:
        plan = (
            bloom_join_frame(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "might_contain" in plan, "bloom prefilter missing from fact side"
        assert "bloom_filter_agg" in plan, "bloom build missing from dim side"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_chunk_dedup_is_two_exchanges_no_digest_window(spark):
    """Chunk dedup = explode → min-owner groupBy on chunk (1 shuffle,
    map-side partial_min so a boilerplate chunk repeated 10⁶× collapses
    BEFORE the exchange) → broadcast join-back → re-agg on doc_id
    (1 shuffle).  Round-10 verdict task #1 pins: NO Window partitioned
    by the content digest (single-task skew tail AQE cannot split), NO
    SortAggregate (min over a non-mutable buffer type would silently
    sort the corpus-sized chunk frame map-side), and no third
    exchange."""
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    df = _q(spark, "dedup_chunk_exact")
    plan = formatted_plan(df)
    assert "Window" not in plan, "digest window crept back (skew tail)"
    assert "SortAggregate" not in plan, "min-owner agg fell out of HashAggregate"
    assert "partial_min" in plan, "map-side combine missing before digest exchange"
    assert count_exchanges(df) == 2


def test_span_chunk_broadcast_gate_degrades_to_shuffle_join(spark):
    """The span/chunk join-back build side must broadcast only while it
    provably fits — a corpus-scale dup-digest set (simulated by
    shrinking the broadcast budget) must automatically degrade to the
    AQE-skew-splittable shuffle join instead of OOMing a forced
    broadcast, with identical answers; and the curated shape at
    default budget must keep the pure broadcast plan (no pre-flight
    cache, no extra pass)."""
    from mapreduce_framework_spark.plans import formatted_plan
    from mapreduce_framework_spark.queries.dedup import (
        chunk_dedup_frame,
        span_dup_positions,
    )

    # 600 docs in 300 duplicated pairs, 20 tokens each → 5 grams/doc,
    # 1500 distinct duplicated digests; with a 1 KB threshold (32 KB
    # budget ≈ 455 rows) both the cheap bound (3000 grams) and the
    # exact count overflow → shuffle tier.
    rows = []
    for i in range(300):
        text = " ".join(f"w{i}t{j}" for j in range(20))
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text))
    d = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "1KB")
        gated = span_dup_positions(d)
        plan = formatted_plan(gated)
        assert "BroadcastHashJoin" not in plan, (
            "corpus-scale dup set must not broadcast"
        )
        assert "InMemoryTableScan" in plan, (
            "exact pre-flight tier should reuse the counted aggregate"
        )
        got = sorted(tuple(r) for r in gated.collect())
        chunk_plan = formatted_plan(chunk_dedup_frame(d))
        assert "BroadcastHashJoin" not in chunk_plan
    finally:
        spark.conf.set(key, orig)

    # Curated shape at default budget: tier-1 upper-bound shortcut —
    # a pure broadcast plan (hint present, no InMemoryTableScan, no
    # persist) with the same answers as the shuffle tier.
    default = span_dup_positions(d)
    plan_default = formatted_plan(default)
    assert "BroadcastHashJoin" in plan_default
    assert "InMemoryTableScan" not in plan_default
    assert got == sorted(tuple(r) for r in default.collect()) and len(got) > 0


def test_lsh_signatures_have_no_shuffle(spark):
    """Hyperplane signatures are ONE codegen projection pass: the only
    exchanges in sim_search_lsh sit downstream of the bucket explode
    (candidate distinct + final top-k), never under the signature
    computation — and the query-bucket side broadcasts."""
    from mapreduce_framework_spark.plans import formatted_plan

    df = _q(spark, "sim_search_lsh")
    plan = formatted_plan(df)
    # query-bucket join AND candidate semi join both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    # the vector table is never sort-merge-joined
    assert "SortMergeJoin" not in plan


def test_containment_routing_joins_broadcast(spark):
    """The block-cap category routing must broadcast: big_cats is a
    tiny category list, so both the left_anti (exact tier) and
    left_semi (overflow tier) routing joins against the corpus must be
    broadcast joins — a shuffle there would move the whole corpus just
    to split it in two."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "dedup_containment"))
    # anti + semi routing both present, both broadcast-side
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan


def test_lm_perplexity_count_joins_broadcast(spark):
    """BOUNDED-vocab path only (round-5): the joins carry no broadcast
    hint anymore (a hint bypasses the size threshold and would collect
    an open-vocab bigram table to the driver), so the bounded-vocab
    broadcast is AQE's runtime decision — assert it on the executed
    final plan, where the small count tables must have converted both
    joins to broadcast."""
    df = _q(spark, "quality_lm_perplexity")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_mix_rebalance_corpus_never_shuffles_rows(spark):
    """The rates table broadcasts; every exchange in the plan carries
    skinny aggregate rows (per-lang counts), never the corpus: with the
    keep test map-side, no exchange may sit between the documents scan
    and the first partial aggregate."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "pipeline_mix_rebalance"))
    assert "BroadcastHashJoin" in plan
    # corpus-side join of rates must not be a SortMergeJoin
    assert "SortMergeJoin" not in plan


def test_grid_proximity_is_equi_join_not_nested_loop(spark):
    """Grid blocking must turn the 2-D range predicate into a hash
    equi-join on (type, cell); a BroadcastNestedLoopJoin/CartesianProduct
    would mean the rewrite regressed to comparing everything."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "join_grid_proximity"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_asof_nearest_shares_one_exchange(spark):
    """Both direction windows must reuse the single user_id hash
    partitioning: one exchange for the union'd stream (plus at most
    one per union input), never a nested loop."""
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    df = _q(spark, "join_asof_nearest")
    assert "NestedLoop" not in formatted_plan(df)
    assert count_exchanges(df) <= 2


def test_band_index_probe_reads_buckets_in_place(spark, tmp_path):
    """The persisted MinHash band index (persist_band_index: bucketed +
    bucket-sorted on (band_id, band_hash)) must be probed WITHOUT an
    exchange on the index side — the daily-admission contract: shuffle
    cost is O(new batch), independent of accumulated corpus size.  The
    three exchanges in the plan all belong to the new side (signature
    groupBy, probe-side join repartition, final distinct); probing the
    same corpus inline costs two more (its signature groupBy + its join
    repartition)."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.minhash import (
        persist_band_index,
        probe_candidates,
    )
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    corpus = d.where(F.col("doc_id") % 8 != 0)
    new = d.where(F.col("doc_id") % 8 == 0)
    tname = f"band_idx_plan_test_{os.getpid()}"
    idx = persist_band_index(
        corpus, "doc_id", "toks", tname, str(tmp_path / "band_idx")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = probe_candidates(new, None, "doc_id", "toks", corpus_index=idx)
        plan = formatted_plan(probe)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        assert count_exchanges(probe) == 3
        # The same probe against an inline (unpersisted) corpus pays two
        # more exchanges — the pair the bucketed layout deletes.
        inline = probe_candidates(new, corpus, "doc_id", "toks")
        assert count_exchanges(inline) == 5
        # And the index path is not a different answer, just a cheaper plan.
        assert sorted(map(tuple, probe.collect())) == sorted(
            map(tuple, inline.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_aqe_native_skew_split_fires_on_planted_hot_key(spark):
    """The session enables AQE skew-join handling — the first line of
    defense at 100 TB before any manual salting (`join_salted_skew` is
    the second).  This pins that Spark's own skew split actually FIRES
    on a planted hot key: the executed plan (inspected AFTER the
    action, isFinalPlan=true) must carry the SortMergeJoin(skew=true)
    marker and a skewed AQEShuffleRead.  Thresholds are lowered to make
    a test-sized hot partition count as skewed; the detection logic
    itself is scale-independent."""
    from pyspark.sql import functions as F

    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in lowered}
    for k, v in lowered.items():
        spark.conf.set(k, v)
    try:
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        # ~90% of the big side lands on key 0; pad makes the hot
        # partition's bytes exceed the lowered threshold.
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(50_000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        agg = (
            big.join(right, "k")
            .select((F.length("pad") + F.col("v")).alias("x"))
            .agg(F.sum("x").alias("s"))
        )
        agg.collect()
        ep = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in ep
        assert "SortMergeJoin(skew=true)" in ep
        assert "AQEShuffleRead coalesced and skewed" in ep
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_lsh_bucket_index_probe_prunes_partitions(spark, tmp_path):
    """The persisted LSH bucket index (persist_bucket_index: parquet
    partitioned by (tbl, bucket)) must serve a multi-probe lookup by
    partition pruning: the probe's scan opens only the ball's partition
    directories — measured by the executed scan's numFiles metric, NOT
    the planning string — and returns exactly the candidates the
    in-plan XOR path (lsh_topk's filter) admits."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.annsearch import (
        hamming_ball,
        hyperplane_buckets,
        persist_bucket_index,
        probe_bucket_index,
    )
    from mapreduce_framework_spark.plans import formatted_plan, scan_files_read

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    idx = persist_bucket_index(e, str(tmp_path / "lsh_idx"), n_tables=4, n_planes=8)
    qb = [
        (r["tbl"], r["bucket"])
        for r in hyperplane_buckets(
            e.where(F.col("vec_id") == 0), 4, 8
        ).collect()
    ]
    assert len(qb) == 4
    cand = probe_bucket_index(idx, qb, n_planes=8, hamming_radius=2)
    assert "PartitionFilters: [" in formatted_plan(cand)

    [total_files] = scan_files_read(idx.select("vec_id"))
    probe_files = scan_files_read(cand)
    assert probe_files and sum(probe_files) < total_files / 2, (
        f"probe read {probe_files} of {total_files} files — pruning lost"
    )

    # Same candidate set as the in-plan XOR formulation.
    buckets = hyperplane_buckets(e, 4, 8)
    qdf = spark.createDataFrame(qb, "tbl int, qbucket long")
    xor_cand = {
        r["vec_id"]
        for r in buckets.join(F.broadcast(qdf), "tbl")
        .where(
            F.bit_count(
                F.col("bucket").bitwiseXOR(F.col("qbucket")).cast("bigint")
            )
            <= 2
        )
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert {r["vec_id"] for r in cand.collect()} == xor_cand
    # hamming_ball's volume for radius 2 over 8 planes: 1 + 8 + 28.
    assert len(hamming_ball(0, 8, 2)) == 37


def test_ivf_cell_index_probe_prunes_partitions_dynamically(spark, tmp_path):
    """The persisted IVF cell index (persist_cell_index: parquet
    partitioned by cell_id) must serve a probe by DYNAMIC partition
    pruning: the probe cells are computed in-plan (broadcast centroids
    x query, no collect), so pruning arrives as a dynamicpruning
    expression, and the executed index scan opens exactly n_probe cell
    files.  Ranking must be identical to the in-plan ivf_topk path."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.annsearch import (
        ivf_topk,
        persist_cell_index,
        probe_cell_index,
    )
    from mapreduce_framework_spark.plans import formatted_plan, scan_files_read

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell_id"), F.col("v").alias("cv")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    idx = persist_cell_index(e, cent, str(tmp_path / "ivf_idx"))
    assert len(idx.inputFiles()) == 16  # one file per cell at this size

    res = probe_cell_index(idx, q, cent, k=10, n_probe=3)
    assert "dynamicpruning" in formatted_plan(res).lower()
    files = scan_files_read(res)
    assert min(files) <= 3 and 3 in files, (
        f"index scan did not prune to the 3 probe cells: {files}"
    )
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, ivf_topk(e, cent, q, k=10, n_probe=3).collect())
    )


def test_pq_index_probe_reads_codes_only(spark, tmp_path):
    """The persisted PQ index (persist_pq_index: wide codes partitioned
    by leading code c0 + codebook sidecar) must serve ADC from the code
    scan alone: no scan in the probe plan reads a float vector column —
    the 64x scan-byte cut is only real if the ReadSchema proves the
    embedding never leaves storage.  Ranking must be identical to the
    in-plan pq_adc_topk path."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.annsearch import (
        persist_pq_index,
        pq_adc_topk,
        pq_encode,
        pq_subvectors,
        pq_train,
        probe_pq_index,
    )
    from mapreduce_framework_spark.operators.kmeans import quantize as kquantize
    from mapreduce_framework_spark.plans import read_schema_columns

    qvecs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", kquantize(F.col("embedding")).alias("v")
    )
    codes, codebook = persist_pq_index(qvecs, str(tmp_path / "pq_idx"))
    query_sub = pq_subvectors(qvecs.where(F.col("vec_id") == 0)).select(
        "m", "sp", F.col("val").alias("qval")
    )
    probe = probe_pq_index(
        codes.where(F.col("vec_id") != 0), codebook, query_sub, k=10
    )

    # Every scan on the PROBE side reads either code columns or the
    # skinny sidecar/query — never the float vector.  (c0 is a
    # partition column, so the codes scan's ReadSchema is vec_id+c1..c3;
    # the query_sub scan reads the raw embedding by design — it IS the
    # query — so assert on the codes/codebook scans specifically.)
    schemas = read_schema_columns(probe)
    codes_scans = [s for s in schemas if any(c.startswith("c") for c in s)]
    assert codes_scans, f"no code-table scan found in probe plan: {schemas}"
    for s in codes_scans:
        assert "embedding" not in s and "v" not in s, (
            f"probe scan reads a float vector column: {s}"
        )
    assert any(sorted(s) == ["c1", "c2", "c3", "vec_id"] for s in codes_scans), (
        f"codes scan schema not pruned to codes: {codes_scans}"
    )

    # Partitioned layout: one directory per leading code.
    assert (tmp_path / "pq_idx" / "codes" / "c0=0").exists()

    # Bit-identical ranking vs the in-plan path.
    sub = pq_subvectors(qvecs)
    cb = pq_train(sub)
    inplan = pq_adc_topk(
        pq_encode(sub, cb).where(F.col("vec_id") != 0),
        cb,
        query_sub,
        k=10,
    )
    assert sorted(map(tuple, probe.collect())) == sorted(
        map(tuple, inplan.collect())
    )


def test_zorder_probe_prunes_partitions_at_file_listing(spark):
    """The sink_zorder serving path (literal catalog bounds →
    driver-arithmetic candidate buckets → literal IN) must prune at the
    FILE level — scan fewer files than the layout has buckets — and
    return exactly the rows a direct box filter on the raw table
    returns."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.plans import formatted_plan, scan_files_read
    from mapreduce_framework_spark.queries.scans import (
        zorder_box_probe,
        zorder_candidate_buckets,
        zorder_cluster,
    )

    path, b = zorder_cluster(spark, SF_DIR)
    s = b.collect()[0]
    x_lo, x_hi = s.xmin + s.xspan * 1 // 8, s.xmin + s.xspan * 3 // 8
    y_lo, y_hi = s.ymin + s.yspan * 2 // 8, s.ymin + s.yspan * 5 // 8
    cands = zorder_candidate_buckets(
        x_lo, x_hi, y_lo, y_hi, s.xmin, s.xspan, s.ymin, s.yspan
    )
    probe = zorder_box_probe(
        spark, path, x_lo, x_hi, y_lo, y_hi, s.xmin, s.xspan, s.ymin, s.yspan
    )
    plan = formatted_plan(probe)
    assert "PartitionFilters" in plan
    n_buckets = spark.read.parquet(path).select("zbucket").distinct().count()
    files = scan_files_read(probe)
    assert max(files) <= len(cands) < n_buckets, (
        f"probe read {files} files; {len(cands)} candidates, "
        f"{n_buckets} buckets total"
    )
    direct = (
        table(spark, SF_DIR, "orders")
        .select(
            F.col("o_custkey").alias("x"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .cast("bigint")
            .alias("y"),
        )
        .where(
            (F.col("x") >= x_lo) & (F.col("x") < x_hi)
            & (F.col("y") >= y_lo) & (F.col("y") < y_hi)
        )
    )
    assert sorted((r.x, r.y) for r in probe.collect()) == sorted(
        (r.x, r.y) for r in direct.collect()
    )


def test_pq_plan_is_jvm_only_with_topk_cut(spark):
    """sim_search_pq's whole pipeline — training, encoding, LUT, ADC —
    must stay JVM-side (no Python row UDF in the plan) and end in
    TakeOrderedAndProject, so only k rows per partition survive the
    final exchange; the codebook and LUT joins must be broadcasts."""
    from mapreduce_framework_spark.plans import formatted_plan
    from mapreduce_framework_spark.registry import get_query

    plan = formatted_plan(get_query("sim_search_pq").fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "codebook/LUT join fell off broadcast"


def test_sample_reservoir_is_takeordered_no_global_sort(spark):
    """Bottom-k-by-hash must compile to TakeOrderedAndProject (per-
    partition k-heap + driver merge) — never a global sort, which would
    shuffle the whole corpus to rank 200 rows."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sample_reservoir"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrdered", ""), (
        "global sort materialized for a bottom-k sample"
    )


def test_ivf_pq_results_lie_in_probed_cells(spark):
    """The IVF half of sim_search_ivf_pq is a real pruning: every
    returned vec_id must belong to one of the 4 probed cells (the
    composite may trade recall, but it must never surface a vector the
    coarse quantizer ruled out — that would mean the semi-join leaked)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.annsearch import assign_cells
    from mapreduce_framework_spark.functions.vector import cosine
    from mapreduce_framework_spark.queries.similarity import _query_vec, _vectors
    from mapreduce_framework_spark.registry import get_query

    result_ids = {
        r.vec_id for r in get_query("sim_search_ivf_pq").fn(spark, SF_DIR).collect()
    }
    assert 0 < len(result_ids) <= 10

    vectors = _vectors(spark, SF_DIR)
    centroids = (
        vectors.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").cast("int").alias("cell_id"), F.col("v").alias("cv"))
    )
    assigned = assign_cells(vectors.where(F.col("vec_id") != 0), centroids)
    probe_cells = {
        r.cell_id
        for r in centroids.crossJoin(F.broadcast(_query_vec(vectors)))
        .select("cell_id", cosine(F.col("cv"), F.col("qv")).alias("_cs"))
        .orderBy(F.desc("_cs"), F.asc("cell_id"))
        .limit(4)
        .collect()
    }
    member_ids = {
        r.vec_id
        for r in assigned.where(F.col("cell_id").isin(probe_cells)).collect()
    }
    assert result_ids <= member_ids, (
        f"IVF pruning leaked: {sorted(result_ids - member_ids)} not in probed cells"
    )


def test_ivf_pq_index_probe_prunes_and_reads_codes_only(spark, tmp_path):
    """The persisted IVF-PQ index must realize BOTH prunings in the
    layout: the probe plan's code scan carries a dynamic partition-
    pruning filter on cell_id (probe cells computed in-plan, no
    collect) AND reads no float vector column; results must be
    bit-identical to the in-plan composite."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_framework_spark.operators.annsearch import (
        assign_cells,
        persist_pq_index,
        pq_subvectors,
        probe_cells,
        probe_pq_index,
    )
    from mapreduce_framework_spark.operators.kmeans import quantize as kquantize
    from mapreduce_framework_spark.plans import formatted_plan, read_schema_columns
    from mapreduce_framework_spark.queries.similarity import (
        _query_vec,
        _vectors,
        ivf_pq_frame,
    )

    vectors = _vectors(spark, SF_DIR)
    centroids = (
        vectors.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").cast("int").alias("cell_id"), F.col("v").alias("cv"))
    )
    qvecs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", kquantize(F.col("embedding")).alias("v")
    )
    cells = assign_cells(vectors.where(F.col("vec_id") != 0), centroids).select(
        "vec_id", "cell_id"
    )
    codes, codebook = persist_pq_index(qvecs, str(tmp_path / "ivfpq_idx"), cells=cells)
    query_sub = pq_subvectors(qvecs.where(F.col("vec_id") == 0)).select(
        "m", "sp", F.col("val").alias("qval")
    )
    probed = probe_cells(centroids, _query_vec(vectors), 4)
    res = probe_pq_index(
        codes.join(F.broadcast(probed), "cell_id"), codebook, query_sub, k=10
    )

    plan = formatted_plan(res)
    assert "dynamicpruning" in plan.lower(), "cell pruning did not reach the scan"
    code_scan_schemas = [
        cols
        for cols in read_schema_columns(res)
        if any(c.startswith("c") and c[1:].isdigit() for c in cols)
    ]
    assert code_scan_schemas, "no code scan found in the probe plan"
    for cols in code_scan_schemas:
        assert not any("v" == c or "embedding" in c for c in cols), (
            f"probe read a float vector column: {cols}"
        )

    inplan = ivf_pq_frame(vectors, qvecs)
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, inplan.collect())
    )


def test_q19_disjunction_pushes_single_side_conjuncts(spark):
    """TPC-H Q19's OR-of-conjunctions must not defeat the optimizer:
    the equi-join survives as BroadcastHashJoin, the derived quantity
    disjunction reaches the lineitem scan's PushedFilters, and the
    brand/size disjunction reaches the part scan's — neither side scans
    rows the other side's predicates already rule out."""
    from mapreduce_framework_spark.plans import formatted_plan, pushed_filters

    df = _q(spark, "sql_q19_shape")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, "disjunction broke the equi-join"
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf, "quantity disjunction not pushed to lineitem scan"
    assert "p_brand" in pf and "p_size" in pf, (
        "brand/size disjunction not pushed to part scan"
    )


def test_graph_persisted_probe_has_no_lineitem_scan(spark):
    """The write-once co-supply adjacency artifact (round-8 verdict
    task #1): every probe key must serve from the persisted parquet —
    NO lineitem scan (the co-occurrence self-join is the artifact's
    one-time build cost, not a per-query price) — and the point probe
    must prune to its one src_bucket partition."""
    from mapreduce_framework_spark.plans import formatted_plan
    from mapreduce_framework_spark.queries.graphs import (
        persisted_cosupply_adjacency,
    )

    # Build (or reuse) the artifact first so the probe plans below are
    # pure probe plans.
    persisted_cosupply_adjacency(spark, SF_DIR)

    for key in (
        "graph_degree_persisted",
        "graph_neighborhood_probe",
        "graph_kcore_persisted",
    ):
        plan = formatted_plan(_q(spark, key))
        assert "lineitem" not in plan, f"{key} probe plan re-scans lineitem"

    probe_plan = formatted_plan(_q(spark, "graph_neighborhood_probe"))
    pf = [ln for ln in probe_plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("src_bucket" in ln for ln in pf), (
        "neighborhood probe did not prune on src_bucket partitions"
    )


def test_graph_persisted_matches_rederived(spark):
    """The persisted layout must be invisible to the answer: degree
    histogram and kcore served from the artifact equal the same
    computation on freshly derived edges (same contract as the
    persisted ANN keys)."""
    assert sorted(
        map(tuple, _q(spark, "graph_degree_persisted").collect())
    ) == sorted(map(tuple, _q(spark, "graph_degree_distribution").collect()))
    assert sorted(
        map(tuple, _q(spark, "graph_kcore_persisted").collect())
    ) == sorted(map(tuple, _q(spark, "graph_kcore").collect()))


def test_q17_decorrelates_to_aggregate_join(spark):
    """TPC-H Q17's correlated per-group AVG scalar subquery must be
    DECORRELATED: one avg(l_quantity) aggregate grouped by l_partkey,
    joined back to the outer fact — never a per-row subquery (no
    Subquery node survives in the physical plan)."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sql_q17_shape"))
    assert "partial_avg(l_quantity" in plan, "per-part AVG aggregate missing"
    assert "Keys [1]: [l_partkey" in plan, "AVG not grouped by l_partkey"
    assert "Subquery" not in plan, "scalar subquery survived decorrelation"


def test_q21_exists_stack_becomes_semi_anti(spark):
    """TPC-H Q21's stacked EXISTS + NOT EXISTS over self-joins of the
    fact must become one LeftSemi and one LeftAnti join on l_orderkey —
    the per-row form would re-scan lineitem twice per outer row."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sql_q21_shape"))
    assert "LeftSemi" in plan, "EXISTS did not become a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS did not become an anti join"
    assert "Subquery" not in plan, "correlated EXISTS survived as a subquery"


def test_correlation_matrix_is_single_scan(spark):
    """All 6 Pearson pairs must unfold from ONE sufficient-statistics
    aggregate — a per-pair union re-ran the corpus scan six times
    (caught at authoring time; this pins the fix)."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "profile_correlation_matrix"))
    assert plan.count("lineitem.parquet") == 1, "stats aggregate re-scans per pair"


def test_q4_exists_semi_join_carries_cross_side_condition(spark):
    """Q4's EXISTS compares both sides (l_shipdate > o_orderdate): the
    decorrelated LeftSemi must carry that comparison as its join
    condition, and the quarter filter must prune the orders scan."""
    from mapreduce_framework_spark.plans import formatted_plan, pushed_filters

    df = _q(spark, "sql_q4_shape")
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, "EXISTS did not become a semi join"
    assert "Subquery" not in plan
    assert "l_shipdate" in plan and "o_orderdate" in plan
    assert "o_orderdate" in " ".join(pushed_filters(df)), (
        "quarter filter not pushed to the orders scan"
    )


def test_q22_anti_join_with_single_scalar_eval(spark):
    """Q22: NOT EXISTS → LeftAnti on o_custkey; the uncorrelated scalar
    threshold evaluates once as a subquery plan, never per row."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sql_q22_shape"))
    assert "LeftAnti" in plan, "NOT EXISTS did not become an anti join"
    assert "Subquery" in plan, (
        "expected the uncorrelated scalar threshold as a one-shot subquery"
    )


def test_q2_correlated_min_decorrelates(spark):
    """TPC-H Q2's correlated scalar MIN — whose subquery repeats the
    outer's 4-way supply join — must decorrelate to ONE
    min(l_extendedprice) aggregate grouped by l_partkey, joined back on
    (partkey, price): never a per-part re-execution of the inner join,
    and no scalar-subquery node may survive."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sql_q2_shape"))
    assert "partial_min(l_extendedprice" in plan, "per-part MIN aggregate missing"
    assert "Keys [1]: [l_partkey" in plan, "MIN not grouped by l_partkey"
    assert "Subquery" not in plan, "correlated MIN survived as a subquery"


def test_q6_is_pure_pushed_scan(spark):
    """TPC-H Q6 is the pushdown measuring stick: all four range
    predicates must reach the lineitem scan as PushedFilters, the
    ReadSchema must carry exactly the four referenced columns, and the
    only exchange is the one-row SinglePartition gather."""
    from mapreduce_framework_spark.plans import formatted_plan, pushed_filters

    df = _q(spark, "sql_q6_shape")
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} range predicate not pushed to the scan"
    plan = formatted_plan(df)
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in plan
    ), "scan reads more than the four referenced columns"
    assert "SinglePartition" in plan and plan.count("Exchange") <= 2, (
        "expected exactly the one-row final-aggregate gather"
    )


def test_q20_nested_correlation_decorrelates(spark):
    """TPC-H Q20's IN-subquery compares two DIFFERENTLY-correlated
    scalar aggregates (MAX per (part, supplier) vs 0.5·AVG per part).
    Both must decorrelate to grouped aggregates over lineitem joined
    back on their correlation keys, the IN chain must collapse to semi
    joins, and zero Subquery nodes may survive."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sql_q20_shape"))
    assert "partial_max(l_quantity" in plan, "per-(part,supplier) MAX missing"
    assert "partial_avg(l_quantity" in plan, "per-part AVG missing"
    assert "LeftSemi" in plan, "IN did not become a semi join"
    assert "Subquery" not in plan, "correlated scalar survived decorrelation"


def test_lateral_topk_becomes_window_group_limit(spark):
    """The correlated LATERAL (ORDER BY + LIMIT 2) must plan as a
    WindowGroupLimit over orders keyed by o_custkey — partial top-k
    before the shuffle, final after — joined back to customers; never
    a per-customer re-execution of the subquery (no lateral/subquery
    node survives)."""
    from mapreduce_framework_spark.plans import formatted_plan

    plan = formatted_plan(_q(spark, "sql_lateral_topk"))
    assert "WindowGroupLimit" in plan, "per-group top-k operator missing"
    assert plan.count("WindowGroupLimit") >= 2, (
        "expected Partial AND Final group-limit stages"
    )
    assert "row_number" in plan
    assert "Subquery" not in plan and "Lateral" not in plan, (
        "lateral subquery survived to the physical plan"
    )


def test_span_dedup_exchanges_and_broadcast_report(spark):
    """Offset-exact span dedup (round-10 verdict task #1 shape): ONE
    corpus-sized exchange — the keep-first groupBy(g) whose map-side
    partial_min collapses a gram repeated 10⁶× to one row per input
    partition BEFORE the exchange — then a join-back whose build side
    is only the DUPLICATED grams (broadcast), the distinct+re-agg pair
    on the RARE dup positions, and the per-doc report joining back to
    the doc scan as a broadcast (the report side is dup-docs-only —
    shuffling the corpus to meet it would invert the size
    relationship).  Pins: no Window partitioned by the digest (the
    single-task skew tail this shape replaced), no SortAggregate (the
    min operand must stay a mutable-buffer type or the map side
    silently sorts the whole gram frame)."""
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    df = _q(spark, "dedup_span_exact")
    plan = formatted_plan(df)
    assert "Window" not in plan, "digest window crept back (skew tail)"
    assert "SortAggregate" not in plan, "keep-first agg fell out of HashAggregate"
    assert "partial_min" in plan, "map-side combine missing before digest exchange"
    assert "BroadcastHashJoin LeftOuter" in plan, "report side must broadcast"
    assert "SortMergeJoin" not in plan
    # keep-first agg + dup-position distinct + per-doc agg: exactly 3.
    assert count_exchanges(df) == 3


def test_bpe_apply_probe_plan_has_no_training_stages(spark):
    """The steady-state lane must be PURE apply: a scan of the cached
    vocab parquet joined to the word explode + one per-doc aggregate —
    no Window (the trainer's TakeOrdered/rank machinery) and no more
    exchanges than the join+agg need.  A training stage leaking into
    the probe plan would re-price every invocation as train+apply."""
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan

    import re

    df = _q(spark, "text_bpe_apply_probe")
    plan = formatted_plan(df)
    # Detail-section headers count each scan node exactly once.
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 2, f"documents + cached vocab only, got {n_scans}"
    assert "Window" not in plan
    assert count_exchanges(df) <= 3


def test_approx_quantiles_is_mergeable_sketch_no_sort(spark):
    """The approx-percentile serving path (round-10 verdict task #7)
    must be ONE mergeable sketch aggregate: ObjectHashAggregate with a
    partial_ stage below the exchange and NO Sort / SortAggregate —
    exact percentile's full-sort-per-group is exactly what this lane
    exists to avoid at 100 TB."""
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.plans import count_exchanges, formatted_plan
    from mapreduce_framework_spark.queries.aggregations import (
        approx_quantiles_frame,
    )

    l = table(spark, SF_DIR, "lineitem")
    df = approx_quantiles_frame(l, "l_returnflag", "l_quantity", [0.5, 0.9])
    plan = formatted_plan(df)
    assert "ObjectHashAggregate" in plan, "sketch agg fell off the object path"
    assert "partial_approx_percentile" in plan, "map-side sketch partials missing"
    assert "Sort" not in plan, "a sort crept into the sketch-only plan"
    assert count_exchanges(df) == 1
