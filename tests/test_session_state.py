"""Queries leave the shared session as they found it.

A key may change session confs, persist frames, register catalog
tables and write scratch only for its own run: confs go through
``session.scoped_confs``, pinned loop frames through ``iterate``'s
``finally``, per-call scratch through ``io.user_scratch_dir``, and
stream scratch is removed when the stream ends.
"""

from __future__ import annotations

import ast
import gc
import os
import re
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "mapreduce_framework_spark"

STATEFUL_KEYS = (
    "graph_pagerank_deep",
    "dedup_clusters",
    "join_bloom_filtered",
    "stream_watermark_late",
    # one key per module with a materialize.checkpoint site
    "sim_search_lsh",
    "sim_search_pq",
    "embedding_power_iteration",
    "dedup_semantic",
    "pipeline_mix_rebalance",
    "profile_benford",
    "tfidf_topk",
    "events_rfm_segmentation",
    "dedup_simhash",
    "sink_zorder",
)

# Every key that writes per-call scratch through io.user_scratch_dir.
SCRATCH_KEYS = (
    "sink_roundtrip",
    "sink_merge_upsert",
    "sink_scd2",
    "sink_sorted_clustered",
    "sink_zorder",
    "sink_snapshot_time_travel",
    "sink_compaction",
    "join_bloom_filtered",
    "join_bucketed",
    "mapreduce_job_wordcount",
    "mapreduce_job_chained",
    "source_csv_roundtrip",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "source_partition_pruning",
    "scan_dynamic_pruning",
    "source_schema_evolution",
    "source_csv_malformed",
    "sink_kvtext_writer_roundtrip",
    "sink_kvtext_stream_writer",
    "stream_kvtext_source",
    "stream_exactly_once_sink",
    "stream_cdc_upsert",
    "sim_search_pq_persisted",
    "sim_search_ivf_pq_persisted",
)

# Engine-code lint rules: (what, pattern, the only files that may match,
# lines allowed anywhere).  Each pattern has one owning helper.
ENGINE_RULES = (
    (
        "conf writes outside scoped_confs",
        r"\bconf\.(set|unset)\(",
        {"session.py"},
        # the data source's one-time registration
        {'spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")'},
    ),
    (
        "scratch paths outside io.user_scratch_dir",
        r"mkdtemp|gettempdir",
        # io.publish_cached stages for a cross-process atomic rename;
        # the stream runner removes its own scratch before returning.
        {"io.py", "streaming/runner.py"},
        set(),
    ),
    (
        "token-set overlap kernels outside operators/minhash.py",
        r"array_intersect",
        {"operators/minhash.py"},
        set(),
    ),
    (
        "PQ training or encoding outside operators/annsearch.py",
        r"\bpq_(train|encode)\(",
        {"operators/annsearch.py"},
        set(),
    ),
    (
        "eager materialization outside operators/materialize.py",
        r"\.(localCheckpoint|checkpoint)\(",
        {"operators/materialize.py"},
        set(),
    ),
    (
        "file identity outside io.table_identity",
        r"os\.stat\(",
        {"io.py"},
        set(),
    ),
    (
        "sf-table reads outside io.table",
        r"\.read\b.*sf_dir",
        {"io.py"},
        set(),
    ),
)


def _persistent_rdds(spark) -> set[int]:
    """Ids of the registered persistent RDDs, read through SparkContext's
    weak-valued registry.  ``getPersistentRDDs()`` would hand back a
    copy holding every RDD strongly, and py4j releases that copy
    asynchronously: a poll that runs before the release re-pins the
    RDDs it is waiting for, so a collectable RDD can stay registered
    for as long as the poll goes on."""
    ids = spark.sparkContext._jsc.sc().persistentRdds().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _new_persistent_rdds(spark, before: set[int], timeout_s: float = 60.0) -> set[int]:
    """Persistent RDDs not in ``before`` once unreachable ones are
    collected.  localCheckpoint blocks are released by the
    ContextCleaner only after both the Python and the JVM side drop
    their references, so poll through a few GCs."""
    deadline = time.monotonic() + timeout_s
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        new = _persistent_rdds(spark) - before
        if not new or time.monotonic() > deadline:
            return new
        time.sleep(0.5)


def _run(spark, key: str) -> int:
    from mapreduce_framework_spark.registry import get_query

    return len(get_query(key).fn(spark, SF_DIR).collect())


def test_queries_restore_confs_and_session_state(spark):
    from mapreduce_framework_spark.operators.materialize import iterate

    confs = dict(spark.conf.getAll)
    rdds = _persistent_rdds(spark)
    tables = sorted(t.name for t in spark.catalog.listTables())

    for key in STATEFUL_KEYS:
        assert _run(spark, key) > 0, key

    calls = []

    def step(state, pinned):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("planted failure in round 2")
        return state.join(pinned, "u").select("u", (F.col("x") + F.col("v")).alias("x"))

    edges = spark.range(1000).select(F.col("id").alias("u"), (F.col("id") % 7).alias("v"))
    with pytest.raises(RuntimeError, match="planted failure"):
        iterate(
            spark.range(1000).select(F.col("id").alias("u"), F.lit(0).alias("x")),
            step,
            5,
            pinned=edges,
            partition_by="v",
        )
    assert len(calls) == 2
    del edges

    assert dict(spark.conf.getAll) == confs
    assert sorted(t.name for t in spark.catalog.listTables()) == tables
    assert _new_persistent_rdds(spark, rdds) == set()

    # A second run of every scratch-writing key and of the stream key
    # leaves the temp dir and the scratch root as the first run did.
    from mapreduce_framework_spark.io import user_tmp_root

    tmp = tempfile.gettempdir()
    scratch_root = user_tmp_root("mfs_scratch")

    def footprint():
        mfs = {e for e in os.listdir(tmp) if e.startswith("mfs_")}
        return mfs, set(os.listdir(scratch_root))

    keys = (*SCRATCH_KEYS, "stream_watermark_late")
    for key in keys:
        assert _run(spark, key) > 0, key
    after_first = footprint()
    for key in keys:
        _run(spark, key)
    assert footprint() == after_first


def test_engine_patterns_go_through_their_helper():
    """Engine code writes session confs only through scoped_confs
    (session.py), takes scratch directories only from
    io.user_scratch_dir, intersects token sets only in the
    operators/minhash.py kernels, trains or encodes PQ codes only in
    operators/annsearch.py, materializes eagerly only in
    operators/materialize.py, and stats or reads an sf table only in
    io.py (io.table_identity, io.table); see ENGINE_RULES."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for what, pattern, files, lines in ENGINE_RULES:
                if rel not in files and line.strip() not in lines and re.search(pattern, line):
                    hits.append(f"{what}: {rel}:{lineno}: {line.strip()}")
    assert hits == [], "\n".join(hits)


def _names(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every way a module refers to a function: a Name,
    an Attribute, an import alias or an identifier-valued string (the
    benchmark wraps functions listed by name)."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            out.append((node.name.rsplit(".", 1)[-1], node.lineno))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            out.append((node.value, node.lineno))
    return out


def test_every_engine_function_is_reachable():
    """Every module-level function of the package that the registry
    does not call through ``@register`` is named somewhere outside its
    own body: in the package, tools/, bench.py, __spark_entry__.py,
    perfbench/ or tests/.  A function nothing names is dead code."""
    outside = (
        [REPO / "bench.py", REPO / "__spark_entry__.py"]
        + sorted((REPO / "tools").rglob("*.py"))
        + sorted((REPO / "perfbench").rglob("*.py"))
        + sorted((REPO / "tests").rglob("*.py"))
    )
    named_outside = {n for p in outside for n, _ in _names(ast.parse(p.read_text()))}
    modules = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    refs = {p: _names(tree) for p, tree in modules.items()}

    def registered(fn: ast.FunctionDef) -> bool:
        return any(
            isinstance(d, ast.Call)
            and getattr(d.func, "id", getattr(d.func, "attr", None)) == "register"
            for d in fn.decorator_list
        )

    dead = []
    for p, tree in modules.items():
        named = named_outside | {n for q in modules if q != p for n, _ in refs[q]}
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or registered(fn):
                continue
            own_body = range(fn.lineno, fn.end_lineno + 1)
            local = {n for n, line in refs[p] if line not in own_body}
            if fn.name not in named | local:
                dead.append(f"{p.relative_to(PKG).as_posix()}:{fn.lineno}: {fn.name}")
    assert dead == [], "\n".join(dead)
