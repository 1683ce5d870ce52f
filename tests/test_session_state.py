"""Queries leave the shared session as they found it.

A key may change session confs, persist frames, register catalog
tables and write scratch only for its own run: confs go through
``session.scoped_confs``, pinned loop frames through ``iterate``'s
``finally``, and stream scratch is removed when the stream ends.
"""

from __future__ import annotations

import gc
import os
import re
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

PKG = Path(__file__).resolve().parent.parent / "mapreduce_framework_spark"

STATEFUL_KEYS = (
    "graph_pagerank_deep",
    "dedup_clusters",
    "join_bloom_filtered",
    "stream_watermark_late",
)


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


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

    # A second run of the stream key leaves no scratch behind.
    tmp = tempfile.gettempdir()
    n_tmp = len(os.listdir(tmp))
    _run(spark, "stream_watermark_late")
    assert len(os.listdir(tmp)) <= n_tmp


def test_conf_writes_go_through_scoped_confs():
    """Engine code writes session confs only in session.py (where
    scoped_confs lives) and in the data source's one-time registration;
    everything else scopes its confs with scoped_confs."""
    registration = 'spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")'
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "session.py":
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\bconf\.(set|unset)\(", line) and line.strip() != registration:
                hits.append(f"{path.relative_to(PKG.parent)}:{lineno}: {line.strip()}")
    assert hits == [], "conf writes outside scoped_confs:\n" + "\n".join(hits)
