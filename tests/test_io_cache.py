"""io.py caches: failed-publish detection and generation GC for the
build-once artifact caches, and io.table's per-file schema cache."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from mapreduce_framework_spark.io import (
    cache_sf_token,
    publish_cached,
    reap_superseded,
    table,
    user_cache_root,
)
from mapreduce_framework_spark.session import scoped_confs
from tests.conftest import SF_DIR


def _touch_cache_dir(name: str, age_s: float = 0.0) -> str:
    root = user_cache_root()
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "data"), "w") as f:
        f.write("x")
    if age_s:
        past = time.time() - age_s
        os.utime(path, (past, past))
    return path


def test_publish_cached_builds_once_and_returns_dest():
    name = f"mfs_test_pub_{os.getpid()}_a"
    calls = []

    def build(staged: str) -> None:
        calls.append(staged)
        os.makedirs(staged)
        with open(os.path.join(staged, "artifact.txt"), "w") as f:
            f.write("v1")

    dest = publish_cached(name, build)
    assert os.path.isfile(os.path.join(dest, "artifact.txt"))
    dest2 = publish_cached(name, build)
    assert dest2 == dest and len(calls) == 1, "second publish must hit the cache"


def test_publish_cached_raises_when_rename_fails_and_dest_missing():
    """A rename failure that is NOT the lost-race shape (dest absent
    afterwards) must raise at the publish site, not surface later as a
    missing-path error far from the cause (round-9 ADVICE).  A build
    that never creates the staged dir makes os.rename fail with ENOENT
    while dest stays absent — the exact must-not-swallow shape."""
    name = f"mfs_test_pub_{os.getpid()}_broken"

    def build(staged: str) -> None:
        pass  # never materializes the staged path

    with pytest.raises(OSError):
        publish_cached(name, build)
    assert not os.path.isdir(os.path.join(user_cache_root(), name))


def test_reap_superseded_reaps_old_generation_keeps_live():
    pid = os.getpid()
    fam = f"mfs_test_fam_{pid}"
    keep = _touch_cache_dir(f"{fam}_size2_mtime2", age_s=7200)
    old = _touch_cache_dir(f"{fam}_size1_mtime1", age_s=7200)
    other_family = _touch_cache_dir(f"mfs_test_other_{pid}_size1", age_s=7200)
    fresh = _touch_cache_dir(f"{fam}_size3_mtime3")  # young: inside the guard

    reaped = reap_superseded(fam, keep=os.path.basename(keep))

    assert os.path.basename(old) in reaped
    assert not os.path.isdir(old), "superseded generation must be reaped"
    assert os.path.isdir(keep), "the live generation must survive"
    assert os.path.isdir(other_family), "foreign families are untouchable"
    assert os.path.isdir(fresh), "the age guard protects recent siblings"
    # keep must belong to the family — a sweep that could reap what it
    # just published is a footgun, refuse loudly.
    with pytest.raises(ValueError, match="not in family"):
        reap_superseded(fam, keep="unrelated_name")


def test_cache_sf_token_blocks_cross_sf_family_nesting(tmp_path):
    """Round-10 ADVICE: an sf_dir basename that extends another with an
    underscore ('sf1' vs 'sf1_alt') must NOT nest inside the shorter
    SF's GC family under reap_superseded's prefix matching — otherwise
    the second SF's live cache is reaped once idle past the guard."""
    a = tmp_path / "sf1"
    b = tmp_path / "sf1_alt"
    a.mkdir()
    b.mkdir()
    ta, tb = cache_sf_token(str(a)), cache_sf_token(str(b))
    # The exact footgun: family "kind_<ta>_" prefix-matching a name
    # built from tb.
    assert not f"kind_{tb}_gen1".startswith(f"kind_{ta}_")
    # Stable across calls and across relative/absolute spellings of
    # the same path (same session CWD) — same-SF caches must still hit.
    assert cache_sf_token(str(a)) == ta
    rel = os.path.relpath(str(a))
    assert cache_sf_token(rel) == ta


def test_publish_cached_with_family_sweeps_superseded():
    pid = os.getpid()
    fam = f"mfs_test_pubfam_{pid}"
    old = _touch_cache_dir(f"{fam}_gen1", age_s=7200)

    def build(staged: str) -> None:
        os.makedirs(staged)

    dest = publish_cached(f"{fam}_gen2", build, family=fam)
    assert os.path.isdir(dest)
    assert not os.path.isdir(old), "publish must sweep the superseded generation"


def _table_and_jobs(spark, sf_dir: str, name: str):
    """io.table's frame and the number of Spark jobs the call ran."""
    sc = spark.sparkContext
    group = f"io_table_{name}_{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        df = table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(tmp_path, name: str) -> str:
    # copyfile, not copy: the testdata is read-only and the copy is rewritten.
    shutil.copyfile(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_table_infers_schema_once_per_file_identity(spark, tmp_path):
    """The footer is read once: a second table() of an unchanged file
    runs no job and returns the same schema and rows.  A rewrite of the
    file (new identity) infers again and surfaces the new column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = _copy_table(tmp_path, "lineitem")
    first, jobs_first = _table_and_jobs(spark, sf_dir, "lineitem")
    second, jobs_second = _table_and_jobs(spark, sf_dir, "lineitem")
    assert jobs_first >= 1 and jobs_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    path = os.path.join(sf_dir, "lineitem.parquet")
    data = pq.read_table(path)
    pq.write_table(data.append_column("extra", pa.array([7] * data.num_rows)), path)
    third, jobs_third = _table_and_jobs(spark, sf_dir, "lineitem")
    assert jobs_third >= 1, "a rewritten file must infer its schema again"
    assert third.columns == first.columns + ["extra"]
    assert third.select("extra").distinct().collect()[0][0] == 7


def test_table_infers_again_when_an_inference_conf_changes(spark, tmp_path):
    sf_dir = _copy_table(tmp_path, "documents")
    _table_and_jobs(spark, sf_dir, "documents")
    assert _table_and_jobs(spark, sf_dir, "documents")[1] == 0
    flipped = str(spark.conf.get("spark.sql.parquet.binaryAsString") != "true").lower()
    with scoped_confs(spark, {"spark.sql.parquet.binaryAsString": flipped}):
        assert _table_and_jobs(spark, sf_dir, "documents")[1] >= 1


def test_cached_events_read_keeps_ts_a_timestamp(spark, tmp_path):
    sf_dir = _copy_table(tmp_path, "events")
    first, _ = _table_and_jobs(spark, sf_dir, "events")
    cached, jobs = _table_and_jobs(spark, sf_dir, "events")
    assert jobs == 0
    assert dict(cached.dtypes)["ts"] == "timestamp" == dict(first.dtypes)["ts"]
    assert sorted(cached.collect()) == sorted(first.collect())
