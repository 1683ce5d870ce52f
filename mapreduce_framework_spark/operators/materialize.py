"""Materialization: the size-gated checkpoint and the iterative loop.

:func:`sized_local_checkpoint` guards frames several consumers
re-derive.  At bench scale (inputs of a few MB) a materialization job
plus disk round-trip costs MORE than the re-scans it saves
(quality_lm_perplexity 0.68×, dedup_ladder_funnel 0.78×, dedup_minhash
0.80× when every site checkpointed unconditionally), while at real scale
the same sites save corpus passes; and at 100 TB an UNBOUNDED
``localCheckpoint`` puts a corpus-sized, unreplicated frame on
executor-local disk.  One gate on Catalyst's driver-side size estimate
(no job) resolves both ends:

- estimate < ``$SPARK_GRAFT_CKPT_MIN_BYTES`` (default 64 MiB: below it a
  re-scan of page-cached parquet is single-digit ms) → LAZY,
- estimate > ``$SPARK_GRAFT_CKPT_MAX_BYTES`` (default 64 GiB: size to the
  smallest per-executor scratch volume) → LAZY, or ``checkpoint()`` to
  ``$SPARK_GRAFT_CKPT_RELIABLE_DIR`` if set,
- otherwise → ``localCheckpoint(eager=True)``.

Results are identical on every path, pinned by
tests/test_operators.py::test_sized_checkpoint_paths_identical.

:func:`iterate` is the driver loop of the iterative operators, with
:func:`iter_checkpoint` as its lineage truncation.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mapreduce_framework_spark.session import scoped_confs

_MIN_DEFAULT = 64 << 20  # 64 MiB
_MAX_DEFAULT = 64 << 30  # 64 GiB
# A pinned loop targets ~4 MiB of shuffle per partition, at ~8
# serialized bytes per (long) column of the pinned frame.
_LOOP_PART_BYTES = 4 << 20
_LOOP_COL_BYTES = 8


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate of the optimized logical
    plan — driver-side arithmetic over file sizes and operator
    heuristics, no Spark job.  An ESTIMATE: joins/explodes propagate
    multiplicatively and can overshoot by orders of magnitude (a 19 MiB
    join output has estimated at 3.5 TB).  That does NOT fail safe for
    this gate: an overshoot past ``max_bytes`` turns materialization
    OFF, returning the frame lazy (or sending it to the reliable dir)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = stats.sizeInBytes()
    # py4j maps scala.math.BigInt to a Python int already; older
    # bridges hand back the Java object.
    return size if isinstance(size, int) else int(size.toString())


def sized_local_checkpoint(
    df: DataFrame,
    *,
    min_bytes: int | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Eagerly materialize ``df`` iff its estimated size lands in
    [min_bytes, max_bytes] — see module docstring for the rationale and
    the env overrides (``SPARK_GRAFT_CKPT_MIN_BYTES`` /
    ``SPARK_GRAFT_CKPT_MAX_BYTES`` / ``SPARK_GRAFT_CKPT_RELIABLE_DIR``)."""
    if min_bytes is None:
        min_bytes = int(os.environ.get("SPARK_GRAFT_CKPT_MIN_BYTES", _MIN_DEFAULT))
    if max_bytes is None:
        max_bytes = int(os.environ.get("SPARK_GRAFT_CKPT_MAX_BYTES", _MAX_DEFAULT))
    est = plan_size_estimate(df)
    if est < min_bytes:
        return df
    if est > max_bytes:
        reliable_dir = os.environ.get("SPARK_GRAFT_CKPT_RELIABLE_DIR")
        if reliable_dir:
            return iter_checkpoint(df, reliable=True, checkpoint_dir=reliable_dir)
        return df
    return df.localCheckpoint(eager=True)


def iter_checkpoint(
    df: DataFrame, reliable: bool = False, checkpoint_dir: str | None = None
) -> DataFrame:
    """Lineage-truncating materialization for iterative operators:
    ``localCheckpoint`` (executor storage — fastest, but an executor loss
    kills every round descended from its blocks) or, with
    ``reliable=True``, ``checkpoint()`` to the SparkContext's checkpoint
    dir (set from ``checkpoint_dir`` if given) on the reliable FS.
    Bit-identical either way (tests/test_scale_operators.py::
    test_reliable_checkpoint_identical)."""
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if checkpoint_dir is not None:
        current = sc.getCheckpointDir()
        # The dir is SparkContext-global; honor an explicit request to
        # point somewhere else rather than silently writing to whatever
        # an earlier caller set.  Spark resolves the dir to a run-scoped
        # subdirectory, so comparing the prefix is the right idempotence
        # test.
        if current is None or not current.startswith(checkpoint_dir):
            sc.setCheckpointDir(checkpoint_dir)
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint dir: pass checkpoint_dir= or "
            "call sparkContext.setCheckpointDir() first"
        )
    # NOTE: non-streaming checkpoint() data is NOT cleaned up by Spark;
    # long-running reliable jobs should point checkpoint_dir at a
    # TTL'd/lifecycle-managed location (SCALE.md §Recovery).
    return df.checkpoint(eager=True)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
    rounds: int,
    *,
    pinned: DataFrame | None = None,
    partition_by: str | None = None,
    checkpoint_every: int | None = 1,
    final_checkpoint: bool = False,
    changed: str | None = None,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``state = step(state, pinned)`` for up to ``rounds`` rounds — the
    chain-the-same-MapReduce-N-times loop of pagerank, kcore, BFS and
    connected components.  It iterates ROUNDS, never rows.

    - Cadence: ``iter_checkpoint`` after every ``checkpoint_every``-th
      round (``None``: never — one lazy unrolled plan), never after the
      last round unless ``final_checkpoint``.
    - Convergence: ``changed`` names a boolean state column; each
      checkpoint counts its true rows with ``observe()`` in the same job,
      and a count of 0 ends the loop.  The column stays in the result.
    - ``pinned``, the loop-invariant input handed to every step, is
      persisted, counted once and unpersisted on every exit path; its
      count sets the loop width, and the width and an AQE bypass hold
      while the loop runs.  ``partition_by`` caches a copy partitioned on
      the per-round join key instead, so rounds reuse its partitioning
      rather than re-shuffle it (components loop at sf0.1: 6.7 → 5.3 s).
    """
    spark = state.sparkSession
    confs: dict[str, str] = {}
    raw = loop_frame = None
    try:
        if pinned is not None:
            raw = loop_frame = pinned.persist()
            # A pinned loop runs ~rounds/cadence SMALL jobs with static
            # plans, where two per-job overheads dominate:
            # 1. AQE re-plans every job (each shuffle becomes a
            #    materialized query stage with its own scheduling round-
            #    trip), though the loop's partitioning is static and its
            #    join strategy pinned — bypass it.  AQE never changes
            #    values; the cadence-identity tests pin it.
            # 2. The session's shuffle width, sized for corpus scans,
            #    makes every tiny per-round shuffle pay near-empty tasks
            #    per barrier.  The width derives from the pinned frame's
            #    EXACT row count (the count also materializes the
            #    persist): ~4 MiB of shuffle per partition, clamped to
            #    [2, defaultParallelism] — rounds are sequential, so
            #    width beyond the core count only adds barrier cost.
            #    (Catalyst's sizeInBytes is useless here: the join
            #    estimate overshoots a 19 MiB frame to 3.5 TB.)
            # Measured on graph_pagerank_deep at sf0.1, warm, min-of-2:
            # 6.67 s (AQE on, 32 parts) → 5.89 (AQE off) → 3.30 (AQE
            # off, derived width 8); AQE back on at width 8 costs 1.45×.
            # Width curve: p2 5.38, p4 3.58, p8 3.30, p16 3.85, p32
            # 7.46.  A/B grid in OPTIMIZATION_r13.md.
            n_bytes = raw.count() * _LOOP_COL_BYTES * len(raw.columns)
            cap = spark.sparkContext.defaultParallelism
            width = max(2, min(cap, n_bytes // _LOOP_PART_BYTES + 1))
            confs = {
                "spark.sql.shuffle.partitions": str(width),
                "spark.sql.adaptive.enabled": "false",
            }
        with scoped_confs(spark, confs):
            if partition_by is not None:
                loop_frame = raw.repartition(width, F.col(partition_by)).persist()
            for i in range(rounds):
                state = step(state, loop_frame)
                if i + 1 == rounds:
                    due = final_checkpoint
                else:
                    due = bool(checkpoint_every) and (i + 1) % checkpoint_every == 0
                if not due:
                    continue
                if changed is not None:
                    obs = Observation()
                    n_changed = F.count(F.when(F.col(changed), 1)).alias("n")
                    state = state.observe(obs, n_changed)
                state = iter_checkpoint(state, reliable, checkpoint_dir)
                if raw is not loop_frame:
                    # The checkpoint loaded the partitioned copy.
                    raw.unpersist()
                    raw = loop_frame
                if changed is not None and obs.get["n"] == 0:
                    break
        return state
    finally:
        for frame in (raw, loop_frame):
            if frame is not None:
                frame.unpersist()
