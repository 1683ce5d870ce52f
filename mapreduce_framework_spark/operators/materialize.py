"""Materialization: the one module that decides whether and where a
frame is materialized, and the iterative loop.

:func:`checkpoint` is the engine's only eager materialization
(tests/test_session_state.py lints for it).  Where the bytes go is one
deployment switch, read at call time:

- ``$SPARK_GRAFT_CKPT_RELIABLE_DIR`` set → ``checkpoint(eager=True)``
  under that dir on the reliable FS: the blocks survive executor loss;
- unset → ``localCheckpoint(eager=True)``: executor storage, fastest,
  but unreplicated — an executor loss kills every frame descended from
  its blocks.

Results are identical either way, pinned by
tests/test_scale_operators.py::test_reliable_checkpoint_identical.

:func:`sized_local_checkpoint` guards frames several consumers
re-derive.  At bench scale (inputs of a few MB) a materialization job
plus disk round-trip costs MORE than the re-scans it saves
(quality_lm_perplexity 0.68×, dedup_ladder_funnel 0.78×, dedup_minhash
0.80× when every site checkpointed unconditionally), while at real scale
the same sites save corpus passes.  One gate on Catalyst's driver-side
size estimate (no job) has two outcomes:

- estimate < ``$SPARK_GRAFT_CKPT_MIN_BYTES`` (default 64 MiB: below it a
  re-scan of page-cached parquet is single-digit ms) → LAZY;
- otherwise → :func:`checkpoint`.

An overshooting estimate therefore fails toward materializing; a
deployment keeps large frames off executor disk with the reliable dir.
Pinned by tests/test_operators.py::test_sized_checkpoint_paths_identical.

:func:`iterate` is the driver loop of the iterative operators, with
:func:`checkpoint` as its lineage truncation.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mapreduce_framework_spark.session import scoped_confs

_MIN_DEFAULT = 64 << 20  # 64 MiB
# A pinned loop targets ~4 MiB of shuffle per partition, at ~8
# serialized bytes per (long) column of the pinned frame.
_LOOP_PART_BYTES = 4 << 20
_LOOP_COL_BYTES = 8


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate of the optimized logical
    plan — driver-side arithmetic over file sizes and operator
    heuristics, no Spark job.  An ESTIMATE: joins/explodes propagate
    multiplicatively and can overshoot by orders of magnitude (a 19 MiB
    join output has estimated at 3.5 TB).  The gate only compares it
    against a lower bound, so an overshoot materializes a frame that
    could have stayed lazy, never the reverse."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = stats.sizeInBytes()
    # py4j maps scala.math.BigInt to a Python int already; older
    # bridges hand back the Java object.
    return size if isinstance(size, int) else int(size.toString())


def sized_local_checkpoint(df: DataFrame) -> DataFrame:
    """``df`` unchanged if its estimated size is below
    ``$SPARK_GRAFT_CKPT_MIN_BYTES`` (read per call), else
    :func:`checkpoint` of it — see the module docstring."""
    min_bytes = int(os.environ.get("SPARK_GRAFT_CKPT_MIN_BYTES", _MIN_DEFAULT))
    if plan_size_estimate(df) < min_bytes:
        return df
    return checkpoint(df)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage: under
    ``$SPARK_GRAFT_CKPT_RELIABLE_DIR`` if it is set, else in executor
    storage (module docstring)."""
    reliable_dir = os.environ.get("SPARK_GRAFT_CKPT_RELIABLE_DIR")
    if not reliable_dir:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(reliable_dir)
    prefix = path.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(path)
    current = sc.getCheckpointDir()
    # The dir is SparkContext-global; honor the switch rather than
    # silently writing to whatever an earlier caller set.  Spark
    # resolves the dir to a qualified (scheme-prefixed), run-scoped
    # subdirectory, so comparing the qualified prefix is the right
    # idempotence test: each re-point creates another subdirectory.
    if current is None or not current.startswith(f"{prefix.toString()}/"):
        sc.setCheckpointDir(reliable_dir)
    # NOTE: non-streaming checkpoint() data is NOT cleaned up by Spark;
    # long-running deployments should point the reliable dir at a
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
) -> DataFrame:
    """``state = step(state, pinned)`` for up to ``rounds`` rounds — the
    chain-the-same-MapReduce-N-times loop of pagerank, kcore, BFS and
    connected components.  It iterates ROUNDS, never rows.

    - Cadence: :func:`checkpoint` after every ``checkpoint_every``-th
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
                state = checkpoint(state)
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
