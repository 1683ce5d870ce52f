"""The benchmark's workloads: which registry keys one pass calls.

A "call" is one registry key run as ``spec.fn(spark, sf_dir)`` followed
by a ``noop`` write; a "pass" is one call of every key of a workload.
At this scale a call costs mostly its Spark jobs' fixed per-job
overhead, so the job count per pass (``engine.jobs``) sets a pass's
length.  Each loop operator the per-layer metrics name, the reference
MapReduce job contract and the micro-batch stream are reached by a
``pipelines`` key; ``relational`` holds the salted and as-of joins and
no loop, stream or compat job.
"""

from __future__ import annotations

from dataclasses import dataclass

# TPC-H-style scale factor of the generated tables.
SCALE = 0.001
# Seed of the generated tables.  It is fixed so every run does the same
# work: drawn per run, the documents table moved the connected-components
# loop of dedup_clusters between 16 and 19 jobs.  The run's --seed
# permutes the key order of each pass.
DATA_SEED = 0


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    why: str
    # Untimed passes after the collected one, so timing starts once a
    # pass has stopped getting faster: under the C1 JIT (see run.py) a
    # relational pass settled by its third and a pipelines pass, 8.3 s
    # at first, by its fifth (5.5 s).
    warm_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            ("sql_q1_shape", "agg_percentile", "join_adaptive_skew", "join_asof", "window_time_range"),
            why="a TPC-H shape, a percentile, salted and as-of joins and a time window: "
            "few jobs per key, the control for job-count changes",
            warm_passes=3,
        ),
        Workload(
            "pipelines",
            (
                "sql_recursive_cte",
                "dedup_clusters",
                "dedup_ngram_jaccard",
                "mapreduce_job_wordcount",
                "stream_watermark_late",
            ),
            why="a recursive CTE, a connected-components loop, MinHash dedup, a MapReduce job and "
            "a micro-batch stream: many jobs per key, bound by per-job overhead",
            warm_passes=1,
        ),
    )
}

# The compat job whose turnaround is reported as ``mr_job_s``.
MR_JOB_KEY = "mapreduce_job_wordcount"
