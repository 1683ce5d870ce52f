"""Per-layer attribution for the benchmark, from outside the engine.

Three sources, none of which changes engine code:

* **Spans.**  :func:`install` wraps the public functions of each layer
  module (``io``, ``compat``, ``streaming.runner`` and the
  ``operators``) before ``mapreduce_framework_spark.queries`` is
  imported.  The query modules bind with ``from ... import fn``, so a
  wrapper installed after that import would never be called.  A span
  records its name, wall start and end, parent, key, pass and the
  range of Spark job ids that ran inside it.
* **Spark's status surfaces.**  Jobs are attributed to a pass or a call
  by job-id range (``DAGScheduler.nextJobId``), not by job group:
  stream micro-batch jobs run under the query's runId, which a job
  group misses.  Their stage metrics come from the AppStatusStore, and
  per-batch phases and state-operator metrics from a
  ``StreamingQueryListener``.
* **/proc.**  CPU time of the PySpark daemon and its Python workers,
  which ``executorCpuTime`` (JVM threads only) does not see.
"""

from __future__ import annotations

import datetime
import functools
import importlib
import inspect
import os
import statistics
import sys
import threading
import time

PKG = "mapreduce_framework_spark"

# module (relative to the package) -> wrapped public functions.  A
# trailing "*" wraps every function with that prefix.
LAYER_FUNCS = {
    "io": ("table", "publish_cached"),
    "compat": ("run_job", "read_kv_text"),
    "streaming.runner": ("run_file_stream",),
    "operators.components": ("connected_components", "iter_checkpoint"),
    "operators.materialize": ("sized_local_checkpoint",),
    "operators.minhash": ("candidate_pairs",),
    "operators.salting": ("adaptive_salted_join",),
    "operators.asofjoin": ("asof_join",),
}

# Operator functions reported as ``operators.<module>.<fn>_{s,jobs,calls}``.
OPERATOR_FUNCS = (
    "components.connected_components",
    "components.iter_checkpoint",
    "materialize.sized_local_checkpoint",
    "minhash.candidate_pairs",
    "salting.adaptive_salted_join",
    "asofjoin.asof_join",
)
LAYERS = ("queries", "operators", "io", "compat", "streaming")

ENGINE_METRICS = (
    ("engine.jobs", "count", "lower"),
    ("engine.stages", "count", "lower"),
    ("engine.stages_skipped", "count", "higher"),
    ("engine.tasks", "count", "lower"),
    ("engine.job_gap_s", "s", "lower"),
    ("engine.executor_run_s", "s", "lower"),
    ("engine.executor_cpu_s", "s", "lower"),
    ("engine.gc_s", "s", "lower"),
    ("engine.shuffle_read_mb", "MB", "lower"),
    ("engine.shuffle_write_mb", "MB", "lower"),
    ("engine.spill_mb", "MB", "lower"),
    ("engine.input_mb", "MB", "lower"),
    ("engine.output_mb", "MB", "lower"),
    ("engine.core_util", "ratio", "higher"),
)

STREAM_PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
}

# Every metric a traced run reports: (name, unit, better).  Counts and
# times are per timed pass unless the name says otherwise.
PER_LAYER = (
    [
        ("queries.build_s", "s", "lower"),
        ("queries.exec_s", "s", "lower"),
        ("pass_s", "s", "lower"),
        ("query_s_p50", "s", "lower"),
        ("query_s_p90", "s", "lower"),
        ("stream_batch_ms_p50", "ms", "lower"),
        ("stream_batch_ms_p90", "ms", "lower"),
        ("stream_rows_per_s", "rows/s", "higher"),
        ("mr_job_s", "s", "lower"),
    ]
    + list(ENGINE_METRICS)
    + [
        (f"operators.{op}_{suffix}", unit, "lower")
        for op in OPERATOR_FUNCS
        for suffix, unit in (("s", "s"), ("jobs", "count"), ("calls", "count"))
    ]
    + [
        ("operators.materialize.eager_ratio", "ratio", "lower"),
        ("io.table_s", "s", "lower"),
        ("io.cache_hits", "count", "higher"),
        ("io.cache_misses", "count", "lower"),
        ("io.cache_hit_ratio", "ratio", "higher"),
        ("functions.py_worker_cpu_s", "s", "lower"),
        ("compat.run_job_s", "s", "lower"),
        ("compat.run_job_jobs", "count", "lower"),
        ("compat.read_kv_text_s", "s", "lower"),
        ("streaming.run_file_stream_s", "s", "lower"),
        ("streaming.stage_s", "s", "lower"),
        ("streaming.batches", "count", "lower"),
    ]
    + [(name, "ms", "lower") for name in STREAM_PHASES]
    + [
        ("streaming.state_commit_ms", "ms", "lower"),
        ("streaming.state_rows", "count", "lower"),
        ("streaming.state_mem_mb", "MB", "lower"),
        ("streaming.state_partitions", "count", "lower"),
        ("streaming.rows_dropped_by_watermark", "count", "lower"),
        ("session.persisted_rdds_growth", "count", "lower"),
        ("session.tables_growth", "count", "lower"),
        ("session.scratch_mb_per_pass", "MB", "lower"),
        ("session.jvm_peak_rss_mb", "MB", "lower"),
    ]
    + [(f"layer.{layer}_self_s", "s", "lower") for layer in LAYERS]
    + [
        ("trace.overhead_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
    ]
)

MB = 1024.0 * 1024.0


class Recorder:
    """Collects spans while ``active``; a no-op pass-through otherwise."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.cache_hits: list[bool] = []  # one entry per publish_cached call
        self._stack: list[int] = []
        self.key: str | None = None
        self.pass_no: int | None = None
        self.next_job_id = lambda: 0

    def open(self, name: str, layer: str) -> int:
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "layer": layer,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "key": self.key,
                "pass": self.pass_no,
                "job_lo": self.next_job_id(),
                "job_hi": None,
            }
        )
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span["job_hi"] = self.next_job_id()
        span["end"] = time.time()
        self._stack.pop()

    def run(self, name: str, layer: str, fn, *args, **kwargs):
        idx = self.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)


RECORDER = Recorder()


def _wrap(name: str, layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not RECORDER.active:
            return fn(*args, **kwargs)
        if name == "io.publish_cached":
            from mapreduce_framework_spark.io import user_cache_root

            cache_name = args[0] if args else kwargs["cache_name"]
            hit = os.path.isdir(os.path.join(user_cache_root(), cache_name))
            RECORDER.cache_hits.append(hit)
        return RECORDER.run(name, layer, fn, *args, **kwargs)

    return wrapper


def install() -> None:
    """Wrap every function in LAYER_FUNCS and rebind the names already
    imported elsewhere in the package.  Must run before the query
    modules are imported."""
    if f"{PKG}.queries" in sys.modules:
        raise RuntimeError("tracing must be installed before the query modules are imported")
    originals = {}
    for mod_name, patterns in LAYER_FUNCS.items():
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        label = mod_name.replace(".runner", "")
        layer = label.split(".")[0]
        for attr, fn in list(vars(mod).items()):
            if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            if not any(attr == p or (p.endswith("*") and attr.startswith(p[:-1])) for p in patterns):
                continue
            wrapped = _wrap(f"{label}.{attr}", layer, fn)
            originals[id(fn)] = wrapped
            setattr(mod, attr, wrapped)
    for name, mod in list(sys.modules.items()):
        if name == PKG or name.startswith(PKG + "."):
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and val is not originals[id(val)]:
                    setattr(mod, attr, originals[id(val)])


# ---------------------------------------------------------------- engine


def wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_id_source(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.nextJobId())


def engine_stats(spark, job_lo: int, job_hi: int, t_start: float, t_end: float) -> dict:
    """Jobs [job_lo, job_hi) from the AppStatusStore, summed.  A stage
    the store no longer holds (``lastStageAttempt`` raises
    NoSuchElementException) or one marked SKIPPED counts as skipped."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "stages_skipped", "tasks", "run_ms", "cpu_ns", "gc_ms",
         "shuffle_read", "shuffle_write", "spill", "input", "output"), 0)
    intervals = []
    seen: set[int] = set()
    for job_id in range(job_lo, job_hi):
        try:
            job = store.job(job_id)
        except Exception:
            continue
        out["jobs"] += 1
        if job.submissionTime().isDefined():
            start = job.submissionTime().get().getTime() / 1000.0
            end = job.completionTime().get().getTime() / 1000.0 if job.completionTime().isDefined() else t_end
            intervals.append((max(start, t_start), min(end, t_end)))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = int(stage_ids.apply(i))
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:
                out["stages_skipped"] += 1
                continue
            if sid in seen or sd.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ns"] += sd.executorCpuTime()
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_read"] += sd.shuffleReadBytes()
            out["shuffle_write"] += sd.shuffleWriteBytes()
            out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input"] += sd.inputBytes()
            out["output"] += sd.outputBytes()
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    out["gap_s"] = max(0.0, (t_end - t_start) - busy)
    return out


def engine_metrics(stats: dict, wall_s: float, cores: int) -> dict:
    run_s = stats["run_ms"] / 1000.0
    return {
        "engine.jobs": stats["jobs"],
        "engine.stages": stats["stages"],
        "engine.stages_skipped": stats["stages_skipped"],
        "engine.tasks": stats["tasks"],
        "engine.job_gap_s": stats["gap_s"],
        "engine.executor_run_s": run_s,
        "engine.executor_cpu_s": stats["cpu_ns"] / 1e9,
        "engine.gc_s": stats["gc_ms"] / 1000.0,
        "engine.shuffle_read_mb": stats["shuffle_read"] / MB,
        "engine.shuffle_write_mb": stats["shuffle_write"] / MB,
        "engine.spill_mb": stats["spill"] / MB,
        "engine.input_mb": stats["input"] / MB,
        "engine.output_mb": stats["output"] / MB,
        "engine.core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


# ---------------------------------------------------------------- /proc

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes below the JVM (the PySpark
    daemon, its forked workers, and the workers it already reaped)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] = ppid; [11..14] = utime stime cutime cstime
        procs[int(entry)] = (int(fields[1]), comm, sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, list(children.get(jvm_pid, ()))
    while todo:
        pid = todo.pop()
        _, comm, ticks = procs[pid]
        if comm.startswith("python"):
            total += ticks
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


# ---------------------------------------------------------------- streams


def _iso_to_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_stream_tap():
    """A StreamingQueryListener that keeps query starts and per-batch
    progress; ``.events`` is a list of ("start"|"progress", pass, data)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamTap(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[tuple] = []
            self.lock = threading.Lock()

        def _add(self, kind, data):
            with self.lock:
                self.events.append((kind, RECORDER.pass_no, data))

        def onQueryStarted(self, event):
            self._add("start", {"run_id": str(event.runId), "t": _iso_to_epoch(event.timestamp)})

        def onQueryProgress(self, event):
            p = event.progress
            self._add(
                "progress",
                {
                    "run_id": str(p.runId),
                    "t": _iso_to_epoch(p.timestamp),
                    "batch_ms": p.batchDuration,
                    "rows": p.numInputRows,
                    "phases": dict(p.durationMs),
                    "state": [
                        {
                            "commit_ms": s.commitTimeMs,
                            "rows": s.numRowsTotal,
                            "mem": s.memoryUsedBytes,
                            "partitions": s.numShufflePartitions,
                            "dropped": s.numRowsDroppedByWatermark,
                        }
                        for s in p.stateOperators
                    ],
                },
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamTap()


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Inclusive-method quantile (0 for an empty sample)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def stream_metrics(events: list[tuple], spans: list[dict], plain: set[int], n_traced: int) -> dict:
    """Per-batch figures from the listener events of the untraced passes
    ``plain``; ``streaming.stage_s`` from the traced passes' spans."""
    starts = {d["run_id"]: d["t"] for k, _, d in events if k == "start"}
    progress = [d for k, pass_no, d in events if k == "progress" and pass_no in plain]
    batch_ms = [d["batch_ms"] for d in progress]
    rows, span_s = 0, 0.0
    ends: dict[str, float] = {}
    for d in progress:
        rows += d["rows"]
        ends[d["run_id"]] = max(ends.get(d["run_id"], 0.0), d["t"] + d["batch_ms"] / 1000.0)
    for run_id, end in ends.items():
        if run_id in starts:
            span_s += end - starts[run_id]
    # streaming.stage_s: run_file_stream entry -> the query start inside it.
    stage_s = 0.0
    for s in spans:
        if s["name"] == "streaming.run_file_stream" and s["end"] is not None:
            inside = [t for t in starts.values() if s["start"] <= t <= s["end"]]
            if inside:
                stage_s += min(inside) - s["start"]
    states = [st for d in progress for st in d["state"]]
    per_pass = max(1, len(plain))
    out = {
        "stream_batch_ms_p50": quantile(batch_ms, 0.5),
        "stream_batch_ms_p90": quantile(batch_ms, 0.9),
        "stream_rows_per_s": rows / span_s if span_s > 0 else 0.0,
        "streaming.stage_s": stage_s / max(1, n_traced),
        "streaming.batches": len(progress) / per_pass,
        "streaming.state_commit_ms": _mean([st["commit_ms"] for st in states]),
        "streaming.state_rows": _mean([st["rows"] for st in states]),
        "streaming.state_mem_mb": max([st["mem"] for st in states], default=0) / MB,
        "streaming.state_partitions": max([st["partitions"] for st in states], default=0),
        "streaming.rows_dropped_by_watermark": sum(st["dropped"] for st in states) / per_pass,
    }
    for name, phase in STREAM_PHASES.items():
        out[name] = _mean([d["phases"].get(phase, 0) for d in progress])
    return out


# ---------------------------------------------------------------- spans


def span_metrics(spans: list[dict], cache_hits: list[bool], n_passes: int) -> dict:
    """Per-pass time, job and call counts per layer function, cache
    counters, and each layer's self time."""
    per_pass = max(1, n_passes)
    timed = [s for s in spans if s["end"] is not None]
    child_s = [0.0] * len(spans)
    for s in timed:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]

    def dur(s):
        return s["end"] - s["start"]

    def jobs(s):
        return s["job_hi"] - s["job_lo"]

    out: dict[str, float] = {}
    by_name: dict[str, list[dict]] = {}
    for s in timed:
        by_name.setdefault(s["name"], []).append(s)
    for op in OPERATOR_FUNCS:
        group = by_name.get(f"operators.{op}", [])
        # A nested call of the same function is already inside its parent.
        outer = [s for s in group if s["parent"] is None or spans[s["parent"]]["name"] != f"operators.{op}"]
        out[f"operators.{op}_s"] = sum(map(dur, outer)) / per_pass
        out[f"operators.{op}_jobs"] = sum(map(jobs, outer)) / per_pass
        out[f"operators.{op}_calls"] = len(group) / per_pass
    ckpt = by_name.get("operators.materialize.sized_local_checkpoint", [])
    out["operators.materialize.eager_ratio"] = (
        sum(1 for s in ckpt if jobs(s) > 0) / len(ckpt) if ckpt else 0.0
    )
    for name in ("queries.build", "queries.exec", "io.table", "compat.run_job",
                 "compat.read_kv_text", "streaming.run_file_stream"):
        out[f"{name}_s"] = sum(map(dur, by_name.get(name, []))) / per_pass
    out["compat.run_job_jobs"] = sum(map(jobs, by_name.get("compat.run_job", []))) / per_pass
    hits = sum(cache_hits)
    out["io.cache_hits"] = hits / per_pass
    out["io.cache_misses"] = (len(cache_hits) - hits) / per_pass
    out["io.cache_hit_ratio"] = hits / len(cache_hits) if cache_hits else 0.0
    for layer in LAYERS:
        out[f"layer.{layer}_self_s"] = sum(
            dur(s) - child_s[i] for i, s in enumerate(spans)
            if s["end"] is not None and s["layer"] == layer
        ) / per_pass
    out["trace.spans"] = len(timed) / per_pass
    return out
