"""The benchmark's driver process: one Spark session, one caller.

Started by ``perfbench/run.py`` inside a private run directory whose
temp and Spark local dirs are set through the environment.  It

1. sets up once, from process launch to ready: start a session,
   check the input files, run one untimed pass whose results are
   collected (it fills the engine's on-disk caches under the run's
   fresh temp dir), then the workload's untimed warm-up passes;
2. runs timed passes for ``--seconds``: each call is
   ``spec.fn(spark, sf_dir)`` then a ``noop`` write, keys in a seeded
   order per pass;
3. checks the collected pass's results against each key's DuckDB
   oracle, normalized with the helpers of ``tests/conftest.py``;
4. writes the result object to ``--out``.

A timed pass is measured in wall time and in CPU seconds of every
process of the run (``session_cpu_s``).  The end-to-end figure is the
CPU one: on a shared host the wall time of a pass moved by up to 2x
from one run to the next with the host's load, its CPU time far less.
The wall-time figures are reported by the traced run.

With ``--trace 1`` the layer wrappers are installed before the query
modules are imported, and timed passes alternate traced and untraced
so the tracing overhead is measured in the same process; figures that
need no wrapper are taken from the untraced passes.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import statistics
import sys
import tempfile
import time


def dir_mb(paths) -> float:
    total = 0
    for root in paths:
        for dp, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dp, f)).st_size
                except OSError:
                    pass
    return total / (1024.0 * 1024.0)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def session_cpu_s() -> float:
    """CPU seconds used so far by this run's processes: the driver, its
    JVM and the JVM's Python workers, all in the driver's session."""
    sid = os.getsid(0)
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[3] = session id; [11..14] = utime stime cutime cstime
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def load_conftest(root: str):
    """The test suite's oracle helpers (rows_normalized, type_category)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def capture(df, type_category):
    return (
        list(df.columns),
        [tuple(r) for r in df.collect()],
        {f.name: type_category(f.dataType.simpleString()) for f in df.schema.fields},
    )


def oracle_mismatch(con, conftest, oracle_sql: str, got) -> str | None:
    """None when the Spark result equals the DuckDB oracle's, as the
    test suite's assert_oracle_parity compares them."""
    s_cols, s_rows, s_types = got
    rel = con.sql(oracle_sql)
    d_cols = list(rel.columns)
    d_types = {c: conftest.type_category(str(t)) for c, t in zip(rel.columns, rel.types)}
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    for col, cat in s_types.items():
        if cat != d_types[col]:
            return f"column {col}: type {cat} != {d_types[col]}"
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} != {len(d_rows)}"
    if conftest.rows_normalized(s_cols, s_rows)[1] != conftest.rows_normalized(d_cols, d_rows)[1]:
        return "row values differ"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall time the process was launched")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    sys.path.insert(0, a.root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import layers
    from workloads import MR_JOB_KEY, WORKLOADS

    wl = WORKLOADS[a.workload]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = bool(a.trace)
    if traced:
        layers.install()
    conftest = load_conftest(a.root)
    from mapreduce_framework_spark.registry import get_query
    from mapreduce_framework_spark.session import get_spark

    specs = {k: get_query(k) for k in wl.keys}
    rng = random.Random(a.seed)
    input_files = sorted(
        os.path.join(a.sf_dir, f) for f in os.listdir(a.sf_dir) if f.endswith(".parquet")
    )
    tmp_root = tempfile.gettempdir()
    scratch_dirs = [tmp_root, *os.environ["SPARK_LOCAL_DIRS"].split(",")]
    attempted = failed = 0
    errors: list[str] = []

    def call(key, spark, collect=None):
        """One call; returns its latency, or None if it raised."""
        nonlocal attempted, failed
        attempted += 1
        spec = specs[key]
        if traced:
            layers.RECORDER.key = key
        try:
            t0 = time.perf_counter()
            if traced and layers.RECORDER.active:
                rec = layers.RECORDER
                df = rec.run("queries.build", "queries", spec.fn, spark, a.sf_dir)
                rec.run("queries.exec", "queries", df.write.format("noop").mode("overwrite").save)
            else:
                df = spec.fn(spark, a.sf_dir)
                if collect is not None:
                    collect[key] = capture(df, conftest.type_category)
                else:
                    df.write.format("noop").mode("overwrite").save()
            latency = time.perf_counter() - t0
        except Exception as exc:  # counted in `failed`; the run goes on
            failed += 1
            errors.append(f"{key}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        return latency

    # ------------------------------------------------------------ setup
    # From process launch to ready: session start, the input-file check,
    # one untimed pass that fills the engine's on-disk caches and is
    # collected for the oracle gate, and the warm-up passes.
    spark = get_spark("perfbench")
    t_ready = time.time()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if sc.defaultParallelism != cores or sc.master != f"local[{cores}]":
        raise SystemExit(
            f"parallelism {sc.master}/{sc.defaultParallelism} does not match nproc={cores}"
        )
    provenance = {}
    for path in input_files:
        st = os.stat(path)
        with open(path, "rb") as fh:  # into the page cache
            while fh.read(1 << 22):
                pass
        provenance[os.path.basename(path)] = [st.st_size, st.st_mtime_ns]
    warm_results: dict = {}
    keys = list(wl.keys)
    rng.shuffle(keys)
    for key in keys:  # collected for the oracle gate
        call(key, spark, collect=warm_results)
    for _ in range(wl.warm_passes):
        rng.shuffle(keys)
        for key in keys:
            call(key, spark)
    setup_s = time.time() - a.t0
    print(f"perfbench: setup {setup_s:.2f}s, session ready after {t_ready - a.t0:.2f}s", file=sys.stderr)

    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    print(
        json.dumps(
            {
                "provenance": {
                    "workload": a.workload,
                    "seed": a.seed,
                    "master": sc.master,
                    "defaultParallelism": sc.defaultParallelism,
                    "inputs": provenance,
                }
            }
        ),
        file=sys.stderr,
    )

    # ------------------------------------------------------------ timed passes
    # A traced run alternates traced passes (layer wrappers recording)
    # and plain ones.  Spark's own status surfaces -- job ranges, the
    # AppStatusStore, the stream listener -- and /proc are read around
    # every pass; the figures they give come from the plain passes.
    if traced:
        rec = layers.RECORDER
        rec.next_job_id = layers.job_id_source(spark)
        tap = layers.make_stream_tap()
        spark.streams.addListener(tap)
    passes: list[dict] = []
    rdds0 = sc._jsc.getPersistentRDDs().size()
    tables0 = len(spark.catalog.listTables())
    scratch0 = dir_mb(scratch_dirs)
    t_measure = time.perf_counter()
    n = 0
    while n < 1 or time.perf_counter() - t_measure < a.seconds or (traced and n < 2):
        is_traced = traced and n % 2 == 0
        keys = list(wl.keys)
        rng.shuffle(keys)
        p = {"traced": is_traced, "calls": {}}
        if traced:
            layers.wait_for_listeners(spark)
            rec.pass_no = n
            p["job_lo"] = rec.next_job_id()
            p["cpu0"] = layers.python_worker_cpu_s(jvm_pid)
            rec.active = is_traced
        p["t_start"] = time.time()
        t_pass = time.perf_counter()
        cpu_pass = session_cpu_s()
        for key in keys:
            latency = call(key, spark)
            if latency is not None:
                p["calls"][key] = latency
        p["cpu"] = session_cpu_s() - cpu_pass
        p["wall"] = time.perf_counter() - t_pass
        p["t_end"] = time.time()
        if traced:
            rec.active = False
            p["job_hi"] = rec.next_job_id()
            layers.wait_for_listeners(spark)
            p["cpu1"] = layers.python_worker_cpu_s(jvm_pid)
            p["engine"] = layers.engine_stats(
                spark, p["job_lo"], p["job_hi"], p["t_start"], p["t_end"]
            )
        passes.append(p)
        n += 1
    if traced:
        spark.streams.removeListener(tap)
    growth = {
        "session.persisted_rdds_growth": (sc._jsc.getPersistentRDDs().size() - rdds0) / n,
        "session.tables_growth": (len(spark.catalog.listTables()) - tables0) / n,
        "session.scratch_mb_per_pass": (dir_mb(scratch_dirs) - scratch0) / n,
        "session.jvm_peak_rss_mb": vm_hwm_mb(jvm_pid),
    }

    # ------------------------------------------------------------ oracle gate
    import duckdb

    con = duckdb.connect()
    for path in input_files:
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    for key, got in warm_results.items():
        why = oracle_mismatch(con, conftest, specs[key].oracle, got)
        if why is not None:
            failed += 1
            errors.append(f"{key}: oracle mismatch: {why}")
    con.close()
    for err in errors:
        print(f"perfbench: failed call: {err}", file=sys.stderr)

    # ------------------------------------------------------------ metrics
    plain = [p for p in passes if not p["traced"]]
    plain_calls = [v for p in plain for v in p["calls"].values()]
    summary = {
        "passes": len(plain),
        "pass_walls": [p["wall"] for p in plain],
        "pass_cpu": [p["cpu"] for p in plain],
        "query_samples": len(plain_calls),
        "fail_frac": failed / max(1, attempted),
    }
    if not traced:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (statistics.median(p["cpu"] for p in plain), "s"),
        }
    else:
        tp = [p for p in passes if p["traced"]]
        engine: dict[str, float] = {}
        for p in plain:
            for name, v in layers.engine_metrics(p["engine"], p["wall"], cores).items():
                engine[name] = engine.get(name, 0.0) + v / len(plain)
        mr_calls = [p["calls"][MR_JOB_KEY] for p in plain if MR_JOB_KEY in p["calls"]]
        values = {
            "pass_s": statistics.median(p["wall"] for p in plain),
            "query_s_p50": layers.quantile(plain_calls, 0.5),
            "query_s_p90": layers.quantile(plain_calls, 0.9),
            "mr_job_s": statistics.median(mr_calls) if mr_calls else 0.0,
            "functions.py_worker_cpu_s": statistics.fmean(p["cpu1"] - p["cpu0"] for p in plain),
            "trace.overhead_s": statistics.median(p["wall"] for p in tp)
            - statistics.median(p["wall"] for p in plain),
            **engine,
            **growth,
            **layers.span_metrics(rec.spans, rec.cache_hits, len(tp)),
            **layers.stream_metrics(
                tap.events, rec.spans, {i for i, p in enumerate(passes) if not p["traced"]}, len(tp)
            ),
        }
        metrics = {name: (values[name], unit) for name, unit, _ in layers.PER_LAYER}
        summary["traced_passes"] = len(tp)
    print(json.dumps({"summary": summary, **growth}), file=sys.stderr)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": unit} for name, (v, unit) in metrics.items()},
    }
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
