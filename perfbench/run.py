#!/usr/bin/env python3
"""Benchmark entry point for the query engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Generates the input tables
into a private run directory, runs
``perfbench/driver.py`` there with its own temp and Spark local dirs,
stops every process it started, deletes the run directory, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``perfbench/layers.py``).  A human-readable
summary, the run's provenance and any failed call go to stderr.  Exits
non-zero, printing no result, when the engine sources are missing, a
process fails, or the run would exceed its time limit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import DATA_SEED, SCALE, WORKLOADS  # noqa: E402

DEADLINE_S = 170.0  # a run must end within 180 s, cleanup included
# Driver heap.  Under the engine's default (16g) the JVM grew to 4.5 GB
# resident over a pass of 37 keys at this scale; 2g keeps a run's peak
# between 0.8 and 1.7 GB.
DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36
# Driver JVM flags.  The JIT stops at C1: under the default tiered JIT a
# relational pass kept getting faster (and its JIT threads kept taking
# 2-4 CPU-s per pass) through its tenth pass, which a run cannot afford
# to wait for; under C1 a pass settles by its third.  Transparent huge
# pages for the heap made the pass time of one run to the next steadier.
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseTransparentHugePages"


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the driver's process group (driver, JVM, Python workers)
    and reap everything, orphans included (we are their subreaper)."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description="Benchmark the query engine on one workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("mapreduce_framework_spark/__init__.py", "tests/conftest.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout", file=sys.stderr)
            return 2

    run_dir = os.path.join(root, ".perfbench_run", f"{a.workload}-{os.getpid()}")
    dirs = {name: os.path.join(run_dir, name) for name in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    sf_dir = os.path.join(run_dir, "data", f"sf{SCALE}")
    out = os.path.join(run_dir, "result.json")
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # clean up below
    proc = rc = result = None
    try:
        from datagen import generate

        generate(sf_dir, DATA_SEED, SCALE)
        cores = len(os.sched_getaffinity(0))
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_MASTER", None)
        env.update(
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYTHONHASHSEED="0",
            PYSPARK_SUBMIT_ARGS=" ".join(
                [
                    f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} {JAVA_OPTS}'",
                    f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
                    "--conf spark.ui.retainedJobs=100000",
                    "--conf spark.ui.retainedStages=100000",
                    "pyspark-shell",
                ]
            ),
        )
        cmd = [
            sys.executable, os.path.join(HERE, "driver.py"),
            "--root", root, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--sf-dir", sf_dir,
            "--out", out, "--t0", repr(time.time()),
        ]
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            print("perfbench: driver exceeded the time limit", file=sys.stderr)
        if rc == 0:
            with open(out) as fh:
                result = json.load(fh)
    finally:
        if proc is not None:
            stop_group(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    if result is None:
        print(f"perfbench: driver failed (exit {rc})", file=sys.stderr)
        return 1
    for name, m in result["metrics"].items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(
        f"perfbench: attempted={result['attempted']} failed={result['failed']} "
        f"fail_frac={result['failed'] / result['attempted']:.4g} "
        f"wall={time.time() - t_start:.1f}s",
        file=sys.stderr,
    )
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
