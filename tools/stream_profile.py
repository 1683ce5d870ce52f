#!/usr/bin/env python
"""Phase-level profile of one streaming bench key: staging write vs
stream execution vs per-batch durations (from StreamingQueryProgress).

Usage: python tools/stream_profile.py stream_session_timers [--sf-dir DIR] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("key")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from mapreduce_framework_spark import streaming as _  # noqa
    from mapreduce_framework_spark.registry import all_queries
    from mapreduce_framework_spark.session import get_spark
    import mapreduce_framework_spark.streaming.runner as runner

    spark = get_spark("stream-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Wrap run_file_stream to time phases.
    orig = runner.run_file_stream
    phases: dict = {}

    def timed(spark_, source_df, transform, **kw):
        t0 = time.perf_counter()
        progress: list = []
        if kw.get("collect_progress") is None:
            kw["collect_progress"] = progress
        out = orig(spark_, source_df, transform, **kw)
        phases["total_stream_s"] = round(time.perf_counter() - t0, 3)
        got = kw["collect_progress"]
        phases["batches"] = [
            {
                "id": p["batchId"],
                "rows": p["numInputRows"],
                "durationMs": p.get("batchDuration"),
                "addBatch": (p.get("durationMs") or {}).get("addBatch"),
                "commitOffsets": (p.get("durationMs") or {}).get("commitOffsets"),
                "getBatch": (p.get("durationMs") or {}).get("getBatch"),
                "latestOffset": (p.get("durationMs") or {}).get("latestOffset"),
                "queryPlanning": (p.get("durationMs") or {}).get("queryPlanning"),
                "walCommit": (p.get("durationMs") or {}).get("walCommit"),
                "stateMs": [
                    {
                        "commit": op.get("allUpdatesTimeMs"),
                        "commitTimeMs": op.get("commitTimeMs"),
                        "rowsUpdated": op.get("numRowsUpdated"),
                        "memUsed": op.get("memoryUsedBytes"),
                    }
                    for op in p.get("stateOperators", [])
                ],
            }
            for p in got
        ]
        return out

    runner.run_file_stream = timed
    spec = all_queries()[args.key]
    results = []
    for i in range(args.reps):
        phases.clear()
        t0 = time.perf_counter()
        df = spec.fn(spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        results.append({"wall_s": wall, **json.loads(json.dumps(phases))})
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
