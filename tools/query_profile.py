#!/usr/bin/env python
"""Per-query profiler: time + job/stage/task counts for named registry
entries, mirroring bench.py methodology (two warm passes, then a timed
noop-sink run).  Usage:

    python tools/query_profile.py [--sf DIR] [--runs N] name [name ...]

For each query prints: median seconds over N timed runs, number of
Spark jobs the action launched, total stages and tasks — the
fixed-overhead fingerprint that dominates at test scale and the
exchange-count proxy that dominates at 100 TB — and the Java classes
the N timed runs compiled (the CodegenMetrics compilation count; a
class whose source was compiled before, as in a warm pass with the
same literals, is a cache hit and is not counted).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    from stdb_spark.session import get_spark
    from stdb_spark.workloads import QUERIES

    spark = get_spark("stdb-profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    out = {}
    for name in args.names:
        fn = QUERIES[name]
        if not args.no_warm:
            for wd in ("/root/testdata/sf0.001", args.sf):
                try:
                    fn(spark, wd).write.format("noop").mode("overwrite").save()
                except Exception:
                    pass
        times = []
        jobs = stages = tasks = 0
        classes = compiled.getCount()
        for r in range(args.runs):
            group = f"prof_{name}_{r}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            sc.setJobGroup(None, None)
            if r == args.runs - 1:
                job_ids = tracker.getJobIdsForGroup(group)
                jobs = len(job_ids)
                for jid in job_ids:
                    ji = tracker.getJobInfo(jid)
                    if ji is None:
                        continue
                    stages += len(ji.stageIds)
                    for sid in ji.stageIds:
                        si = tracker.getStageInfo(sid)
                        if si is not None:
                            tasks += si.numTasks
        classes = compiled.getCount() - classes
        med = sorted(times)[len(times) // 2]
        out[name] = {
            "median_s": round(med, 3),
            "runs_s": [round(t, 3) for t in times],
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "classes": classes,
        }
        print(
            f"{name}: median {med:.3f}s runs={[round(t,2) for t in times]} "
            f"jobs={jobs} stages={stages} tasks={tasks} classes={classes}",
            file=sys.stderr,
            flush=True,
        )
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
