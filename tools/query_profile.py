#!/usr/bin/env python
"""Per-query profiler: the bench.py discipline (stdb_spark.profile: warm
at sf0.001 and at the target, then N timed noop-sink runs) for named
registry entries.  Usage:

    python tools/query_profile.py [--sf DIR] [--runs N] [--no-warm] name [name ...]

For each query prints the median seconds over N timed runs, and the last
run's profile record: build / plan / execute ms, the jobs (build_jobs of
them launched while the DataFrame was built), stages and tasks -- the
fixed-overhead fingerprint that dominates at test scale and the
exchange-count proxy that dominates at 100 TB -- executor time, scan,
shuffle, spill and Python ms; ``classes`` sums the Java classes the N
timed runs compiled (a class whose source was compiled before, as in a
warm pass with the same literals, is a cache hit and is not counted).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    from stdb_spark.profile import profile_entries
    from stdb_spark.session import get_spark

    spark = get_spark("stdb-profile")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    warm_at = [] if args.no_warm else None
    for name, res in profile_entries(spark, args.names, args.sf, args.runs, warm_at):
        recs = res.pop("records")
        res["runs_s"] = [round(r["wall_ms"] / 1e3, 3) for r in recs]
        if recs:
            res.update(recs[-1], classes=sum(r["classes"] for r in recs))
        out[name] = res
        print(f"{name}: {json.dumps(res)}", file=sys.stderr, flush=True)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
