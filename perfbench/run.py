#!/usr/bin/env python3
"""perfbench: the repository benchmark for stdb_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads: query_mix, ingest_tcp, pipeline_batch (see README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
layer's public entry points in spans and prints the per-layer metrics.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the
full report (box stamp, sample counts, tail percentile, error ratio),
also written to ``perfbench/out/``.

``--tiny`` shrinks every input for the smoke tests, and
``--corrupt-expected`` replaces one expected answer with a wrong one so
the tests can see it counted as a failure.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

CPU_TICKS_START = harness.cpu_ticks()

WORKLOADS = ("query_mix", "ingest_tcp", "pipeline_batch")

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics, emitted by every workload in a traced run; a layer
# a workload does not exercise reads 0 there.
LAYER_UNITS = {
    "parser.parse_ms": "ms",
    "engine.build_ms": "ms",
    "engine.build_jobs": "count",
    "engine.summary_path_ratio": "ratio",
    "driver.fetch_ms": "ms",
    "driver.result_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.scan_rows": "count",
    "spark.scan_bytes": "B",
    "spark.scan_rows_per_result_row": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python_eval_s": "s",
    "resp.feed_s": "s",
    "resp.samples": "count",
    "tcp.flush_s": "s",
    "tcp.flushes": "count",
    "tcp.to_narrow_s": "s",
    "tcp.client_blocked_s": "s",
    "storage.write_s": "s",
    "storage.files_written": "count",
    "storage.bytes_written": "B",
    "storage.files_per_partition": "ratio",
    "storage.summary_update_s": "s",
    "storage.compact_s": "s",
    "storage.compact_bytes_rewritten": "B",
    "ingest.read_p50_ms": "ms",
    "ingest.read_tail_ms": "ms",
    "ingest.maintenance_s": "s",
    "ingest.bytes_per_sample": "B",
    "streaming.trigger_ms": "ms",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "graph.s": "s",
    "dedup.s": "s",
    "similarity.s": "s",
    "text.s": "s",
    "streaming.s": "s",
    "self.engine_s": "s",
    "self.parser_s": "s",
    "self.operators_s": "s",
    "self.model_s": "s",
    "self.driver_fetch_s": "s",
    "self.resp_s": "s",
    "self.tcp_s": "s",
    "self.storage_s": "s",
    "trace.spans": "count",
    "trace.overhead_p50_ms": "ms",
}

# span names folded into each self.* metric
SELF_SPANS = {
    "self.engine_s": ("engine",),
    "self.parser_s": ("parser",),
    "self.operators_s": ("operators",),
    "self.model_s": ("model",),
    "self.driver_fetch_s": ("driver.fetch",),
    "self.resp_s": ("resp.feed",),
    "self.tcp_s": ("tcp.flush", "tcp.to_narrow"),
    "self.storage_s": ("storage.write", "storage.summary_write",
                       "storage.summary_update", "storage.compact"),
}


class Ctx:
    def __init__(self, args, work, spark):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.corrupt = args.corrupt_expected
        self.work = work
        self.spark = spark
        self.t_start = T_START
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = harness.Tracer(self.trace)
        self.stats = harness.SparkStats(spark) if self.trace else None
        self.state: dict = {}


def _module(workload: str):
    if workload == "query_mix":
        import query_mix as mod
    elif workload == "ingest_tcp":
        import ingest_tcp as mod
    else:
        import pipeline_batch as mod
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-expected", action="store_true")
    args = ap.parse_args(argv)

    try:
        work = harness.prepare(args.workload, args.seed)
    except harness.SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    spark = None
    try:
        spark = harness.start_spark(work)
        ctx = Ctx(args, work, spark)
        harness.install_layer_spans(ctx.tracer)
        out = _module(args.workload).run(ctx)
        out_rss = harness.peak_rss_mb(spark)
        ctx.tracer.uninstall()
        box = harness.box_stamp(CPU_TICKS_START)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layers = {k: 0.0 for k in LAYER_UNITS}
        self_s = ctx.tracer.self_times()
        for key, names in SELF_SPANS.items():
            layers[key] = sum(self_s.get(n, 0.0) for n in names)
        layers["trace.spans"] = len(ctx.tracer.spans)
        unknown = set(out["layers"]) - set(LAYER_UNITS)
        if unknown:
            raise KeyError(f"unregistered layer metrics {sorted(unknown)}")
        layers.update(out["layers"])
        metrics = {k: harness.metric(layers[k], LAYER_UNITS[k]) for k in LAYER_UNITS}
        ctx.tracer.dump(os.path.join(
            harness.OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        e2e = {**out["e2e"], "setup_s": out["setup_s"], "peak_rss_mb": out_rss}
        metrics = {k: harness.metric(e2e[k], E2E_UNITS[k]) for k in E2E_UNITS}
    finite = all(math.isfinite(m["value"]) for m in metrics.values())
    attempted, failed = int(out["attempted"]), int(out["failed"])
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box,
        "setup_s": out["setup_s"],
        "error_ratio": failed / attempted if attempted else 1.0,
        **out.get("report", {}),
    }
    result = {
        "correct": failed == 0 and attempted > 0 and finite,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": metrics,
    }
    harness.emit(result, report, args.workload, args.seed, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
