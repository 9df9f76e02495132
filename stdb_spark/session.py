"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the local[32] test harness but chosen to be the
same knobs one would set on a 1000-executor cluster:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split)
- auto broadcast threshold raised (dimension tables in TESTDATA are tiny;
  at 100 TB the dims - series registry, nation/region - are still small)
- Arrow execution for the few pandas-UDF operators (ewma, multimodal)
- parquet nanos-as-long, defensively: the engine's canonical time unit
  is int64 nanoseconds since epoch (reference: stdb/common/basic.h:30-31).
  The current testdata generation ships events.ts as TIMESTAMP(MICROS)
  (handled by dtype dispatch in model._ts_ns_expr); an earlier generation
  was TIMESTAMP(NANOS), which vanilla Spark refuses to read at all —
  the conf keeps both generations readable.
- session timezone pinned UTC: the NTZ-timestamp -> int64-ns bridge must
  be timezone-invariant (see model._SESSION_CONFS).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from stdb_spark import model


def get_spark(
    app_name: str = "stdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    # the runtime confs every entry point needs (nanosAsLong, ansi off,
    # UTC, Arrow, pushdown, runtime bloom filters, excluded optimizer
    # rules, one shuffle partition per core, LAST_WIN map keys) have one
    # table, model._SESSION_CONFS, which ensure_session_confs also
    # applies to injected sessions; an explicit width wins
    for k, v in model._SESSION_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # preferSortMergeJoin stays at its default (true): an
        # alternating-order A/B over the join-heavy set showed NO
        # effect (initial plans are identical — broadcasts dominate at
        # bench scale and SHJ's muchSmaller condition rarely holds),
        # while globally allowing planner-chosen shuffled-hash adds a
        # build-side OOM class at 100 TB that this repo handles with
        # explicit per-join shuffle_hash hints instead
        # (OPTIMIZATION_r11.md "negative results").
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local[N] runs all N task threads inside the driver JVM, so
        # this is the whole executor heap.  12g is the steady-state
        # sweet spot at the bench scales: adjudicated in r10 with full
        # driver-shape A/B medians (full bench.py runs alternating the
        # heap, BENCH_NOTES "r10: heap A/B" — 12g ties or beats 8g on 13/15 of the worst
        # r9 drifters, median ratio 0.95, full-suite medians 245 vs
        # 264 s; the r9 suite-wide driver drift was box-state variance,
        # +-15% on identical code).  The 100x rehearsal exports
        # STDB_SPARK_DRIVER_MEM=24g for its big side (8g GC-thrashed
        # there).  On a real cluster the same knob moves to
        # spark.executor.memory.
        .config("spark.driver.memory", os.environ.get("STDB_SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # PySpark otherwise captures the Python call site on every
        # DataFrame/Column API call (~5 py4j round trips each, plus an
        # IPython import probe).  It reads this flag once per process,
        # from the first active session, so it must be set here and not
        # at runtime.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
