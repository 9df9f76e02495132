"""Storage layout for the narrow fact tables at cluster scale.

The reference's storage engine (NB+tree over 4 KB volumes, SURVEY.md
§2.1) is replaced wholesale by partitioned Parquet; what remains OURS to
decide is the layout, and it is chosen so every query-side filter in the
engine maps to pruning:

- partition by day (from ts): `range` clauses prune directories —
  the analog of NB+tree time-range descent;
- sub-partition by metric: metric binding prunes again (the inverted
  index analog); high-cardinality *tags* stay row-level (row-group
  stats + dictionary filters catch them);
- sort within files by (series_id, ts): row-group min/max stats make
  per-series scans skip row groups, and per-series data is clustered
  for window functions (rate/sma sort locally, not globally).

At 100 TB this yields: day dirs * ~5-50 metrics * N files; a typical
query touches days x 1 metric — a few thousand files — and Spark's scan
parallelism is per row-group.  Every writer of the layout — batch
writes, streaming-ingest staging, compaction — goes through one
clustering writer that lands one file per (day, metric) (AQE handles
read-side coalescing).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stdb_spark.common.timeutil import NS_PER_DAY
from stdb_spark.operators.aggregates import anchor


def with_day(samples: DataFrame) -> DataFrame:
    """Partition column: UTC day id from the ns timestamp (pure integer
    math — no timezone surprises, sortable, prunable)."""
    return samples.withColumn("day", F.expr(f"ts div {NS_PER_DAY}L").cast("int"))


def write_samples(samples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write the narrow fact table partitioned by (day, metric), sorted
    by (series_id, ts) within files."""
    _write_clustered(with_day(samples), path, mode)


def _write_clustered(df: DataFrame, path: str, mode: str) -> None:
    """The layout's one writer: ``df`` already carries ``day``.

    The clustering shuffle hashes ON THE PARTITION COLUMNS: every
    (day, metric) combination lands wholly in one task — one file per
    combination — while distinct combinations spread across all
    shuffle partitions, so the write parallelism scales with the data.
    (A fixed ``repartition(n, cols)`` would pin the WHOLE write to n
    tasks regardless of table size — the round-4 scale review caught
    exactly that: n=1 serialized every ingest through a single task.)
    AQE coalesces the excess partitions when the batch is small."""
    (
        df.repartition("day", "metric")
        .sortWithinPartitions("day", "metric", "series_id", "ts")
        .write.partitionBy("day", "metric")
        .mode(mode)
        .parquet(path)
    )
    # Bulk (overwrite) writes are task-parallel, so file commit order —
    # and therefore file-stream replay order — is arbitrary: restamp
    # the whole table once.  Append batches need no restamp: their new
    # files already carry the newest mtimes, so arrival order IS replay
    # order (and a per-batch full restamp would cost O(batches x
    # total_files) utime calls on a streaming ingest path).
    if mode != "append":
        stamp_replay_order(path)


def layout_files(path: str) -> list[tuple[int, str]]:
    """``(day, file)`` for every data file of the layout at ``path``, in
    NUMERIC day order, then metric directory and file name —
    lexicographic path order would interleave day ids of different
    digit counts (day=10 before day=9).  Local paths only (``glob``,
    not the FileSystem API of ``expire_partitions``)."""
    keyed = []
    for f in glob.glob(os.path.join(path, "day=*", "metric=*", "*.parquet")):
        parts = f.split(os.sep)
        keyed.append((int(parts[-3].split("=", 1)[1]), parts[-2], parts[-1], f))
    return [(day, f) for day, _, _, f in sorted(keyed)]


def stamp_replay_order(path: str) -> None:
    """Restamp data-file mtimes monotonically in (day, metric) path
    order.  File-stream replay (`readStream.parquet` over the layout)
    orders files by modification time, and a PARALLEL write commits
    files in task-completion order — at larger SFs that interleaves
    days, which silently breaks every streaming consumer whose state
    fold or watermark assumes in-event-time-order arrival (the sf0.1
    full-registry gate caught 4 stream queries diverging from their
    sf0.01-green results exactly this way).  O(#files) utime calls
    restore a deterministic, day-ordered replay at any scale.  Local
    paths only (``os.utime`` over ``layout_files``)."""
    import time

    files = layout_files(path)
    base = int(time.time()) - len(files) - 10
    for i, (_, f) in enumerate(files):
        os.utime(f, (base + i, base + i))


def replay_order_stamped(path: str) -> bool:
    """True iff the data-file mtimes of the layout at ``path`` strictly
    increase in ``layout_files`` order — the order
    ``stamp_replay_order`` leaves.  A committed layout can still fail
    this: its ``_SUCCESS`` is written before the restamp, so a run
    killed between the two, or a copy that does not keep mtimes,
    leaves a ready layout that replays in task-completion order.
    Local paths only (``os.stat`` over ``layout_files``)."""
    mtimes = [os.stat(f).st_mtime_ns for _, f in layout_files(path)]
    return all(a < b for a, b in zip(mtimes, mtimes[1:]))


def read_samples(spark: SparkSession, path: str) -> DataFrame:
    """Read back in the narrow schema's column order, keeping the
    ``day`` partition column last: a range filter prunes directories
    only through ``day`` (``prune_range``, or the Engine's own day
    bounds when this frame is bound as its samples)."""
    df = spark.read.parquet(path)
    return df.select("series_id", "metric", "tags", "ts", "value", "day")


def day_bounds(lo_ns: int, hi_ns: int) -> Column:
    """Predicate on the ``day`` partition column covering [lo_ns,
    hi_ns]: directory pruning is visible to Catalyst only through it,
    because ``day`` is derived from ts at write time."""
    return (F.col("day") >= int(lo_ns // NS_PER_DAY)) & (
        F.col("day") <= int(hi_ns // NS_PER_DAY)
    )


def prune_range(df: DataFrame, begin_ns: int, end_ns: int) -> DataFrame:
    """Range filter + explicit day-partition predicate so the directory
    pruning is visible to Catalyst even though `day` is derived."""
    lo, hi = min(begin_ns, end_ns), max(begin_ns, end_ns)
    return df.filter(
        day_bounds(lo, hi) & (F.col("ts") >= lo) & (F.col("ts") < hi)
    )


def summary_table(samples: DataFrame, step_ns: int = NS_PER_DAY) -> DataFrame:
    """Pre-aggregated per-(series, coarse-bucket) summaries — the analog
    of the reference's SubtreeRef aggregate pushdown
    (stdb/storage/nbtree_def.h:47-84: each subtree stores
    count/min/max/sum/first/last and whole-range aggregates combine
    them without touching leaves).

    A bucket-aligned query combines these rows at 1/N the scan cost
    (aggregates.combine_expr) — an explicit planner choice in
    Engine._agg_input, not a Catalyst rule (SURVEY.md §4).  ``sum`` is
    decimal(38,10), exact and associative in ANY grouping; the other
    partials are the four anchors of operators/aggregates.py.

    Each row carries its series' ``tags`` (``series_id`` determines
    them; a map cannot be a grouping key, so ``any_value`` takes them),
    so the engine binds a ``where`` clause on this table as on the leaf
    rows, with no series-registry lookup."""
    bucket = (F.expr(f"ts div {step_ns}L") * step_ns).alias("bucket_ts")
    return samples.groupBy("series_id", "metric", bucket).agg(
        F.any_value("tags").alias("tags"),
        F.count("value").alias("cnt"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("sum"),
        anchor("min").alias("_minv"),
        anchor("max").alias("_maxv"),
        anchor("first").alias("_first"),
        anchor("last").alias("_last"),
    ).select(
        "series_id",
        "metric",
        "tags",
        "bucket_ts",
        "cnt",
        "sum",
        F.col("_minv.value").alias("min"),
        F.col("_minv.ts").alias("min_ts"),
        F.col("_maxv.value").alias("max"),
        F.col("_maxv.ts").alias("max_ts"),
        F.col("_first.ts").alias("first_ts"),
        F.col("_first.value").alias("first"),
        F.col("_last.ts").alias("last_ts"),
        F.col("_last.value").alias("last"),
    )


def expire_partitions(spark: SparkSession, path: str, before_day: int) -> list[str]:
    """Retention enforcement on the (day, metric) layout: drop every
    ``day=N`` partition directory with N < ``before_day``.  This is the
    TTL path a 100 TB deployment runs nightly — a pure metadata/
    directory operation (no data rewrite, no scan), the Parquet-layout
    analog of the reference dropping whole NB+tree superblocks.

    Uses the Hadoop FileSystem API so it works on whatever filesystem
    the session is configured for (local, HDFS, object store).
    Returns the partition directory names removed."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    removed = []
    if not fs.exists(p):
        return removed
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if not name.startswith("day="):
            continue
        try:
            day = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if day < before_day:
            fs.delete(status.getPath(), True)
            removed.append(name)
    return sorted(removed)


def compact_partitions(spark: SparkSession, path: str, out_path: str) -> None:
    """Small-file compaction: rewrite the layout with one file per
    (day, metric), restoring the (series_id, ts) sort.  Streaming
    ingest (availableNow micro-batches) leaves one file per batch per
    partition; at 100 TB that read amplification dominates scan cost,
    and nightly compaction is the standard fix.  The rewrite is
    partition-parallel through the layout's one clustering writer —
    each (day, metric) group lands in its own task, no global sort and
    no fixed task count."""
    _write_clustered(spark.read.parquet(path), out_path, "overwrite")


def upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Merge-on-read upsert: union the base snapshot with an update
    batch and keep, per key, the row with the highest ``version_col``
    (ties broken deterministically by preferring the later row only
    through the version — supply distinct versions per batch).  This is
    the WAL-replay/compaction analog for a parquet lakehouse: writers
    append cheap delta batches, readers (or a nightly rewrite) collapse
    them with ONE window over the key exchange.  At 100 TB the
    partition columns of the layout prune which base files join the
    merge at all — an update batch touching one day reads one day."""
    from pyspark.sql import Window

    unioned = base.unionByName(updates)
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_summary(
    samples: DataFrame, path: str, step_ns: int = NS_PER_DAY, mode: str = "overwrite"
) -> None:
    """Materialize the summary table day-partitioned, so incremental
    maintenance can replace exactly the days an ingest touched."""
    _day_summary(samples, step_ns).write.partitionBy("day").mode(mode).parquet(path)


def _day_summary(samples: DataFrame, step_ns: int) -> DataFrame:
    """summary_table plus the ``day`` partition column of the summary
    store, derived from each bucket's start."""
    return summary_table(samples, step_ns).withColumn(
        "day", F.expr(f"bucket_ts div {NS_PER_DAY}L").cast("int")
    )


def update_summary_incremental(
    spark: SparkSession,
    layout_path: str,
    summary_path: str,
    days: list[int],
    step_ns: int = NS_PER_DAY,
) -> None:
    """Incremental SubtreeRef maintenance: after an ingest appends into
    some day partitions of the layout, recompute summaries for THOSE
    days only and dynamically overwrite just their partitions of the
    summary store.  At 100 TB this is the difference between a
    summary refresh that scans one day (the reference's subtree update
    on append, nbtree.cc commit path) and a full-table rebuild.

    Correct because the summary's grouping key (series, bucket) never
    crosses a day boundary when step_ns divides a day — each output
    day partition is a pure function of the same input day partition.
    """
    if NS_PER_DAY % step_ns != 0:
        raise ValueError("step_ns must divide a day for per-day maintenance")
    src = (
        spark.read.parquet(layout_path)
        .filter(F.col("day").isin([int(d) for d in days]))
        .select("series_id", "metric", "tags", "ts", "value")
    )
    (
        _day_summary(src, step_ns)
        .write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(summary_path)
    )
