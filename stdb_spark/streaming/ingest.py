"""Structured Streaming ingest: the TCP write path re-expressed.

Reference write path (SURVEY.md §3.2): TCP -> protocol parser ->
per-series NB+tree append, rejecting out-of-order writes
(FAIL_LATE_WRITE, stdb/storage/nbtree.h:378-384).  The Spark analog:

    readStream (socket/files/kafka) -> line parse -> watermark
    -> append to time-partitioned Parquet

Late data beyond the watermark is dropped — the declarative equivalent
of the reference's late-write rejection.  Same transformations serve
batch backfill (spark.read) because the parsers are pure column
expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stdb_spark.operators.ohlc import candles
from stdb_spark.sources import storage
from stdb_spark.sources.opentsdb import parse_opentsdb_lines


def stream_from_socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    lines = spark.readStream.format("socket").option("host", host).option(
        "port", port
    ).load()
    return parse_opentsdb_lines(lines)


def stream_from_files(spark: SparkSession, path: str) -> DataFrame:
    """File-drop ingest (each file = batch of OpenTSDB lines)."""
    lines = spark.readStream.format("text").load(path)
    return parse_opentsdb_lines(lines)


def with_late_data_policy(samples: DataFrame, max_lateness: str = "1 minute") -> DataFrame:
    """Watermark on event time: the declarative FAIL_LATE_WRITE analog —
    rows older than the watermark are dropped by stateful operators."""
    return samples.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    ).withWatermark("event_time", max_lateness)


def write_to_parquet(
    samples: DataFrame, path: str, checkpoint: str, trigger_once: bool = True
):
    """Append into a day-partitioned narrow fact table.  Partitioning by
    (day, metric) gives time pruning + metric pruning on read — the
    storage layout the query engine's filters are designed against
    (``day`` is storage.with_day's integer day id, as every batch
    writer of the layout writes it)."""
    writer = (
        storage.with_day(samples)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("day", "metric")
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_downsample(
    samples: DataFrame,
    step: str = "1 minute",
    max_lateness: str = "1 minute",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Continuous group-aggregate: tumbling-window min/max/sum/count/avg
    per series — the streaming twin of the batch `group-aggregate`
    operator (epoch-aligned windows; the batch engine's begin-aligned
    buckets exist for query parity, streaming standardizes on window())."""
    ev = with_late_data_policy(samples, max_lateness)
    return ev.groupBy(
        F.window("event_time", step).alias("bucket"),
        "series_id",
        "metric",
        *extra_keys,
    ).agg(
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.sum("value").alias("sum"),
        F.count("value").alias("count"),
        F.avg("value").alias("mean"),
    )


STATEFUL_OUT_SCHEMA = (
    "series_id long, metric string, ts long, value double, cusum double, n long"
)
STATEFUL_STATE_SCHEMA = "acc double, n long"


def _forward_fold(
    samples: DataFrame,
    key_cols: tuple[str, ...],
    in_cols: tuple[str, ...],
    init: tuple,
    step,
    out_schema: str,
    state_schema: str,
) -> DataFrame:
    """Per-key forward fold over a stream (applyInPandasWithState,
    append mode, no timeout): ``step(state, ts, *values) -> (state,
    tail)`` runs once per row in ts order, and a tail that is not None
    emits the row ``key + tail``.  The state tuple (``init`` for a new
    key) is written back after every micro-batch and resumes from the
    checkpoint, so it is O(#keys) cluster-wide; Spark delivers all of a
    key's rows in one micro-batch to one invocation.  Cross-batch order
    is the replay/ingest order (in-order by construction for the
    layout-backed replay)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    columns = [f.split()[0] for f in out_schema.split(",")]

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        st = state.get if state.exists else init
        out = []
        # A key's rows within one micro-batch can span multiple Arrow
        # chunks and arrive unordered ACROSS chunks — concatenate and
        # sort once, then fold.
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
            for ts, *values in zip(pdf["ts"], *(pdf[c] for c in in_cols)):
                st, tail = step(st, int(ts), *values)
                if tail is not None:
                    out.append(key + tail)
        state.update(st)
        yield pd.DataFrame(out, columns=columns)

    return samples.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum(samples: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-series running sum (the
    streaming twin of the batch `accumulate`/`cusum` apply node,
    rate.cc:62-89), a :func:`_forward_fold` whose state is one (acc, n)
    pair per series."""

    def step(st, ts, value):
        acc, n = st
        acc += float(value)
        n += 1
        return (acc, n), (ts, float(value), acc, n)

    return _forward_fold(
        samples,
        ("series_id", "metric"),
        ("value",),
        (0.0, 0),
        step,
        STATEFUL_OUT_SCHEMA,
        STATEFUL_STATE_SCHEMA,
    )


def streaming_session_agg(samples: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session-window aggregation (no reference analog — a Spark-native
    extension): bursts of per-series activity separated by `gap` of
    silence collapse into one row.  Works identically on batch frames
    (session_window is a regular grouping expression)."""
    ev = with_late_data_policy(samples, gap)
    return ev.groupBy(
        F.session_window("event_time", gap).alias("session"), "series_id", "metric"
    ).agg(
        F.count("value").alias("n"),
        F.sum("value").alias("sum"),
        F.min("event_time").alias("t_first"),
        F.max("event_time").alias("t_last"),
    )


def streaming_ingest_dedup(
    samples: DataFrame, max_lateness: str = "1 hour"
) -> DataFrame:
    """At-least-once ingest dedup: a retried RESP/OpenTSDB write
    delivers the same (series, ts) data point twice; the reference
    rejects the replay at the tree tip (NB+tree refuses out-of-order /
    duplicate timestamps per column).  The streaming twin drops exact
    key repeats with dropDuplicatesWithinWatermark — state holds only
    keys inside the lateness horizon, so memory is bounded by
    (#series × points-per-horizon), and rows emit immediately (append
    mode), not at watermark close."""
    ev = with_late_data_policy(samples, max_lateness)
    return ev.dropDuplicatesWithinWatermark(["series_id", "ts"])


def streaming_ohlc(
    samples: DataFrame,
    step: str = "1 day",
    max_lateness: str = "1 hour",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Continuous candlesticks: tumbling-window OHLC per series — the
    streaming twin of the batch `operators/ohlc.py`, built from the
    same candlestick columns (tie-breaks: operators/aggregates.py)."""
    ev = with_late_data_policy(samples, max_lateness)
    return ev.groupBy(
        F.window("event_time", step).alias("bucket"),
        "series_id",
        "metric",
        *extra_keys,
    ).agg(*candles())


def streaming_hopping_aggregate(
    samples: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    max_lateness: str = "1 minute",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Hopping (sliding) window aggregate: every sample contributes to
    window/slide overlapping epoch-aligned windows — the monitoring
    staple ("2 h moving count/min/max refreshed hourly") that tumbling
    downsample can't express.  Spark expands the windows map-side
    before one keyed shuffle; state is #windows x #series, bounded by
    the watermark in append mode.  Aggregates here are count/min/max —
    order-insensitive and exact, so replay output is deterministic."""
    ev = with_late_data_policy(samples, max_lateness)
    return ev.groupBy(
        F.window("event_time", window, slide).alias("bucket"),
        "series_id",
        "metric",
        *extra_keys,
    ).agg(
        F.count("value").alias("n"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
    )


def streaming_enrich(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the (broadcast) dimension snapshot — the standard "attach user/
    device/tenant attributes at ingest" pattern.  Stream-static joins
    are stateless in Structured Streaming (the static side is re-read
    per batch, no watermark needed), so this scales as a map-side
    broadcast hash join on every executor."""
    return stream.join(F.broadcast(dim), on, how)


def streaming_interval_self_join(
    samples: DataFrame,
    left_metric: str,
    right_metric: str,
    horizon: str = "1 hour",
    max_lateness: str = "1 hour",
) -> DataFrame:
    """Stream-stream event-time join: pair every ``left_metric`` sample
    with the same user's ``right_metric`` samples in the following
    ``horizon`` — attribution ("purchase within an hour of the click")
    as a continuous query.  Both sides carry watermarks and the join
    condition bounds event time on BOTH ends, which is what lets
    Structured Streaming evict join state (state per side is
    watermark+horizon wide, not unbounded).  Output is every
    qualifying pair (append mode) — deterministic, so it oracles as a
    plain range self-join."""
    ev = samples.withColumn("user", F.col("tags")["user"])
    left = (
        ev.filter(F.col("metric") == left_metric)
        .select(
            F.col("user").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("value").alias("l_value"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("l_time"),
        )
        .withWatermark("l_time", max_lateness)
    )
    right = (
        ev.filter(F.col("metric") == right_metric)
        .select(
            F.col("user").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("r_time"),
        )
        .withWatermark("r_time", max_lateness)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_time") >= F.col("l_time"))
        & (F.col("r_time") <= F.col("l_time") + F.expr(f"INTERVAL {horizon}")),
    )


def streaming_heavy_hitters(
    samples: DataFrame,
    step: str = "1 day",
    max_lateness: str = "1 minute",
    key_col: str = "metric",
) -> DataFrame:
    """Streaming half of windowed heavy hitters: exact per-(window, key)
    counts under a watermark — state is O(#keys × #open windows), the
    same budget as the windowed downsample.  Ranking the finished
    windows (top-k per window) is a batch window over the aggregate
    sink: the aggregate is #keys-sized, so the rank costs nothing, and
    Structured Streaming cannot express a per-window rank inside the
    stream without complete-mode re-emission anyway."""
    ev = with_late_data_policy(samples, max_lateness)
    return ev.groupBy(
        F.window("event_time", step).alias("bucket"), F.col(key_col)
    ).agg(F.count("*").alias("n"))


def streaming_hysteresis(
    samples: DataFrame,
    hi: float,
    lo: float,
    key_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Stateful streaming alert evaluation with hysteresis (fire at
    v >= hi, clear at v <= lo) — the continuous twin of the batch
    `hysteresis_alerts` window (alerting is THE always-on streaming
    workload; the batch trick of "state = last crossing event" needs
    the whole history, so the streaming side carries the one-int state
    instead).

    A :func:`_forward_fold` whose state is a single int per key.  Emits
    one row per sample with the post-sample alert state and an
    episode-start flag; counts aggregate batch-side from the sink."""

    def step(st, ts, value):
        (prev,) = st
        v = float(value)
        new = 1 if v >= hi else (0 if v <= lo else prev)
        return (new,), (ts, new, 1 if (new == 1 and prev != 1) else 0)

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    return _forward_fold(
        samples,
        key_cols,
        ("value",),
        (0,),
        step,
        f"{key_schema}, ts long, alert int, episode_start int",
        "st int",
    )


def streaming_geofence_visits(
    samples: DataFrame,
    key_cols: tuple[str, ...] = ("u",),
    gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Stateful streaming geofence ENTER detection — the continuous twin
    of the batch sp_geofence_dwell visit accounting: a visit starts when
    a key's point stream goes outside->inside, first-ever point inside,
    or re-enters after a gap > gap_us.  Input rows carry (key, ts, ins)
    with ins precomputed (a pure column expression upstream — the fence
    test itself never enters Python).  A :func:`_forward_fold` whose
    state per key is (last_ts, last_ins, visit_count): three ints.
    Duplicate (key, ts) rows dedupe in-state (ts == last_ts skips),
    mirroring the batch side's DISTINCT."""

    def step(st, ts, ins):
        pts, pins, visits = st
        if ts == pts:
            return st, None
        ins = int(ins)
        tail = None
        if ins == 1 and (pts < 0 or pins == 0 or ts - pts > gap_us):
            visits += 1
            tail = (ts, visits)
        return (ts, ins, visits), tail

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    return _forward_fold(
        samples,
        key_cols,
        ("ins",),
        (-1, 0, 0),
        step,
        f"{key_schema}, ts long, visit_no long",
        "pts long, pins int, visits long",
    )


def streaming_counter_rate(
    samples: DataFrame,
    key_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Stateful streaming counter rate with reset detection — the
    continuous twin of the batch counter-rate query.  A
    :func:`_forward_fold` whose state is the last (ts, value) pair per
    key; each sample after the first emits the Prometheus-rule increase
    (negative delta ⇒ counter restarted ⇒ increase = current value)
    divided by the elapsed seconds."""

    def step(st, ts, value):
        pts, pv = st
        v = float(value)
        tail = None
        if pts >= 0:
            # duplicate timestamp: elapsed is 0 — emit a NULL rate
            # instead of dividing by zero (mirrors the batch twin's
            # null/inf semantics)
            if ts == pts:
                rate = None
            else:
                rate = (v - pv if v >= pv else v) / ((ts - pts) / 1e9)
            tail = (ts, rate, v < pv)
        return (ts, v), tail

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    return _forward_fold(
        samples,
        key_cols,
        ("value",),
        (-1, 0.0),
        step,
        f"{key_schema}, ts long, rate double, reset boolean",
        "pts long, pv double",
    )


def greedy_funnel_resolve(evs, n_steps: int, within: int | None) -> list:
    """Greedy inclusive (``>=``) funnel chain over (ts, step_idx)
    pairs — the per-user model `behavior.funnel_stages_cumulative`'s
    property test pins, shared by the streaming state fold so both
    engines resolve identically from ANY arrival order.  Returns the
    qualifying timestamps of the completed consecutive prefix."""
    evs = sorted(evs)
    t: list = []
    prev = first = None
    for k in range(n_steps):
        cands = [
            tu
            for tu, si in evs
            if si == k
            and (prev is None or tu >= prev)
            and (within is None or first is None or tu <= first + within)
        ]
        if not cands:
            return t
        prev = min(cands)
        if first is None:
            first = prev
        t.append(prev)
    return t


def streaming_funnel(
    events: DataFrame,
    steps: list,
    user_col: str = "u",
    ts_col: str = "tu",
    type_col: str = "metric",
    within: int | None = None,
) -> DataFrame:
    """Stateful streaming funnel — the continuous twin of the batch
    `behavior.funnel_stages_cumulative` (inclusive ``>=`` ordering,
    whole chain within ``within`` of the earliest step-1 time).

    Unlike hysteresis/counter-rate, the funnel is NOT a forward fold:
    a late-arriving EARLIER step-1 event moves the conversion window
    backwards and can disqualify a previously-counted later step, so
    the state keeps the user's funnel-relevant events (filter to the
    step types BEFORE the shuffle) and the greedy chain re-resolves
    per batch.  Emits one row per (user, batch) carrying ``n_seen`` —
    strictly increasing per user, so the stream's final answer is each
    user's max-``n_seen`` row.  At scale the state stays bounded by
    the lateness horizon: once the watermark passes t1 + within + L,
    the resolved prefix can collapse to the (t1..tk) scalars; the
    replay demo keeps the unpruned list (30-day corpus).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    step_index = {s: i for i, s in enumerate(steps)}
    n_steps = len(steps)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        tus, tps = state.get if state.exists else ((), ())
        tus, tps = list(tus), list(tps)
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            tus.extend(int(t) for t in pdf[ts_col])
            tps.extend(step_index[m] for m in pdf[type_col])
        t = greedy_funnel_resolve(zip(tus, tps), n_steps, within)
        stage = len(t)
        t = list(t) + [None] * (n_steps - stage)
        state.update((tus, tps))
        yield pd.DataFrame(
            [key + (len(tus), stage, *t)],
            columns=[
                user_col,
                "n_seen",
                "stage",
                *[f"t{i + 1}" for i in range(n_steps)],
            ],
        )

    t_schema = ", ".join(f"t{i + 1} long" for i in range(n_steps))
    # enforce the step-type contract here rather than trusting callers:
    # an unexpected type would KeyError inside the state fold and kill
    # the query; filtering map-side also shrinks the shuffled state
    events = events.filter(F.col(type_col).isin(list(steps)))
    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{user_col} string, n_seen long, stage int, {t_schema}"
        ),
        stateStructType="tus array<long>, tps array<int>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_commit_snapshots(
    agg_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    query_name: str = "stream_versioned_commit",
    trigger: dict | None = None,
):
    """Commit a streaming aggregate's COMPLETE-mode result as one
    versioned-table snapshot per epoch (sources/versioned.py) — time
    travel over stream progress: version k is exactly what the
    dashboard showed after micro-batch k.

    Exactly-once without a transactional sink: foreachBatch may replay
    an epoch after a failure/restart, so the commit is made idempotent
    by tagging each version's note with the epoch id and skipping
    epochs already present in the manifest.  A replayed epoch therefore
    commits zero new versions; a genuinely new epoch commits one.
    The committed-epoch set is indexed ONCE at (re)start and maintained
    in memory afterwards — no per-batch manifest rescan.

    ``trigger`` picks the trigger as ``writeStream.trigger`` kwargs
    (e.g. ``{"processingTime": "5 seconds"}`` for continuous
    micro-batches); the default ``None`` means drain-and-stop
    ``{"availableNow": True}``."""
    from stdb_spark.sources import versioned

    committed: set[int] | None = None

    def sink(batch_df, batch_id):
        nonlocal committed
        if committed is None:
            committed = set()
            for e in versioned.versions(root):
                note = e.get("note") or ""
                if note.startswith("epoch="):
                    try:
                        committed.add(int(note.split("=", 1)[1]))
                    except ValueError:
                        pass
        if batch_id in committed:
            # Replayed epoch after restart: already committed — but the
            # batch must still be CONSUMED: Spark's state-store commit
            # validation requires every stateful partition processed,
            # so an early return fails the query.  A noop sink runs the
            # aggregate and discards the rows.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        versioned.write_version(batch_df, root, note=f"epoch={batch_id}")
        committed.add(batch_id)

    writer = (
        agg_df.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    writer = writer.trigger(**(trigger if trigger else {"availableNow": True}))
    return writer.start()


def commit_epoch_idempotent(
    batch: DataFrame,
    batch_id: int,
    path: str,
    summary_path: str,
    checkpoint: str,
) -> None:
    """One epoch of the stage-scrub-move-refresh-marker commit protocol
    (see write_to_parquet_with_summary).  Module-level so the replay
    path is directly testable: calling it twice with the same batch_id
    must leave the fact table and summaries byte-identical to one
    call.  Local paths only: markers, scrub and move use ``os``/``glob``/
    ``shutil``, not the FileSystem API of ``storage.expire_partitions``."""
    import errno
    import glob
    import os
    import shutil
    import time

    marker_dir = os.path.join(checkpoint, "_epoch_markers")
    marker = os.path.join(marker_dir, f"epoch-{batch_id}")
    if os.path.exists(marker):
        return  # replayed epoch after restart: already fully applied
    # pin the batch once: the emptiness probe and the staging write
    # below would otherwise each evaluate the full source lineage
    batch = batch.persist()
    try:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        # 1. stage the epoch (overwrite => replay-safe), same layout +
        #    within-file sort as the table itself
        stage_dir = os.path.join(
            checkpoint, "_epoch_stage", f"epoch-{batch_id}"
        )
        storage.write_samples(batch, stage_dir, mode="overwrite")
    finally:
        batch.unpersist()
    staged = storage.layout_files(stage_dir)
    # 2. scrub any files a crashed previous attempt of this epoch
    #    already moved (same epoch == same source offsets == same
    #    (day, metric) set, so scrubbing the staged dirs suffices)
    part_dirs = sorted({os.path.dirname(f) for _, f in staged})
    for d in part_dirs:
        rel = os.path.relpath(d, stage_dir)
        scrub = os.path.join(glob.escape(os.path.join(path, rel)), f"e{batch_id}-*")
        for old in glob.glob(scrub):
            os.remove(old)
    # 3. move staged files in under epoch-prefixed names, restamped to
    #    fresh monotone mtimes: file-stream replay orders by mtime, and
    #    the staged copies carry stage-relative stamps that could sort
    #    BEFORE already-committed table files.  Monotonicity across
    #    epochs comes from a PERSISTED stamp cursor, not wall-clock
    #    alone — an epoch moving many files (or epochs arriving
    #    sub-second apart) must not stamp ahead of the next epoch's
    #    base.
    cursor_file = os.path.join(marker_dir, "_stamp_cursor")
    cursor = 0.0
    if os.path.exists(cursor_file):
        try:
            with open(cursor_file) as fh:
                cursor = float(fh.read().strip() or 0.0)
        except (ValueError, OSError):
            cursor = 0.0
    base = max(time.time(), cursor + 0.001)
    last = base
    for i, (_, f) in enumerate(staged):
        rel_dir = os.path.relpath(os.path.dirname(f), stage_dir)
        dst_dir = os.path.join(path, rel_dir)
        os.makedirs(dst_dir, exist_ok=True)
        dst = os.path.join(dst_dir, f"e{batch_id}-{os.path.basename(f)}")
        try:
            os.replace(f, dst)
        except OSError as exc:
            # the checkpoint stage dir and the table may live on
            # different filesystems — os.replace raises EXDEV there
            if exc.errno != errno.EXDEV:
                raise
            # Cross-filesystem: copy to a temp name INSIDE dst_dir (same
            # fs as dst), then rename atomically — shutil.move straight
            # to dst would expose a partial parquet to concurrent
            # readers / file-stream replay if we crash mid-copy.
            tmp = os.path.join(dst_dir, f".e{batch_id}-tmp-{os.path.basename(f)}")
            try:
                shutil.copyfile(f, tmp)
                os.replace(tmp, dst)
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
            os.remove(f)
        # ms spacing: ordered within the batch
        last = base + i * 0.001
        os.utime(dst, (last, last))
    os.makedirs(marker_dir, exist_ok=True)
    tmp_cursor = cursor_file + ".tmp"
    with open(tmp_cursor, "w") as fh:
        fh.write(repr(last))
    os.replace(tmp_cursor, cursor_file)
    # the first epoch creates the summary store the same way: a
    # dynamic overwrite of its own days into a missing path
    days = sorted({day for day, _ in staged})
    storage.update_summary_incremental(spark, path, summary_path, days)
    os.makedirs(marker_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("done")
    # stage leftovers (empty partition dirs, _SUCCESS) are dead weight
    # once the marker is durable; a crash here merely leaves them
    shutil.rmtree(stage_dir, ignore_errors=True)


def write_to_parquet_with_summary(
    samples: DataFrame,
    path: str,
    summary_path: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Ingest with SubtreeRef maintenance: each micro-batch appends into
    the (day, metric)-partitioned layout AND refreshes the summary
    table for exactly the days the batch touched
    (storage.update_summary_incremental) — the streaming twin of the
    reference's on-append subtree aggregate update.  The summary
    refresh reads back only the touched day partitions, so maintenance
    cost is proportional to the batch's day span, not table size.

    foreachBatch is at-least-once: a crash between the fact append and
    the checkpoint commit replays the batch, so every step of the
    epoch is idempotent end-to-end:

    1. the batch is STAGED into an epoch-keyed directory in overwrite
       mode (a replay simply re-stages);
    2. any table files left by a previous attempt of THIS epoch are
       scrubbed (files carry an ``e<epoch>-`` name prefix, so a
       half-moved attempt is fully identifiable);
    3. staged files are moved into the (day, metric) layout under
       their epoch-prefixed names;
    4. the summary refresh rewrites exactly the touched day partitions
       (idempotent per day);
    5. the epoch marker is written LAST.

    A crash anywhere in 1-5 replays the whole epoch with zero
    duplicate fact rows — the previous r4 protocol appended directly,
    so a crash inside the (long) summary-refresh window re-appended
    the batch on replay and permanently poisoned the summaries
    (ADVICE r4 #3)."""
    def handle(batch: DataFrame, batch_id: int) -> None:
        commit_epoch_idempotent(batch, batch_id, path, summary_path, checkpoint)

    writer = (
        samples.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_windowed_counts(
    samples: DataFrame,
    window: str = "1 day",
    max_lateness: str = "1 minute",
    keys: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Tumbling event-time window counts + exact decimal value sums per
    key — the incremental half of a streaming top-k ("trending
    metrics/topics per window"): the stream maintains only #windows x
    #keys rows of state (bounded by the watermark in append mode); the
    tiny per-window ranking happens batch-side over the sink.  Count
    and decimal sum are order-insensitive and exact, so replay output
    is deterministic and fully oracle-checkable."""
    ev = with_late_data_policy(samples, max_lateness)
    return (
        ev.groupBy(F.window("event_time", window).alias("bucket"), *keys)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr("sum(CAST(value AS DECIMAL(28,10)))").alias("_vdec"),
        )
        .select(
            *keys,
            F.unix_micros(F.col("bucket.start")).alias("ts"),
            "n",
            F.col("_vdec").cast("double").alias("value_sum"),
        )
    )
