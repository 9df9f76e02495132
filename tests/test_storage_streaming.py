"""Storage layout round-trip + structured-streaming ingest smoke."""

import pytest
from pyspark.sql import functions as F

from stdb_spark.profile import Profiler
from stdb_spark.sources import storage
from tests.conftest import make_samples


@pytest.fixture(scope="module")
def facts(spark):
    rows = []
    for day in range(3):
        for h in range(4):
            ts = (day * 86400 + h * 3600) * 10**9
            rows.append(("cpu", {"host": "a"}, ts, float(day * 10 + h)))
            rows.append(("mem", {"host": "a"}, ts, float(day)))
    return make_samples(spark, rows)


def test_write_read_roundtrip(spark, facts, tmp_path):
    path = str(tmp_path / "facts")
    storage.write_samples(facts, path)
    back = storage.read_samples(spark, path)
    assert back.count() == facts.count()
    got = {(r.metric, r.ts, r.value) for r in back.collect()}
    want = {(r.metric, r.ts, r.value) for r in facts.collect()}
    assert got == want


def test_partition_pruning_in_plan(spark, facts, tmp_path):
    path = str(tmp_path / "pruned")
    storage.write_samples(facts, path)
    lo, hi = 86400 * 10**9, 2 * 86400 * 10**9
    plan = storage.prune_range(
        spark.read.parquet(path), lo, hi
    )._jdf.queryExecution().executedPlan().toString()
    # day partition filter must reach the scan as a partition filter
    assert "PartitionFilters" in plan
    assert storage.prune_range(spark.read.parquet(path), lo, hi).count() == 8


def test_summary_tags_match_registry(spark, tmp_path):
    """Summary rows carry their series' tags, so the engine binds a
    where clause on them without the registry; incremental maintenance
    writes the same column."""
    from stdb_spark import model

    samples = model.events_as_samples(spark, "/root/testdata/sf0.001")
    want = {r.series_id: r.tags for r in model.series_registry(samples).collect()}
    got = storage.summary_table(samples).select("series_id", "tags").collect()
    assert {r.series_id for r in got} == set(want)
    assert all(r.tags == want[r.series_id] for r in got)

    layout, summary = str(tmp_path / "layout"), str(tmp_path / "summary")
    storage.write_samples(samples, layout)
    days = [r.day for r in spark.read.parquet(layout).select("day").distinct().collect()]
    storage.update_summary_incremental(spark, layout, summary, days)
    back = spark.read.parquet(summary).select("series_id", "tags").collect()
    assert {r.series_id for r in back} == set(want)
    assert all(r.tags == want[r.series_id] for r in back)


def test_streaming_file_ingest(spark, tmp_path):
    from stdb_spark.streaming.ingest import stream_from_files, write_to_parquet

    src = tmp_path / "incoming"
    src.mkdir()
    (src / "batch1.txt").write_text(
        "put cpu.user 1428000000 1.5 host=web01\n"
        "put cpu.user 1428000060 2.5 host=web01\n"
        "put mem.used 1428000000 7.0 host=web02\n"
    )
    out = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    q = write_to_parquet(stream_from_files(spark, str(src)), out, ck)
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    rows = back.orderBy("metric", "ts").collect()
    assert [(r.metric, r.value) for r in rows] == [
        ("cpu.user", 1.5),
        ("cpu.user", 2.5),
        ("mem.used", 7.0),
    ]
    # partition layout: day + metric directories, with the integer day
    # id every batch writer of the layout uses
    assert back.select("day").distinct().count() == 1
    assert dict(back.dtypes)["day"] == "int"
    day = 1428000000 // 86400

    # the readers of the layout run on it: a ranged query prunes by day
    from stdb_spark.engine import Engine

    t0 = 1428000000 * 10**9
    got = Engine(spark, samples=spark.read.parquet(out)).query(
        {"select": "cpu.user", "range": {"from": t0, "to": t0 + 120 * 10**9}}
    )
    assert [(r.ts, r.value) for r in got.collect()] == [
        (t0, 1.5),
        (t0 + 60 * 10**9, 2.5),
    ]
    summary = str(tmp_path / "summary")
    storage.update_summary_incremental(spark, out, summary, [day])
    assert sorted(
        (r.metric, r.cnt, r.day) for r in spark.read.parquet(summary).collect()
    ) == [("cpu.user", 2, day), ("mem.used", 1, day)]
    compacted = str(tmp_path / "compacted")
    storage.compact_partitions(spark, out, compacted)
    assert sorted(map(tuple, storage.read_samples(spark, compacted).collect())) == (
        sorted(map(tuple, storage.read_samples(spark, out).collect()))
    )
    assert storage.expire_partitions(spark, compacted, before_day=day + 1) == [
        f"day={day}"
    ]


def test_replay_stream_lists_batch_files_on_driver(spark, tmp_path):
    """A layout replay is exactly two micro-batches, split on a day
    boundary, and launches no distributed listing job: each
    micro-batch's getBatch indexes that batch's files, and above
    parallelPartitionDiscovery.threshold (32 by default) Spark would
    list them in a Spark job per batch.  Nor does its checkpoint fork
    a ``readlink`` process: Spark's default checkpoint manager reaches
    the local disk through Hadoop's RawLocalFs, which shells out on
    every status call (read back from a JFR recording of
    ``jdk.ProcessStart``).  The caller's conf is untouched and the sink
    holds the layout's rows."""
    import collections
    import os
    import re

    from stdb_spark.workloads import tssuite

    path = tssuite._layout_path(spark, "/root/testdata/sf0.001")
    files = storage.layout_files(path)
    n = len(files)
    assert n // 2 > 32  # each micro-batch is over the default threshold
    # the first batch ends a day: no row of the second is older than
    # any row of the first
    assert files[n // 2 - 1][0] != files[n // 2][0]
    keys = (
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.checkpointFileManagerClass",
    )
    confs = {k: spark.conf.get(k, None) for k in keys}
    prof = Profiler(spark)
    cols = ("series_id", "metric", "ts", "value")
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        sinks = []
        rec = prof.run(
            lambda: sinks.append(
                tssuite._replay_stream(
                    spark,
                    path,
                    lambda sdf: sdf.select(*cols),
                    "listing_pin_sink",
                    "append",
                    state_width=4,
                )
            )
        )
        # positive control: a process the JVM itself starts inside the
        # recording must show up in it
        jvm.java.lang.Runtime.getRuntime().exec("true").waitFor()
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "replay.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    forked = [
        os.path.basename(str(events.get(i).getString("command")).split()[0])
        for i in range(events.size())
    ]
    assert "true" in forked, collections.Counter(forked)
    assert "readlink" not in forked, collections.Counter(forked)
    descriptions = prof.descriptions(rec)
    assert not [d for d in descriptions if "Listing leaf files" in d]
    batches = {
        b
        for d in descriptions
        if "listing_pin_sink" in d
        for b in re.findall(r"batch = (\d+)", d)
    }
    assert batches == {"0", "1"}, descriptions
    assert {k: spark.conf.get(k, None) for k in keys} == confs
    got = collections.Counter(map(tuple, sinks[0].collect()))
    want = collections.Counter(
        map(tuple, spark.read.parquet(path).select(*cols).collect())
    )
    assert got == want


def test_layout_reuse_restamps_scrambled_replay_order(spark):
    """A reused layout whose file mtimes are out of day order is
    restamped before it is replayed.  File-stream replay orders files
    by mtime, and ``_SUCCESS`` is written before the write's restamp,
    so a run killed between the two (or a copy that drops mtimes)
    leaves a ready layout that would replay days out of order and give
    stream_counter_rate a wrong answer without an error."""
    import os

    import duckdb

    from stdb_spark.sources import storage
    from stdb_spark.workloads import tssuite

    sf = "/root/testdata/sf0.001"
    path = tssuite._layout_path(spark, sf)
    files = storage.layout_files(path)
    base = int(os.stat(files[0][1]).st_mtime)
    for i, (_, f) in enumerate(reversed(files)):
        os.utime(f, (base + i, base + i))

    got = tssuite.QUERIES["stream_counter_rate"](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    want = con.sql(tssuite.ORACLES["stream_counter_rate"]).df()
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols

    def rows(df):
        return sorted(df[cols].itertuples(index=False, name=None))

    assert rows(got) == rows(want)
    assert storage.replay_order_stamped(path)


def test_streaming_downsample(spark, tmp_path):
    from stdb_spark.sources.opentsdb import parse_opentsdb_lines
    from stdb_spark.streaming.ingest import streaming_downsample

    lines = spark.createDataFrame(
        [
            ("put cpu 1428000000 1.0 host=a",),
            ("put cpu 1428000030 3.0 host=a",),
            ("put cpu 1428000090 5.0 host=a",),
        ],
        "value string",
    )
    # batch execution of the same streaming plan shape
    agg = streaming_downsample(parse_opentsdb_lines(lines), step="1 minute")
    rows = agg.orderBy("bucket").collect()
    assert [(r["min"], r["max"], r["count"]) for r in rows] == [(1.0, 3.0, 2), (5.0, 5.0, 1)]


def test_streaming_stateful_cusum(spark, tmp_path):
    """applyInPandasWithState running sum carries state across
    micro-batches (two file drops -> two batches)."""
    from stdb_spark.sources.opentsdb import parse_opentsdb_lines
    from stdb_spark.streaming.ingest import streaming_cusum

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.txt").write_text(
        "put cpu 1428000000 1.0 host=a\nput cpu 1428000060 2.0 host=a\n"
    )
    lines = spark.readStream.format("text").load(str(src))
    out = streaming_cusum(parse_opentsdb_lines(lines))
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # second file -> second micro-batch; state must carry over
    (src / "b2.txt").write_text("put cpu 1428000120 4.0 host=a\n")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM cusum_t ORDER BY ts").collect()
    assert [(r.value, r.cusum, r.n) for r in rows] == [
        (1.0, 1.0, 1),
        (2.0, 3.0, 2),
        (4.0, 7.0, 3),
    ]

    # Chunked, unordered arrival: each key's rows are written out of ts
    # order and, with 4-record Arrow batches, reach the fold in several
    # chunks of one micro-batch; the forward folds (cusum, hysteresis,
    # counter-rate) must still fold in ts order.
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from stdb_spark.streaming.ingest import (
        streaming_counter_rate,
        streaming_hysteresis,
    )

    data = [
        (sid, m, ((i * 17) % 40) * 10**9, float((7 * i + sid) % 11))
        for sid, m in ((1, "a"), (2, "b"))
        for i in range(40)
    ]
    cols = "series_id long, metric string, ts long, value double"
    src2 = str(tmp_path / "unordered")
    spark.createDataFrame(data, cols).coalesce(1).write.parquet(src2)
    child = spark.newSession()
    child.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")

    def run(fold, name):
        q = (
            fold(child.readStream.schema(cols).parquet(src2))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return [tuple(r) for r in child.sql(f"SELECT * FROM {name}").collect()]

    def arrival(key, pdfs, state):
        chunks = list(pdfs)
        ts = [int(t) for c in chunks for t in c["ts"]]
        yield pd.DataFrame(
            {"metric": [key[0]], "chunks": [len(chunks)], "ordered": [ts == sorted(ts)]}
        )

    probe = run(
        lambda sdf: sdf.groupBy("metric").applyInPandasWithState(
            arrival,
            outputStructType="metric string, chunks int, ordered boolean",
            stateStructType="x int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "arrival_t",
    )
    assert sorted(probe) == [("a", 10, False), ("b", 10, False)]

    want_cusum, want_hyst, want_rate = [], [], []
    for sid, m in ((1, "a"), (2, "b")):
        rows_m = sorted((ts, v) for s, _, ts, v in data if s == sid)
        acc, alert, prev = 0.0, 0, None
        for n, (ts, v) in enumerate(rows_m, 1):
            acc += v
            want_cusum.append((sid, m, ts, v, acc, n))
            new = 1 if v >= 8.0 else (0 if v <= 2.0 else alert)
            want_hyst.append((m, ts, new, int(new == 1 and alert != 1)))
            alert = new
            if prev is not None:
                inc = v - prev[1] if v >= prev[1] else v
                want_rate.append((m, ts, inc / ((ts - prev[0]) / 1e9), v < prev[1]))
            prev = (ts, v)
    assert sorted(run(streaming_cusum, "cusum_u")) == sorted(want_cusum)
    hyst = run(lambda s: streaming_hysteresis(s, 8.0, 2.0), "hyst_u")
    assert sorted(hyst) == sorted(want_hyst)
    assert sorted(run(streaming_counter_rate, "rate_u")) == sorted(want_rate)


def test_session_window_agg_batch_shape(spark):
    """session_window collapses bursts separated by > gap; verified on a
    batch frame (same plan shape streams unchanged)."""
    from stdb_spark.streaming.ingest import streaming_session_agg
    from tests.conftest import make_samples

    t0 = 1_700_000_000 * 10**9
    rows = (
        [("cpu", {"h": "a"}, t0 + i * 10**9, 1.0) for i in range(3)]          # burst 1
        + [("cpu", {"h": "a"}, t0 + 600 * 10**9 + i * 10**9, 2.0) for i in range(2)]  # burst 2
    )
    out = streaming_session_agg(make_samples(spark, rows), gap="1 minute")
    got = sorted((r.n, r.sum) for r in out.collect())
    assert got == [(2, 4.0), (3, 3.0)]


def test_overwrite_rewrite_idempotent(spark, facts, tmp_path):
    """Reopen-consistency analog (SURVEY §3.3): rewriting the same data
    yields an identical table — overwrite mode is idempotent and stable
    under repeated writes."""
    path = str(tmp_path / "idem")
    storage.write_samples(facts, path)
    first = sorted(
        (r.metric, r.ts, r.value) for r in storage.read_samples(spark, path).collect()
    )
    storage.write_samples(facts, path)  # rewrite over existing
    second = sorted(
        (r.metric, r.ts, r.value) for r in storage.read_samples(spark, path).collect()
    )
    assert first == second


def test_streaming_ingest_dedup_across_batches(spark, tmp_path):
    """A data point retried in a later micro-batch (same series+ts) must
    be dropped by dropDuplicatesWithinWatermark state."""
    from stdb_spark.sources.opentsdb import parse_opentsdb_lines
    from stdb_spark.streaming.ingest import streaming_ingest_dedup

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.txt").write_text(
        "put cpu 1428000000 1.0 host=a\nput cpu 1428000060 2.0 host=a\n"
    )
    lines = spark.readStream.format("text").load(str(src))
    out = streaming_ingest_dedup(parse_opentsdb_lines(lines))
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # retry of ts=1428000000 (new value!) + one genuinely new point
    (src / "b2.txt").write_text(
        "put cpu 1428000000 9.0 host=a\nput cpu 1428000120 4.0 host=a\n"
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.table("dedup_t").collect()
    got = sorted((r.ts, r.value) for r in rows)
    assert got == [
        (1428000000 * 10**9, 1.0),
        (1428000060 * 10**9, 2.0),
        (1428000120 * 10**9, 4.0),
    ]


def test_streaming_ohlc_batch_shape(spark):
    from stdb_spark.sources.opentsdb import parse_opentsdb_lines
    from stdb_spark.streaming.ingest import streaming_ohlc

    lines = spark.createDataFrame(
        [
            ("put px 1428000000 10.0 host=a",),
            ("put px 1428000030 30.0 host=a",),
            ("put px 1428000090 5.0 host=a",),
            ("put px 1428000110 20.0 host=a",),
        ],
        "value string",
    )
    agg = streaming_ohlc(parse_opentsdb_lines(lines), step="1 minute")
    rows = sorted(agg.collect(), key=lambda r: r.bucket.start)
    assert [(r.open, r.high, r.low, r.close) for r in rows] == [
        (10.0, 30.0, 10.0, 30.0),
        (5.0, 20.0, 5.0, 20.0),
    ]


def test_bucketed_layout_elides_groupby_exchange(spark, facts):
    """bucketBy(series_id)+sortBy: per-series aggregation over the
    bucketed table must need NO Exchange (the co-location story at
    100 TB; partitionBy can't do this for unbounded series
    cardinality)."""
    from stdb_spark.sources import bucketing

    bucketing.write_bucketed(facts, "t_bucketed_test", "series_id", 4, ("series_id", "ts"))
    try:
        df = (
            spark.table("t_bucketed_test")
            .groupBy("series_id")
            .agg(F.sum("value").alias("s"), F.count("*").alias("n"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # and it still computes the right thing
        direct = {
            r.series_id: (r.s, r.n)
            for r in facts.groupBy("series_id")
            .agg(F.sum("value").alias("s"), F.count("*").alias("n"))
            .collect()
        }
        got = {r.series_id: (r.s, r.n) for r in df.collect()}
        assert got == direct
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_test")


def test_expire_partitions_drops_old_days(spark, tmp_path):
    from stdb_spark.common.timeutil import NS_PER_DAY
    from stdb_spark.sources import storage

    rows = [
        ("s1", "m", {}, d * NS_PER_DAY + 5, float(d)) for d in (0, 1, 2, 3)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, metric string, tags map<string,string>, ts long, value double"
    )
    path = str(tmp_path / "layout")
    storage.write_samples(df, path)
    removed = storage.expire_partitions(spark, path, before_day=2)
    assert removed == ["day=0", "day=1"]
    kept = storage.read_samples(spark, path)
    assert sorted(r.value for r in kept.collect()) == [2.0, 3.0]
    # idempotent: nothing left below the horizon
    assert storage.expire_partitions(spark, path, before_day=2) == []


def test_compact_partitions_reduces_file_count(spark, tmp_path):
    import glob

    from stdb_spark.common.timeutil import NS_PER_DAY
    from stdb_spark.sources import storage

    rows = [
        ("s%d" % i, "m", {}, (i % 2) * NS_PER_DAY + i, float(i)) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, metric string, tags map<string,string>, ts long, value double"
    )
    src = str(tmp_path / "fragmented")
    # fragment the way streaming ingest does: one file per micro-batch
    # per partition (4 appends -> 4 files per (day, metric))
    for start in range(0, 40, 10):
        part = spark.createDataFrame(
            rows[start : start + 10],
            "series_id string, metric string, tags map<string,string>, ts long, value double",
        )
        storage.write_samples(part, src, mode="append")
    dst = str(tmp_path / "compacted")
    storage.compact_partitions(spark, src, dst)
    n_src = len(glob.glob(f"{src}/day=*/metric=*/*.parquet"))
    n_dst = len(glob.glob(f"{dst}/day=*/metric=*/*.parquet"))
    assert n_dst < n_src and n_dst == 2  # one file per (day, metric)
    # content survives byte-identically
    a = sorted(map(tuple, storage.read_samples(spark, src).collect()))
    b = sorted(map(tuple, storage.read_samples(spark, dst).collect()))
    assert a == b


def test_streaming_late_rows_dropped_by_watermark(spark, tmp_path):
    """The watermark policy must actually DROP late rows and account for
    them (numRowsDroppedByWatermark) — the observable FAIL_LATE_WRITE
    analog, not just a declared intent."""
    import json
    import time

    from stdb_spark.sources.opentsdb import parse_opentsdb_lines
    from stdb_spark.streaming.ingest import streaming_downsample

    src = tmp_path / "in"
    src.mkdir()
    base = 1_700_000_000  # epoch seconds
    # batch 0: window W1 (T) plus a fresh row 2h ahead — advances the
    # watermark to T+1h.  Spark applies watermark eviction/filtering
    # with a one-batch lag, so W1 survives batch 0 and is evicted after
    # batch 1; only a THIRD batch's late row is provably dropped.
    (src / "b1.txt").write_text(
        f"put cpu {base} 1.0 host=a\nput cpu {base + 7200} 2.0 host=a\n"
    )
    time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    (src / "b2.txt").write_text(f"put cpu {base + 7260} 3.0 host=a\n")
    time.sleep(1.1)
    # batch 2: late row aimed at the evicted W1 -> dropped and counted
    (src / "b3.txt").write_text(f"put cpu {base + 10} 9.0 host=a\n")
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    agg = streaming_downsample(
        parse_opentsdb_lines(lines), step="1 minute", max_lateness="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = 0
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        for so in d.get("stateOperators", []):
            dropped += so.get("numRowsDroppedByWatermark", 0)
    assert dropped >= 1, [str(p) for p in q.recentProgress]
    # and the late row's value never reaches the sink: W1 was finalized
    # with the on-time value only
    w1 = [r for r in spark.table("late_sink").collect() if r["min"] == 1.0]
    assert w1 and all(r["max"] == 1.0 and r["count"] == 1 for r in w1)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The point of Morton clustering: a box narrow in LAT (full lon
    span) must touch only a small fraction of a z-ordered layout's
    files, while the lon-sorted layout's per-file lat ranges span
    everything.  Checked from the parquet footers themselves (pyarrow
    min/max), not from Spark — layout is the claim, stats are the
    mechanism."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    from stdb_spark.sources.zorder import morton_key, write_zordered

    pts = spark.range(120_000).select(
        (F2.pmod(F2.xxhash64("id"), F2.lit(10_000)) / 100.0).alias("lon"),
        (F2.pmod(F2.xxhash64("id", F2.lit(1)), F2.lit(10_000)) / 100.0).alias(
            "lat"
        ),
        F2.col("id"),
    )
    lon_sorted = str(tmp_path / "lon_sorted")
    zordered = str(tmp_path / "zordered")
    pts.repartitionByRange(32, "lon").sortWithinPartitions("lon").write.parquet(
        lon_sorted
    )
    write_zordered(pts, zordered, cell_deg=1.0, n_files=32)

    def files_intersecting(path, lon_rng, lat_rng):
        hit, total = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.read_metadata(os.path.join(path, f))
            mins = {"lon": float("inf"), "lat": float("inf")}
            maxs = {"lon": float("-inf"), "lat": float("-inf")}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        mins[name] = min(mins[name], col.statistics.min)
                        maxs[name] = max(maxs[name], col.statistics.max)
            if (
                maxs["lon"] >= lon_rng[0]
                and mins["lon"] <= lon_rng[1]
                and maxs["lat"] >= lat_rng[0]
                and mins["lat"] <= lat_rng[1]
            ):
                hit += 1
        return hit, total

    # narrow-lat box, full lon span: the 1-D layout cannot prune it
    box_lon, box_lat = (0.0, 100.0), (40.0, 42.0)
    hit_1d, total_1d = files_intersecting(lon_sorted, box_lon, box_lat)
    hit_z, total_z = files_intersecting(zordered, box_lon, box_lat)
    assert total_1d >= 30 and hit_1d == total_1d  # every file intersects
    assert hit_z <= total_z // 2, (hit_z, total_z)

    # correctness unaffected by layout
    a = spark.read.parquet(lon_sorted).filter(
        F2.col("lat").between(*box_lat)
    )
    b = spark.read.parquet(zordered).filter(F2.col("lat").between(*box_lat))
    assert a.count() == b.count()

    # morton key sanity: interleaving is the textbook bit pattern
    row = (
        spark.range(1)
        .select(morton_key(F2.lit(0b101), F2.lit(0b011), bits=3).alias("z"))
        .first()
    )
    # x=101, y=011 -> z bits (y2 x2 y1 x1 y0 x0) = 0 1 1 0 1 1 = 27
    assert row.z == 0b011011


def test_incremental_summary_matches_full_rebuild(spark, tmp_path):
    """update_summary_incremental over the touched days must reproduce
    the full-rebuild summary exactly (decimal sums, struct min/max)."""
    from pyspark.sql import functions as F2

    from stdb_spark import model
    from stdb_spark.sources import storage

    samples = model.events_as_samples(spark, "/root/testdata/sf0.001")
    layout = str(tmp_path / "layout")
    summary = str(tmp_path / "summary")
    storage.write_samples(samples, layout)
    storage.write_summary(
        spark.read.parquet(layout).select(
            "series_id", "metric", "tags", "ts", "value"
        ),
        summary,
    )
    # an ingest appends more rows into two existing days
    extra = samples.filter(
        F2.expr(f"ts div {storage.NS_PER_DAY} in (19724, 19725)")
    ).withColumn("value", F2.col("value") + F2.lit(1.0))
    storage.write_samples(extra, layout, mode="append")
    touched = [19724, 19725]
    storage.update_summary_incremental(spark, layout, summary, touched)

    full = storage.summary_table(
        spark.read.parquet(layout).select(
            "series_id", "metric", "tags", "ts", "value"
        )
    )
    got = spark.read.parquet(summary).drop("day")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_streaming_ingest_maintains_summary(spark, tmp_path):
    """foreachBatch ingest (write_to_parquet_with_summary) must leave
    the summary store equal to a full rebuild over the final layout."""
    from pyspark.sql import functions as F2

    from stdb_spark import model
    from stdb_spark.sources import storage
    from stdb_spark.streaming import ingest as si

    samples = model.events_as_samples(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "src")
    samples.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(samples.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    layout = str(tmp_path / "layout")
    summary = str(tmp_path / "summary")
    q = si.write_to_parquet_with_summary(
        stream, layout, summary, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    full = storage.summary_table(
        spark.read.parquet(layout).select(
            "series_id", "metric", "tags", "ts", "value"
        )
    )
    got = spark.read.parquet(summary).drop("day")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, full.collect())
    )
    # the layout rows survived intact too
    assert spark.read.parquet(layout).count() == samples.count()


def test_greedy_funnel_resolve_order_proof_and_nonmonotone():
    from stdb_spark.streaming.ingest import greedy_funnel_resolve

    # in-order chain within window
    assert greedy_funnel_resolve([(100, 0), (105, 1)], 3, 10) == [100, 105]
    # a LATE earlier step-1 event shrinks the window and disqualifies
    # the previously-counted click — stage legally drops from 2 to 1
    assert greedy_funnel_resolve(
        [(100, 0), (105, 1), (50, 0)], 3, 10
    ) == [50]
    # arrival order never matters: the resolve sorts first
    assert greedy_funnel_resolve(
        [(50, 0), (100, 0), (105, 1)], 3, 10
    ) == greedy_funnel_resolve([(105, 1), (50, 0), (100, 0)], 3, 10)
    # inclusive ordering: same-instant step counts
    assert greedy_funnel_resolve([(5, 0), (5, 1), (5, 2)], 3, None) == [5, 5, 5]
    # consecutive-prefix rule: missing middle step stops the chain
    assert greedy_funnel_resolve([(1, 0), (9, 2)], 3, None) == [1]


def test_versioned_time_travel_roundtrip(spark, tmp_path):
    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    d2 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k long, v string")
    assert versioned.write_version(d1, root, note="init") == 1
    assert versioned.write_version(d2, root) == 2
    # latest read = v2; as-of = v1
    assert sorted(
        (r.k, r.v) for r in versioned.read_version(spark, root).collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]
    assert sorted(
        (r.k, r.v)
        for r in versioned.read_version(spark, root, as_of=1).collect()
    ) == [(1, "a"), (2, "b")]
    # change feed classification
    ch = {
        r.k: r.change
        for r in versioned.diff_versions(spark, root, 1, 2, ["k"]).collect()
    }
    assert ch == {1: "unchanged", 2: "changed", 3: "added"}
    # no torn manifest temp left behind
    import os

    assert not os.path.exists(os.path.join(root, "_manifest.json.tmp"))


def test_versioned_vacuum_drops_old_and_protects_current(spark, tmp_path):
    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt2")
    for i in range(4):
        versioned.write_version(
            spark.createDataFrame([(i,)], "k long"), root
        )
    dropped = versioned.vacuum(root, keep_last=2)
    assert dropped == [1, 2]
    # current + previous still readable; vacuumed raises, not garbage
    assert versioned.read_version(spark, root).collect()[0].k == 3
    assert versioned.read_version(spark, root, as_of=3).collect()[0].k == 2
    import pytest as _pt

    with _pt.raises(versioned.VersionNotFound):
        versioned.read_version(spark, root, as_of=1)


def test_versioned_schema_evolution_diff_on_shared_columns(spark, tmp_path):
    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt3")
    versioned.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), root
    )
    # v2 adds a column and changes one shared value
    versioned.write_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "B", 20)], "k long, v string, extra long"
        ),
        root,
    )
    # per-version schema is preserved on time travel
    assert versioned.read_version(spark, root, as_of=1).columns == ["k", "v"]
    assert versioned.read_version(spark, root).columns == ["k", "v", "extra"]
    # pure column addition is NOT a row rewrite; shared-value change is
    ch = {
        r.k: r.change
        for r in versioned.diff_versions(spark, root, 1, 2, ["k"]).collect()
    }
    assert ch == {1: "unchanged", 2: "changed"}


def test_versioned_conflict_and_corruption_detection(spark, tmp_path):
    import os
    import shutil

    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt4")
    d = spark.createDataFrame([(1,)], "k long")
    versioned.write_version(d, root)
    # a competing (or crashed) writer's staged dir aborts, not clobbers
    os.mkdir(os.path.join(root, "v=2"))
    import pytest as _pt

    with _pt.raises(versioned.ConcurrentWrite):
        versioned.write_version(d, root)
    shutil.rmtree(os.path.join(root, "v=2"))
    assert versioned.write_version(d, root) == 2  # recoverable retry
    # torn head -> explicit corruption error, never a silent reset
    with open(os.path.join(root, "_manifest.json"), "w") as f:
        f.write("{")
    with _pt.raises(versioned.CorruptManifest):
        versioned.versions(root)
    # lost head next to committed data -> same, so v=1 can't be
    # silently overwritten by a fresh history
    os.remove(os.path.join(root, "_manifest.json"))
    with _pt.raises(versioned.CorruptManifest):
        versioned.read_version(spark, root)


def test_stream_commit_snapshots_exactly_once(spark, tmp_path):
    import os

    from stdb_spark.sources import versioned
    from stdb_spark.streaming.ingest import stream_commit_snapshots

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long").coalesce(
        1
    ).write.parquet(src + "/f1")
    spark.createDataFrame([("a", 3)], "k string, v long").coalesce(
        1
    ).write.parquet(src + "/f2")
    # flatten into one dir of two files -> two 1-file micro-batches
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(src + "/f*/part-*.parquet"))):
        shutil.copy(f, os.path.join(flat, f"{i}.parquet"))

    from pyspark.sql import functions as F

    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v long"

    def run():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(flat)
        )
        agg = sdf.groupBy("k").agg(F.sum("v").alias("total"))
        q = stream_commit_snapshots(agg, root, ckpt)
        q.awaitTermination()

    run()
    vs = versioned.versions(root)
    assert len(vs) == 2 and [e["note"] for e in vs] == ["epoch=0", "epoch=1"]
    final = {
        r.k: r.total for r in versioned.read_version(spark, root).collect()
    }
    assert final == {"a": 4, "b": 2}
    # time travel to mid-stream state: only what epoch 0 had seen
    mid = {
        r.k: r.total
        for r in versioned.read_version(spark, root, as_of=1).collect()
    }
    assert len(mid) >= 1 and all(mid[k] <= final[k] for k in mid)
    # restart with the SAME checkpoint: no new data -> no new versions
    run()
    assert len(versioned.versions(root)) == 2
    # restart with a FRESH checkpoint replays both epochs; the epoch
    # notes make the commits idempotent -> still no duplicates
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    assert len(versioned.versions(root)) == 2


def test_write_samples_stamps_day_ordered_replay_mtimes(spark, tmp_path):
    import glob
    import os

    from tests.conftest import make_samples

    rows = []
    for day in (2, 0, 1):  # written out of order on purpose
        for m in ("cpu", "mem"):
            rows.append((m, {"host": "a"}, day * 86400 * 10**9, 1.0))
    path = str(tmp_path / "layout")
    storage.write_samples(make_samples(spark, rows), path)
    files = glob.glob(path + "/day=*/metric=*/*.parquet")
    by_mtime = sorted(files, key=lambda f: (os.stat(f).st_mtime_ns, f))
    days = [f.split("/")[-3] for f in by_mtime]
    # file-stream replay order (mtime) must follow event-time order —
    # a parallel write commits in task-completion order otherwise
    assert days == sorted(days), days
    mtimes = [os.stat(f).st_mtime_ns for f in by_mtime]
    assert len(set(mtimes)) == len(mtimes)  # strict total order


def test_versioned_vacuum_retention_horizon(spark, tmp_path):
    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt5")
    for i in range(4):
        versioned.write_version(spark.createDataFrame([(i,)], "k long"), root)
    # every version was committed "just now": a 1-hour horizon protects
    # all of them regardless of keep_last
    assert versioned.vacuum(root, keep_last=1, older_than_s=3600) == []
    assert len(versioned.versions(root)) == 4
    # horizon 0 = pure keep_last semantics
    assert versioned.vacuum(root, keep_last=2, older_than_s=0) == [1, 2]


def test_versioned_optimize_compacts_preserving_content(spark, tmp_path):
    import glob

    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt6")
    versioned.write_version(
        spark.range(1000).selectExpr("id AS k").repartition(8), root
    )
    assert len(glob.glob(root + "/v=1/*.parquet")) == 8
    v = versioned.optimize(spark, root)
    assert v == 2
    assert len(glob.glob(root + "/v=2/*.parquet")) == 1
    a = sorted(r.k for r in versioned.read_version(spark, root, as_of=1).collect())
    b = sorted(r.k for r in versioned.read_version(spark, root).collect())
    assert a == b  # same rows, different file layout


def test_stamp_replay_order_numeric_day_order(tmp_path):
    import os

    from stdb_spark.sources.storage import stamp_replay_order

    # day ids crossing a digit boundary: lexicographic order would put
    # day=10 before day=9
    root = str(tmp_path / "layout")
    for day in (9, 10, 100):
        d = os.path.join(root, f"day={day}", "metric=cpu")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
    stamp_replay_order(root)
    import glob

    files = glob.glob(root + "/day=*/metric=*/*.parquet")
    by_mtime = sorted(files, key=lambda f: os.stat(f).st_mtime_ns)
    days = [int(f.split("/")[-3].split("=")[1]) for f in by_mtime]
    assert days == [9, 10, 100], days


def test_commit_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch — fully, or after a simulated crash at any
    cut point of the protocol — must leave the fact table and the
    summary store identical to a single clean run (ADVICE r4 #3: the
    old append-based path duplicated rows on replay)."""
    import os

    from stdb_spark import model
    from stdb_spark.sources import storage
    from stdb_spark.streaming import ingest as si

    samples = model.events_as_samples(spark, "/root/testdata/sf0.001").limit(500)
    batch = samples.cache()
    n = batch.count()
    layout = str(tmp_path / "layout")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")

    # clean run
    si.commit_epoch_idempotent(batch, 0, layout, summary, ckpt)
    base_rows = sorted(map(tuple, spark.read.parquet(layout).collect()))
    base_sum = sorted(map(tuple, spark.read.parquet(summary).collect()))
    assert len(base_rows) == n

    # full replay with marker present: no-op
    si.commit_epoch_idempotent(batch, 0, layout, summary, ckpt)
    assert sorted(map(tuple, spark.read.parquet(layout).collect())) == base_rows

    # crash simulation: files moved but marker missing (crash during
    # summary refresh) -> replay must scrub + re-move, not duplicate
    os.remove(os.path.join(ckpt, "_epoch_markers", "epoch-0"))
    si.commit_epoch_idempotent(batch, 0, layout, summary, ckpt)
    assert sorted(map(tuple, spark.read.parquet(layout).collect())) == base_rows
    assert sorted(map(tuple, spark.read.parquet(summary).collect())) == base_sum

    # second epoch still appends (prefix scrub is epoch-scoped)
    batch2 = batch.withColumn("ts", F.col("ts") + F.lit(1))
    si.commit_epoch_idempotent(batch2, 1, layout, summary, ckpt)
    assert spark.read.parquet(layout).count() == 2 * n
    # and replaying epoch 1 after its marker is gone doesn't touch epoch 0
    os.remove(os.path.join(ckpt, "_epoch_markers", "epoch-1"))
    si.commit_epoch_idempotent(batch2, 1, layout, summary, ckpt)
    assert spark.read.parquet(layout).count() == 2 * n
    batch.unpersist()


def test_commit_epoch_stamp_cursor_is_monotone(spark, tmp_path):
    """Replay-order mtimes must never regress across epochs, even when
    a previous epoch stamped far ahead of wall-clock (many files, or
    epochs arriving sub-second apart): the persisted stamp cursor, not
    wall-clock, is the floor for the next epoch's base."""
    import glob
    import os
    import time

    from stdb_spark import model
    from stdb_spark.streaming import ingest as si

    batch = model.events_as_samples(spark, "/root/testdata/sf0.001").limit(50)
    layout = str(tmp_path / "layout")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    si.commit_epoch_idempotent(batch, 0, layout, summary, ckpt)
    # simulate epoch 0 having stamped 100 s ahead of wall-clock
    cursor_file = os.path.join(ckpt, "_epoch_markers", "_stamp_cursor")
    future = time.time() + 100.0
    with open(cursor_file, "w") as fh:
        fh.write(repr(future))
    batch2 = batch.withColumn("ts", F.col("ts") + F.lit(1))
    si.commit_epoch_idempotent(batch2, 1, layout, summary, ckpt)
    e1 = glob.glob(os.path.join(layout, "day=*", "metric=*", "e1-*.parquet"))
    assert e1 and all(os.stat(f).st_mtime > future for f in e1)
    # and the cursor advanced past everything epoch 1 stamped
    with open(cursor_file) as fh:
        assert float(fh.read()) >= max(os.stat(f).st_mtime for f in e1) - 1e-6


def test_commit_epoch_exdev_fallback_is_atomic(spark, tmp_path, monkeypatch):
    """ADVICE r6: when the stage dir and the table live on different
    filesystems, the fallback must never expose a partially-copied
    parquet under its final name — copy to a dot-temp inside the
    destination dir, then os.replace.  Simulate EXDEV for every
    stage->table move and check the result is byte-identical to the
    same-fs path, with no temp remnants."""
    import errno
    import glob
    import os

    from stdb_spark import model
    from stdb_spark.streaming import ingest as si

    samples = model.events_as_samples(spark, "/root/testdata/sf0.001").limit(200)
    batch = samples.cache()
    n = batch.count()
    layout = str(tmp_path / "layout")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")

    real_replace = os.replace
    crossed = {"n": 0}

    def fake_replace(src_p, dst_p, *a, **kw):
        # only the stage->table move crosses "filesystems"; the
        # tmp->final rename inside the table dir must still work
        if str(src_p).startswith(ckpt) and str(dst_p).startswith(layout):
            crossed["n"] += 1
            raise OSError(errno.EXDEV, "cross-device link")
        return real_replace(src_p, dst_p, *a, **kw)

    monkeypatch.setattr(os, "replace", fake_replace)
    si.commit_epoch_idempotent(batch, 0, layout, summary, ckpt)
    monkeypatch.setattr(os, "replace", real_replace)

    assert crossed["n"] > 0  # the fallback actually ran
    assert spark.read.parquet(layout).count() == n
    # no dot-temp remnants anywhere under the table
    leftovers = [
        f
        for f in glob.glob(os.path.join(layout, "**", "*"), recursive=True)
        if os.path.basename(f).startswith(".e")
    ]
    assert leftovers == []
    # staged sources are consumed (moved, not left behind)
    staged = glob.glob(
        os.path.join(ckpt, "_epoch_stage", "epoch-0", "**", "*.parquet"),
        recursive=True,
    )
    assert staged == []
    batch.unpersist()
