"""Canonical narrow schema and adapters for the driver's test tables.

The engine operates over one long/narrow fact DataFrame (SURVEY.md §1):

    samples(series_id long, metric string, tags map<string,string>,
            ts long /*ns since epoch*/, value double)
    events (series_id long, metric string, tags map<string,string>,
            ts long, body string)
    series (series_id long, name string, metric string,
            tags map<string,string>, lon float, lat float)

``series_id`` is a derived dense key; all query semantics are defined on
(metric, tags) so adapters may synthesize it with a hash.  At 100 TB the
fact table is partitioned by a time bucket (e.g. day) and bucketed by
series_id so per-series scans prune partitions and co-locate sorts.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stdb_spark.common.seriesparser import MAX_TAGS

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def tags_suffix_col(tags="tags"):
    """Sorted ``k1=v1 k2=v2`` string for the tags map (canonical-form
    parity with SeriesParser, stdb/index/seriesparser.h:39-53).  Map
    keys are non-null and unique, so ``sort_array`` orders them as
    ``array_sort`` would, without planning a lambda comparator."""
    kv = F.transform(
        F.sort_array(F.map_keys(F.col(tags))),
        lambda k: F.concat(k, F.lit("="), F.col(tags)[k]),
    )
    return F.array_join(kv, " ")


def canonical_name_col(metric="metric", tags="tags"):
    """Spark expression producing the canonical series name
    ``metric k1=v1 k2=v2`` with keys sorted (SeriesParser parity,
    stdb/index/seriesparser.h:39-53) — entirely JVM-side."""
    return F.when(
        F.size(F.map_keys(F.col(tags))) > 0,
        F.concat(F.col(metric), F.lit(" "), tags_suffix_col(tags)),
    ).otherwise(F.col(metric))


def series_id_col(metric="metric", tags="tags"):
    """Stable 64-bit id from the canonical name (xxhash64, JVM-side)."""
    return F.xxhash64(canonical_name_col(metric, tags))


def wire_to_narrow(
    df: DataFrame, metric: Column, tokens: Column, first_tag: int, *payload: str
) -> DataFrame:
    """The one wire -> narrow projection every ingest parser ends in:
    ``(series_id, metric, tags, ts, *payload)`` from ``df``'s ``ts`` and
    ``payload`` columns, the ``metric`` expression, and the ``tokens``
    array of a split series name whose ``k=v`` tags start at 1-based
    position ``first_tag``.  At most MAX_TAGS tokens are read and tokens
    without ``=`` are dropped; a repeated key keeps its last value (the
    session's LAST_WIN map-key policy, see _SESSION_CONFS)."""
    tags = F.map_from_entries(
        F.transform(
            F.filter(
                F.slice(tokens, first_tag, MAX_TAGS), lambda t: t.contains("=")
            ),
            lambda t: F.struct(
                F.split(t, "=")[0].alias("key"), F.split(t, "=")[1].alias("value")
            ),
        )
    )
    return (
        df.select(metric.alias("metric"), "ts", *payload, tags.alias("tags"))
        .withColumn("series_id", series_id_col())
        .select("series_id", "metric", "tags", "ts", *payload)
    )


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def derived_cache_path(sf_dir: str, artifact: str, source_table: str) -> str:
    """Repo-local path for a write-time artifact derived from one source
    table (LSH signatures, summaries, layout...).  Keyed by the source
    file's size+mtime so a regenerated testdata set can never satisfy a
    stale cache — the artifact is recomputed instead."""
    import hashlib

    src = os.path.join(sf_dir, f"{source_table}.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{int(st.st_mtime)}".encode()
    ).hexdigest()[:10]
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(root, f"{artifact}_{sf_tag}_{tag}")


# Runtime confs every entry point needs regardless of who built the
# SparkSession.  The driver's correctness harness injects its *own* bare
# session into ``__spark_entry__.queries()``, so relying on
# ``session.get_spark`` to have set these at build time is not enough:
#  - nanosAsLong: defensive only.  The *current* testdata generation
#    writes events.ts as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ and
#    handled by the dtype dispatch in _ts_ns_expr), but an earlier
#    generation was TIMESTAMP(NANOS), which vanilla Spark refuses to
#    read outright (PARQUET_TYPE_ILLEGAL) *before* dtypes are even
#    visible.  Keeping the conf makes both generations readable.
#  - ansi off: the reference is a C++ engine — float edge cases flow
#    through as inf/NaN/NULL instead of raising.
# All of these are runtime-settable SQL confs (verified on pyspark 4.1.2).
_SESSION_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    # The engine's time unit is int64 ns; every timestamp<->long bridge
    # (events TIMESTAMP_NTZ adapter, streaming event_time) must be
    # timezone-invariant.  Catalyst rewrites NTZ timestampdiff through a
    # session-timezone cast, which under a DST-shifting zone could skew
    # the epoch literal and the data by different offsets — pin UTC.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # selective fact-fact joins inject a bloom filter into the big
    # side's scan (runtime row-level filtering; plan test:
    # test_plans.test_runtime_bloom_filter_reduces_fact_scan)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # InferFiltersFromGenerate synthesizes `size(e) > 0` below every
    # explode and pushdown then SUBSTITUTES the generator input's whole
    # alias chain into the scan-side predicate — for this engine's
    # parse/shingle pipelines (HOF-heavy, so codegen CSE can't rescue
    # them) that re-evaluated the full tokenize per row in the scan
    # stage (r7 audit: x16 copies; doc_simhash 1.22 s -> 0.31 s at
    # sf0.1 with the rule off).  Empty-array rows are rare in all our
    # explodes, so the inferred filter never paid for itself.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Right-size shuffles for the local box: an injected bare session
    # defaults to 200 partitions — pure task overhead at test scale
    # (AQE coalesces batch plans, but streaming state shuffles run all
    # 200).  One partition per core locally; a real cluster would use
    # 2-3x total cores — AQE coalesces the excess either way.
    # ensure_session_confs only replaces the BARE default (see below)
    # so an explicit get_spark(shuffle_partitions=...) choice survives.
    "spark.sql.shuffle.partitions": str(
        max(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)), 8)
    ),
    # Ingest parsers build tag maps in wire_to_narrow; a malformed
    # wire line repeating a tag key ('put cpu 1 1 host=a host=a') must
    # degrade per the parsers' drop-don't-crash contract, not kill the
    # whole job with Spark's default EXCEPTION dedup policy.  LAST_WIN
    # keeps the final occurrence — the tolerant choice for replayed /
    # at-least-once wire traffic.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}


_CONFS_APPLIED: dict = {}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the engine's required runtime confs to any
    injected session (driver harness, bare notebook, tests).

    ``spark.sql.shuffle.partitions`` is special-cased: it is only
    replaced when the session still carries Spark's bare default (200)
    — a deliberate choice made at session build time (get_spark's
    parameter, a cluster deployment's sizing) must not be silently
    reset by the first registered query.

    Applied once per session object: the function exists to initialize
    INJECTED bare sessions, and every registered query calls it, so
    without the marker each query pays ~10 py4j conf reads for confs
    that were set on this session's first query (pure driver overhead,
    guide §7.3).

    CONTRACT (r11 ADVICE, documented loudly): once a session is
    initialized, these confs are NOT re-asserted per query.  Code that
    deliberately flips a correctness-critical conf mid-session
    (spark.sql.ansi.enabled, spark.sql.session.timeZone,
    mapKeyDedupPolicy) on a session the registry has already used owns
    the consequences — registered queries will run under the altered
    semantics.  Tests that need divergent confs must use
    ``spark.newSession()`` (a fresh object, so a fresh marker), which
    is also what every in-repo caller does."""
    if _CONFS_APPLIED.get(id(spark)) is spark:
        return spark
    for k, v in _SESSION_CONFS.items():
        try:
            cur = spark.conf.get(k, None)
        except Exception:
            cur = None
        if k == "spark.sql.shuffle.partitions" and cur not in (None, "200"):
            continue
        if cur != v:
            spark.conf.set(k, v)
    _CONFS_APPLIED[id(spark)] = spark
    return spark


# --------------------------------------------------------------------
# Session-scoped LAZY-PLAN bindings (the engine's in-memory catalog).
#
# A long-running query server opens its tables once and holds the
# handles for the session's life — it does not re-list files, re-read
# parquet footers and re-build the projection tree for every query.
# The Spark analog of that catalog state is the *unmaterialized*
# DataFrame binding: re-deriving it per query costs 0.1-1.0 s of pure
# driver-side work (file listing + footer schema read + py4j plan
# construction; optimization guide §7.3 "planning is driver-side,
# single-process work") while contributing nothing to the result.
#
# This is NOT result caching: the memo holds lazy plans only — no rows,
# no .cache()/persist of base tables, nothing materialized — so every
# action still computes from the parquet inputs from scratch.  Keys
# carry the owning session (a fresh session rebuilds its bindings), the
# resolved path and the source file's (size, mtime) fingerprint, so a
# regenerated testdata set can never be served a stale binding (same
# discipline as derived_cache_path).
_BINDINGS: dict = {}


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(src)
        if os.path.isdir(src):
            # directory-style (Spark-written) dataset: an in-place
            # part-file rewrite leaves the DIRECTORY stat unchanged, so
            # fold the contained files' (size, mtime) maxima into the
            # fingerprint (r11 ADVICE).  Testdata ships single files,
            # where the plain stat is exact and this branch never runs.
            sz = mt = 0
            with os.scandir(src) as it:
                for de in it:
                    try:
                        fst = de.stat()
                    except OSError:
                        continue
                    sz = max(sz, fst.st_size)
                    mt = max(mt, fst.st_mtime_ns)
            return (os.path.abspath(src), st.st_size + sz, max(st.st_mtime_ns, mt))
        return (os.path.abspath(src), st.st_size, st.st_mtime_ns)
    except OSError:
        return (os.path.abspath(src), -1, -1)


def session_binding(spark: SparkSession, key: tuple, build):
    """Memoized lazy-plan binding for ``key`` on ``spark`` (see block
    comment above).  ``build`` is called once per (session, key); the
    session object is kept as a strong reference so ``id(spark)`` can
    never be recycled onto a different live session.

    Keys are ``(logical..., fingerprint)`` tuples with the
    table_fingerprint LAST: when a dataset is regenerated in place the
    fingerprint changes, and the insert below evicts the superseded
    entry for the same (session, logical prefix) instead of letting
    stale lazy plans accumulate for the process's life (r11 ADVICE).
    Entries owned by a STOPPED session are pruned on the same slow
    path, so long-lived servers spawning many sessions don't leak
    session objects through the memo's strong references."""
    k = (id(spark), key)
    hit = _BINDINGS.get(k)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = build()
    # miss path only (builds are rare): evict superseded-fingerprint
    # twins of this logical key and any binding of a stopped session
    logical = (id(spark), key[:-1])
    for ok in [
        x
        for x, (osp, _) in _BINDINGS.items()
        if (x[0], x[1][:-1]) == logical
        or getattr(getattr(osp, "_sc", None), "_jsc", None) is None
    ]:
        _BINDINGS.pop(ok, None)
    _BINDINGS[k] = (spark, df)
    return df


def cache_ready(path: str) -> bool:
    """True iff ``path`` holds a COMPLETED Spark write — the _SUCCESS
    marker the committer drops as its final act.  A run killed mid-write
    leaves the directory WITHOUT the marker; a bare isdir guard would
    mistake that partial cache for a built one forever (every consumer
    erroring or mis-counting until manual .cache surgery).  All cache
    builds use mode("overwrite"), so callers simply rebuild over the
    partial dir when not ready."""
    return os.path.isdir(path) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    return session_binding(
        spark,
        ("table", name, table_fingerprint(sf_dir, name)),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load only the requested tables.  Loading is lazy per-table (a
    TPC-H query must not be able to fail on the events table's schema)."""
    return {t: load_table(spark, sf_dir, t) for t in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Expose the testdata tables as temp views so the ENTIRE surface is
    also reachable through ``spark.sql("...")`` — the engine's JSON
    language and the DataFrame helpers are conveniences, not a wall:
    any ANSI query a reference user writes against these names runs
    unchanged on Catalyst (and, in the oracle gate, on DuckDB)."""
    for t in names:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _ts_ns_expr(ev: DataFrame):
    """int64-ns expression for the events ``ts`` column, dispatched on
    the dtype the parquet footer actually produced.  The engine's
    canonical unit is int64 ns since epoch (reference:
    stdb/common/basic.h:30-31); the driver's testdata has shipped ts as
    TIMESTAMP(NANOS) (round 1, read as long via nanosAsLong) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 3, read as
    TIMESTAMP_NTZ), so the adapter must handle every generation:

    - timestamp_ntz: ``timestampdiff(MICROSECOND, NTZ-epoch, ts)`` is
      timezone-independent and lands exactly on the epoch-µs grid the
      DuckDB oracles (``epoch_us(ts)``) produce; ×1000 → ns.
      (``cast(ts as long)`` is an AnalysisException on Spark 4.x, and
      ``cast("timestamp_ltz")`` detours through the session timezone.)
    - timestamp (LTZ): ``unix_micros`` is the exact µs-since-epoch.
    - long (incl. NANOS-via-nanosAsLong): already ns."""
    dtype = dict(ev.dtypes).get("ts", "bigint")
    if dtype == "timestamp_ntz":
        return (
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            * F.lit(1000)
        ).cast("long")
    if dtype.startswith("timestamp"):
        return (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
    return F.col("ts").cast("long")


def events_raw_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``events`` table with ``ts`` normalized to int64 ns
    and the *physical* parquet column preserved as ``ts_src`` — filters
    against ``ts_src`` are plain attribute-vs-literal comparisons, so
    they reach the Parquet scan's PushedFilters, which derived-``ts``
    predicates (arithmetic over a timestamp column) never do."""
    def build():
        ev = load_table(spark, sf_dir, "events")
        return ev.withColumn("ts_src", F.col("ts")).withColumn(
            "ts", _ts_ns_expr(ev)
        )

    return session_binding(
        spark, ("events_raw_ns", table_fingerprint(sf_dir, "events")), build
    )


def ts_src_bounds(df: DataFrame, lo_ns: int, hi_ns: int, dtypes: dict | None = None):
    """Conservative [lo_ns, hi_ns] bounds as a pushable predicate on the
    ``ts_src`` physical column (None when the column is absent).  Bounds
    are widened to the enclosing µs grid — the exact cut on the derived
    ns column stays in the plan, this predicate only exists to prune
    row groups / pages at the scan.  ``dtypes`` is df's ``dict(dtypes)``
    when the caller already holds it (saves the schema fetch)."""
    dtype = (dtypes if dtypes is not None else dict(df.dtypes)).get("ts_src")
    if dtype is None:
        return None
    lo_us, hi_us = lo_ns // 1000, -((-hi_ns) // 1000)
    if dtype.startswith("timestamp"):
        import datetime

        def _lit(us):
            s = (
                datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
            ).strftime("%Y-%m-%d %H:%M:%S.%f")
            if dtype == "timestamp_ntz":
                return F.expr(f"TIMESTAMP_NTZ '{s}'")
            return F.expr(f"TIMESTAMP '{s}+00:00'")

        return (F.col("ts_src") >= _lit(lo_us)) & (F.col("ts_src") <= _lit(hi_us))
    return (F.col("ts_src") >= lo_us * 1000) & (F.col("ts_src") <= hi_us * 1000)


def events_as_samples(
    spark: SparkSession, sf_dir: str, keep_src: bool = False
) -> DataFrame:
    """Map the driver's ``events`` table into the narrow samples schema:
    metric = event_type, one tag ``user=<user_id>``, ts int64 ns (see
    _ts_ns_expr), value = value.  ``keep_src=True`` appends the physical
    ``ts_src`` column for scan-pushdown range predicates."""
    def build():
        ev = events_raw_ns(spark, sf_dir)
        cols = [
            F.col("event_type").alias("metric"),
            F.create_map(
                F.lit("user"), F.col("user_id").cast("string")
            ).alias("tags"),
            F.col("ts"),
            F.col("value").cast("double").alias("value"),
        ]
        out_cols = ["series_id", "metric", "tags", "ts", "value"]
        if keep_src:
            cols.append(F.col("ts_src"))
            out_cols.append("ts_src")
        return (
            ev.select(*cols)
            .withColumn("series_id", series_id_col())
            .select(*out_cols)
        )

    return session_binding(
        spark,
        ("events_as_samples", keep_src, table_fingerprint(sf_dir, "events")),
        build,
    )


def events_as_event_stream(
    spark: SparkSession, sf_dir: str, keep_src: bool = False
) -> DataFrame:
    """Map the driver's ``events`` table into the engine's *event* shape
    (string body instead of double value): metric = '!' + event_type,
    body = props JSON (reference event convention,
    stdb/query/queryparser.cc:317-329)."""
    def build():
        ev = events_raw_ns(spark, sf_dir)
        cols = [
            F.concat(F.lit("!"), F.col("event_type")).alias("metric"),
            F.create_map(
                F.lit("user"), F.col("user_id").cast("string")
            ).alias("tags"),
            F.col("ts"),
            F.col("props").alias("body"),
        ]
        out_cols = ["series_id", "metric", "tags", "ts", "body"]
        if keep_src:
            cols.append(F.col("ts_src"))
            out_cols.append("ts_src")
        return (
            ev.select(*cols)
            .withColumn("series_id", series_id_col())
            .select(*out_cols)
        )

    return session_binding(
        spark,
        (
            "events_as_event_stream",
            keep_src,
            table_fingerprint(sf_dir, "events"),
        ),
        build,
    )


def series_registry(samples: DataFrame) -> DataFrame:
    """Derive the series dimension (the SeriesMatcher analog,
    stdb/index/series_matcher.h:40-56) from a fact table.  Small by
    construction (cardinality = #series), so broadcastable.

    Per-series static locations (stdb/index/rtree.h:594-611): when the
    fact table carries lon/lat columns they ride through the dedup
    row-atomically (same dropDuplicates row), so §2.9 spatial queries
    run against the engine's own registry."""
    cols = ["series_id", "metric", "tags"]
    has_loc = "lon" in samples.columns and "lat" in samples.columns
    if has_loc:
        cols += ["lon", "lat"]
    reg = (
        samples.select(*cols)
        .dropDuplicates(["series_id"])
        .withColumn("name", canonical_name_col())
    )
    if not has_loc:
        reg = reg.withColumn("lon", F.lit(None).cast("float")).withColumn(
            "lat", F.lit(None).cast("float")
        )
    return reg.select("series_id", "name", "metric", "tags", "lon", "lat")
