"""Event-behavior analytics: sessionization, funnels, retention cohorts,
per-series anomaly flagging.

The reference is a pure metrics engine — its event rows (string payloads,
stdb/query/queryparser.cc:317-329) can be scanned and regex-filtered but
not sessionized or sequenced; every product-analytics user of an events
table wants these four.  All are expressed as single-exchange window /
aggregate plans (no UDFs, no collects).

Plan shapes at 100 TB:
- sessionize: ONE hash exchange on the user key; the gap flag, the
  running session index, and any per-session aggregate all reuse that
  partitioning (lag + running sum + groupBy(user, session) share the
  sort order, so Catalyst plans one Exchange + one Sort).
- funnel: ONE exchange on user; each step's earliest-qualifying
  timestamp is a whole-partition window min over the same partitioning
  (Window nodes stack without re-shuffling), then a tiny stage-count
  aggregate.
- retention: first-touch per user and the activity set shuffle on the
  same user key (exchange reuse), then one small (cohort, offset)
  aggregate.
- anomaly_zscore: ONE exchange on series; moment sums accumulate as
  exact decimals over the series window so the flagged set is
  partitioning-independent (bit-parity with any other engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stdb_spark.operators.aggregates import bucket_start

_D = "DECIMAL(28,10)"
_D2 = "DECIMAL(38,8)"


def sessionize(
    events: DataFrame,
    user_col: str = "user",
    ts_col: str = "ts",
    gap: int = 1_800_000_000_000,
) -> DataFrame:
    """Assign gap-based session indexes per user: a new session starts
    when the time since the user's previous event exceeds ``gap`` (same
    unit as ``ts_col``).  Adds ``session_idx`` (0-based per user).

    Determinism note: rows WITHIN a tie group get gap 0 against each
    other, but if a tie group itself opens a session, which tie row
    carries the boundary flag is order-dependent — for a fully
    deterministic result feed distinct (user, ts) instants (the
    registered query does).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    new_sess = F.when(
        (F.col(ts_col) - F.lag(ts_col).over(w)) > gap, F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user",
    ts_col: str = "ts",
    gap: int = 1_800_000_000_000,
) -> DataFrame:
    """Per-session rollup: start/end timestamps, duration, event count.
    Same single exchange as :func:`sessionize` — the groupBy keys are a
    prefix of the window partitioning."""
    return (
        sessionize(events, user_col, ts_col, gap)
        .groupBy(user_col, "session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            (F.max(ts_col) - F.min(ts_col)).alias("duration"),
            F.count("*").alias("n_events"),
        )
    )


def funnel_stages(
    events: DataFrame,
    steps: list,
    user_col: str = "user",
    ts_col: str = "ts",
    type_col: str = "metric",
    within: int | None = None,
) -> DataFrame:
    """Per-user ordered funnel: step k counts only if an event of
    ``steps[k]`` occurs STRICTLY after the user's earliest qualifying
    step k-1 event — and, when ``within`` is given, no later than
    ``within`` after the step-1 time (the conversion window:
    "purchased within 7 days of first view").  Returns one row per user
    with ``stage`` = number of consecutive steps completed and
    ``step_ts`` array of the qualifying timestamps.

    Greedy earliest-qualifying is optimal: taking the soonest valid
    event for step k can only widen step k+1's remaining window.

    Each step is a whole-partition window min over the same user
    partitioning, so the chain adds Window nodes, not exchanges.
    """
    w = Window.partitionBy(user_col)
    df = events
    prev: Column | None = None
    first: Column | None = None
    ts_cols = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
            if within is not None:
                cond = cond & (F.col(ts_col) <= first + int(within))
        col_name = f"_s{i}"
        df = df.withColumn(
            col_name,
            F.min(F.when(cond, F.col(ts_col))).over(w),
        )
        prev = F.col(col_name)
        if first is None:
            first = F.col(col_name)
        ts_cols.append(col_name)
    per_user = df.groupBy(user_col).agg(
        *[F.first(c).alias(c) for c in ts_cols]
    )
    # consecutive completion: stage k requires _s0 .. _s{k-1} non-null;
    # by construction _sk is null whenever _s{k-1} is, so a plain
    # non-null count IS the consecutive prefix length.
    stage = sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in ts_cols),
        F.lit(0),
    )
    return per_user.select(
        F.col(user_col),
        stage.alias("stage"),
        F.array(*[F.col(c) for c in ts_cols]).alias("step_ts"),
    )


def funnel_counts(
    events: DataFrame,
    steps: list,
    user_col: str = "user",
    ts_col: str = "ts",
    type_col: str = "metric",
    within: int | None = None,
) -> DataFrame:
    """Funnel summary: for each stage 1..len(steps), how many users
    completed at least that many consecutive steps."""
    stages = funnel_stages(events, steps, user_col, ts_col, type_col, within)
    n = len(steps)
    return (
        stages.select(
            F.explode(F.sequence(F.lit(1), F.lit(n))).alias("stage_at_least"),
            F.col("stage"),
        )
        .filter(F.col("stage") >= F.col("stage_at_least"))
        .groupBy("stage_at_least")
        .agg(F.count("*").alias("users"))
    )


def funnel_stages_cumulative(
    events: DataFrame,
    steps: list,
    user_col: str = "user",
    ts_col: str = "ts",
    type_col: str = "metric",
    within: int | None = None,
) -> DataFrame:
    """Per-user ordered funnel with INCLUSIVE (``>=``) step ordering —
    the windowFunnel-style twin of :func:`funnel_stages` (which is
    strict ``>``): a step-k event at the same instant as the earliest
    step-(k-1) event counts as ordered.  When ``within`` is given the
    whole chain must land at most ``within`` after the earliest step-1
    time.  Returns one row per user with ``t1..tN`` qualifying times
    and ``stage`` = consecutive steps completed.

    Resolution is a single pass of cumulative conditional mins: at any
    row, the running min of step-(k-1) candidate times over the default
    RANGE frame (peers included) IS the user's earliest step-(k-1)
    time whenever one exists at-or-before this instant, so "first
    step-k event at-or-after it" is a plain conditional min.  One
    exchange on the user key, one sort, N stacked Window nodes, then
    the per-user aggregate reuses the partitioning.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    df = events
    cand_cols = []
    for i, step in enumerate(steps):
        if i == 0:
            cand = F.when(F.col(type_col) == step, F.col(ts_col))
        else:
            prev_run = F.col(f"_r{i - 1}")
            cond = (
                (F.col(type_col) == step)
                & prev_run.isNotNull()
                & (F.col(ts_col) >= prev_run)
            )
            if within is not None:
                cond = cond & (F.col(ts_col) <= F.col("_r0") + int(within))
            cand = F.when(cond, F.col(ts_col))
        cname = f"_c{i}"
        df = df.withColumn(cname, cand).withColumn(
            f"_r{i}", F.min(cname).over(w)
        )
        cand_cols.append(cname)
    per_user = df.groupBy(user_col).agg(
        *[F.min(c).alias(f"t{i + 1}") for i, c in enumerate(cand_cols)]
    )
    # _c{k} is null wherever _r{k-1} is, so non-null t's form a
    # consecutive prefix and their count IS the stage.
    stage = sum(
        (
            F.when(F.col(f"t{i + 1}").isNotNull(), 1).otherwise(0)
            for i in range(len(steps))
        ),
        F.lit(0),
    )
    return per_user.withColumn("stage", stage)


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user",
    ts_col: str = "ts",
    period: int = 86_400_000_000_000,
) -> DataFrame:
    """Cohort retention grid: users bucketed by first-activity period,
    counted per (cohort, period offset) of later activity.  ``period``
    is in ``ts_col`` units (default: 1 day in ns).

    Both the first-touch aggregate and the activity-set distinct shuffle
    on the user key, so the join between them reuses one exchange; the
    final (cohort, offset) aggregate is tiny.

    ``ts_col`` must be a plain column name: the period bucket uses
    integer ``div`` (double division would corrupt ns-scale epochs —
    1.7e18 exceeds a double's 2^53 integer range).  Epochs are assumed
    non-negative (div truncates toward zero).
    """
    pd_col = F.expr(f"CAST({ts_col} AS BIGINT) div {int(period)}")
    # repartition on the user key FIRST: HashPartitioning(u) satisfies
    # both the (u, pd) distinct's clustering AND the first-touch
    # groupBy(u)'s, so the events table shuffles ONCE (a bare
    # .distinct() plan shuffled on (u, pd) and then again on u).
    act = (
        events.select(F.col(user_col).alias("u"), pd_col.alias("pd"))
        .repartition("u")
        .distinct()
    )
    first = act.groupBy("u").agg(F.min("pd").alias("cohort"))
    return (
        act.join(first, "u")
        .select(
            "u", "cohort", (F.col("pd") - F.col("cohort")).alias("period_offset")
        )
        .groupBy("cohort", "period_offset")
        .agg(F.count("*").alias("users"))
    )


def anomaly_zscore(
    samples: DataFrame,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold: float = 3.0,
) -> DataFrame:
    """Flag samples whose per-series z-score exceeds ``threshold``.

    Moment sums (n, Σv, Σv²) accumulate as exact decimals over a
    whole-partition window, then mean/std/z are fixed-order double
    arithmetic — the flagged set is identical under any partitioning
    and bit-comparable across engines.  One exchange on the series key.
    """
    w = Window.partitionBy(series_col)
    v = F.col(value_col)
    n = F.count(v).over(w)
    # .over must wrap the aggregate itself — wrapping a CAST(sum(...))
    # expression makes Catalyst hoist the sum into a (keyless) Aggregate
    # instead of windowing it (MISSING_GROUP_BY).
    sx = F.expr(f"sum(CAST({value_col} AS {_D}))").over(w).cast("double")
    sxx = (
        F.expr(
            f"sum(CAST(CAST({value_col} AS {_D}) * CAST({value_col} AS {_D})"
            f" AS {_D2}))"
        )
        .over(w)
        .cast("double")
    )
    mean = sx / n
    var = (sxx - sx * sx / n) / n
    z = (v - mean) / F.sqrt(var)
    # var > 0 guard: a constant series yields z = 0/0 = NaN, and NaN
    # compares greater-than in both Spark and DuckDB — without the guard
    # every sample of a flat series would be "anomalous".
    return (
        samples.withColumn("_var", var)
        .withColumn("z", z)
        .filter((F.col("_var") > 0) & (F.abs(F.col("z")) > threshold))
        .select(series_col, ts_col, value_col, "z")
    )


def peak_concurrency(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    bucket: int = 86_400_000_000,
) -> DataFrame:
    """Peak concurrent intervals per time bucket — "max simultaneous
    sessions per day", the capacity-planning staple.  An interval is
    active on [start, end] inclusive; its +1/-1 boundary deltas land at
    start and end+1.

    The textbook solution is one global running sum over all boundaries
    — a single-reducer sort that dies at 100 TB.  This is the two-phase
    split of the same prefix sum: phase 1 runs the running sum WITHIN
    each bucket partition (parallel, one exchange); phase 2 computes
    each bucket's starting offset from the per-bucket delta totals — a
    #buckets-sized aggregate (days, not rows) cumulated on the driver
    scale and broadcast back.  run(t) = bucket_offset + within_bucket
    running sum, exactly the global prefix.  All arithmetic is BIGINT.

    Returns (bucket_start, peak)."""
    d = (
        intervals.select(F.col(start_col).alias("t"), F.lit(1).alias("delta"))
        .unionAll(
            intervals.select((F.col(end_col) + 1).alias("t"), F.lit(-1).alias("delta"))
        )
        .withColumn("bkt", F.expr(f"t div {int(bucket)}"))
    )
    # -1 lands at end+1 ("no longer active at this instant"), so at a
    # shared instant the -1 must fold BEFORE the +1 of an interval
    # starting there — delta ASC.  (+1-first transiently counted a
    # just-expired interval together with a just-started one: [0,10]
    # and [11,20] reported peak 2 instead of 1.)
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("t").asc(), F.col("delta").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_bucket = d.groupBy("bkt").agg(F.sum("delta").alias("_tot"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).cast("long")
    ).select("bkt", "_off")
    run = d.withColumn("_run", F.sum("delta").over(w_in).cast("long")).join(
        F.broadcast(offsets), "bkt"
    )
    return (
        run.groupBy((F.col("bkt") * bucket).alias("bucket_start"))
        .agg(F.max(F.col("_off") + F.col("_run")).alias("peak"))
    )


def autocorrelation(
    samples: DataFrame,
    max_lag: int,
    series_cols: tuple[str, ...] = ("series",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series autocorrelation function at lags 1..max_lag — the
    seasonality/periodicity detector feeding a Holt-Winters period
    choice.  acf(L) = Pearson corr of (x_t, x_{t-L}) over the series'
    aligned pairs.

    Plan shape at 100 TB: ONE series-ordered window emits all K lag
    columns in a single pass, posexplode turns them into (lag, pair)
    rows map-side, and ONE (series, lag) exchange reduces decimal
    moment sums (partition-order independent, same idiom as
    ts_corr_metrics); the correlation finish is a fixed-order float
    formula over the six exact sums.  Returns (series..., lag, n, acf);
    ties on equal timestamps are ordered by value so the pairing is a
    deterministic function of the data."""
    if max_lag <= 0:
        raise ValueError("max_lag must be positive")
    w = Window.partitionBy(*series_cols).orderBy(ts_col, value_col)
    # window exprs must materialize in a Window operator before they can
    # feed a generator — hence the two-step select
    lagged = samples.select(
        *series_cols,
        F.col(value_col).alias("_x"),
        F.array(
            *[F.lag(value_col, L).over(w) for L in range(1, max_lag + 1)]
        ).alias("_lags"),
    )
    base = lagged.select(
        *series_cols, "_x", F.posexplode("_lags").alias("_p", "_y")
    ).filter(F.col("_y").isNotNull())
    d = "DECIMAL(28,10)"
    d2 = "DECIMAL(38,8)"
    sums = base.groupBy(*series_cols, (F.col("_p") + 1).alias("lag")).agg(
        F.count("*").alias("n"),
        F.expr(f"CAST(sum(CAST(_x AS {d})) AS DOUBLE)").alias("sx"),
        F.expr(f"CAST(sum(CAST(_y AS {d})) AS DOUBLE)").alias("sy"),
        F.expr(f"CAST(sum(CAST(CAST(_x AS {d}) * CAST(_y AS {d}) AS {d2})) AS DOUBLE)").alias("sxy"),
        F.expr(f"CAST(sum(CAST(CAST(_x AS {d}) * CAST(_x AS {d}) AS {d2})) AS DOUBLE)").alias("sxx"),
        F.expr(f"CAST(sum(CAST(CAST(_y AS {d}) * CAST(_y AS {d}) AS {d2})) AS DOUBLE)").alias("syy"),
    )
    # the variance terms are mathematically >= 0 but computed by
    # cancellation (n*sxx - sx^2) in double — at large n they can round
    # below zero (and a constant series makes them exactly 0).  Guard
    # BOTH engines identically: the sums are bit-equal, so the same
    # IEEE comparisons select the same rows (Spark would return NaN on
    # sqrt(<0), DuckDB raises — the guard replaces both with NULL).
    acf = F.expr(
        "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 "
        "THEN (n * sxy - sx * sy) "
        "/ (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END"
    )
    return sums.select(*series_cols, "lag", "n", acf.alias("acf"))


def seasonal_decompose(
    samples: DataFrame,
    period: int,
    series_cols: tuple[str, ...] = ("series",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method): x = trend + seasonal + residual.

    - trend: centered moving average of width ``period`` (odd periods
      only — the even case needs the 2×m weighted average and is not
      cross-engine exact); NULL where the window is not full.
    - seasonal: per-(series, phase) mean of the detrended values,
      centered by the per-series mean of ALL detrended observations
      (count-weighted centering — deterministic and join-free).
    - residual: detrended - seasonal.

    All means run through DECIMAL sums (partition-order independent);
    phases come from the per-series row number over (ts, value), so the
    decomposition is a deterministic function of the data.  Plan shape:
    one series-ordered window (trend + phase), one (series, phase)
    window, one series window — three exchanges, no joins, no UDFs."""
    if period < 3 or period % 2 == 0:
        raise ValueError("period must be an odd integer >= 3")
    d = "DECIMAL(28,10)"
    half = (period - 1) // 2
    w_ord = Window.partitionBy(*series_cols).orderBy(ts_col, value_col)
    w_ma = w_ord.rowsBetween(-half, half)
    v = F.col(value_col)
    cnt = F.count(v).over(w_ma)
    msum = F.sum(v.cast(d)).over(w_ma)
    trend = F.when(cnt == period, msum.cast("double") / F.lit(float(period)))
    base = samples.select(
        *series_cols,
        F.col(ts_col),
        v.alias("value"),
        trend.alias("trend"),
        ((F.row_number().over(w_ord) - 1) % period).alias("_phase"),
    ).withColumn("detrended", F.col("value") - F.col("trend"))
    w_ph = Window.partitionBy(*series_cols, "_phase")
    w_s = Window.partitionBy(*series_cols)
    ph_mean = F.sum(F.col("detrended").cast(d)).over(w_ph).cast("double") / F.count(
        "detrended"
    ).over(w_ph)
    all_mean = F.sum(F.col("detrended").cast(d)).over(w_s).cast("double") / F.count(
        "detrended"
    ).over(w_s)
    return (
        base.withColumn("seasonal", ph_mean - all_mean)
        .withColumn("residual", F.col("detrended") - F.col("seasonal"))
        .drop("_phase")
    )


def changepoints_page_hinkley(
    samples: DataFrame,
    threshold: float,
    series_cols: tuple[str, ...] = ("series",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Offline Page-Hinkley changepoint flags: with S_t = cumulative
    deviation from the series mean, flag rows where
    S_t - min_{i<=t} S_i > threshold (a sustained upward level shift;
    run on negated values for downward shifts).

    Exactness: S_t is NOT a float running sum (whose association order
    is engine-dependent) — it is (exact decimal running sum of x) -
    rn * mean, two IEEE ops over exact quantities, and the running min
    is order-free.  So the flag set is bit-deterministic across
    engines, which is what lets the oracle replicate it.

    One series exchange; the mean and the running stats share it.
    Returns flagged rows (series..., ts, value, ph_stat)."""
    d = "DECIMAL(28,10)"
    w_s = Window.partitionBy(*series_cols)
    w_ord = w_s.orderBy(ts_col, value_col)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mean = F.sum(F.col(value_col).cast(d)).over(w_s).cast("double") / F.count(
        value_col
    ).over(w_s)
    runsum = F.sum(F.col(value_col).cast(d)).over(w_run).cast("double")
    rn = F.row_number().over(w_ord)
    s_t = runsum - rn * mean
    base = samples.select(
        *series_cols, F.col(ts_col), F.col(value_col), s_t.alias("_s")
    )
    run_min = F.min("_s").over(
        Window.partitionBy(*series_cols)
        .orderBy(ts_col, value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("ph_stat", F.col("_s") - run_min)
        .filter(F.col("ph_stat") > threshold)
        .drop("_s")
    )


def series_quality_profile(
    samples: DataFrame,
    series_cols: tuple[str, ...] = ("series",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series data-quality report: sample count, null-value count,
    time span, duplicate-timestamp count, and max/mean inter-sample gap
    — the first query run against any newly ingested feed.

    One series exchange shared by the lag window and the rollup; gap
    arithmetic is BIGINT-exact, the mean gap is one float division of
    exact integers."""
    w_ord = Window.partitionBy(*series_cols).orderBy(ts_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w_ord)
    dup = F.when(gap == 0, 1).otherwise(0)
    base = samples.select(
        *series_cols,
        F.col(ts_col),
        F.col(value_col),
        gap.alias("_gap"),
        dup.alias("_dup"),
    )
    return base.groupBy(*series_cols).agg(
        F.count("*").alias("n_samples"),
        F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0)).alias("n_null_values"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
        F.sum("_dup").cast("long").alias("n_duplicate_ts"),
        F.max("_gap").alias("max_gap"),
        (
            F.sum("_gap").cast("double") / F.greatest(F.count("_gap"), F.lit(1))
        ).alias("mean_gap"),
    )


def trapezoid_integral(
    samples: DataFrame,
    bucket_ns: int,
    origin_ns: int = 0,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series trapezoidal integral (area under the value curve) per
    begin-aligned time bucket, in value·seconds — the continuous-time
    companion of the reference's discrete aggregates (a mean over
    irregular samples weights by count; the integral weights by time,
    which is what energy/utilization/queue-depth analyses need; same
    accumulation family as the reference's time-weighted `top`,
    stdb/query/query_processing/top.cc:18-72).

    Each consecutive-pair term (vᵢ₋₁+vᵢ)/2 · Δt belongs to the bucket
    of its RIGHT endpoint (documented rule; a pair spanning a bucket
    boundary is not split).

    Exactness: the accumulation never touches doubles until the very
    end — v and vᵢ₋₁ quantize to DECIMAL(23,10) (exact for the short-
    decimal doubles real metrics carry), Δt in µs is a DECIMAL(13,0)
    integer, and (v+pv)·Δt_µs is DECIMAL(38,10) with no precision
    adjustment, so the per-bucket sum is exact and partitioning/
    engine-independent; ONE final decimal→double conversion and the
    ÷2e6 (µs→s and the trapezoid ½) happen in double where a last-ulp
    wobble is ~1e-16 relative.  (Summing per-term doubles instead
    diverges across engines: a double→decimal cast of a *computed*
    product rounds shortest-repr in the JVM but exact-binary in e.g.
    DuckDB.)  Requires µs-resolution timestamps (the engine's µs-grid
    ns convention).

    Plan: ONE exchange on the series key for the lag window, then the
    (series, bucket) aggregate — partial (map-side) combine reduces
    that second exchange to one row per series×bucket."""
    w = Window.partitionBy(series_col).orderBy(ts_col)
    pv = F.lag(value_col).over(w)
    pt = F.lag(ts_col).over(w)
    # exact int64 begin-aligned bucket (the engine's group-aggregate
    # bucket); origin must be <= min(ts)
    bucket = bucket_start(ts_col, origin_ns, bucket_ns)
    d = samples.select(
        F.col(series_col).alias("series"),
        bucket.alias("_b"),
        F.col(value_col).alias("_v"),
        pv.alias("_pv"),
        ((F.col(ts_col) - pt) / F.lit(1000)).cast("long").alias("_dt_us"),
    ).filter(F.col("_pv").isNotNull())
    term = (
        "(CAST(_v AS DECIMAL(23,10)) + CAST(_pv AS DECIMAL(23,10)))"
        " * CAST(_dt_us AS DECIMAL(13,0))"
    )
    # integral in value·seconds; twa = Σ(v+pv)Δt / 2ΣΔt (the µs units
    # cancel).  NOTE for cross-engine hashing: `integral` can be large
    # (value·seconds over a day ~1e8) and a 1-ulp difference in the
    # final decimal→double conversion is then visible to an absolute
    # 1e-6 rounding — hash `twa` or a rescaled integral instead.
    return d.groupBy("series", F.col("_b").alias("ts")).agg(
        F.expr(
            f"CAST(sum({term}) AS DOUBLE) / CAST(2e6 AS DOUBLE)"
        ).alias("integral"),
        F.expr(
            f"CAST(sum({term}) AS DOUBLE) / CAST(2.0 AS DOUBLE)"
            " / CAST(sum(CAST(_dt_us AS DECIMAL(18,0))) AS DOUBLE)"
        ).alias("twa"),
    )


def mad_outliers(
    samples: DataFrame,
    series_col: str = "series",
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Per-series robust outlier profile via the median absolute
    deviation: median, MAD, sample count, and the count of samples with
    |v − median| > k·1.4826·MAD (1.4826 rescales MAD to σ under
    normality).  The robust twin of :func:`anomaly_zscore` — a single
    wild outlier inflates the z-score's own σ and masks itself, which
    is exactly the failure mode MAD exists to avoid.

    Exactness: medians are exact linear-interpolation percentiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` bit-for-bit, the
    proven ts_group_aggregate_p95 pattern); deviations and the k·MAD
    threshold are fixed-order double arithmetic.  A constant series has
    MAD 0 and flags nothing (dev > 0 is never > 0·k).

    Plan: ONE exchange on the series key; both percentile windows and
    the final rollup reuse that partitioning (percentile is not
    partial-aggregatable, so a window over the series exchange beats
    two groupBy+join rounds)."""
    w = Window.partitionBy(series_col)
    med = F.expr(f"percentile({value_col}, 0.5)").over(w)
    dev = F.abs(F.col(value_col) - med)
    d = samples.withColumn("_med", med).withColumn("_dev", dev)
    mad = F.expr("percentile(_dev, 0.5)").over(w)
    d = d.withColumn("_mad", mad)
    out = F.col("_dev") > F.lit(k) * F.lit(1.4826) * F.col("_mad")
    return (
        d.groupBy(F.col(series_col).alias("series"))
        .agg(
            F.first("_med").alias("median"),
            F.first("_mad").alias("mad"),
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
    )


def bollinger_bands(
    samples: DataFrame,
    width: int = 20,
    k: float = 2.0,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Rolling mean ± k·σ envelope over the last ``width`` samples per
    series, with a breakout flag — the windowed sibling of
    :func:`anomaly_zscore` (whole-series moments flag global outliers;
    a rolling envelope tracks regime changes, which is what alerting
    rules actually watch).  Emits (series, ts, value, mean, sd, upper,
    lower, breakout) with a warm-up-aware count (the first width-1 rows
    use however many samples exist, the standard convention).

    Exactness: Σv and Σv² accumulate as decimals inside the row frame
    (order-independent), mean/σ/bands are fixed-order double arithmetic;
    ``greatest(var, 0)`` guards the tiny negative variances float
    cancellation can produce (σ = NaN would poison the flag).  ONE
    exchange on the series key; the frame never leaves the sort."""
    w = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(-(width - 1), Window.currentRow)
    )
    v = F.col(value_col)
    n = F.count(v).over(w)
    sx = F.expr(f"sum(CAST({value_col} AS {_D}))").over(w).cast("double")
    sxx = (
        F.expr(
            f"sum(CAST(CAST({value_col} AS {_D}) * CAST({value_col} AS {_D})"
            f" AS {_D2}))"
        )
        .over(w)
        .cast("double")
    )
    mean = sx / n
    var = (sxx - sx * sx / n) / n
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    upper = mean + F.lit(k) * sd
    lower = mean - F.lit(k) * sd
    return samples.select(
        F.col(series_col).alias("series"),
        F.col(ts_col).alias("ts"),
        v.alias("value"),
        mean.alias("mean"),
        sd.alias("sd"),
        upper.alias("upper"),
        lower.alias("lower"),
        ((v > upper) | (v < lower)).alias("breakout"),
    )


def error_budget_burn(
    events: DataFrame,
    bucket_ns: int,
    origin_ns: int,
    error_metric: str = "error",
    user_col: str = "user",
    metric_col: str = "metric",
    ts_col: str = "ts",
) -> DataFrame:
    """SLO error-budget burn rate per user per bucket: the bucket's
    error ratio divided by the user's overall error ratio across the
    queried range (burn > 1 ⇒ this bucket consumes budget faster than
    the user's average; the multiwindow-burn-rate alert every SRE
    handbook builds).  NULL burn when the user has no errors at all.

    Exactness: pure BIGINT counts until two fixed-order double
    divisions.  Plan: ONE exchange for the (user, bucket) aggregate;
    the per-user totals are whole-partition window sums over the
    already-aggregated (tiny) bucket rows — no second scan of the
    fact table."""
    bucket = bucket_start(ts_col, origin_ns, bucket_ns)
    per = (
        events.groupBy(
            F.col(user_col).alias("user"), bucket.alias("ts")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col(metric_col) == error_metric, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_err"),
        )
    )
    wu = Window.partitionBy("user")
    tot = F.sum("n").over(wu)
    tot_err = F.sum("n_err").over(wu)
    burn = F.when(
        tot_err > 0,
        (F.col("n_err").cast("double") / F.col("n"))
        / (tot_err.cast("double") / tot),
    )
    return per.select("user", "ts", "n", "n_err", burn.alias("burn"))


def hour_of_week_profile(
    samples: DataFrame,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonality heatmap: mean value and sample count per (series,
    hour-of-week) cell — the capacity-planning / anomaly-baseline view
    (compare a sample against its own weekly phase, not a global mean).
    ``how`` = hours since epoch mod 168, so phase 0 is Thursday 00:00
    UTC (1970-01-01); integer time math end to end, decimal-exact
    means.  ONE hash exchange onto at most 168·|series| cells."""
    how = F.expr(f"(({ts_col} div 3600000000000) % 168)").cast("int")
    return (
        samples.groupBy(F.col(series_col).alias("series"), how.alias("how"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(
                f"CAST(sum(CAST({value_col} AS {_D})) AS DOUBLE) / count(*)"
            ).alias("mean_value"),
        )
    )


def subsequence_distance_profile(
    samples: DataFrame,
    pattern: list,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Sliding-window pattern search (the UCR-subsequence-matching
    primitive): squared Euclidean distance between every length-W
    window of each series and a query ``pattern``, computed as a fixed
    lag chain — W-1 ``lag`` terms over ONE series exchange, no UDF, no
    self-join.  Rows with fewer than W predecessors emit NULL and are
    dropped (incomplete windows).  Emits (series, ts, dist2) with ts =
    the window's END timestamp; rank/threshold downstream.

    The distance chain is fixed-order double arithmetic (term j =
    (lag(v, j) − pattern[W−1−j])²), so any engine reproduces it
    bit-for-bit; intended for short patterns (W ≲ 16 — each term is a
    Window expression sharing the same sort)."""
    w = Window.partitionBy(series_col).orderBy(ts_col)
    W = len(pattern)
    dist2 = None
    for j in range(W):
        x = F.col(value_col) if j == 0 else F.lag(value_col, j).over(w)
        t = (x - F.lit(float(pattern[W - 1 - j]))) * (
            x - F.lit(float(pattern[W - 1 - j]))
        )
        dist2 = t if dist2 is None else dist2 + t
    return (
        samples.select(
            F.col(series_col).alias("series"),
            F.col(ts_col).alias("ts"),
            dist2.alias("dist2"),
        )
        .filter(F.col("dist2").isNotNull())
    )


def seasonal_naive_backtest(
    samples: DataFrame,
    season_lag: int,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Backtest of the seasonal-naïve forecaster (ŷ(t) = y(t −
    season_lag samples)) — the baseline every real forecast must beat,
    and the sanity check for the Holt-Winters family: per series, MAE
    and MAPE over the rows that have a seasonal predecessor, plus the
    evaluated count.  A regular sampling grid makes the row lag a time
    lag; run after gap-filling for irregular series.

    Exactness: |error| terms are per-row IEEE doubles; both sums
    quantize each term to DECIMAL(38,10) (exact, order-free); the final
    divisions are fixed-order doubles.  MAPE skips zero actuals (the
    standard dodge).  ONE series exchange shared by the lag window and
    the rollup."""
    w = Window.partitionBy(series_col).orderBy(ts_col)
    pred = F.lag(value_col, season_lag).over(w)
    err = F.abs(F.col(value_col) - pred)
    ape = F.when(
        F.col(value_col) != 0.0, err / F.abs(F.col(value_col))
    )
    d = samples.select(
        F.col(series_col).alias("series"),
        err.alias("_e"),
        ape.alias("_a"),
    ).filter(F.col("_e").isNotNull())
    return d.groupBy("series").agg(
        F.count("*").cast("long").alias("n_eval"),
        F.expr("CAST(sum(CAST(_e AS DECIMAL(38,10))) AS DOUBLE) / count(*)").alias(
            "mae"
        ),
        F.expr(
            "CAST(sum(CAST(_a AS DECIMAL(38,10))) AS DOUBLE) / count(_a)"
        ).alias("mape"),
    )


def lagged_cross_correlation(
    daily: DataFrame,
    max_lag: int = 5,
    ts_col: str = "ts",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Pearson cross-correlation of two integer count series at leads
    0..max_lag — the lead/lag discovery tool ("views today correlate
    with purchases k days later").  Input is the already-bucketed
    (ts, x, y) count table; all moment sums stay in exact integer
    arithmetic, so the only float ops are the two final sqrt's and one
    division — bit-identical on any engine.  Emits (lag, n, corr);
    corr is NULL for constant series (zero denominator).

    The lead window is a single global sort — the input is
    post-aggregate (one row per bucket), so the single-partition window
    is over a driver-trivial row count by construction; the heavy
    exchange happened in the upstream count aggregate."""
    w = Window.orderBy(ts_col)
    leads = daily.select(
        F.col(x_col).alias("x"),
        *[F.lead(y_col, l).over(w).alias(f"_y{l}") for l in range(max_lag + 1)],
    )
    u = leads.select(
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(l).alias("lag"), F.col(f"_y{l}").alias("y")
                    )
                    for l in range(max_lag + 1)
                ]
            )
        ).alias("_s"),
    ).select("x", F.col("_s.lag").alias("lag"), F.col("_s.y").alias("y"))
    m = (
        u.filter(F.col("y").isNotNull())
        .groupBy("lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    corr = F.expr(
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
    )
    return m.select("lag", F.col("n").cast("long").alias("n"), corr.alias("corr"))


def hysteresis_alerts(
    samples: DataFrame,
    hi: float,
    lo: float,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Alert-rule evaluation with hysteresis (fire at v >= hi, clear at
    v <= lo — the two-threshold rule every alerting system uses to stop
    flapping): per series, the number of alert episodes and the number
    of samples spent in the firing state.

    The state machine needs no sequential fold: a sample is a crossing
    EVENT (1 = fire, 0 = clear, NULL = no crossing), and the alert
    state at any row is simply the most recent non-null event —
    ``last(ev, ignorenulls)`` over a running frame.  Episode starts are
    state transitions via lag.  All integer arithmetic on ONE series
    exchange shared by both windows and the rollup."""
    w = Window.partitionBy(series_col).orderBy(ts_col)
    v = F.col(value_col)
    ev = F.when(v >= F.lit(float(hi)), F.lit(1)).when(
        v <= F.lit(float(lo)), F.lit(0)
    )
    st = F.coalesce(
        F.last(ev, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
        F.lit(0),
    )
    d = samples.select(F.col(series_col).alias("series"), F.col(ts_col).alias("ts"), st.alias("_st"))
    d = d.withColumn("_pst", F.lag("_st", 1, 0).over(Window.partitionBy("series").orderBy("ts")))
    return d.groupBy("series").agg(
        F.sum("_st").cast("long").alias("n_alert_samples"),
        F.sum(F.when((F.col("_st") == 1) & (F.col("_pst") != 1), 1).otherwise(0))
        .cast("long")
        .alias("n_episodes"),
    )


def sliding_group_aggregate(
    samples: DataFrame,
    width_ns: int,
    step_ns: int,
    origin_ns: int = 0,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Batch sliding-window aggregate (count/sum/min/max per series per
    overlapping window) — the batch twin of the streaming hopping
    window, which the reference's tumbling-only group-aggregate lacks.
    Each sample explodes into the width/step windows that cover it
    (map-side integer math, clamped at the origin), then ONE hash
    aggregate; requires width % step == 0.

    Exactness: window starts are exact int64; sums go through decimal.
    At 100 TB the fan-out factor IS width/step — keep it small (e.g.
    24h/6h = 4×) or pre-aggregate to step-sized tumbling buckets first
    (exact for count/sum/min/max) so the explode runs on buckets, not
    raw rows."""
    assert width_ns % step_ns == 0, "width must be a multiple of step"
    k = width_ns // step_ns
    # No window starts before the origin, and pre-origin samples belong
    # to no window — filter them so Spark's truncating `div` IS floor
    # division (negative offsets would otherwise round toward zero,
    # fabricating phantom windows and polluting window 0)
    samples = samples.filter(F.col(ts_col) >= F.lit(origin_ns))
    m_hi = F.expr(f"({ts_col} - {origin_ns}L) div {step_ns}L")
    m_lo = F.greatest(m_hi - F.lit(k - 1), F.lit(0).cast("long"))
    ws = F.explode(F.sequence(m_lo, m_hi)).alias("_m")
    d = samples.select(
        F.col(series_col).alias("series"),
        F.col(value_col).alias("_v"),
        ws,
    ).select(
        "series",
        (F.lit(origin_ns) + F.col("_m") * F.lit(step_ns)).alias("ts"),
        "_v",
    )
    return d.groupBy("series", "ts").agg(
        F.count("*").cast("long").alias("count"),
        F.expr("CAST(sum(CAST(_v AS DECIMAL(28,10))) AS DOUBLE)").alias("sum"),
        F.min("_v").alias("min"),
        F.max("_v").alias("max"),
    )
