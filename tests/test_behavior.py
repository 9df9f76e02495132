"""Behavior analytics: sessionize / funnel / retention / anomaly.

Semantics pinned on hand-computed inputs; plan shape pinned to ONE hash
exchange per operator (the whole point of the window formulation —
the reference has no analog, its events are scan-only,
stdb/query/queryparser.cc:317-329).
"""

import pytest

from stdb_spark.operators import behavior


def _events(spark, rows):
    """rows: (user, metric, ts)"""
    return spark.createDataFrame(
        [(u, m, int(ts)) for u, m, ts in rows],
        "u string, metric string, tu long",
    )


def _n_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def test_sessionize_gap_boundaries(spark):
    ev = _events(
        spark,
        [
            ("a", "x", 0),
            ("a", "x", 50),
            ("a", "x", 200),  # gap 150 > 100 -> new session
            ("a", "x", 260),
            ("b", "x", 10),  # other user independent
        ],
    )
    got = {
        (r.u, r.session_idx): (r.session_start, r.session_end, r.n_events)
        for r in behavior.session_stats(
            ev, user_col="u", ts_col="tu", gap=100
        ).collect()
    }
    assert got == {
        ("a", 0): (0, 50, 2),
        ("a", 1): (200, 260, 2),
        ("b", 0): (10, 10, 1),
    }


def test_sessionize_single_exchange(spark):
    ev = _events(spark, [("a", "x", 0), ("a", "x", 50)])
    stats = behavior.session_stats(ev, user_col="u", ts_col="tu", gap=100)
    assert _n_exchanges(stats) == 1


def test_funnel_strict_ordering(spark):
    # user a: full v->c->p; user b: click BEFORE view never counts;
    # user c: view only; user d: simultaneous click (ts equal) rejected
    # by the strict > rule.
    ev = _events(
        spark,
        [
            ("a", "view", 1),
            ("a", "click", 2),
            ("a", "purchase", 3),
            ("b", "click", 1),
            ("b", "view", 2),
            ("b", "purchase", 3),
            ("c", "view", 5),
            ("d", "view", 7),
            ("d", "click", 7),
        ],
    )
    stages = {
        r.u: r.stage
        for r in behavior.funnel_stages(
            ev, ["view", "click", "purchase"], user_col="u", ts_col="tu"
        ).collect()
    }
    # b never re-views after the early click, so the click can't count:
    # stage stays 1 (consecutive-from-step-1 semantics).
    assert stages == {"a": 3, "b": 1, "c": 1, "d": 1}
    counts = {
        r.stage_at_least: r.users
        for r in behavior.funnel_counts(
            ev, ["view", "click", "purchase"], user_col="u", ts_col="tu"
        ).collect()
    }
    assert counts == {1: 4, 2: 1, 3: 1}


def test_funnel_single_exchange(spark):
    ev = _events(spark, [("a", "view", 1), ("a", "click", 2)])
    stages = behavior.funnel_stages(
        ev, ["view", "click"], user_col="u", ts_col="tu"
    )
    assert _n_exchanges(stages) == 1


def test_retention_cohorts(spark):
    day = 10
    ev = _events(
        spark,
        [
            ("a", "x", 0),  # cohort 0
            ("a", "x", 12),  # day 1 -> offset 1
            ("a", "x", 15),  # same day, distinct'd away
            ("a", "x", 31),  # day 3
            ("b", "x", 12),  # cohort 1
            ("b", "x", 22),  # offset 1
        ],
    )
    got = {
        (r.cohort, r.period_offset): r.users
        for r in behavior.retention_cohorts(
            ev, user_col="u", ts_col="tu", period=day
        ).collect()
    }
    assert got == {(0, 0): 1, (0, 1): 1, (0, 3): 1, (1, 0): 1, (1, 1): 1}


def test_anomaly_zscore_flags_outlier_and_guards_flat(spark):
    df = spark.createDataFrame(
        [
            ("s1", 0, 1.0),
            ("s1", 1, 1.0),
            ("s1", 2, 1.0),
            ("s1", 3, 1.0),
            ("s1", 4, 1.0),
            ("s1", 5, 1.0),
            ("s1", 6, 1.0),
            ("s1", 7, 1.0),
            ("s1", 8, 1.0),
            ("s1", 9, 100.0),  # the outlier
            ("flat", 0, 5.0),  # constant series: zero variance, no flags
            ("flat", 1, 5.0),
        ],
        "series string, tu long, value double",
    )
    got = behavior.anomaly_zscore(
        df, series_col="series", ts_col="tu", value_col="value", threshold=2.0
    ).collect()
    assert [(r.series, r.tu, r.value) for r in got] == [("s1", 9, 100.0)]
    assert got[0].z > 2.0


def test_anomaly_single_exchange(spark):
    df = spark.createDataFrame(
        [("s1", 0, 1.0), ("s1", 1, 2.0)], "series string, tu long, value double"
    )
    out = behavior.anomaly_zscore(
        df, series_col="series", ts_col="tu", value_col="value"
    )
    assert _n_exchanges(out) == 1


# ------------------------------------------------------- M4 downsample
def test_m4_anchors_hand_computed(spark):
    from stdb_spark.operators import downsample

    df = spark.createDataFrame(
        [
            ("s", 0, 5.0),
            ("s", 3, 1.0),   # min of bucket 0
            ("s", 7, 9.0),   # max of bucket 0
            ("s", 5, 1.0),   # equal to the min, later: min_ts stays 3
            ("s", 9, 4.0),   # same ts as the next row, smaller value
            ("s", 9, 6.0),   # last of bucket 0: the larger value at ts 9
            ("s", 12, 2.0),  # bucket 1 single sample = all four anchors
        ],
        "series string, ts long, value double",
    )
    rows = {
        r.bk: r
        for r in downsample.m4(df, 0, 20, 10, series_col="series").collect()
    }
    b0 = rows[0]
    assert (b0.first_ts, b0.first_v) == (0, 5.0)
    assert (b0.min_v, b0.min_ts) == (1.0, 3)
    assert (b0.max_v, b0.max_ts) == (9.0, 7)
    assert (b0.last_ts, b0.last_v) == (9, 6.0)
    b1 = rows[1]
    assert (b1.first_ts, b1.first_v) == (12, 2.0)
    assert (b1.min_v, b1.max_v, b1.last_v) == (2.0, 2.0, 2.0)


def test_m4_single_exchange_with_partial_agg(spark):
    from stdb_spark.operators import downsample

    df = spark.createDataFrame(
        [("s", 0, 5.0), ("s", 3, 1.0)], "series string, ts long, value double"
    )
    out = downsample.m4(df, 0, 20, 10, series_col="series")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan or "HashAggregate" in plan


def test_lttb_pins_endpoints_and_picks_spike(spark):
    from stdb_spark.operators import downsample

    # 20-point ramp with one spike at ts=13; n_out=5 must keep both
    # endpoints and the spike (it dominates any triangle in its bucket).
    pts = [("s", t, float(t)) for t in range(20)]
    pts[13] = ("s", 13, 500.0)
    df = spark.createDataFrame(pts, "series string, ts long, value double")
    got = downsample.lttb(df, 5, series_col="series").collect()
    ts = sorted(r.ts for r in got)
    assert len(got) == 5
    assert ts[0] == 0 and ts[-1] == 19
    assert 13 in ts
    # short series pass through untouched
    small = spark.createDataFrame(
        [("s", 0, 1.0), ("s", 1, 2.0)], "series string, ts long, value double"
    )
    assert downsample.lttb(small, 5, series_col="series").count() == 2


def test_funnel_conversion_window(spark):
    # user a converts fully within the window; user b's purchase falls
    # outside `within` of the first view -> stage 2.
    ev = _events(
        spark,
        [
            ("a", "view", 0),
            ("a", "click", 5),
            ("a", "purchase", 9),
            ("b", "view", 0),
            ("b", "click", 5),
            ("b", "purchase", 30),
        ],
    )
    stages = {
        r.u: r.stage
        for r in behavior.funnel_stages(
            ev,
            ["view", "click", "purchase"],
            user_col="u",
            ts_col="tu",
            within=10,
        ).collect()
    }
    assert stages == {"a": 3, "b": 2}


def test_peak_concurrency_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    iv = []
    for i in range(60):
        s = rng.randrange(0, 300)
        iv.append((i, s, s + rng.randrange(0, 80)))
    df = spark.createDataFrame(iv, "id long, session_start long, session_end long")
    got = {
        r.bucket_start: r.peak
        for r in behavior.peak_concurrency(df, bucket=100).collect()
    }
    # brute force: running sum over all boundary deltas in global order,
    # peak per bucket of the boundary instant
    deltas = sorted(
        [(s, 1) for _, s, e in iv] + [(e + 1, -1) for _, s, e in iv],
        key=lambda p: (p[0], p[1]),
    )
    run, want = 0, {}
    for t, d in deltas:
        run += d
        b = (t // 100) * 100
        want[b] = max(want.get(b, -1), run)
    assert got == want


def test_peak_concurrency_single_interval(spark):
    df = spark.createDataFrame(
        [(1, 10, 10)], "id long, session_start long, session_end long"
    )
    out = behavior.peak_concurrency(df, bucket=100).collect()
    # +1 at t=10, -1 at t=11: peak 1 in the only bucket
    assert {(r.bucket_start, r.peak) for r in out} == {(0, 1)}


def test_decimate_stride(spark):
    from stdb_spark.operators import downsample

    rows = [("s", t, float(t)) for t in range(10)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    kept = sorted(
        r.ts for r in downsample.decimate(df, n=3, series_cols=("series",)).collect()
    )
    assert kept == [0, 3, 6, 9]
    import pytest

    with pytest.raises(ValueError):
        downsample.decimate(df, n=0)


def test_autocorrelation_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    x = np.sin(np.arange(50) * (2 * np.pi / 8)) * 3 + rng.normal(0, 0.1, 50)
    rows = [("s", t, float(v)) for t, v in enumerate(x)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {
        r.lag: (r.n, r.acf)
        for r in behavior.autocorrelation(df, max_lag=8).collect()
    }
    for L in range(1, 9):
        a, b = x[L:], x[:-L]
        want = float(np.corrcoef(a, b)[0, 1])
        n, acf = out[L]
        assert n == 50 - L
        # the engine quantizes inputs to DECIMAL(28,10) (cross-engine
        # exactness), so vs float64 numpy expect ~1e-7 agreement
        assert abs(acf - want) < 1e-6, (L, acf, want)
    # a period-8 sine autocorrelates strongly at its own period,
    # anti-correlates at the half period
    assert out[8][1] > 0.9 and out[4][1] < -0.9
    import pytest

    with pytest.raises(ValueError):
        behavior.autocorrelation(df, max_lag=0)


def test_seasonal_decompose_recovers_components(spark):
    import numpy as np

    m = 5
    season = [2.0, -1.0, 0.5, -2.0, 0.5]  # sums to 0
    x = [10.0 + 0.5 * i + season[i % m] for i in range(40)]
    rows = [("s", t, v) for t, v in enumerate(x)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = sorted(behavior.seasonal_decompose(df, period=m).collect(),
                 key=lambda r: r.ts)
    # edges (first/last half-window) have no trend
    assert out[0].trend is None and out[-1].trend is None
    mid = [r for r in out if r.trend is not None]
    # centered MA of a linear+zero-sum-seasonal signal IS the linear part
    for r in mid:
        assert abs(r.trend - (10.0 + 0.5 * r.ts)) < 1e-9
        # additive identity holds exactly where defined
        assert abs((r.trend + r.seasonal + r.residual) - r.value) < 1e-9
        # recovered seasonal ~ the planted one (centering offset is 0
        # here because the planted season sums to zero)
        assert abs(r.seasonal - season[r.ts % m]) < 0.2
    import pytest

    with pytest.raises(ValueError):
        behavior.seasonal_decompose(df, period=4)


def test_changepoints_flag_level_shift_only(spark):
    # flat at 0 for 30 samples, then a +10 level shift: PH must stay
    # silent before the shift and fire shortly after it
    x = [0.0] * 30 + [10.0] * 30
    rows = [("s", t, v) for t, v in enumerate(x)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = sorted(
        r.ts
        for r in behavior.changepoints_page_hinkley(df, threshold=20.0).collect()
    )
    assert got and min(got) >= 30  # nothing flagged before the shift
    assert min(got) <= 40  # detected within a few samples
    # a shift-free series never fires
    flat = spark.createDataFrame(
        [("s", t, 1.0) for t in range(50)], "series string, ts long, value double"
    )
    assert behavior.changepoints_page_hinkley(flat, threshold=1.0).count() == 0


def test_series_quality_profile_hand_computed(spark):
    rows = [
        ("a", 0, 1.0),
        ("a", 10, None),
        ("a", 10, 2.0),  # duplicate timestamp
        ("a", 40, 3.0),
        ("b", 5, 9.0),  # single-sample series: no gaps
    ]
    df = spark.createDataFrame(rows, "series string, tu long, value double")
    out = {
        r.series: r
        for r in behavior.series_quality_profile(
            df, series_cols=("series",), ts_col="tu"
        ).collect()
    }
    a = out["a"]
    assert (a.n_samples, a.n_null_values, a.n_duplicate_ts) == (4, 1, 1)
    assert (a.first_ts, a.last_ts, a.max_gap) == (0, 40, 30)
    assert abs(a.mean_gap - (10 + 0 + 30) / 3) < 1e-12
    b = out["b"]
    # single-sample series: no gaps exist, so gap stats are NULL (not 0)
    assert b.n_samples == 1 and b.max_gap is None and b.mean_gap is None


def test_trapezoid_integral_hand_computed(spark):
    from stdb_spark.operators.behavior import trapezoid_integral

    S = 1_000_000_000  # 1s in ns
    rows = [
        # series A: samples at t=0,10,20 s, values 1,3,5
        ("A", 0 * S, 1.0),
        ("A", 10 * S, 3.0),
        ("A", 20 * S, 5.0),
        # series A, next bucket (bucket=30s): pair (20s,35s) spans the
        # boundary and belongs wholly to the right endpoint's bucket
        ("A", 35 * S, 1.0),
        # series B: single sample -> no pairs -> absent
        ("B", 5 * S, 9.0),
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {
        (r.series, r.ts): (r.integral, r.twa)
        for r in trapezoid_integral(df, 30 * S, origin_ns=0).collect()
    }
    # bucket 0: (1+3)/2*10 + (3+5)/2*10 = 20 + 40 = 60; twa = 60/20 = 3
    assert out[("A", 0)][0] == pytest.approx(60.0)
    assert out[("A", 0)][1] == pytest.approx(3.0)
    # bucket 30s: (5+1)/2*15 = 45; twa = 45/15 = 3
    assert out[("A", 30 * S)][0] == pytest.approx(45.0)
    assert out[("A", 30 * S)][1] == pytest.approx(3.0)
    assert ("B", 0) not in out and len(out) == 2


def test_mad_outliers_flags_spike_not_flat(spark):
    from stdb_spark.operators.behavior import mad_outliers

    rows = [("s", float(v)) for v in [10, 11, 9, 10, 12, 10, 9, 11, 10, 500]]
    rows += [("flat", 7.0)] * 6
    df = spark.createDataFrame(rows, "series string, value double")
    got = {r.series: r for r in mad_outliers(df).collect()}
    assert got["s"].median == pytest.approx(10.0)
    assert got["s"].n_outliers == 1  # only the 500 spike
    assert got["s"].n == 10
    # constant series: MAD 0, dev 0 -> nothing beyond the threshold
    assert got["flat"].n_outliers == 0 and got["flat"].mad == 0.0


def test_bollinger_hand_computed(spark):
    from stdb_spark.operators.behavior import bollinger_bands

    rows = [("s", t, v) for t, v in [(1, 1.0), (2, 3.0), (3, 2.0), (4, 100.0)]]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = {r.ts: r for r in bollinger_bands(df, width=3, k=2.0).collect()}
    # t=3: window {1,3,2}: mean 2, var ((14)-36/3)/3 = 2/3
    assert got[3].mean == pytest.approx(2.0)
    assert got[3].sd == pytest.approx((2.0 / 3.0) ** 0.5)
    assert not got[3].breakout
    # t=4: window {3,2,100}: mean 35, sd huge but 100 > mean+2sd?
    # var = ((9+4+10000) - 105^2/3)/3 = (10013 - 3675)/3 = 2112.67
    assert got[4].mean == pytest.approx(35.0)
    assert got[4].breakout == (100.0 > 35.0 + 2.0 * got[4].sd)
    # warm-up row uses n=1: sd 0, value == mean, no breakout
    assert got[1].sd == 0.0 and not got[1].breakout


def test_error_budget_burn_hand_computed(spark):
    from stdb_spark.operators.behavior import error_budget_burn

    B = 100
    rows = [
        # user a: bucket0 -> 1 err / 2 events, bucket1 -> 0 err / 2
        ("a", "error", 10), ("a", "click", 20),
        ("a", "click", 110), ("a", "view", 120),
        # user b: no errors at all -> burn NULL
        ("b", "click", 10), ("b", "view", 130),
    ]
    df = spark.createDataFrame(rows, "user string, metric string, ts long")
    out = {(r.user, r.ts): r for r in error_budget_burn(df, B, 0).collect()}
    # a overall: 1 err / 4 events = 0.25; bucket0 ratio 0.5 -> burn 2.0
    assert out[("a", 0)].burn == pytest.approx(2.0)
    assert out[("a", 100)].burn == pytest.approx(0.0)
    assert out[("b", 0)].burn is None and out[("b", 100)].burn is None
    assert out[("a", 0)].n == 2 and out[("a", 0)].n_err == 1


def test_hour_of_week_profile_phases(spark):
    from stdb_spark.operators.behavior import hour_of_week_profile

    H = 3_600_000_000_000  # 1h in ns
    rows = [
        ("m", 0 * H, 2.0),        # how 0
        ("m", 168 * H, 4.0),      # how 0 again (next week)
        ("m", 5 * H, 7.0),        # how 5
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = {(r.series, r.how): (r.n, r.mean_value)
           for r in hour_of_week_profile(df).collect()}
    assert got == {("m", 0): (2, 3.0), ("m", 5): (1, 7.0)}


def test_subsequence_distance_profile_finds_planted_shape(spark):
    from stdb_spark.operators.behavior import subsequence_distance_profile

    pat = [1.0, 2.0, 3.0]
    vals = [9.0, 9.0, 1.0, 2.0, 3.0, 9.0]  # exact match ends at ts=4
    rows = [("s", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = {r.ts: r.dist2 for r in
           subsequence_distance_profile(df, pat).collect()}
    # windows need 3 samples: ts 0,1 are incomplete and absent
    assert set(got) == {2, 3, 4, 5}
    assert got[4] == 0.0
    assert min(got, key=got.get) == 4


def test_seasonal_naive_backtest_hand_computed(spark):
    from stdb_spark.operators.behavior import seasonal_naive_backtest

    vals = [10.0, 20.0, 12.0, 18.0]  # lag 2: errors |12-10|=2, |18-20|=2
    rows = [("s", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = seasonal_naive_backtest(df, 2).collect()[0]
    assert got.n_eval == 2
    assert got.mae == pytest.approx(2.0)
    assert got.mape == pytest.approx((2 / 12 + 2 / 18) / 2)


def test_dtw_pairs_elastic_match(spark):
    from stdb_spark.operators.dtw import dtw_pairs, series_profiles

    rows = (
        [("a", t, v) for t, v in enumerate([0.0, 1.0, 2.0, 1.0, 0.0])]
        # b = a shifted by one step: DTW absorbs the shift cheaply
        + [("b", t, v) for t, v in enumerate([0.0, 0.0, 1.0, 2.0, 1.0])]
        # c = flat line, genuinely far from both
        + [("c", t, 5.0) for t in range(5)]
    )
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    prof = series_profiles(df)
    got = {(r.a, r.b): r.dtw for r in dtw_pairs(prof, band=2).collect()}
    assert got[("a", "b")] < got[("a", "c")]
    assert got[("a", "b")] < got[("b", "c")]
    # identical profiles -> zero distance
    dup = spark.createDataFrame(
        [("x", 0, 1.0), ("x", 1, 2.0), ("y", 0, 1.0), ("y", 1, 2.0)],
        "series string, ts long, value double",
    )
    z = dtw_pairs(series_profiles(dup)).collect()[0]
    assert z.dtw == 0.0


def test_lagged_cross_correlation_detects_planted_lead(spark):
    from stdb_spark.operators.behavior import lagged_cross_correlation

    import random

    rnd = random.Random(11)
    x = [rnd.randint(10, 100) for _ in range(30)]
    # y follows x with a 2-step delay (+ tiny noise-free offset)
    y = [0, 0] + [v + 3 for v in x[:-2]]
    rows = [(t, x[t], y[t]) for t in range(30)]
    df = spark.createDataFrame(rows, "ts long, x long, y long")
    got = {r.lag: r.corr for r in lagged_cross_correlation(df, max_lag=4).collect()}
    assert got[2] == pytest.approx(1.0)
    assert all(got[l] < 0.99 for l in got if l != 2)


def test_misra_gries_guarantee_and_heavy_hitter_recovery(spark):
    from stdb_spark.operators.sketch import misra_gries_topk

    import random

    rnd = random.Random(5)
    # one heavy item at ~30%, the rest spread thin over 200 items
    items = ["hot"] * 300 + [f"i{rnd.randint(0, 199)}" for _ in range(700)]
    rnd.shuffle(items)
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(4)
    got = {r.item: r.est_count for r in misra_gries_topk(df, "item", k=20).collect()}
    n = len(items)
    true_hot = 300
    assert "hot" in got  # freq 30% >> n/(k+1): guaranteed present
    # one-sided guarantee: estimate never exceeds the true count and is
    # within n/(k+1) per partition-phase (4 partitions share the slack)
    assert got["hot"] <= true_hot
    assert got["hot"] >= true_hot - n // (20 + 1) - 4
    assert max(got, key=got.get) == "hot"


def test_hysteresis_alerts_state_machine(spark):
    from stdb_spark.operators.behavior import hysteresis_alerts

    # fire at >= 10, clear at <= 5; values walk through two episodes
    vals = [1.0, 11.0, 8.0, 12.0, 4.0, 6.0, 10.0, 3.0]
    #        0    1fire 1hold 1hold 0clr  0     1fire 0clr  -> 2 episodes, 4 firing samples
    rows = [("s", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = hysteresis_alerts(df, hi=10.0, lo=5.0).collect()[0]
    assert got.n_episodes == 2
    assert got.n_alert_samples == 4


def test_sliding_group_aggregate_overlap(spark):
    from stdb_spark.operators.behavior import sliding_group_aggregate

    # width 20, step 10: each sample lands in 2 windows (clamped at 0);
    # pre-origin samples belong to NO window (truncating-div vs floor
    # regression guard: they must not fabricate negative windows or
    # pollute window 0)
    rows = [("s", 5, 1.0), ("s", 15, 3.0), ("s", 25, 5.0),
            ("s", -5, 99.0), ("s", -25, 98.0)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    got = {r.ts: (r["count"], r["sum"], r["min"], r["max"])
           for r in sliding_group_aggregate(df, 20, 10).collect()}
    # window 0 [0,20): samples 5,15; window 10 [10,30): 15,25; window 20: 25
    assert got[0] == (2, 4.0, 1.0, 3.0)
    assert got[10] == (2, 8.0, 3.0, 5.0)
    assert got[20] == (1, 5.0, 5.0, 5.0)
    assert set(got) == {0, 10, 20}


def test_pagerank_exact_matches_integer_model(spark):
    from stdb_spark.operators import graph

    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
        ("b", "c"), ("d", "a"),
    ]
    got = {
        r.node: r.pr
        for r in graph.pagerank_exact(
            spark.createDataFrame(edges, "src string, dst string"),
            iterations=4,
        ).collect()
    }
    # pure-Python replica of the integer fixed-point spec
    S = graph.SCALE
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    tele = (S * 15) // (100 * n)
    pr = {v: S // n for v in nodes}
    for _ in range(4):
        nxt = {v: tele for v in nodes}
        for s, d in edges:
            nxt[d] += (pr[s] * 85) // (100 * outdeg[s])
        pr = nxt
    assert got == pr
    # 'd' is dangling-fed only by teleport after its mass drains
    assert pr["a"] == max(pr.values())


def test_pagerank_single_task_and_distributed_bit_equal(spark, monkeypatch):
    """The size-dispatched regimes (single-task numpy kernel vs the
    distributed join+aggregate loop) share one integer spec — outputs
    must be bit-equal on the same graph."""
    from stdb_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
         ("b", "a"), ("e", "a")],
        "src string, dst string",
    )
    kernel = {
        r.node: r.pr
        for r in graph.pagerank_exact(edges, iterations=6).collect()
    }
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    dist = {
        r.node: r.pr
        for r in graph.pagerank_exact(edges, iterations=6).collect()
    }
    assert kernel == dist and len(kernel) == 5


def test_pagerank_early_exit_is_exact(spark):
    """Early exit fires only on consecutive-round bit equality (a true
    integer fixed point), so high-iteration runs with and without it
    are identical — and both equal the converged fixed point."""
    from stdb_spark.operators import graph

    # a 4-ring converges to an exact uniform fixed point quickly
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    fast = {
        r.node: r.pr
        for r in graph.pagerank_exact(
            edges, iterations=200, early_exit=True
        ).collect()
    }
    slow = {
        r.node: r.pr
        for r in graph.pagerank_exact(
            edges, iterations=200, early_exit=False
        ).collect()
    }
    assert fast == slow
    # converged value: pr = tele + 85*pr//100 fixed point, uniform
    assert len(set(fast.values())) == 1


def test_peak_concurrency_adjacent_intervals_not_concurrent(spark):
    # A=[0,10] is inclusive through 10, B=[11,20] starts as A expires:
    # never simultaneously active — the -1 at t=11 folds before B's +1
    df = spark.createDataFrame(
        [(1, 0, 10), (2, 11, 20)],
        "id long, session_start long, session_end long",
    )
    out = behavior.peak_concurrency(df, bucket=100).collect()
    assert {(r.bucket_start, r.peak) for r in out} == {(0, 1)}


def test_pagerank_kernel_preserves_long_node_ids(spark, monkeypatch):
    """The single-task kernel output schema follows the caller's node
    type — long-keyed graphs under the threshold must not crash Arrow
    conversion (the distributed path always preserved the type)."""
    from stdb_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1)], "src long, dst long"
    )
    got = {r.node: r.pr for r in graph.pagerank_exact(edges, iterations=3).collect()}
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    dist = {
        r.node: r.pr for r in graph.pagerank_exact(edges, iterations=3).collect()
    }
    assert got == dist and set(got) == {1, 2, 3}


def test_pagerank_kernel_drops_null_edges_like_distributed(spark, monkeypatch):
    """ADVICE r6: factorize codes null as -1, which would index the
    LAST node via numpy negative indexing.  Null endpoints must be
    dropped in the kernel exactly as the distributed joins drop them —
    bit-equality across regimes includes null-containing edge lists."""
    from stdb_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), (None, "a"), ("b", None), (None, None)],
        "src string, dst string",
    )
    kernel = {
        r.node: r.pr for r in graph.pagerank_exact(edges, iterations=4).collect()
    }
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    dist = {
        r.node: r.pr for r in graph.pagerank_exact(edges, iterations=4).collect()
    }
    assert kernel == dist
    assert set(kernel) == {"a", "b"}


def test_cms_overestimates_one_sided_and_bounded(spark):
    """Portable Count-Min: estimates never undercount (min over d
    counters each >= the true count), the counter table is bounded by
    d*w rows, and the top-10 ranking surfaces the true heaviest
    series."""
    from pyspark.sql import functions as F2

    from stdb_spark import model
    from stdb_spark.operators import sketch
    from stdb_spark.workloads import QUERIES

    sf = "/root/testdata/sf0.01"
    items = model.events_as_samples(spark, sf).select(
        F2.concat(
            F2.col("metric"), F2.lit(" user="), F2.col("tags")["user"]
        ).alias("series")
    )
    counters = sketch.cms_counters(items, "series", 4, 512)
    assert counters.count() <= 4 * 512
    exact = items.groupBy("series").agg(F2.count("*").alias("n"))
    est = sketch.cms_estimate(counters, exact, "series", 4, 512)
    bad = est.join(exact, "series").filter(F2.col("cm_est") < F2.col("n"))
    assert bad.count() == 0
    top = QUERIES["ts_heavy_hitters_cms"](spark, sf).collect()
    assert len(top) == 10
    for r in top:
        assert r.cm_est >= r.n


def test_cms_estimate_unseen_candidate_estimates_zero(spark):
    """ADVICE r7: probing an item that never appeared in the counted
    stream returns 0 (its counters were never incremented), instead of
    dropping the probe row or min-ing over a partial counter set."""
    from stdb_spark.operators import sketch

    counted = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3, "series string"
    )
    counters = sketch.cms_counters(counted, "series", 4, 512)
    cand = spark.createDataFrame(
        [("a",), ("never-seen-item",)], "series string"
    )
    est = {
        r.series: r.cm_est
        for r in sketch.cms_estimate(counters, cand, "series", 4, 512).collect()
    }
    assert est["a"] >= 5
    assert "never-seen-item" in est
    assert est["never-seen-item"] == 0


def test_triangle_count_k4_and_path(spark):
    from stdb_spark.operators.graph import triangle_count_exact

    # K4: 4 triangles, C(4,2)=6 edges, every vertex deg 3 -> 12 wedges,
    # global clustering coefficient 3*4/12 = 1.0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "a long, b long"
    )
    row = triangle_count_exact(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        4, 6, 12, 4,
    )
    assert row.closure_ratio == 1.0
    # path 0-1-2-3: no triangles, 2 wedges
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "a long, b long")
    row = triangle_count_exact(path).collect()[0]
    assert (row.n_triangles, row.n_wedges) == (0, 2)
    assert row.closure_ratio == 0.0


def test_triangle_count_hub_star_plus_one(spark):
    from stdb_spark.operators.graph import triangle_count_exact

    # star hub 0 with leaves 1..5 plus one leaf-leaf edge (1,2):
    # exactly one triangle regardless of hub degree — exercises the
    # orientation (hub is the HIGH-degree endpoint, so wedges never
    # enumerate at the hub)
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(edges, "a long, b long")
    row = triangle_count_exact(df).collect()[0]
    assert row.n_triangles == 1


def test_triangle_kernel_matches_distributed_plan(spark, monkeypatch):
    """The single-task numpy census (size dispatch) must agree with the
    distributed wedge-join plan on every output column — pinned on a
    deterministic pseudo-random graph with hubs, ties and isolated-pair
    structure (r11 optimization: the kernel path is new)."""
    from stdb_spark.operators import graph

    edges = sorted(
        {
            (min(a, b), max(a, b))
            for k in range(900)
            for a, b in [((k * k * 7 + 3) % 60, (k * 13 + 5) % 60)]
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "a long, b long")
    via_kernel = graph.triangle_count_exact(df).collect()[0]
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    via_plan = graph.triangle_count_exact(df).collect()[0]
    assert via_kernel == via_plan
    assert via_kernel.n_edges == len(edges)


def test_mmr_prefers_diverse_over_redundant(spark):
    from stdb_spark.functions import similarity

    # q = [1, 0]; a and a' are near-duplicates highly relevant, b is
    # diverse.  Pure relevance ranks (a, a', b); at lam=0.3 the
    # diversity term dominates and MMR must pick b second.  (lam=0.5
    # with q collinear to the top pick degenerates to exact 0.0 score
    # ties for every candidate — any assertion there would only pin
    # the tie-break.)
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.04]),
        (3, [0.5, 0.86]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.mmr_select(
        df, [1.0, 0.0], k=3, pool_n=3, lam=0.3
    ).collect()
    order = [r.vec_id for r in sorted(out, key=lambda r: r.pick_rank)]
    assert order == [1, 3, 2]


def test_audio_silence_known_runs(spark):
    import numpy as np

    from stdb_spark.functions import multimodal as mm

    # 10 loud, 5 silent, 3 loud, 2 silent (below min_run), 4 silent
    pcm = np.concatenate(
        [
            np.full(10, 3000, dtype=np.int16),
            np.zeros(5, dtype=np.int16),
            np.full(3, -3000, dtype=np.int16),
            np.zeros(2, dtype=np.int16),
            np.full(1, 2000, dtype=np.int16),
            np.zeros(4, dtype=np.int16),
        ]
    )
    payload = mm.encode_wav(pcm, rate=8000)
    df = spark.createDataFrame(
        [(0, "audio", "audio/wav", 0, 0, 0, bytearray(payload))],
        mm.MEDIA_SCHEMA,
    )
    row = mm.extract_audio_silence(df, threshold=1000, min_run=3).collect()[0]
    assert (row.n_silent, row.n_runs, row.longest_run) == (11, 2, 5)
    assert row.silence_frac == 11 / 25


def test_image_tiles_constant_quadrants(spark):
    import numpy as np

    from stdb_spark.functions import multimodal as mm

    # 4x4 image with constant quadrants 10/20/30/40: each 2x2 tile's
    # mean/min/max must equal its constant
    img = np.array(
        [
            [10, 10, 20, 20],
            [10, 10, 20, 20],
            [30, 30, 40, 40],
            [30, 30, 40, 40],
        ],
        dtype=np.uint8,
    )
    payload = mm.encode_png(img)
    df = spark.createDataFrame(
        [(0, "image", "image/png", 4, 4, 0, bytearray(payload))],
        mm.MEDIA_SCHEMA,
    )
    rows = mm.extract_image_tiles(df, 2, 2).collect()
    got = {(r.tile_y, r.tile_x): (r.mean_px, r.min_px, r.max_px, r.n_px) for r in rows}
    assert got == {
        (0, 0): (10.0, 10, 10, 4),
        (0, 1): (20.0, 20, 20, 4),
        (1, 0): (30.0, 30, 30, 4),
        (1, 1): (40.0, 40, 40, 4),
    }


def test_mmr_pool_smaller_than_k(spark):
    """Fewer rows than min(k, pool_n): the selection loop is bounded
    by the actual pool (r8 advice — it used to unpack best=None)."""
    from stdb_spark.functions import similarity

    rows = [(1, [1.0, 0.0]), (2, [0.5, 0.86])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.mmr_select(df, [1.0, 0.0], k=8, pool_n=64).collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.pick_rank)] == [1, 2]


def test_mmr_empty_input(spark):
    from stdb_spark.functions import similarity

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.mmr_select(df, [1.0, 0.0], k=4, pool_n=8)
    assert out.count() == 0
    assert out.columns == ["pick_rank", "vec_id", "rel", "score"]


def test_binary_quantize_rejects_dim_over_64(spark):
    """One long per vector is the contract: JVM shiftleft wraps the
    shift amount mod 64, so dim > 64 must fail loudly (r8 advice)."""
    import pytest

    from pyspark.sql import functions as F

    from stdb_spark.functions import similarity

    with pytest.raises(ValueError):
        similarity.binary_quantize_expr(F.col("v"), 65)
    df = spark.createDataFrame([(1, [0.1] * 65)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.ann_binary_top_k(df, [0.1] * 65, k=1)


def test_triangle_count_empty_edges(spark):
    """Wedge-free degenerate case: closure_ratio is 0.0 (not NULL or
    inf) — the convention the DuckDB oracle now mirrors with a CASE
    guard (r8 advice)."""
    from stdb_spark.operators.graph import triangle_count_exact

    df = spark.createDataFrame([], "a long, b long")
    row = triangle_count_exact(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (0, 0, 0, 0)
    assert row.closure_ratio == 0.0


def test_pagerank_cluster_loop_bit_equal_to_kernel(spark, monkeypatch):
    """The cluster-scale loop (ranks hash-joined against the
    src-partitioned cached edge list, checkpointed every 2 rounds) is
    bit-equal to the single-task kernel on the same graph."""
    from stdb_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
         ("b", "a"), ("e", "a")],
        "src string, dst string",
    )
    kernel = {
        r.node: r.pr
        for r in graph.pagerank_exact(edges, iterations=6).collect()
    }
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "BROADCAST_RANKS_MAX_NODES", 0)
    cluster = {
        r.node: r.pr
        for r in graph.pagerank_exact(edges, iterations=6).collect()
    }
    assert cluster == kernel and len(kernel) == 5


def test_triangle_count_drops_null_endpoints(spark, monkeypatch):
    """Edges with a null endpoint are dropped before either regime sees
    the graph: kernel and distributed plan return the same row, equal
    to the census of the graph without the null rows — for long ids
    and for string ids."""
    from stdb_spark.operators import graph

    cases = {
        "a long, b long": [(0, 1), (0, 2), (1, 2), (2, 3), (3, None),
                           (None, 4), (None, None)],
        "a string, b string": [("p", "q"), ("p", "r"), ("q", "r"),
                               ("r", "s"), ("s", None), (None, "t")],
    }

    def census(rows, schema):
        df = spark.createDataFrame(rows, schema)
        return graph.triangle_count_exact(df).collect()[0]

    kernel = {s: census(rows, s) for s, rows in cases.items()}
    clean = {
        s: census([r for r in rows if None not in r], s)
        for s, rows in cases.items()
    }
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    dist = {s: census(rows, s) for s, rows in cases.items()}
    for s in cases:
        assert kernel[s] == dist[s] == clean[s]
        # a triangle plus one pendant edge: degrees 2, 2, 3, 1
        assert tuple(kernel[s]) == (4, 4, 5, 1, 0.6)


def test_graph_kernel_error_releases_edge_cache(spark, monkeypatch):
    """A kernel that raises must not leave the operator's edge list
    cached: the release runs in ``finally`` for all four operators.
    Counted as RDDs that hold cached blocks; a failed eager
    localCheckpoint registers its own RDD as persistent before its job
    runs, but that RDD never holds a block."""
    from stdb_spark.functions import dedup
    from stdb_spark.operators import graph

    def failing_factory(*args):
        def fn(batches):
            raise RuntimeError("kernel failed")
            yield

        return fn

    pairs = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long")
    directed = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    cases = [
        (graph, "_pagerank_single_task_kernel",
         lambda: graph.pagerank_exact(directed)),
        (graph, "_lpa_single_task_kernel",
         lambda: graph.label_propagation_exact(pairs)),
        (graph, "_triangle_single_task_kernel",
         lambda: graph.triangle_count_exact(pairs)),
        (dedup, "_cc_single_task_kernel",
         lambda: dedup.connected_components(pairs)),
    ]
    jsc = spark.sparkContext._jsc

    def cached_rdds():
        return len(jsc.sc().getRDDStorageInfo())

    for module, factory, run in cases:
        with monkeypatch.context() as m:
            m.setattr(module, factory, failing_factory)
            before = cached_rdds()
            with pytest.raises(Exception, match="kernel failed"):
                run().collect()
            assert cached_rdds() <= before, factory
