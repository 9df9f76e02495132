"""aggregate / group-aggregate — mirrors column_store_test.cc:469-829
(sums vs closed form, begin-aligned buckets, HAVING)."""

import pytest

from stdb_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark, dense_ramp):
    return Engine(spark, samples=dense_ramp)


def closed_sum(lo, hi):  # sum of 0.1*ts for ts in [lo, hi)
    return 0.1 * (hi - 1 + lo) * (hi - lo) / 2


def test_aggregate_sum_vs_closed_form(eng):
    out = eng.query(
        {
            "aggregate": {"test": "sum"},
            "range": {"from": 100, "to": 1000},
            "where": {"tag": "T2"},
        }
    ).collect()
    assert len(out) == 1
    assert out[0].series == "test:sum tag=T2"
    assert abs(out[0].value - closed_sum(100, 1000)) < 1e-6


def test_aggregate_all_funcs(eng):
    funcs = [
        "min", "max", "sum", "count", "mean", "first", "last",
        "min_timestamp", "max_timestamp", "first_timestamp", "last_timestamp",
    ]
    out = eng.query(
        {
            "aggregate": {"test": funcs},
            "range": {"from": 200, "to": 300},
            "where": {"tag": "T0"},
        }
    ).collect()
    got = {r.series.split(" ")[0]: r.value for r in out}
    assert got["test:min"] == pytest.approx(20.0)
    assert got["test:max"] == pytest.approx(29.9)
    assert got["test:count"] == 100.0
    assert got["test:mean"] == pytest.approx(closed_sum(200, 300) / 100)
    assert got["test:first"] == pytest.approx(20.0)
    assert got["test:last"] == pytest.approx(29.9)
    assert got["test:min_timestamp"] == 200.0
    assert got["test:max_timestamp"] == 299.0
    assert got["test:first_timestamp"] == 200.0
    assert got["test:last_timestamp"] == 299.0


def test_aggregate_backward_swaps_first_last(eng):
    out = eng.query(
        {
            "aggregate": {"test": ["first", "last", "first_timestamp"]},
            "range": {"from": 300, "to": 200},
            "where": {"tag": "T0"},
        }
    ).collect()
    got = {r.series.split(" ")[0]: r.value for r in out}
    # backward range (200, 300] scanned desc: first = ts 300
    assert got["test:first"] == pytest.approx(30.0)
    assert got["test:last"] == pytest.approx(20.1)
    assert got["test:first_timestamp"] == 300.0


def test_aggregate_no_range_is_full_history(eng):
    out = eng.query({"aggregate": {"test": "count"}, "where": {"tag": "T1"}}).collect()
    assert out[0].value == 900.0


def test_aggregate_multi_series_ordering(eng):
    out = eng.query(
        {"aggregate": {"test": "count"}, "where": {"tag": ["T3", "T1", "T2"]}}
    ).collect()
    assert [r.series for r in out] == [
        "test:count tag=T1",
        "test:count tag=T2",
        "test:count tag=T3",
    ]


def test_group_aggregate_begin_aligned_buckets(eng):
    # begin=103 is NOT a multiple of step=10 -> buckets [103,113), ...
    out = eng.query(
        {
            "group-aggregate": {"step": "25", "metric": "test", "func": ["count", "sum", "min", "max"]},
            "range": {"from": 103, "to": 178},
            "where": {"tag": "T5"},
        }
    ).collect()
    assert [r.ts for r in out] == [103, 128, 153]
    for r in out:
        assert r["count"] == 25.0
        assert r.sum == pytest.approx(closed_sum(r.ts, r.ts + 25))
        assert r.min == pytest.approx(0.1 * r.ts)
        assert r.max == pytest.approx(0.1 * (r.ts + 24))
    assert out[0].series == "test:count|test:sum|test:min|test:max tag=T5"


def test_group_aggregate_partial_tail_bucket(eng):
    out = eng.query(
        {
            "group-aggregate": {"step": "30", "metric": "test", "func": "count"},
            "range": {"from": 100, "to": 170},
            "where": {"tag": "T5"},
        }
    ).collect()
    # [100,130) [130,160) [160,170): last bucket partial
    assert [(r.ts, r["count"]) for r in out] == [(100, 30.0), (130, 30.0), (160, 10.0)]


def test_group_aggregate_backward(eng):
    out = eng.query(
        {
            "group-aggregate": {"step": "30", "metric": "test", "func": ["count", "first"]},
            "range": {"from": 170, "to": 100},
            "where": {"tag": "T5"},
        }
    ).collect()
    # backward: buckets anchored at begin=170 descending:
    # (140,170] (110,140] (100,110]
    assert [(r.ts, r["count"]) for r in out] == [(170, 30.0), (140, 30.0), (110, 10.0)]
    # first = latest point inside each bucket when scanning backward
    assert out[0].first == pytest.approx(17.0)


def test_group_aggregate_having(eng):
    out = eng.query(
        {
            "group-aggregate": {"step": "25", "metric": "test", "func": ["max", "count"]},
            "range": {"from": 100, "to": 200},
            "where": {"tag": "T5"},
            "filter": {"max": {"gt": 15.0}},
        }
    ).collect()
    assert [r.ts for r in out] == [150, 175]


def test_group_by_tag_merges_series(eng):
    out = eng.query(
        {
            "aggregate": {"test": "count"},
            "range": {"from": 100, "to": 200},
            "group-by-tag": [],
        }
    ).collect()
    # all 10 series merge into one
    assert len(out) == 1
    assert out[0].series == "test:count"
    assert out[0].value == 1000.0


def test_aggregate_from_summaries_matches_leaf(spark, dense_ramp, ties):
    """The summary-table planner path (SubtreeRef pushdown analog) must
    reproduce the leaf scan bit-for-bit on an aligned range, and fall
    back to the leaf scan when the range is unaligned — on a strictly
    monotone ramp and on an input full of same-ts and equal-value ties."""
    from stdb_spark.sources import storage

    step = 100
    q = {
        "aggregate": {
            "test": ["min", "max", "sum", "count", "mean", "first", "last",
                     "min_timestamp", "max_timestamp",
                     "first_timestamp", "last_timestamp"]
        },
        "range": {"from": 200, "to": 500},
        "where": {"tag": ["T0", "T3"]},
    }
    for samples in (dense_ramp, ties):
        summ = storage.summary_table(samples, step_ns=step)
        eng_s = Engine(
            spark, samples=samples, summaries=summ, summary_step_ns=step,
            exact_sums=True,
        )
        eng_l = Engine(spark, samples=samples, exact_sums=True)
        got = {(r.series, r.value) for r in eng_s.query(q).collect()}
        want = {(r.series, r.value) for r in eng_l.query(q).collect()}
        assert got == want

        # the summary path really was taken (analyzed plan still names the
        # summary columns; the optimizer later inlines the aliases)
        plan = eng_s.query(q)._jdf.queryExecution().analyzed().toString()
        assert "bucket_ts" in plan

        # unaligned range -> falls back to the leaf scan, still correct
        q2 = dict(q, range={"from": 250, "to": 450})
        got2 = {(r.series, r.value) for r in eng_s.query(q2).collect()}
        want2 = {(r.series, r.value) for r in eng_l.query(q2).collect()}
        assert got2 == want2
    # the ties were there: T0 at ts=200 holds 9.0 and 2.0, and 0.0 first
    # occurs at ts=208 and recurs in every bucket
    assert ("test:first tag=T0", 2.0) in got
    assert ("test:min_timestamp tag=T0", 208.0) in got


def test_group_aggregate_rollup_from_summaries(spark, dense_ramp, ties):
    """Downsample answered by combining finer summary buckets must match
    the leaf scan exactly, with and without ties; unaligned step falls
    back."""
    from stdb_spark.sources import storage

    sstep = 100
    q = {
        "group-aggregate": {
            "step": 300,  # 3 summary buckets per output bucket
            "metric": "test",
            "func": ["count", "sum", "min", "max", "mean", "first", "last"],
        },
        "range": {"from": 100, "to": 1000},
        "where": {"tag": ["T1", "T4"]},
    }
    for samples in (dense_ramp, ties):
        summ = storage.summary_table(samples, step_ns=sstep)
        eng_s = Engine(
            spark, samples=samples, summaries=summ, summary_step_ns=sstep,
            exact_sums=True,
        )
        eng_l = Engine(spark, samples=samples, exact_sums=True)
        got = sorted(map(tuple, eng_s.query(q).collect()))
        want = sorted(map(tuple, eng_l.query(q).collect()))
        assert got == want
        plan = eng_s.query(q)._jdf.queryExecution().analyzed().toString()
        assert "bucket_ts" in plan  # summary path taken

        # step not a multiple of the summary step -> leaf fallback, correct
        q2 = dict(q)
        q2["group-aggregate"] = dict(q["group-aggregate"], step=250)
        got2 = sorted(map(tuple, eng_s.query(q2).collect()))
        want2 = sorted(map(tuple, eng_l.query(q2).collect()))
        assert got2 == want2


def test_p95_sketch_tracks_exact(spark):
    """The mergeable sketch must stay within its accuracy envelope of
    the exact per-bucket p95 — and be partial-aggregatable (the whole
    reason it exists at 100 TB)."""
    from pyspark.sql import functions as F

    from stdb_spark.workloads import QUERIES

    sf = "/root/testdata/sf0.001"
    from stdb_spark.workloads.tssuite import H6, JAN01, JAN01_US, FEB01_US, _samples

    df = _samples(spark, sf, "error", JAN01_US, FEB01_US)
    bucket = F.lit(JAN01) + F.lit(H6) * F.expr(f"(ts - {JAN01}L) div {H6}L")
    approx = {
        (r.series, r.ts): r.p95_approx
        for r in df.groupBy("series", bucket.alias("ts"))
        .agg(
            F.expr("approx_percentile(value, 0.95, 10000)").alias("p95_approx")
        )
        .withColumn("ts", F.expr("ts div 1000"))
        .collect()
    }
    exact = {
        (r.series, r.ts): r.p95
        for r in df.groupBy("series", bucket.alias("ts"))
        .agg(F.expr("percentile(value, 0.95)").alias("p95"))
        .withColumn("ts", F.expr("ts div 1000"))
        .collect()
    }
    assert set(approx) == set(exact) and approx
    for k in approx:
        lo, hi = sorted((approx[k], exact[k]))
        # accuracy 10000 => rank error ~1/10000; the sf0.001 buckets are
        # far smaller than that, so the sketch must be near-exact
        assert hi - lo <= max(0.05 * abs(hi), 1e-6)
    # the gate entry's rank-bracket verdict (VERDICT r10 task #2c) must
    # hold on every bucket, and the sketch must stay partial-aggregatable
    gate = QUERIES["ts_group_aggregate_p95_sketch"](spark, sf)
    rows = gate.collect()
    assert rows and all(r.p95_rank_ok for r in rows)
    assert {(r.series, r.ts) for r in rows} == set(exact)
    plan = gate._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_percentile" in plan or "partial" in plan


def test_hll_rollup_accuracy(spark):
    """The mergeable HLL rollup's estimate must land within 2% of the
    exact per-metric distinct-user count (portable spec m=4096 keeps
    relative error ~1.6%, and the linear-counting correction dominates
    at fixture cardinalities; the daily->monthly register MAX-merge
    must not degrade it)."""
    from stdb_spark.workloads import QUERIES

    sf = "/root/testdata/sf0.01"
    got = {
        r.metric: r.distinct_users_est
        for r in QUERIES["ts_distinct_users_hll_rollup"](spark, sf).collect()
    }
    from stdb_spark import model
    from pyspark.sql import functions as F2

    exact = {
        r.event_type: r.n
        for r in model.events_raw_ns(spark, sf)
        .groupBy("event_type")
        .agg(F2.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for m, est in got.items():
        assert abs(est - exact[m]) <= max(1, 0.02 * exact[m]), (m, est, exact[m])


def test_group_aggregate_bare_and_alias_filters_execute(eng):
    from stdb_spark.query.parser import QueryParseError

    # bare {"gt": x} shorthand — parser keys it by the METRIC; must
    # apply to the single requested func, not die in the engine
    df = eng.query(
        {
            "group-aggregate": {"metric": "test", "func": "max", "step": 100},
            "range": {"from": 100, "to": 1000},
            "filter": {"gt": 50.0},
        }
    )
    rows = df.collect()
    assert rows and all(r["max"] > 50.0 for r in rows)
    # the pre-canonical 'cnt' alias as a HAVING key
    df2 = eng.query(
        {
            "group-aggregate": {"metric": "test", "func": ["cnt"], "step": 100},
            "range": {"from": 100, "to": 1000},
            "filter": {"cnt": {"ge": 100}},
        }
    )
    assert df2.count() > 0
    # select with a filter key naming a non-selected metric: clean error
    import pytest as _pt

    with _pt.raises(QueryParseError, match="matches no selected metric"):
        eng.query(
            {
                "select": "test",
                "range": {"from": 100, "to": 1000},
                "filter": {"other": {"gt": 1.0}},
            }
        )
    # aggregate ignores no filters — it rejects them
    with _pt.raises(QueryParseError, match="not supported for `aggregate`"):
        eng.query({"aggregate": {"test": "max"}, "filter": {"gt": 0}})


def test_group_aggregate_metric_keyed_filter_is_per_metric(spark, multi_metric):
    """A metric-keyed HAVING gates ONLY the named metric's bucket rows
    (queryparser.cc:1868 parses group-aggregate filters per metric);
    the other metric's rows must pass untouched (ADVICE r4 #1)."""
    eng2 = Engine(spark, samples=multi_metric)
    q = {
        "group-aggregate": {"metric": ["m1", "m2"], "func": "max", "step": 100},
        "range": {"from": 100, "to": 400},
        "filter": {"m1": {"gt": 25.0}},
    }
    rows = eng2.query(q).collect()
    m1_rows = [r for r in rows if r.series.startswith("m1")]
    m2_rows = [r for r in rows if r.series.startswith("m2")]
    # m1 bucket maxes per host: 19.9, 29.9, 39.9 -> gt 25 keeps 2 of 3
    assert len(m1_rows) == 2 * 5
    assert all(r["max"] > 25.0 for r in m1_rows)
    # m2 is NOT named by the filter: all 3 buckets x 5 hosts survive
    # (its first bucket's max 19.96 would FAIL a gt-25 check — proof
    # the threshold didn't leak across metrics)
    assert len(m2_rows) == 3 * 5
    # "any" rule with two per-metric filters: each row judged only by
    # the filter naming ITS metric
    q2 = {
        "group-aggregate": {"metric": ["m1", "m2"], "func": "max", "step": 100},
        "range": {"from": 100, "to": 400},
        "filter": {"m1": {"gt": 25.0}, "m2": {"lt": 70.0}, "=": {"require": "any"}},
    }
    rows2 = eng2.query(q2).collect()
    m1_2 = [r for r in rows2 if r.series.startswith("m1")]
    m2_2 = [r for r in rows2 if r.series.startswith("m2")]
    assert len(m1_2) == 2 * 5 and all(r["max"] > 25.0 for r in m1_2)
    # m2 bucket maxes: 39.8, 59.8, 79.6 -> lt 70 keeps 2 of 3
    assert len(m2_2) == 2 * 5 and all(r["max"] < 70.0 for r in m2_2)


def test_group_aggregate_join_from_summaries(spark, multi_metric):
    """Single-func group-aggregate-join answered by rolling up + pivoting
    summaries must match the leaf scan exactly; unaligned step falls
    back (VERDICT r4 #7)."""
    from stdb_spark.sources import storage

    sstep = 50
    summ = storage.summary_table(multi_metric, step_ns=sstep)
    eng_s = Engine(
        spark, samples=multi_metric, summaries=summ, summary_step_ns=sstep,
        exact_sums=True,
    )
    eng_l = Engine(spark, samples=multi_metric, exact_sums=True)
    q = {
        "group-aggregate-join": {
            "step": 100,  # 2 summary buckets per output bucket
            "metric": ["m1", "m2"],
            "func": "max",
        },
        "range": {"from": 100, "to": 400},
    }
    got = sorted(map(tuple, eng_s.query(q).collect()))
    want = sorted(map(tuple, eng_l.query(q).collect()))
    assert got == want and got
    plan = eng_s.query(q)._jdf.queryExecution().analyzed().toString()
    assert "bucket_ts" in plan  # summary path taken

    # unaligned step -> leaf fallback, still correct
    q2 = dict(q)
    q2["group-aggregate-join"] = dict(q["group-aggregate-join"], step=75)
    got2 = sorted(map(tuple, eng_s.query(q2).collect()))
    want2 = sorted(map(tuple, eng_l.query(q2).collect()))
    assert got2 == want2


def test_ohlc_from_summaries_matches_leaf(spark, dense_ramp, ties):
    """Candlesticks combined from summary buckets == the leaf-scan OHLC
    (the SubtreeRef pushdown extended to OHLC, VERDICT r4 #7), with and
    without same-ts and equal-value ties."""
    from stdb_spark.operators.ohlc import ohlc, ohlc_from_summaries
    from stdb_spark.sources import storage

    sstep = 100
    for samples in (dense_ramp, ties):
        summ = storage.summary_table(samples, step_ns=sstep)
        got = sorted(
            map(tuple, ohlc_from_summaries(summ, step_ns=300, begin_ns=100).collect())
        )
        want = sorted(
            map(tuple, ohlc(samples, step_ns=300, begin_ns=100).collect())
        )
        assert got == want and got


def test_hll_rollup_datasketches_accuracy(spark):
    """Engine-native Datasketches twin of the portable register rollup
    (the registry entry graduated to the portable spec in r7; the
    native API path stays covered here): per-(metric, day) hll_sketch_agg
    unioned into per-metric monthly distincts, within 2% of exact."""
    from pyspark.sql import functions as F2

    from stdb_spark import model

    sf = "/root/testdata/sf0.01"
    ev = model.events_raw_ns(spark, sf)
    daily = ev.groupBy(
        "event_type", F2.expr("ts div 86400000000000").alias("_day")
    ).agg(F2.hll_sketch_agg("user_id").alias("_sk"))
    got = {
        r.event_type: r.est
        for r in daily.groupBy("event_type")
        .agg(
            F2.hll_sketch_estimate(F2.hll_union_agg("_sk"))
            .cast("long")
            .alias("est")
        )
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F2.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for m, est in got.items():
        assert abs(est - exact[m]) <= max(1, 0.02 * exact[m]), (m, est, exact[m])


def test_approx_distinct_tracks_exact(spark):
    """The ts_approx_distinct entry (engine-native HLL++, rsd=0.01):
    estimates must land within 3*rsd of the exact per-metric
    distinct-user counts, and the gate entry's verdict row (exact
    cardinality + within-5% boolean, VERDICT r10 task #2c) must agree
    with an independently-computed exact side."""
    from pyspark.sql import functions as F2

    from stdb_spark import model
    from stdb_spark.workloads import QUERIES

    sf = "/root/testdata/sf0.01"
    user = F2.col("tags")["user"]
    got = {
        r.metric: r.approx_users
        for r in model.events_as_samples(spark, sf)
        .groupBy("metric")
        .agg(F2.approx_count_distinct(user, rsd=0.01).alias("approx_users"))
        .collect()
    }
    exact = {
        r.metric: r.n
        for r in model.events_as_samples(spark, sf)
        .groupBy("metric")
        .agg(F2.countDistinct(user).alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for m, est in got.items():
        assert abs(est - exact[m]) <= max(1, 0.03 * exact[m]), (m, est, exact[m])
    gate = {
        r.metric: (r.exact_users, r.hll_within_5pct)
        for r in QUERIES["ts_approx_distinct"](spark, sf).collect()
    }
    assert {m: v[0] for m, v in gate.items()} == exact
    assert all(v[1] for v in gate.values())


def test_p95_histogram_within_bin_width_of_exact(spark):
    """The portable fixed-bin histogram p95 (full value-hash oracle)
    reports the upper edge of the bin containing the rank-ceil(0.95 n)
    order statistic, so it must land within one bin width (0.01) above
    that exact DISCRETE quantile (interpolated p95 can sit a full
    inter-sample gap away in sparse tails — not the right reference)."""
    from pyspark.sql import functions as F2

    from stdb_spark import model
    from stdb_spark.workloads import QUERIES

    sf = "/root/testdata/sf0.01"
    got = {
        (r.series, r.ts): r.p95_hist
        for r in QUERIES["ts_group_aggregate_p95_histogram"](spark, sf).collect()
    }
    assert got, "histogram produced no buckets"
    df = model.events_as_samples(spark, sf).filter(F2.col("metric") == "error")
    JAN01_US, H6_US = 1704067200000000, 21600000000
    exact = {
        (r.series, r.ts): r.p95
        for r in df.filter(
            (F2.col("ts") >= JAN01_US * 1000)
            & (F2.col("ts") < (JAN01_US + 31 * 86400000000) * 1000)
        )
        .select(
            F2.concat(
                F2.col("metric"), F2.lit(" user="), F2.col("tags")["user"]
            ).alias("series"),
            (
                F2.lit(JAN01_US)
                + F2.lit(H6_US)
                * F2.expr(f"(ts div 1000 - {JAN01_US}) div {H6_US}")
            ).alias("ts"),
            "value",
        )
        .groupBy("series", "ts")
        .agg(
            F2.expr(
                "sort_array(collect_list(value))"
                "[CAST((19 * count(value) + 19) div 20 AS INT) - 1]"
            ).alias("p95")
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert exact[k] - 1e-9 <= est <= exact[k] + 0.0100001 + 1e-9, (
            k, est, exact[k],
        )


def test_agg_expr_rejects_unknown_function(spark):
    from stdb_spark.operators.aggregates import agg_expr

    for backward in (False, True):
        with pytest.raises(ValueError, match="unknown aggregate function 'nope'"):
            agg_expr("nope", backward)


@pytest.mark.parametrize(
    "node", [{"name": "scale", "weight": 100}, {"name": "sma", "window-width": 3}]
)
def test_group_aggregate_runs_apply(eng, node):
    """group-aggregate runs its apply pipeline over the func columns,
    as select and the joins do (SURVEY.md §3.1, step 7): the result
    equals the node applied by hand to the un-applied rows."""
    q = {
        "group-aggregate": {"metric": "test", "func": ["max", "count"], "step": 100},
        "range": {"from": 100, "to": 1000},
        "where": {"tag": ["T1", "T2"]},
        "order-by": "series",
    }
    plain = eng.query(q).collect()
    got = [tuple(r) for r in eng.query({**q, "apply": [node]}).collect()]
    if node["name"] == "scale":
        want = [(r.series, r.ts, r["max"] * 100, r["count"] * 100) for r in plain]
    else:  # the mean of the previous 3 buckets of the series, 0 before its first
        want = []
        for i, r in enumerate(plain):
            prev = [p for p in plain[max(0, i - 3):i] if p.series == r.series]
            want.append((r.series, r.ts, *[sum(p[c] for p in prev) / 3 for c in ("max", "count")]))
    assert len(plain) == 2 * 9
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2:] for g in got] == [pytest.approx(w[2:]) for w in want]
