"""apply-pipeline nodes vs closed forms (FIXTURES.md F4; reference
semantics in rate.cc / sliding_window.cc / top.cc / spacesaver.h)."""

import pytest

from stdb_spark.engine import Engine
from tests.conftest import make_samples


@pytest.fixture(scope="module")
def apply_fix(spark):
    """3 series, ts_i = i*1e9 + (i%7)*1e7:
    A constant 5.0, B linear i, C sawtooth i%10."""
    rows = []
    for i in range(50):
        ts = i * 10**9 + (i % 7) * 10**7
        rows.append(("sig", {"s": "A"}, ts, 5.0))
        rows.append(("sig", {"s": "B"}, ts, float(i)))
        rows.append(("sig", {"s": "C"}, ts, float(i % 10)))
    return make_samples(spark, rows).cache()


@pytest.fixture(scope="module")
def eng(spark, apply_fix):
    return Engine(spark, samples=apply_fix)


TS = [i * 10**9 + (i % 7) * 10**7 for i in range(50)]
RANGE = {"from": 0, "to": 10**18}


def q(name, where, apply):
    return {"select": name, "range": RANGE, "where": where, "apply": apply,
            "order-by": "series"}


def test_abs_and_scale(eng):
    out = eng.query(q("sig", {"s": "B"}, [{"name": "scale", "weight": -2.0},
                                          {"name": "abs"}])).collect()
    assert [r.value for r in out] == [2.0 * i for i in range(50)]


def test_rate_first_point_seeded_at_origin(eng):
    out = eng.query(q("sig", {"s": "A"}, [{"name": "rate"}])).collect()
    # first point uses implicit prev (0,0) (rate.cc:24-36); here ts[0]==0
    # so dt==0 -> NULL (C++ would give NaN; non-ANSI Spark gives NULL)
    assert out[0].value is None
    # second point: (5-5)/(t1-t0) = 0
    assert out[1].value == pytest.approx(0.0)


def test_rate_linear_series(eng):
    out = eng.query(q("sig", {"s": "B"}, [{"name": "rate"}])).collect()
    for i in range(2, 50):
        dt = (TS[i] - TS[i - 1]) / 1e9
        assert out[i].value == pytest.approx(1.0 / dt), i


def test_cusum(eng):
    out = eng.query(q("sig", {"s": "A"}, [{"name": "cusum"}])).collect()
    assert [r.value for r in out] == [5.0 * (i + 1) for i in range(50)]


def test_cma(eng):
    out = eng.query(q("sig", {"s": "B"}, [{"name": "cma"}])).collect()
    for i, r in enumerate(out):
        assert r.value == pytest.approx(sum(range(i + 1)) / (i + 1)), i


def test_sma_is_prediction_with_zero_padding(eng):
    n = 4
    out = eng.query(q("sig", {"s": "B"}, [{"name": "sma", "window-width": n}])).collect()
    for i, r in enumerate(out):
        expect = sum(max(0, j) if j >= 0 else 0 for j in []) # placeholder
        window = [j for j in range(max(0, i - n), i)]
        expect = sum(window) / n  # zero-padded ring buffer (sliding_window.cc:105-140)
        assert r.value == pytest.approx(expect), i


def test_ewma_warmup_emits_input(eng):
    out = eng.query(q("sig", {"s": "B"}, [{"name": "ewma", "decay": 0.5}])).collect()
    # first 11 points emit the current value itself (EWMA_WARMUP=10)
    for i in range(11):
        assert out[i].value == pytest.approx(float(i)), i
    # 12th point: value_ after 11 adds = blend(avg(0..10), x10)
    avg11 = sum(range(11)) / 11.0
    seeded = 10 * 0.5 + avg11 * 0.5
    assert out[11].value == pytest.approx(seeded)
    # 13th: prediction updated with x11
    nxt = 11 * 0.5 + seeded * 0.5
    assert out[12].value == pytest.approx(nxt)


def test_ewma_vectorized_matches_sequential_fold(spark):
    """The Engine's ewma (the lockstep kernel) must be bit-identical to
    the reference fold (sliding_window.cc:23-34) for every decay."""
    import numpy as np

    from stdb_spark.query.apply_nodes import _ewma_seq

    rng = np.random.default_rng(7)
    x = rng.normal(50.0, 9.0, 500)
    for decay in (0.3, 0.5, 0.05, 0.41101515364177804):
        rows = [("m", {"s": "V"}, 1_000_000 * i, float(v)) for i, v in enumerate(x)]
        e = Engine(spark, samples=make_samples(spark, rows))
        out = e.query(
            {
                "select": "m",
                "range": {"from": 0, "to": 10**12},
                "apply": [{"name": "ewma", "decay": decay}],
            }
        ).collect()
        got = np.array([r.value for r in out])
        want = _ewma_seq(x, decay, delta=False)
        assert np.array_equal(got, want), decay


def test_holt_matches_python_model(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    x = rng.normal(10.0, 2.0, 60)
    a, be = 0.5, 0.3
    rows = [("m", {"s": "H"}, 1_000_000 * i, float(v)) for i, v in enumerate(x)]
    e = Engine(spark, samples=make_samples(spark, rows))
    out = e.query(
        {
            "select": "m",
            "range": {"from": 0, "to": 10**12},
            "apply": [{"name": "holt", "alpha": a, "beta": be}],
        }
    ).collect()
    got = [r.value for r in out]
    # pure-Python reference fold
    want = [float(x[0]), float(x[1])]
    l, b = float(x[1]), float(x[1]) - float(x[0])
    for i in range(2, len(x)):
        cur = float(x[i])
        want.append(l + b)
        prev_l = l
        l = a * cur + (1.0 - a) * (l + b)
        b = be * (l - prev_l) + (1.0 - be) * b
    assert got == want
    # holt-error = input minus forecast, 0 during warm-up
    err = [
        r.value
        for r in e.query(
            {
                "select": "m",
                "range": {"from": 0, "to": 10**12},
                "apply": [{"name": "holt-error", "alpha": a, "beta": be}],
            }
        ).collect()
    ]
    assert err[0] == 0.0 and err[1] == 0.0
    assert err[2:] == [float(x[i]) - want[i] for i in range(2, len(x))]


def test_top_time_weighted(eng):
    out = eng.query(
        {"select": "sig", "range": RANGE, "apply": [{"name": "top", "N": 2}]}
    ).collect()
    # B's time-weighted sum dominates (values up to 49 vs 5 and 0-9)
    assert len(out) == 2
    assert out[0].series == "sig s=B"
    # closed form: sum_{i>=2} (t_i - t_{i-1})/1e9 * x_{i-1}, x linear
    expect = sum((TS[i] - TS[i - 1]) / 1e9 * (i - 1) for i in range(2, 50))
    assert out[0].value == pytest.approx(expect)
    assert out[0].ts == TS[-1]


def test_frequent_items_exact(spark):
    rows = []
    # series X: 60 points, Y: 30, Z: 10
    for i, (s, n) in enumerate([("X", 60), ("Y", 30), ("Z", 10)]):
        for j in range(n):
            rows.append(("m", {"s": s}, j * 100 + i, 1.0))
    eng = Engine(spark, samples=make_samples(spark, rows))
    out = eng.query(
        {
            "select": "m",
            "range": RANGE,
            "apply": [{"name": "frequent-items", "error": 0.005, "portion": 0.25}],
        }
    ).collect()
    # total=100; threshold 25 -> X (60) and Y (30), sorted desc
    assert [(r.series, r.value) for r in out] == [("m s=X", 60.0), ("m s=Y", 30.0)]


def test_heavy_hitters_weighted(spark):
    rows = [("m", {"s": "P"}, i, 10.0) for i in range(10)]  # weight 100
    rows += [("m", {"s": "Q"}, i, 1.0) for i in range(10)]  # weight 10
    eng = Engine(spark, samples=make_samples(spark, rows))
    out = eng.query(
        {
            "select": "m",
            "range": RANGE,
            "apply": [{"name": "heavy-hitters", "error": 0.01, "portion": 0.5}],
        }
    ).collect()
    assert [(r.series, r.value) for r in out] == [("m s=P", 100.0)]


def test_eval_identifier_substitution_is_tokenized(spark):
    """A metric named `e` must not corrupt `exp(...)`; function names that
    collide with metric names stay callable (eval.cc preProcessExpression
    done right)."""
    from stdb_spark.query.apply_nodes import apply_pipeline

    df = spark.createDataFrame(
        [("s", 1, 1.0, 2.0)], "series string, ts long, e double, exp double"
    )
    out, cols, _ = apply_pipeline(
        df, [{"name": "eval", "expr": "exp(e) + exp"}], ["e", "exp"]
    )
    import math

    assert out.collect()[0].value == pytest.approx(math.e + 2.0)


def test_math_fold_over_join(spark, multi_metric):
    eng = Engine(spark, samples=multi_metric)
    out = eng.query(
        {
            "join": ["m1", "m2"],
            "range": {"from": 100, "to": 106},
            "where": {"host": "h0"},
            "apply": [{"name": "sum", "ignore_missing": True}],
        }
    ).collect()
    for r in out:
        expect = 0.1 * r.ts + (0.2 * r.ts if r.ts % 3 != 0 else 0.0)
        assert r.value == pytest.approx(expect)


def test_sax_words_hand_computed(spark):
    from stdb_spark.operators.sax import sax_words

    rows = [("s1", t, float(v)) for t, v in enumerate([0, 0, 10, 10, 0, 0, 10, 10])]
    rows += [("flat", t, 5.0) for t in range(4)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r.series: (r.n_points, r.sax_word) for r in
           sax_words(df, word_len=4, alphabet=4).collect()}
    # s1 segment means: [0, 10, 0, 10] -> z = [-1, 1, -1, 1] -> a d a d
    assert out["s1"] == (8, "adad")
    # constant series: std == 0 -> z = 0 -> middle symbol 'c' everywhere
    assert out["flat"] == (4, "cccc")


def test_gapfill_locf_and_interpolate(spark):
    from stdb_spark.operators import gapfill

    # step=10: buckets [0,10) [10,20) [20,30) [30,40); samples at ts 2,
    # 12 and 38 -> buckets 1..2 empty-or-filled
    rows = [("a", 2, 1.0), ("a", 12, 5.0), ("a", 38, 10.0)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    locf = {
        (r.ts): r.value
        for r in gapfill.resample_locf(df, begin=0, end=40, step=10).collect()
    }
    assert locf == {0: 1.0, 10: 5.0, 20: 5.0, 30: 10.0}
    interp = {
        (r.ts): r.value
        for r in gapfill.resample_interpolate(df, begin=0, end=40, step=10).collect()
    }
    # bucket 20 is empty: linear between (12, 5.0) and (38, 10.0) at t=20
    assert interp[0] == 1.0 and interp[10] == 5.0 and interp[30] == 10.0
    assert abs(interp[20] - (5.0 + 5.0 * (20 - 12) / (38 - 12))) < 1e-12


def test_gapfill_leading_buckets_null(spark):
    from stdb_spark.operators import gapfill

    df = spark.createDataFrame(
        [("a", 25, 2.0)], "series string, ts long, value double"
    )
    out = {
        r.ts: r.value
        for r in gapfill.resample_locf(df, begin=0, end=40, step=10).collect()
    }
    assert out == {0: None, 10: None, 20: 2.0, 30: 2.0}


def test_median_filter_sawtooth(eng):
    # series C = i%10; 5-wide rolling median: warm-up (first 4) NULL,
    # then the middle element of the last 5 samples, exactly.
    out = eng.query(q("sig", {"s": "C"}, [{"name": "median", "window-width": 5}])).collect()
    vals = [r.value for r in out]
    assert vals[:4] == [None] * 4
    import statistics

    for i in range(4, 50):
        window = [(j % 10) for j in range(i - 4, i + 1)]
        assert vals[i] == statistics.median(window), i


def test_median_filter_rejects_even_width(eng):
    import pytest as _pytest
    from stdb_spark.query.apply_nodes import ApplyError

    with _pytest.raises(ApplyError):
        eng.query(q("sig", {"s": "C"}, [{"name": "median", "window-width": 4}]))


@pytest.mark.parametrize(
    "step, field",
    [
        ({"name": "ewma"}, "decay"),
        ({"name": "ewma-error", "decay": "fast"}, "decay"),
        ({"name": "top"}, "N"),
        ({"name": "top", "N": "three"}, "N"),
        ({"name": "frequent-items"}, "portion"),
        ({"name": "heavy-hitters", "portion": "half"}, "portion"),
        ({"name": "eval"}, "expr"),
        ({"name": "holt", "alpha": "a"}, "alpha"),
        ({"name": "sma", "window-width": "w"}, "window-width"),
    ],
    ids=lambda v: v if isinstance(v, str) else "-".join(map(str, v.values())),
)
def test_apply_step_field_errors_name_node_and_field(eng, step, field):
    # a missing or non-numeric field is an ApplyError naming both, not
    # a raw KeyError / bare ValueError from the conversion
    from stdb_spark.query.apply_nodes import ApplyError

    with pytest.raises(ApplyError) as err:
        eng.query(q("sig", {"s": "C"}, [step]))
    assert f"`{step['name']}`" in str(err.value)
    assert f"`{field}`" in str(err.value)


def test_holt_winters_matches_python_model(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    m = 4
    # trending seasonal signal
    season = [3.0, -1.0, -2.5, 0.5]
    x = np.array(
        [20.0 + 0.3 * i + season[i % m] + rng.normal(0, 0.2) for i in range(40)]
    )
    a, be, g = 0.4, 0.2, 0.3
    rows = [("m", {"s": "W"}, 1_000_000 * i, float(v)) for i, v in enumerate(x)]
    e = Engine(spark, samples=make_samples(spark, rows))
    got = [
        r.value
        for r in e.query(
            {
                "select": "m",
                "range": {"from": 0, "to": 10**12},
                "apply": [
                    {"name": "holt-winters", "alpha": a, "beta": be,
                     "gamma": g, "period": m}
                ],
            }
        ).collect()
    ]
    # independent model
    want = [float(v) for v in x[:m]]
    acc = 0.0
    for j in range(m):
        acc = acc + float(x[j])
    l = acc / m
    b = (float(x[m - 1]) - float(x[0])) / (m - 1)
    s = [float(x[j]) - l for j in range(m)]
    for i in range(m, len(x)):
        p = i % m
        cur = float(x[i])
        want.append((l + b) + s[p])
        l_new = a * (cur - s[p]) + (1.0 - a) * (l + b)
        b_new = be * (l_new - l) + (1.0 - be) * b
        s[p] = g * ((cur - l) - b) + (1.0 - g) * s[p]
        l, b = l_new, b_new
    assert got == want
    # the forecast must actually track the seasonal pattern
    resid = np.array(got[2 * m :]) - x[2 * m :]
    assert float(np.abs(resid).mean()) < 1.5
    # period < 2 rejected
    import pytest
    from stdb_spark.query.apply_nodes import ApplyError

    with pytest.raises(ApplyError):
        e.query(
            {
                "select": "m",
                "range": {"from": 0, "to": 10**12},
                "apply": [{"name": "holt-winters", "period": 1}],
            }
        ).collect()


def test_wma_hand_computed_and_warmup(spark):
    x = [1.0, 2.0, 3.0, 4.0, 10.0]
    rows = [("m", {"s": "W"}, 1_000_000 * i, v) for i, v in enumerate(x)]
    e = Engine(spark, samples=make_samples(spark, rows))
    got = [
        r.value
        for r in e.query(
            {
                "select": "m",
                "range": {"from": 0, "to": 10**12},
                "apply": [{"name": "wma", "window-width": 3}],
            }
        ).collect()
    ]
    # warm-up (< 3 samples): NULL
    assert got[0] is None and got[1] is None
    # wma_t = (3*x_t + 2*x_{t-1} + 1*x_{t-2}) / 6
    assert got[2] == (3 * 3.0 + 2 * 2.0 + 1 * 1.0) / 6
    assert got[3] == (3 * 4.0 + 2 * 3.0 + 1 * 2.0) / 6
    assert got[4] == (3 * 10.0 + 2 * 4.0 + 1 * 3.0) / 6
    import pytest

    from stdb_spark.query.apply_nodes import ApplyError

    with pytest.raises(ApplyError):
        e.query(
            {
                "select": "m",
                "range": {"from": 0, "to": 10**12},
                "apply": [{"name": "wma", "window-width": 13}],
            }
        ).collect()


def test_holt_lockstep_bitexact_vs_scalar():
    # The lane-lockstep kernels must match the scalar reference folds
    # BIT-FOR-BIT for ragged lane lengths, NaN padding, and equal runs.
    import numpy as np

    from stdb_spark.query.apply_nodes import (
        _ewma_seq,
        _ewma_udf,
        _holt_seq,
        _holt_winters_seq,
        _holt_udf,
        _holt_winters_udf,
    )

    rng = np.random.default_rng(777)
    # 11 and 12 straddle the end of the ewma warm-up (EWMA_WARMUP + 1)
    lens = [0, 1, 2, 3, 7, 11, 12, 64, 257, 1000]
    X = np.full((len(lens), max(lens)), np.nan)
    for r, n in enumerate(lens):
        X[r, :n] = rng.normal(50.0, 20.0, n)
    if max(lens) > 40:
        X[-1, 20:40] = X[-1, 19]  # equal-run edge case

    # reach the inner kernels through the udf factories' closures
    import types

    def grab_many(factory, *args):
        cell = {}

        def fake_batch(df, cols, backward, many):
            cell["many"] = many
            return None

        import stdb_spark.query.apply_nodes as A

        orig = A._batched_series_apply_lockstep
        A._batched_series_apply_lockstep = fake_batch
        try:
            factory(None, ["v"], *args)
        finally:
            A._batched_series_apply_lockstep = orig
        return cell["many"]

    for delta in (False, True):
        for decay in (0.05, 0.1, 0.3, 0.41101515364177804, 0.5):
            many = grab_many(_ewma_udf, decay, delta, False)
            OUT = many(X.copy())
            for r, n in enumerate(lens):
                want = _ewma_seq(X[r, :n].copy(), decay, delta)
                got = OUT[r, :n]
                assert np.array_equal(got, want), (delta, decay, n)

    for delta in (False, True):
        many = grab_many(_holt_udf, 0.4, 0.2, delta, False)
        OUT = many(X.copy())
        for r, n in enumerate(lens):
            want = _holt_seq(X[r, :n].copy(), 0.4, 0.2, delta)
            got = OUT[r, :n]
            assert np.array_equal(got, want), (delta, n)

    for delta in (False, True):
        for m in (2, 5, 12):
            many = grab_many(_holt_winters_udf, 0.5, 0.3, 0.2, m, delta, False)
            OUT = many(X.copy())
            for r, n in enumerate(lens):
                want = _holt_winters_seq(
                    X[r, :n].copy(), 0.5, 0.3, 0.2, m, delta
                )
                got = OUT[r, :n]
                assert np.array_equal(got, want), (delta, m, n)


def test_median_null_frames_emit_null_not_interpolation(spark):
    from pyspark.sql import functions as F

    from stdb_spark.query.apply_nodes import apply_pipeline

    # a NULL slot in the window (join gap) must yield NULL, never an
    # interpolated midpoint of the remaining even sample count
    rows = [(i, [1.0, 5.0, None, 9.0, 3.0][i]) for i in range(5)]
    df = spark.createDataFrame(rows, "ts long, value double").withColumn(
        "series", F.lit("s")
    )
    out, _, _ = apply_pipeline(
        df, [{"name": "median", "window-width": 3}], ["value"], False
    )
    got = {r.ts: r.value for r in out.collect()}
    # ts=3: frame (5.0, None, 9.0) -> only 2 samples -> NULL (the old
    # row_number gate emitted percentile([5,9]) = 7.0, not a sample)
    assert got[3] is None
    # ts=4: frame (None, 9.0, 3.0) -> 2 samples -> NULL
    assert got[4] is None
    # full frames still produce exact element selection
    assert got[2] is None  # the row itself is NULL
