"""join / group-aggregate-join — mirrors column_store_test.cc:664-755
and the JoinMaterializer missing-column semantics (join.h:40-48)."""

import pytest

from stdb_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark, multi_metric):
    return Engine(spark, samples=multi_metric)


def test_join_aligns_on_timestamp(eng):
    out = eng.query(
        {
            "join": ["m1", "m2"],
            "range": {"from": 100, "to": 110},
            "where": {"host": "h0"},
        }
    ).collect()
    assert [r.ts for r in out] == list(range(100, 110))
    for r in out:
        assert r.series == "m1|m2 host=h0"
        assert r.m1 == pytest.approx(0.1 * r.ts)
        if r.ts % 3 == 0:
            assert r.m2 is None  # gap -> null (bitmap parity)
        else:
            assert r.m2 == pytest.approx(0.2 * r.ts)


def test_join_value_filter_any(eng):
    out = eng.query(
        {
            "join": ["m1", "m2"],
            "range": {"from": 100, "to": 200},
            "where": {"host": "h1"},
            "filter": {"require": "any", "m1": {"gt": 19.0}, "m2": {"gt": 39.0}},
        }
    ).collect()
    # m1 > 19 <=> ts > 190; m2 > 39 <=> ts > 195 -> any: ts >= 191
    assert [r.ts for r in out] == list(range(191, 200))


def test_join_value_filter_all_null_fails(eng):
    out = eng.query(
        {
            "join": ["m1", "m2"],
            "range": {"from": 100, "to": 200},
            "where": {"host": "h1"},
            "filter": {"require": "all", "m1": {"gt": 19.0}, "m2": {"gt": 0.0}},
        }
    ).collect()
    # all: null m2 rows (ts%3==0) never pass
    assert [r.ts for r in out] == [t for t in range(191, 200) if t % 3 != 0]


def test_join_multiple_tagsets_order_by_series(eng):
    out = eng.query(
        {
            "join": ["m1", "m2"],
            "range": {"from": 100, "to": 102},
            "where": {"host": ["h0", "h1"]},
            "order-by": "series",
        }
    ).collect()
    assert [(r.series, r.ts) for r in out] == [
        ("m1|m2 host=h0", 100),
        ("m1|m2 host=h0", 101),
        ("m1|m2 host=h1", 100),
        ("m1|m2 host=h1", 101),
    ]


def test_group_aggregate_join(eng):
    out = eng.query(
        {
            "group-aggregate-join": {"step": "50", "metric": ["m1", "m2"], "func": "max"},
            "range": {"from": 100, "to": 200},
            "where": {"host": "h2"},
        }
    ).collect()
    assert [r.ts for r in out] == [100, 150]
    assert out[0].series == "m1:max|m2:max host=h2"
    assert out[0].m1 == pytest.approx(0.1 * 149)
    assert out[0].m2 == pytest.approx(0.2 * 149)  # 149 % 3 != 0 present


def test_join_eval_expression(eng):
    out = eng.query(
        {
            "join": ["m1", "m2"],
            "range": {"from": 100, "to": 106},
            "where": {"host": "h0"},
            "eval": {"expr": "m2 - 2*m1"},
        }
    ).collect()
    # m2 - 2*m1 == 0 where both present; NaN/null rows dropped (ts%3==0)
    assert [r.ts for r in out] == [t for t in range(100, 106) if t % 3 != 0]
    assert all(abs(r.value) < 1e-9 for r in out)


@pytest.fixture(scope="module")
def dotted_eng(spark):
    """cpu.user=0.1*ts, cpu.sys=0.2*ts over 2 hosts, ts in [100, 160);
    cpu.sys drops every 3rd point — dotted metric names."""
    from tests.conftest import make_samples

    rows = []
    for h in range(2):
        tags = {"host": f"h{h}"}
        for ts in range(100, 160):
            rows.append(("cpu.user", tags, ts, 0.1 * ts))
            if ts % 3 != 0:
                rows.append(("cpu.sys", tags, ts, 0.2 * ts))
    return Engine(spark, samples=make_samples(spark, rows))


def test_join_dotted_metric_names(dotted_eng):
    # a dotted name is one column, not a struct field — in the output
    # projection and in the value filter alike
    out = dotted_eng.query(
        {
            "join": ["cpu.user", "cpu.sys"],
            "range": {"from": 100, "to": 120},
            "where": {"host": "h0"},
            "filter": {"cpu.user": {"ge": 11.05}},
        }
    ).collect()
    assert [r.ts for r in out] == list(range(111, 120))
    for r in out:
        assert r.series == "cpu.user|cpu.sys host=h0"
        assert r["cpu.user"] == pytest.approx(0.1 * r.ts)
        if r.ts % 3 == 0:
            assert r["cpu.sys"] is None
        else:
            assert r["cpu.sys"] == pytest.approx(0.2 * r.ts)


def test_group_aggregate_join_dotted_metric_names(dotted_eng):
    out = dotted_eng.query(
        {
            "group-aggregate-join": {
                "step": "10",
                "metric": ["cpu.user", "cpu.sys"],
                "func": "max",
            },
            "range": {"from": 100, "to": 160},
            "where": {"host": "h1"},
            "filter": {"cpu.sys": {"gt": 25.0}},
        }
    ).collect()
    # max cpu.sys of bucket b sits at b+9, or b+8 when 3 | b+9
    assert [r.ts for r in out] == [120, 130, 140, 150]
    for r in out:
        assert r.series == "cpu.user:max|cpu.sys:max host=h1"
        last = r.ts + 9
        assert r["cpu.user"] == pytest.approx(0.1 * last)
        assert r["cpu.sys"] == pytest.approx(0.2 * (last - (last % 3 == 0)))


def test_asof_join_semantics(spark):
    from stdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0), ("a", 5, 0.5), ("b", 10, 9.0)],
        "k string, ts long, value double",
    )
    right = spark.createDataFrame(
        # ts=10 duplicated -> max(value)=7.0 wins; b has no rows at all
        [("a", 10, 6.0), ("a", 10, 7.0), ("a", 12, 8.0)],
        "k string, ts long, value double",
    )
    out = {
        (r.k, r.ts): (r.value_right, r.ts_right)
        for r in asof_join(left, right, on="ts", by=["k"], right_cols=["value"]).collect()
    }
    assert out[("a", 10)] == (7.0, 10)  # inclusive tie, same-ts dedup by max
    assert out[("a", 20)] == (8.0, 12)  # most recent <= 20
    assert out[("a", 5)] == (None, None)  # nothing at or before 5
    assert out[("b", 10)] == (None, None)  # key with no right rows

    tol = {
        (r.k, r.ts): (r.value_right, r.ts_right)
        for r in asof_join(
            left, right, on="ts", by=["k"], right_cols=["value"], tolerance=3
        ).collect()
    }
    assert tol[("a", 20)] == (None, None)  # 12 < 20-3 -> stale, nulled
    assert tol[("a", 10)] == (7.0, 10)


def test_asof_tie_dedup_is_row_atomic(spark):
    """Two right rows tied on (k, ts) with two value columns: the winner
    must be one ROW (greatest by struct), never a per-column max mix."""
    from stdb_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 10, 0.0)], "k string, ts long, lv double")
    right = spark.createDataFrame(
        [("a", 10, 6.0, 99.0), ("a", 10, 7.0, 1.0)],
        "k string, ts long, v1 double, v2 double",
    )
    row = asof_join(left, right, on="ts", by=["k"], right_cols=["v1", "v2"]).collect()[0]
    assert (row.v1_right, row.v2_right) == (7.0, 1.0)  # NOT (7.0, 99.0)


def test_interval_join_bucketized(spark):
    from stdb_spark.operators.interval import interval_join

    points = spark.createDataFrame(
        [("a", 5, 1.0), ("a", 15, 2.0), ("a", 25, 3.0), ("b", 5, 4.0)],
        "k string, ts long, value double",
    )
    intervals = spark.createDataFrame(
        # [0,10) and [4,26): ts=5 in both; [4,26) spans 3 buckets at W=10
        [("a", 0, 10, "x"), ("a", 4, 26, "y")],
        "k string, begin long, end long, tag string",
    )
    out = sorted(
        (r.k, r.ts, r.tag)
        for r in interval_join(
            points, intervals, by=["k"], bucket_width=10
        ).collect()
    )
    assert out == [("a", 5, "x"), ("a", 5, "y"), ("a", 15, "y"), ("a", 25, "y")]


def test_salted_join_equals_plain_join(spark):
    from stdb_spark.functions.skew import salted_join

    # skewed left: 900 of 1000 rows share key 7
    left = spark.createDataFrame(
        [(7 if i < 900 else i % 50, i) for i in range(1000)], "k int, v long"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(50)], "k int, tag string"
    )
    plain = {
        (r.k, r.v, r.tag)
        for r in left.join(right, ["k"], "inner").collect()
    }
    salted = {
        (r.k, r.v, r.tag)
        for r in salted_join(left, right, ["k"], buckets=8).collect()
    }
    assert salted == plain and len(salted) == 1000
    # left join keeps unmatched rows exactly once
    l2 = spark.createDataFrame([(7, 1), (999, 2)], "k int, v long")
    lo = {
        (r.k, r.v, r.tag)
        for r in salted_join(l2, right, ["k"], buckets=4, how="left").collect()
    }
    assert lo == {(7, 1, "r7"), (999, 2, None)}


def test_key_skew_histogram_buckets(spark):
    from stdb_spark.functions.skew import key_skew_histogram

    # key 'hot' x 9 (bits=4), 'warm' x 2 (bits=2), 6 singletons (bits=1)
    rows = [("hot",)] * 9 + [("warm",)] * 2 + [(f"k{i}",) for i in range(6)]
    df = spark.createDataFrame(rows, "k string")
    got = {r.count_bits: (r.n_keys, r.n_rows, r.max_key_rows)
           for r in key_skew_histogram(df, "k").collect()}
    assert got == {1: (6, 6, 1), 2: (1, 2, 2), 4: (1, 9, 9)}
