"""Regime parity: every engine query kind returns the same rows in the
same order whether it runs in one task (small bound tables, the default
session) or as a distributed plan with hash exchanges and a range sort
(a session with ``spark.sql.autoBroadcastJoinThreshold=-1``).  The data
are parquet files, so the default session sees real scan sizes and
picks the one-task regime; values are multiples of 1/4, so every sum is
exact whatever the combine order."""

import pytest

from stdb_spark import model
from stdb_spark.engine import Engine
from stdb_spark.profile import Profiler
from stdb_spark.sources import storage
from tests.conftest import make_events, make_samples

SSTEP = 20  # summary bucket width
ALIGNED = {"from": 20, "to": 160}  # summary-aligned: summary path
ODD = {"from": 13, "to": 151}  # unaligned: leaf scan
BACK = {"from": 160, "to": 20}

QUERIES = {
    "select": {"select": "m1", "range": ODD, "where": {"host": ["h0", "h2"]}},
    "select_backward": {"select": "m1", "range": BACK},
    "select_limit_offset": {"select": "m1", "range": ALIGNED, "limit": 17, "offset": 9},
    "select_order_by_series": {"select": "m2", "range": ODD, "order-by": "series"},
    "select_group_by_tag": {"select": "m1", "range": ALIGNED, "group-by-tag": ["region"]},
    "select_filter": {"select": "m1", "range": ALIGNED, "filter": {"m1": {"gt": 3.0}}},
    "select_apply": {
        "select": "m2",
        "range": ALIGNED,
        "apply": [{"name": "sma", "window-width": 3}],
    },
    "select_events": {"select-events": "!log", "range": ODD, "where": {"host": "h1"}},
    "meta_names": {"select": "meta:names", "where": {"region": "r1"}},
    "aggregate_summary": {
        "aggregate": {"m1": ["sum", "min", "last", "count"], "m2": "max"},
        "range": ALIGNED,
    },
    "aggregate_leaf": {"aggregate": {"m1": "mean"}, "range": ODD},
    "aggregate_backward": {"aggregate": {"m2": ["first", "last"]}, "range": BACK},
    "group_aggregate_rollup": {
        "group-aggregate": {"step": 40, "metric": "m1", "func": ["max", "count"]},
        "range": ALIGNED,
    },
    "group_aggregate_leaf": {
        "group-aggregate": {"step": 15, "metric": ["m1", "m2"], "func": "sum"},
        "range": ODD,
        "limit": 20,
    },
    "group_aggregate_backward": {
        "group-aggregate": {"step": 15, "metric": "m2", "func": "last"},
        "range": BACK,
        "order-by": "series",
    },
    "join": {"join": ["m1", "m2"], "range": ODD},
    "join_backward_limit": {
        "join": ["m1", "m2"],
        "range": BACK,
        "order-by": "series",
        "limit": 25,
        "offset": 5,
    },
    "join_filter": {"join": ["m1", "m2"], "range": ALIGNED, "filter": {"m2": {"ge": 1.0}}},
    "group_aggregate_join_summary": {
        "group-aggregate-join": {"step": 40, "metric": ["m1", "m2"], "func": "min"},
        "range": ALIGNED,
    },
    "group_aggregate_join_leaf": {
        "group-aggregate-join": {"step": 25, "metric": ["m1", "m2"], "func": "count"},
        "range": ODD,
    },
}
SEARCHES = {
    "search": {"select": "m1", "where": {"region": "r0"}},
    "search_fuzzy": {"select": "m", "fuzzy": True, "limit": 5},
}
SUGGESTS = {
    "metric_names": {"select": "metric-names"},
    "tag_names": {"select": "tag-names", "metric": "m2"},
    "tag_values": {"select": "tag-values", "metric": "m1", "tag": "host", "starts-with": "h"},
}
CASES = (
    [("query", k, q) for k, q in QUERIES.items()]
    + [("search", k, q) for k, q in SEARCHES.items()]
    + [("suggest", k, q) for k, q in SUGGESTS.items()]
)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """m1 every tick, m2 missing where 4 | ts, four hosts in two
    regions, and one duplicated (m1 h0, ts=50) sample."""
    rows, events = [], []
    for h in range(4):
        tags = {"host": f"h{h}", "region": f"r{h // 2}"}
        for ts in range(0, 200):
            rows.append(("m1", tags, ts, ((ts * 7 + h) % 13) * 0.5))
            if ts % 4:
                rows.append(("m2", tags, ts, ((ts + 3 * h) % 11) * 0.25))
            if ts % 5 == 0:
                events.append(("!log", tags, ts, f"e{ts}-{h}"))
    rows.append(("m1", {"host": "h0", "region": "r0"}, 50, 99.0))
    root = tmp_path_factory.mktemp("regimes")
    paths = {k: str(root / k) for k in ("samples", "events", "summary", "registry")}
    samples = make_samples(spark, rows)
    storage.write_samples(samples, paths["samples"])
    storage.write_summary(samples, paths["summary"], step_ns=SSTEP)
    model.series_registry(samples).write.parquet(paths["registry"])
    make_events(spark, events).write.parquet(paths["events"])
    return paths


def _engine(session, paths):
    rd = session.read.parquet
    return Engine(
        session,
        samples=rd(paths["samples"]),
        events=rd(paths["events"]),
        series=rd(paths["registry"]),
        summaries=rd(paths["summary"]),
        summary_step_ns=SSTEP,
    )


@pytest.fixture(scope="module")
def engines(spark, tables):
    forced = spark.newSession()
    forced.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return _engine(spark, tables), _engine(forced, tables)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("method,name,q", CASES, ids=[c[1] for c in CASES])
def test_regimes_return_identical_rows(engines, method, name, q):
    one_task, ranged = engines
    a = getattr(one_task, method)(q)
    b = getattr(ranged, method)(q)
    if "limit" not in q:
        # a limit turns the sort into a top-k in both regimes
        assert "rangepartitioning" not in _plan(a), _plan(a)
        assert "rangepartitioning" in _plan(b), _plan(b)
    rows_a, rows_b = a.collect(), b.collect()
    assert rows_a, name
    assert [tuple(r) for r in rows_a] == [tuple(r) for r in rows_b]


def test_summary_path_taken_in_both_regimes(engines):
    for eng in engines:
        df = eng.query(QUERIES["group_aggregate_join_summary"])
        assert "bucket_ts" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("regime", [0, 1], ids=["one_task", "range"])
def test_join_missing_metric_is_null_duplicate_is_max(engines, regime):
    out = engines[regime].query(
        {"join": ["m1", "m2"], "range": {"from": 48, "to": 53}, "where": {"host": "h0"}}
    ).collect()
    assert [r.ts for r in out] == [48, 49, 50, 51, 52]
    by_ts = {r.ts: r for r in out}
    assert by_ts[48].m2 is None and by_ts[52].m2 is None  # 4 | ts: no m2
    assert by_ts[49].m2 == ((49 + 0) % 11) * 0.25
    assert by_ts[50].m1 == 99.0  # duplicated (series, ts): the max
    assert by_ts[51].m1 == ((51 * 7) % 13) * 0.5


NO_LIMIT = [c for c in CASES if "limit" not in c[2]]
AGGREGATING = {"aggregate", "group-aggregate", "join", "group-aggregate-join"}


@pytest.mark.parametrize("method,name,q", NO_LIMIT, ids=[c[1] for c in NO_LIMIT])
def test_one_task_engine_runs_one_job(spark, engines, method, name, q):
    """Over small tables a query plans no exchange: one job, whatever
    its kind.  The forced engine still shuffles the aggregating kinds."""
    one_task, ranged = engines
    rows = []
    rec = Profiler(spark).run(lambda: rows.extend(getattr(one_task, method)(q).collect()))
    assert rows, name
    assert rec["jobs"] == 1, name
    if method == "suggest" or AGGREGATING & q.keys():
        plan = _plan(getattr(ranged, method)(q))
        assert "Exchange hashpartitioning" in plan, plan


def test_summaries_without_tags_rejected(spark, tables):
    stale = spark.read.parquet(tables["summary"]).drop("tags")
    with pytest.raises(ValueError, match="storage.write_summary"):
        Engine(spark, summaries=stale, summary_step_ns=SSTEP)
